"""In-process kernel trace: timing wrappers installed from outside the package.

The wrappers replace module attributes (the names ``core.extract`` calls)
for the duration of a ``with Tracer().installed():`` block, so the package
itself is never edited.  Spans live in memory: one list entry per call,
``[name, start_ns, end_ns, parent_index]``.  A layer's self time is its
span's duration minus the durations of its direct children; since the
trace runs in one thread the children never overlap.

A name that no longer exists is recorded in ``missing`` and its metrics
come out as ``None``; the root span (timed by the caller) still reports.
"""

from __future__ import annotations

import contextlib
import sys
import time
from collections import defaultdict

_now = time.perf_counter_ns

# traced name -> span label.  Every label is one kernel phase.
PHASES = {
    "sniff_version": "core.xref.sniff",
    "read_xref": "core.xref.read",
    "parse_all_objects": "core.xref.parse",
    "_build_decryptor": "core.crypt.setup",
    "_apply_decryption": "core.crypt.apply",
    "decode_doc_streams": "core.filters.decode",
    "_walk_pages": "core.extract.walk",
    "_content_events": "core.content.tokenize",
    "_font_decoder": "core.font.build",
}
FONT_DECODE = "core.font.decode"
ROOT = "core.extract.kernel"
# names wrapped only to count distinct objects reached, not timed
REACH = ("resolve",)


def self_times(spans: list) -> tuple[dict, int]:
    """``spans`` as recorded -> ({label: total self ns}, total root ns)."""
    child = [0] * len(spans)
    for name, t0, t1, parent in spans:
        if parent >= 0:
            child[parent] += t1 - t0
    out: dict = defaultdict(int)
    root_total = 0
    for i, (name, t0, t1, parent) in enumerate(spans):
        out[name] += (t1 - t0) - child[i]
        if parent < 0:
            root_total += t1 - t0
    return dict(out), root_total


class Tracer:
    def __init__(self, extract_module, objects_module) -> None:
        self.extract = extract_module
        self.stream_type = getattr(objects_module, "Stream", None)
        self.ref_type = getattr(objects_module, "Ref", None)
        self.spans: list = []
        self._stack: list = []
        self.missing: list = []
        self.counts: dict = defaultdict(int)
        self._reached: set = set()
        self._parsed = False

    # -- spans ---------------------------------------------------------------
    def enter(self, name: str) -> None:
        self._stack.append(len(self.spans))
        self.spans.append([name, _now(), 0, self._stack[-2] if len(self._stack) > 1 else -1])

    def exit(self) -> None:
        self.spans[self._stack.pop()][2] = _now()

    def _parent_name(self) -> str | None:
        return self.spans[self._stack[-1]][0] if self._stack else None

    # -- per-document bracket ----------------------------------------------------
    def begin_doc(self) -> None:
        self._reached = set()
        self._parsed = False
        self.enter(ROOT)

    def end_doc(self) -> None:
        self.exit()
        self.counts["docs"] += 1
        self.counts["objects_reached"] += len(self._reached)

    # -- wrappers ----------------------------------------------------------------
    def _timed(self, label: str, fn, post=None):
        def wrapper(*args, **kwargs):
            self.enter(label)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.exit()
            if post is not None:
                post(args, result)
            return result

        return wrapper

    def _timed_gen(self, label: str, fn):
        """Generator phase: each ``next()`` is one span.  Re-entrant: a
        nested call (forms) runs inside the outer ``next()``, so its spans
        are children of the outer one and only outermost yields count."""

        def wrapper(*args, **kwargs):
            nested = self._parent_name() == label
            gen = fn(*args, **kwargs)
            while True:
                self.enter(label)
                try:
                    item = next(gen)
                except StopIteration:
                    return
                finally:
                    self.exit()
                if not nested:
                    self.counts["content_events"] += 1
                yield item

        return wrapper

    def _font_factory(self, fn):
        timed = self._timed(FONT_DECODE, lambda dec, *a, **k: dec(*a, **k))

        def wrapper(*args, **kwargs):
            self.enter(PHASES["_font_decoder"])
            try:
                dec = fn(*args, **kwargs)
            finally:
                self.exit()
            self.counts["font_decoders"] += 1
            return lambda *a, **k: timed(dec, *a, **k)

        return wrapper

    def _post_parse(self, args, objects) -> None:
        self._parsed = True
        self.counts["objects_parsed"] += len(objects)

    def _post_decryptor(self, args, decryptor) -> None:
        if decryptor is not None:
            self.counts["encrypted_docs"] += 1

    def _post_decode(self, args, result) -> None:
        objects = args[0]
        for v in objects.values():
            if self.stream_type is not None and isinstance(v, self.stream_type):
                self.counts["streams"] += 1
                if v.data is not None:
                    self.counts["decoded_bytes"] += len(v.data)

    def _reach(self, fn):
        ref_type = self.ref_type

        def wrapper(value, objects, *args, **kwargs):
            if self._parsed and isinstance(value, ref_type):
                key = (value.obj_id, value.gen)
                if key in objects:
                    self._reached.add(key)
                elif (value.obj_id, 0) in objects:
                    self._reached.add((value.obj_id, 0))
            return fn(value, objects, *args, **kwargs)

        return wrapper

    def _wrapper_for(self, name: str, fn):
        if name == "_content_events":
            return self._timed_gen(PHASES[name], fn)
        if name == "_font_decoder":
            return self._font_factory(fn)
        if name in REACH:
            return self._reach(fn)
        post = {
            "parse_all_objects": self._post_parse,
            "_build_decryptor": self._post_decryptor,
            "decode_doc_streams": self._post_decode,
        }.get(name)
        return self._timed(PHASES[name], fn, post)

    @contextlib.contextmanager
    def installed(self):
        """Patch the extract module, and every ``pdfparser_spark`` module
        that binds a traced name to the same object, then restore them."""
        patched = []
        self.missing = []
        mods = {id(self.extract): self.extract}
        for k, m in list(sys.modules.items()):
            if k.startswith("pdfparser_spark") and m is not None:
                mods[id(m)] = m
        try:
            for name in (*PHASES, *REACH):
                orig = getattr(self.extract, name, None)
                if orig is None:
                    self.missing.append(name)
                    continue
                if name in REACH and self.ref_type is None:
                    self.missing.append(name)
                    continue
                wrapped = self._wrapper_for(name, orig)
                for m in mods.values():
                    if getattr(m, name, None) is orig:
                        setattr(m, name, wrapped)
                        patched.append((m, name, orig))
            yield self
        finally:
            for m, name, orig in patched:
                setattr(m, name, orig)


def layer_metrics(tracer: Tracer) -> dict:
    """Per-document means of every traced phase, from one traced sample.

    Times are µs/doc of self time; a phase whose name is missing is None."""
    docs = tracer.counts["docs"]
    if not docs:
        raise ValueError("no documents traced")
    selfs, root_ns = self_times(tracer.spans)
    missing_labels = {PHASES[n] for n in tracer.missing if n in PHASES}

    def us(label: str):
        if label in missing_labels or (label == FONT_DECODE and "_font_decoder" in tracer.missing):
            return None
        return selfs.get(label, 0) / docs / 1e3

    c = tracer.counts
    out = {
        "core.xref.sniff_us": us("core.xref.sniff"),
        "core.xref.read_us": us("core.xref.read"),
        "core.xref.parse_us": us("core.xref.parse"),
        "core.crypt.setup_us": us("core.crypt.setup"),
        "core.crypt.apply_us": us("core.crypt.apply"),
        "core.filters.decode_us": us("core.filters.decode"),
        "core.extract.walk_us": us("core.extract.walk"),
        "core.content.tokenize_us": us("core.content.tokenize"),
        "core.font.build_us": us("core.font.build"),
        "core.font.decode_us": us(FONT_DECODE),
        "core.extract.emit_us": selfs.get(ROOT, 0) / docs / 1e3,
        "core.extract.kernel_us": root_ns / docs / 1e3,
    }
    parse_missing = "parse_all_objects" in tracer.missing
    out["core.xref.objects_per_doc"] = None if parse_missing else c["objects_parsed"] / docs
    out["core.xref.objects_reached_frac"] = (
        None
        if parse_missing or "resolve" in tracer.missing or not c["objects_parsed"]
        else c["objects_reached"] / c["objects_parsed"]
    )
    out["core.crypt.encrypted_docs_frac"] = (
        None if "_build_decryptor" in tracer.missing else c["encrypted_docs"] / docs
    )
    decode_missing = "decode_doc_streams" in tracer.missing
    out["core.filters.streams_per_doc"] = None if decode_missing else c["streams"] / docs
    out["core.filters.decoded_kb_per_doc"] = None if decode_missing else c["decoded_bytes"] / docs / 1e3
    out["core.content.events_per_doc"] = (
        None if "_content_events" in tracer.missing else c["content_events"] / docs
    )
    out["core.font.decoders_per_doc"] = (
        None if "_font_decoder" in tracer.missing else c["font_decoders"] / docs
    )
    return out
