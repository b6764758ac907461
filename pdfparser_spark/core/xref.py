"""Document skeleton: version sniff, trailer locate/parse, xref resolution.

Reference operators (SURVEY.md §2.1-2.2):
  S2 version sniff            — pdf_file.rs:118-158 (``%PDF-x.y`` header)
  L1 trailer locator          — pdf_file.rs:165-190 (reverse scan FSM)
  L2 trailer parser           — pdf_file.rs:192-224 (``PDFTrailer``)
  L3 classic xref tables      — pdf_file.rs:226-270 (subsections, f/n)
  L4 xref *streams*           — reference stub only (pdf_file.rs:707);
                                implemented here per ISO 32000 §7.5.8
                                (/W field widths, /Index, type 0/1/2)
plus object streams (ObjStm, §7.5.7) for type-2 entries, and /Prev chains
for incrementally-updated files.

The result is the object index ``(obj_id, gen) -> byte offset`` that the
reference keeps as ``HashMap<ObjectId, usize>`` (pdf_file.rs:226-270), plus
the type-2 entries ``obj_id -> (objstm_id, index)``.  All code reads
objects through ``extract.ObjectTable``, which reads one xref entry the
first time something dereferences its key (the reference's memoizing
cache, ``retrieve_object_by_ref``, pdf_file.rs:47-68).
:func:`parse_all_objects` is that one read and has no other caller: a
direct entry is parsed at its offset, and a type-2 entry expands the
ObjStm container the table has already read, decrypted and decoded.

Damaged-file recovery validates on read: when the footer is lost, the
scan indexes each key's candidate offsets (newest first) without parsing
them, and the table keeps the first candidate that parses and names the
key when it first reads the key.  The scan parses only what the trailer
needs (see :func:`_recover_by_scan`), so a recovered document, like an
intact one, pays only for the objects a kernel reaches.
"""

from __future__ import annotations

import re

from .errors import ParsingError
from .filters import build_filter_chain, decode_chain
from .objects import Ref, Stream, resolve
from .tokenizer import Tokenizer, skip_ws

_VERSION_RE = re.compile(rb"%PDF-(\d\.\d)")
_VALID_VERSIONS = {"1.0", "1.1", "1.2", "1.3", "1.4", "1.5", "1.6", "1.7", "2.0"}
# the most xref sections one /Prev chain is followed through
_MAX_PREV = 64


def sniff_version(data: bytes) -> str:
    """S2 (reference get_version pdf_file.rs:118-158).  The header must sit
    in the first 1 KiB (spec allows leading junk; the reference requires
    offset 0 — we are slightly lenient, which its tests never contradict)."""
    m = _VERSION_RE.search(data[:1024])
    if not m:
        raise ParsingError("missing %PDF-x.y header")
    v = m.group(1).decode("ascii")
    if v not in _VALID_VERSIONS:
        raise ParsingError(f"unknown PDF version {v}")
    return v


def find_startxref(data: bytes) -> int:
    """L1 analog: the reference reverse-scans for ``trailer``
    (pdf_file.rs:165-190); the spec-sanctioned anchor is the ``startxref``
    footer, which also covers xref-stream files that have no ``trailer``
    keyword.  Returns the byte offset of the xref section."""
    tail_at = data.rfind(b"startxref")
    if tail_at == -1:
        raise ParsingError("missing startxref")
    pos = skip_ws(data, tail_at + len(b"startxref"))
    end = pos
    while end < len(data) and data[end : end + 1].isdigit():
        end += 1
    if end == pos:
        raise ParsingError("startxref offset missing")
    return int(data[pos:end])


def _parse_classic_xref(data: bytes, pos: int, tok: Tokenizer):
    """L3 (reference process_xref_table pdf_file.rs:226-270): subsection
    headers ``start count``; 20-byte entries ``oooooooooo ggggg n|f``; free
    entries skipped (last-wins across /Prev handled by caller ordering).
    Returns (offsets, trailer_dict)."""
    pos = skip_ws(data, pos)
    if data[pos : pos + 4] != b"xref":
        raise ParsingError("expected 'xref'")
    pos = skip_ws(data, pos + 4)
    offsets: dict = {}
    while True:
        if data[pos : pos + 7] == b"trailer":
            pos = skip_ws(data, pos + 7)
            trailer, _ = tok.parse_value(pos)
            if not isinstance(trailer, dict):
                raise ParsingError("trailer is not a dictionary")
            return offsets, trailer
        # subsection header: start count
        m = re.match(rb"(\d+)\s+(\d+)", data[pos : pos + 40])
        if not m:
            raise ParsingError(f"bad xref subsection header at {pos}")
        start, count = int(m.group(1)), int(m.group(2))
        pos = skip_ws(data, pos + m.end())
        for i in range(count):
            # spec says exactly 10-digit offset + 5-digit gen, but real
            # writers pad differently (the reference's own fixture
            # data/simple_pdf.pdf emits 11-digit offsets) — accept any
            # digit run, greedy, so the full offset is read
            em = re.match(rb"(\d{10,})\s+(\d{1,5})\s+([nf])", data[pos : pos + 26])
            if not em:
                raise ParsingError(f"bad xref entry at {pos}")
            if em.group(3) == b"n":
                key = (start + i, int(em.group(2)))
                offsets.setdefault(key, int(em.group(1)))
            pos = skip_ws(data, pos + em.end())


def _int(attrs: dict, key: str, default=None) -> int:
    """The number /``key`` of an xref dictionary as an int, ``default``
    when absent; any other type is a ParsingError naming the entry."""
    x = attrs.get(key, default)
    if not isinstance(x, (int, float)):
        raise ParsingError(f"XRef /{key} is not a number")
    return int(x)


def _ints(attrs: dict, key: str) -> list:
    """The number array /``key`` of an xref dictionary, ``[]`` when absent."""
    xs = attrs.get(key, [])
    if not isinstance(xs, list) or not all(isinstance(x, (int, float)) for x in xs):
        raise ParsingError(f"XRef /{key} is not a number array")
    return [int(x) for x in xs]


def _parse_xref_stream(data: bytes, pos: int, tok: Tokenizer):
    """L4 (ISO 32000 §7.5.8; reference has only the enum variant
    pdf_file.rs:707).  The xref stream is itself an indirect object whose
    decoded payload is fixed-width rows per /W; /Index gives (start, count)
    runs, default [0 /Size]."""
    ind, _ = tok.parse_indirect_at(pos)
    st = ind.value
    if not isinstance(st, Stream) or str(st.attrs.get("Type")) != "XRef":
        raise ParsingError("startxref does not point at an XRef stream")
    chain = build_filter_chain(st.attrs)
    payload = decode_chain(st.raw, chain)
    w = _ints(st.attrs, "W")
    if len(w) < 3:
        raise ParsingError("XRef stream missing /W")
    w = w[:3]
    rowlen = sum(w)
    index = _ints(st.attrs, "Index") or [0, _int(st.attrs, "Size", 0)]
    runs = [(index[i], index[i + 1]) for i in range(0, len(index) - 1, 2)]

    def field(row: bytes, k: int, default: int) -> int:
        a = sum(w[:k])
        b = a + w[k]
        if w[k] == 0:
            return default
        return int.from_bytes(row[a:b], "big")

    offsets: dict = {}
    compressed: dict = {}  # obj_id -> (objstm_id, index_in_stream)
    r = 0
    for start, count in runs:
        for i in range(count):
            row = payload[r * rowlen : (r + 1) * rowlen]
            r += 1
            if len(row) < rowlen:
                raise ParsingError("truncated XRef stream payload")
            typ = field(row, 0, 1)
            if typ == 1:
                offsets.setdefault((start + i, field(row, 2, 0)), field(row, 1, 0))
            elif typ == 2:
                compressed.setdefault(start + i, (field(row, 1, 0), field(row, 2, 0)))
            # type 0 = free: skipped (reference pdf_file.rs:248-249)
    return offsets, dict(st.attrs), compressed


# ``N G obj`` at a line start.  A header at offset 0 is matched apart:
# one ``(?:^|[\r\n])`` alternation turns off the regex engine's fast scan
# for the pattern's first character, which made the scan ~2x slower
_OBJ_HEADER_RE = re.compile(rb"[\r\n]\s*(\d+)\s+(\d+)\s+obj\b")
_FIRST_HEADER_RE = re.compile(rb"\s*(\d+)\s+(\d+)\s+obj\b")
# candidate offsets kept per key, newest first: a binary stream payload can
# hold bytes that look like an object header, and real shadowing chains
# from incremental updates are short
_MAX_CANDIDATES_PER_KEY = 4


def _object_headers(data: bytes):
    """The ``N G obj`` header matches at line starts, in order; group 1
    starts at ``N``."""
    first = _FIRST_HEADER_RE.match(data)
    if first:
        yield first
    yield from _OBJ_HEADER_RE.finditer(data, first.end() if first else 0)


def _first_candidate(tok: Tokenizer, key: tuple, offs: tuple):
    """``(offset, object)`` for the first offset in ``offs`` whose object
    parses and names ``key``, or None.  A candidate that does not (a false
    header match) is skipped silently."""
    for off in offs:
        try:
            ind, _ = tok.parse_indirect_at(off)
        except ParsingError:
            continue
        if (ind.obj_id, ind.gen) == key:
            return off, ind
    return None


def _recover_by_scan(data: bytes, tok: Tokenizer):
    """Damaged-footer recovery (the reference's reverse-scan spirit,
    pdf_file.rs:165-190, extended with scan-all-``obj``): when
    ``startxref`` is missing or points at garbage, rebuild the object
    index by scanning every ``N G obj`` header, then recover the trailer:
    the LAST ``trailer`` keyword by reverse scan for CLASSIC layouts, or —
    the MODERN xref-stream layout carries no trailer keyword at all — a
    SYNTHESIZED trailer pointing at the newest scanned ``/Type /Catalog``
    object.  Objects living in object streams are not recoverable this
    way; their dangling references degrade to lenient error rows.

    The index maps each key to a tuple of candidate offsets, newest first
    (incremental updates append; at most ``_MAX_CANDIDATES_PER_KEY``).
    They are validated on read: the object table parses a key's
    candidates the first time it reads the key and keeps the first that
    parses and names the key (:func:`_first_candidate`).  The scan itself
    parses only what the trailer needs: candidates until one is valid
    (else no object exists), and, without a trailer keyword, the
    candidates that can hold a catalog — whose bytes up to the next
    scanned header contain ``Catalog`` or a ``#`` escape — plus the newer
    candidates of the same key, and the highest key's for /Size."""
    trailer = None
    at = data.rfind(b"trailer")
    if at != -1:
        pos = skip_ws(data, at + len(b"trailer"))
        maybe, _ = tok.parse_value(pos)
        if isinstance(maybe, dict):
            trailer = maybe
    found: dict = {}
    starts = []
    for m in _object_headers(data):
        found.setdefault((int(m.group(1)), int(m.group(2))), []).append(m.start(1))
        starts.append(m.start(1))
    offsets = {k: tuple(offs[::-1][:_MAX_CANDIDATES_PER_KEY]) for k, offs in found.items()}
    catalog_key = None
    if trailer is None:
        nxt = dict(zip(starts, starts[1:]))

        def may_be_catalog(off: int) -> bool:
            end = nxt.get(off, len(data))
            return data.find(b"Catalog", off, end) != -1 or data.find(b"#", off, end) != -1

        catalog_off = -1
        for key, offs in offsets.items():
            hits = [i for i, off in enumerate(offs) if may_be_catalog(off)]
            if not hits:
                continue
            hit = _first_candidate(tok, key, offs[: hits[-1] + 1])
            if hit is None:
                continue
            off, ind = hit
            if (
                isinstance(ind.value, dict)
                and str(ind.value.get("Type")) == "Catalog"
                and off > catalog_off
            ):
                catalog_key, catalog_off = key, off
    if catalog_key is None and not any(
        _first_candidate(tok, key, offs) is not None for key, offs in offsets.items()
    ):
        raise ParsingError("no indirect objects found during recovery scan")
    if trailer is None:
        if catalog_key is None:
            raise ParsingError(
                "missing startxref, no trailer keyword and no catalog object"
            )
        size = next(k[0] for k in sorted(offsets, reverse=True)
                    if _first_candidate(tok, k, offsets[k]) is not None)
        trailer = {"Root": Ref(catalog_key[0], catalog_key[1]), "Size": size + 1}
    return offsets, trailer


def read_xref(data: bytes):
    """Follow the /Prev chain from ``startxref`` and merge its sections
    (newest-first wins, matching incremental-update semantics); if the
    footer is damaged (no/corrupt ``startxref``), fall back to the
    reverse-trailer + scan-all-objects recovery.  Returns
    (offsets, trailer, compressed)."""
    offsets: dict = {}
    compressed: dict = {}
    trailer: dict = {}
    try:
        for _kind, offs, comp, tr in xref_sections(data):
            for k, v in offs.items():
                offsets.setdefault(k, v)
            for k, v in comp.items():
                compressed.setdefault(k, v)
            for k, v in tr.items():
                trailer.setdefault(k, v)
        if not trailer:
            raise ParsingError("no trailer found")
    except ParsingError as chain_err:
        try:
            offs, tr = _recover_by_scan(data, Tokenizer(data))
        except ParsingError as rec_err:
            # keep the original chain failure visible — it names the real
            # corruption; the scan error alone would hide it
            raise ParsingError(f"{rec_err} (after xref failure: {chain_err})") from chain_err
        return offs, tr, {}
    return offsets, trailer, compressed


def xref_sections(data: bytes) -> list:
    """The /Prev chain as a LIST of sections, newest-first:
    ``[(kind, offsets, compressed, trailer)]`` with kind ``'classic'`` /
    ``'stream'`` (a hybrid §7.5.8.4 section stays one 'classic' entry
    with its /XRefStm merged in).  Each section is one incremental-update
    REVISION of the document — the raw material for revision forensics
    (``extract_revisions``) as well as the merged view below."""
    tok = Tokenizer(data)
    at = find_startxref(data)
    sections: list = []
    seen: set = set()
    for _ in range(_MAX_PREV):
        if at in seen or at < 0 or at >= len(data):
            break
        seen.add(at)
        probe = skip_ws(data, at)
        if data[probe : probe + 4] == b"xref":
            kind = "classic"
            offs, tr = _parse_classic_xref(data, probe, tok)
            comp: dict = {}
            # hybrid-reference file (ISO 32000 §7.5.8.4): the classic
            # trailer's /XRefStm points at an xref stream carrying the
            # entries the classic table leaves free (objects living in
            # object streams).  Merge it before following /Prev.
            xstm = tr.get("XRefStm")
            if isinstance(xstm, int) and 0 <= xstm < len(data):
                try:
                    soffs, _str_tr, scomp = _parse_xref_stream(
                        data, skip_ws(data, xstm), tok
                    )
                    for k, v in soffs.items():
                        offs.setdefault(k, v)
                    for k, v in scomp.items():
                        comp.setdefault(k, v)
                except ParsingError:
                    pass  # lenient: hybrid stream unreadable -> classic only
        else:
            kind = "stream"
            offs, tr, comp = _parse_xref_stream(data, probe, tok)
        sections.append((kind, offs, comp, tr))
        if tr.get("Prev") is None:
            break
        at = _int(tr, "Prev")
    if not sections:
        raise ParsingError("no trailer found")
    return sections


def _slop_repair(tok: Tokenizer, obj_id: int, gen: int, off: int):
    """Offset-slop repair (broken real-world writers routinely emit xref
    offsets a few bytes off): ``(object, shift)`` for the exact ``N G obj``
    header found within +-64 bytes of the recorded offset, else None."""
    data = tok.data
    pat = re.compile(rb"(?<![0-9])" + f"{obj_id} {gen} obj".encode("ascii"))
    m = pat.search(data, max(0, off - 64), min(len(data), off + 96))
    if m is None or m.start() == off:
        return None
    try:
        ind, _ = tok.parse_indirect_at(m.start())
    except ParsingError:
        return None
    return (ind, m.start() - off) if ind.obj_id == obj_id else None


def _objstm_members(obj_id: int, stm_id: int, container, errors: list, known: dict) -> dict:
    """The members of the object stream ``stm_id`` (§7.5.7) that ``known``
    does not hold yet, read from the container's decoded payload; the
    type-2 entry of ``obj_id`` named it.  A container that did not decode
    yields nothing: its own read recorded why."""
    if not isinstance(container, Stream):
        errors.append(("ReferenceError", "tokenize", f"ObjStm {stm_id} missing for obj {obj_id}"))
        return {}
    payload = container.data
    if payload is None:
        return {}
    objects: dict = {}
    try:
        n = int(resolve(container.attrs.get("N"), known) or 0)
        first = int(resolve(container.attrs.get("First"), known) or 0)
        itok = Tokenizer(payload)
        pairs = []
        p = 0
        for _ in range(n):
            onum, p = itok.parse_value(p)
            ooff, p = itok.parse_value(p)
            pairs.append((int(onum), int(ooff)))
        for onum, ooff in pairs:
            val, _ = itok.parse_value(first + ooff)
            if (onum, 0) not in known:
                objects.setdefault((onum, 0), val)
    except (ParsingError, ValueError, TypeError) as e:
        errors.append(("ParsingError", "tokenize", f"ObjStm {stm_id}: {e}"))
    return objects


def parse_all_objects(
    data: bytes, key: tuple, entry, index: dict, errors: list, known: dict
) -> dict:
    """Read the xref entry ``entry`` of ``key`` and return the objects the
    read materialized.  Its one caller, ``extract.ObjectTable``, calls it
    once per key, with ``known`` the objects earlier reads materialized.

    - A ``Ref`` is a type-2 entry: the object stream it names, which the
      table has already read (so decrypted and decoded), is looked up in
      ``known`` and expanded (:func:`_objstm_members`).
    - A tuple holds recovery-scan candidates (:func:`_recover_by_scan`):
      the first that parses and names ``key`` is the object, and the
      others are skipped without an error row or an offset-slop repair.
    - An int is a byte offset, parsed there, with the offset-slop repair
      (:func:`_slop_repair`) when the parse fails or names another object.

    An indirect /Length resolves in ``known`` or by a direct parse at its
    entry in ``index``, the document's whole offset index: a length
    object that follows its stream is found even though only the stream
    is being read."""
    obj_id, gen = key
    if isinstance(entry, Ref):
        return _objstm_members(obj_id, entry.obj_id, resolve(entry, known), errors, known)
    objects: dict = {}

    def length_resolver(ref: Ref):
        k = (ref.obj_id, ref.gen)
        v = objects.get(k, known.get(k))
        if v is None:
            off = index.get(k)
            if off is None:
                return None
            if type(off) is tuple:
                hit = _first_candidate(Tokenizer(data), k, off)
                if hit is None:
                    return None
                ind = hit[1]
            else:
                try:
                    ind, _ = Tokenizer(data).parse_indirect_at(off)
                except ParsingError:
                    return None
            objects[(ind.obj_id, ind.gen)] = ind.value
            v = ind.value
        return v if isinstance(v, int) else None

    tok = Tokenizer(data, length_resolver=length_resolver)
    if type(entry) is tuple:  # recovery-scan candidates: no rows, no slop repair
        hit = _first_candidate(tok, key, entry)
        if hit is not None:
            objects[key] = hit[1].value
        return objects
    if entry <= 0 or entry >= len(data):
        errors.append(("ParsingError", "tokenize", f"offset {entry} out of range for obj {obj_id}"))
        return objects
    try:
        ind, _ = tok.parse_indirect_at(entry)
    except ParsingError as e:
        ind, failure = None, f"obj {obj_id}: {e}"
    else:
        failure = None if ind.obj_id == obj_id else f"xref points {obj_id} at object {ind.obj_id}"
    if failure is not None:
        repaired = _slop_repair(tok, obj_id, gen, entry)
        if repaired is not None:
            ind, shift = repaired
            failure = f"obj {obj_id}: offset slop {shift:+d} repaired"
        errors.append(("ParsingError", "tokenize", failure))
    if ind is not None:
        objects[(ind.obj_id, ind.gen)] = ind.value
    return objects
