"""Kernel identity check: run every public extraction kernel over a fixed
set of inputs and dump the normalized results to JSON, so two checkouts of
the package can be compared result by result.

Call shapes: every public ``extract_*`` function of ``core.extract`` with
the input's password, plus strict ``extract_spans``, ``extract_advance_spans``
with widths, ``extract_attachments`` with payloads, ``decode_document`` and
``redact.apply_redactions``.

Inputs (462): ASCII documents 0-119; documents 0-27 of the binary, damaged,
protected, columns, table, advance, tagged, scanned, signed and pubsec
families; the protected ones again with the user and with the owner
password; and six junk inputs (empty, garbage, a half-truncated document,
a 400-byte binary prefix, a bare header, and a writer document whose
object stream has two flipped bytes in its Flate payload).

Usage:
    python scripts/kernel_identity.py OUT.json      # dump this checkout
    python scripts/kernel_identity.py --diff A.json B.json

The dump imports ``pdfparser_spark`` from the checkout the script lives in.
``--diff`` prints every differing ``(call, input)`` pair and a count per
call, and exits 1 when anything differs.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _text(doc_id: int) -> str:
    return " ".join(f"w{(doc_id * 7 + k) % 53}" for k in range(30))


def corrupt_objstm_document() -> bytes:
    """A two-page writer document with its catalog and pages in an object
    stream, two bytes of whose Flate payload are flipped."""
    from pdfparser_spark.core.writer import write_pdf

    spans = [("text", "hello world", None), ("text", "second page", None)]
    data = bytearray(write_pdf(spans, xref_stream=True, objstm=True))
    at = data.index(b"stream\n", data.index(b"/Type /ObjStm")) + len(b"stream\n") + 2
    data[at : at + 2] = bytes(b ^ 0xFF for b in data[at : at + 2])
    return bytes(data)


def inputs() -> list[tuple[str, bytes, bytes]]:
    """``(input id, document bytes, password)`` triples."""
    from pdfparser_spark import synth

    out = [(f"ascii/{i}", synth.build_document(i, _text(i))["bytes"], b"") for i in range(120)]
    families = (
        "binary", "damaged", "protected", "columns", "table",
        "advance", "tagged", "scanned", "signed", "pubsec",
    )
    for fam in families:
        build = getattr(synth, f"build_document_{fam}")
        for i in range(28):
            out.append((f"{fam}/{i}", build(i, _text(i))["bytes"], b""))
    for i in range(28):
        data = synth.build_document_protected(i, _text(i))["bytes"]
        out.append((f"protected/{i}+user", data, synth.PROTECTED_USER_PWD))
        out.append((f"protected/{i}+owner", data, synth.PROTECTED_OWNER_PWD))
    ascii0 = synth.build_document(0, _text(0))["bytes"]
    binary0 = synth.build_document_binary(0, _text(0))["bytes"]
    out += [
        ("junk/empty", b"", b""),
        ("junk/garbage", b"\x00garbage", b""),
        ("junk/half", ascii0[: len(ascii0) // 2], b""),
        ("junk/prefix400", binary0[:400], b""),
        ("junk/header", b"%PDF-1.7\n", b""),
        ("junk/objstm_flipped", corrupt_objstm_document(), b""),
    ]
    return out


def calls() -> dict:
    """call name -> ``fn(data, password)``."""
    from pdfparser_spark.core import extract, redact

    out = {
        name: (lambda fn: lambda data, pw: fn(data, password=pw))(fn)
        for name, fn in sorted(vars(extract).items())
        if name.startswith("extract_") and inspect.isfunction(fn)
    }
    out["extract_spans[strict]"] = lambda d, pw: extract.extract_spans(d, strict=True, password=pw)
    out["extract_advance_spans[with_width]"] = lambda d, pw: extract.extract_advance_spans(
        d, password=pw, with_width=True
    )
    out["extract_attachments[with_payload]"] = lambda d, pw: extract.extract_attachments(
        d, password=pw, with_payload=True
    )
    out["decode_document"] = lambda d, pw: extract.decode_document(d, password=pw)
    out["apply_redactions"] = lambda d, pw: redact.apply_redactions(d, password=pw)
    return out


def normalize(v):
    """A JSON value for one kernel result: bytes become their length and
    md5, floats their repr, functions their qualified name, tuples and
    named tuples lists, dicts sorted."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        b = bytes(v)
        return {"bytes": len(b), "md5": hashlib.md5(b).hexdigest()}
    if isinstance(v, dict):
        return {str(k): normalize(v[k]) for k in sorted(v, key=str)}
    if isinstance(v, (list, tuple)):
        return [normalize(x) for x in v]
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return normalize(v.tolist())
    if callable(v):  # e.g. a colour space's tint transform: its repr holds an address
        return {"callable": getattr(v, "__qualname__", type(v).__name__)}
    return {"repr": repr(v)}


def dump(path: str) -> None:
    results: dict = {}
    docs = inputs()
    for call, fn in calls().items():
        for input_id, data, pw in docs:
            try:
                value = normalize(fn(data, pw))
            except Exception as e:  # a kernel that raises is a result too
                value = {"raised": f"{type(e).__name__}: {e}"}
            results.setdefault(call, {})[input_id] = value
    with open(path, "w") as f:
        json.dump(results, f, sort_keys=True)
    n = sum(len(v) for v in results.values())
    print(f"{len(results)} calls x {len(docs)} inputs = {n} results -> {path}")


def diff(path_a: str, path_b: str) -> int:
    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)
    n_diff = 0
    per_call: dict = {}
    for call in sorted(set(a) | set(b)):
        if call not in a or call not in b:
            print(f"{call}: only in {path_a if call in a else path_b}")
            n_diff += 1
            continue
        for input_id in sorted(set(a[call]) | set(b[call])):
            if a[call].get(input_id) != b[call].get(input_id):
                print(f"{call}\t{input_id}")
                per_call[call] = per_call.get(call, 0) + 1
                n_diff += 1
    for call, n in sorted(per_call.items()):
        print(f"# {call}: {n} differing inputs")
    total = sum(len(v) for v in a.values())
    print(f"# {n_diff} differences over {total} results of {path_a}")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    if len(sys.argv) == 2 and not sys.argv[1].startswith("-"):
        dump(sys.argv[1])
        sys.exit(0)
    print(__doc__, file=sys.stderr)
    sys.exit(2)
