"""Wrong-typed /Encrypt and xref-stream entries surface as named errors.

A same-length type swap keeps every byte offset valid, so the damage
reaches the code that reads the entry: a number, reference or array
becomes ``/X``, a name or string becomes ``5``.  Each swap must come out
as a named error row (or a clean recovery), never as a raw Python
exception that ``_contained`` caught."""

from __future__ import annotations

import builtins
import re

from pdfparser_spark.core import extract
from pdfparser_spark.core.tokenizer import Tokenizer
from pdfparser_spark.core.writer import write_pdf, write_pdf_incremental
from pdfparser_spark.synth import (
    build_document,
    build_document_binary,
    build_document_protected,
    build_document_tagged,
)

# the /Encrypt strings, the xref stream's geometry and the /Prev link
_KEYS = re.compile(rb"/(U|O|UE|OE|Perms|Size|W|Index|Prev)(?=[\s\[<(/0-9])")
_KERNELS = (
    extract.extract_spans,
    extract.extract_layout_spans,
    extract.extract_doc_meta,
    extract.extract_doc_graph,
)
_FAMILIES = (build_document, build_document_binary, build_document_protected, build_document_tagged)


def _corpus():
    for family in _FAMILIES:
        for doc_id in range(0, 22, 3):
            yield family(doc_id, f"entry swap {doc_id} alpha beta")["bytes"]
    # writer shapes the families lack: AESV3 with /Perms, and an
    # xref-stream revision with /Index over an xref-stream base
    spans = [("text", "alpha beta", None)]
    yield write_pdf(spans, xref_stream=True, encrypt={"mode": "aes256", "user_pwd": b""})
    update = {5: b"<< /Length 9 >>\nstream\nBT ET q Q\nendstream"}
    yield write_pdf_incremental(write_pdf(spans, xref_stream=True), update, xref_stream=True)


def _swaps(data: bytes):
    """``(key, mutated bytes)`` for every same-length swap of a watched
    entry's value."""
    tok = Tokenizer(data)
    for m in _KEYS.finditer(data):
        start = m.end()
        while data[start : start + 1] in (b" ", b"\r", b"\n", b"\t"):
            start += 1
        try:
            value, end = tok.parse_value(start)
        except Exception:
            continue  # not a value (a key inside a content stream, say)
        repl = b"5" if isinstance(value, (bytes, str)) else b"/X"
        if end - start >= len(repl):
            yield m.group(1).decode(), data[:start] + repl.ljust(end - start) + data[end:]


def _raw(detail: str) -> bool:
    name = detail.split(":", 1)[0]
    return isinstance(getattr(builtins, name, None), type)


def test_type_swapped_entries_raise_named_errors():
    raw, runs, keys = [], 0, set()
    for doc, data in enumerate(_corpus()):
        for key, mutated in _swaps(data):
            keys.add(key)
            for kernel in _KERNELS:
                runs += 1
                for _kind, _stage, detail in kernel(mutated)["errors"]:
                    if _raw(detail):
                        raw.append((doc, key, kernel.__name__, detail))
    # the corpus reaches every entry the decryptor and xref reader read
    assert keys == {"U", "O", "UE", "OE", "Perms", "Size", "W", "Index", "Prev"}
    assert runs > 350
    assert raw == [], f"{len(raw)} of {runs} runs: {raw[:5]}"
