"""Corpus synthesis stage: driver ``documents`` table -> interleaved span
table in the authoritative input shape (BASELINE.json:15).

Deterministic per doc_id (synth.py rules) — no RNG, no wall clock — so the
same table is reproduced bit-identically at any scale factor or parallelism,
and the DuckDB oracle can derive the expected extraction output analytically
from the same source rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..runner import map_rows
from ..schema import DOCUMENTS_RAW
from ..synth import (
    build_document,
    build_document_advance,
    build_document_binary,
    build_document_columns,
    build_document_damaged,
    build_document_protected,
    build_document_pubsec,
    build_document_scanned,
    build_document_signed,
    build_document_table,
    build_document_tagged,
)

_BUILDERS = {
    "ascii": build_document,
    "advance": build_document_advance,
    "binary": build_document_binary,
    "columns": build_document_columns,
    "damaged": build_document_damaged,
    "protected": build_document_protected,
    "pubsec": build_document_pubsec,
    "scanned": build_document_scanned,
    "signed": build_document_signed,
    "table": build_document_table,
    "tagged": build_document_tagged,
}


def synthesize_corpus(documents: DataFrame, family: str = "ascii") -> DataFrame:
    """``documents(doc_id, text)`` -> ``documents_raw(doc_id, spans)``.

    ``family='binary'`` builds the real-writer binary family instead
    (true binary Flate, CRLF, inline images, RC4/AES encryption);
    ``family='damaged'`` is the ASCII family with every 4th footer cut
    (recovery-path exercise) — see synth.py builders.
    """
    builder = _BUILDERS[family]

    def gen(doc_id, text):
        if doc_id is None:
            return []  # malformed source row: drop, never kill the task
        text = text or ""  # NULL text -> empty document
        return [(doc_id, builder(doc_id, text)["span_rows"])]

    return map_rows(documents.select("doc_id", "text"), DOCUMENTS_RAW, gen)
