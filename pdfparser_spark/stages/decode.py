"""Stage 1 — decode.

Input:  ``documents_raw(doc_id, spans)`` (interleaved text+media spans).
Output: flat DECODED rows per doc:
    rtype='meta'  version + n_objects/n_pages/n_streams     (lineage/metrics)
    rtype='page'  (page_idx, data=content bytes, scopes, forms) -> tokenize
    rtype='font'  (page_idx, scope, font_name, font spec)        -> classify
    rtype='error' (error_kind, stage, detail)                    -> metrics

``core.extract.decode_document`` is the kernel: the fused kernel's own
open, stream decode and page walk (with its orphan-page recovery), then
per page the content bytes and every resource scope the page can reach
through its Form XObjects, each font carrying its typed spec (ToUnicode
bytes, base encoding, /Differences).  Covers reference operators S1-S2,
L1-L4, T1-T12, A1-A4, D1-D9 (SURVEY.md §2).  Sequential per document,
vectorized across the documents of each Arrow batch: ``_rows_for_doc`` is
run by the fused stage's per-document runner (``fused._per_doc``), which
also reassembles each document's bytes from its spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..core.extract import decode_document
from ..schema import DECODED
from .fused import _per_doc

_EMPTY = dict.fromkeys(DECODED.fieldNames())


def _rows_for_doc(doc_id: int, data: bytes) -> list[dict]:
    # sparse rows: each rtype fills its own columns, the rest are NULL
    d = decode_document(data)
    rows: list[dict] = [
        {
            **_EMPTY,
            "doc_id": doc_id,
            "rtype": "meta",
            "version": d["version"],
            "n_objects": d["n_objects"],
            "n_pages": d["n_pages"],
            "n_streams": d["n_streams"],
        }
    ]
    for page_idx, content, scopes, forms in d["pages"]:
        rows.append(
            {
                **_EMPTY,
                "doc_id": doc_id,
                "rtype": "page",
                "page_idx": page_idx,
                "data": content,
                "scopes": scopes,
                "forms": forms,
            }
        )
    for page_idx, scope, font_name, spec in d["fonts"]:
        rows.append(
            {
                **_EMPTY,
                "doc_id": doc_id,
                "rtype": "font",
                "page_idx": page_idx,
                "scope": scope,
                "font_name": font_name,
                "tounicode": spec.tounicode,
                "base_encoding": spec.encoding,
                "differences": [{"code": c, "glyph": g} for c, g in spec.differences] or None,
            }
        )
    for kind, stage, detail in d["errors"]:
        rows.append(
            {
                **_EMPTY,
                "doc_id": doc_id,
                "rtype": "error",
                "error_kind": kind,
                "stage": stage,
                "detail": detail[:500],
            }
        )
    return rows


def decode(documents_raw: DataFrame) -> DataFrame:
    return _per_doc(documents_raw, DECODED, _rows_for_doc)
