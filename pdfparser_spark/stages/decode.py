"""Stage 1 — decode.

Input:  ``documents_raw(doc_id, spans)`` (interleaved text+media spans).
Output: flat DECODED rows per doc:
    rtype='meta'    version + n_objects/n_pages/n_streams   (lineage/metrics)
    rtype='content' (page_idx, seq, data=decoded bytes)     -> tokenize
    rtype='font'    (page_idx, font_name, data=CMap, encoding) -> classify
    rtype='xobj'    (page_idx, media_name)                  -> classify join
    rtype='error'   (error_kind, stage, detail)             -> metrics

Covers reference operators S1-S2, L1-L4, T1-T12, A1-A4, D1-D9 (SURVEY.md
§2): whole-doc reconstruction, version sniff, trailer/xref resolution
(classic + stream + /Prev), parse-all objects, filter decode with
spec-correct Flate/LZW/AHx/A85 and media routing.  Sequential per document,
vectorized across the documents of each Arrow batch: ``_rows_for_doc`` is
run by the fused stage's per-document runner (``fused._per_doc``), which
also reassembles each document's bytes from its spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..core.extract import decode_document
from ..schema import DECODED
from .fused import _per_doc


def _rows_for_doc(doc_id: int, data: bytes) -> list[dict]:
    # sparse rows: each rtype fills its own columns, the rest are NULL
    d = decode_document(data)
    rows: list[dict] = [
        {
            "doc_id": doc_id,
            "rtype": "meta",
            "version": d["version"],
            "n_objects": d["n_objects"],
            "n_pages": d["n_pages"],
            "n_streams": d["n_streams"],
        }
    ]
    for page_idx, seq, payload, hidden_json in d["contents"]:
        # content rows reuse the (font-row) ``encoding`` column to carry the
        # page's switched-off OCG property names to the tokenize stage
        rows.append(
            {
                "doc_id": doc_id,
                "rtype": "content",
                "page_idx": page_idx,
                "seq": seq,
                "data": payload,
                "encoding": hidden_json,
            }
        )
    for page_idx, fname, cmap, enc in d["fonts"]:
        rows.append(
            {
                "doc_id": doc_id,
                "rtype": "font",
                "page_idx": page_idx,
                "font_name": fname,
                "data": cmap,
                "encoding": enc,
            }
        )
    for page_idx, xname in d["xobjs"]:
        rows.append({"doc_id": doc_id, "rtype": "xobj", "page_idx": page_idx, "media_name": xname})
    for kind, stage, detail in d["errors"]:
        rows.append(
            {"doc_id": doc_id, "rtype": "error", "error_kind": kind, "stage": stage, "detail": detail[:500]}
        )
    return rows


def decode(documents_raw: DataFrame) -> DataFrame:
    return _per_doc(documents_raw, DECODED, _rows_for_doc)
