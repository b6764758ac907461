"""Stage 2 — tokenize.

Input:  DECODED rows with rtype='page' (content bytes, scopes, forms).
Output: TOKENS — the content interpreter's events per page, in order.

This is the content-stream operator layer the reference only sketched
(StreamType::Content pdf_file.rs:705, design notes temp.rs:35-65; SURVEY.md
§2.7).  Each page's scopes are rebuilt from the decode stage's rows
(``core.extract.table_scopes``) and the fused kernel's own interpreter,
``core.extract._content_events``, runs over them, so Form XObjects execute
in place under their own resources.  It emits text events (with their
scope and, for TJ, their parts), ActualText replacements (``atext``),
media events, and the errors the interpreter records (dangling XObject,
form recursion cap).  Pages are independent, so this stage is
embarrassingly parallel — no shuffle (narrow mapInArrow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.extract import _content_events, _contained, show_operand, table_scopes
from ..runner import map_rows
from ..schema import TOKENS

_EMPTY = dict.fromkeys(TOKENS.fieldNames())


def _page_rows(doc_id: int, page_idx: int, content: bytes, scopes, forms) -> list[dict]:
    head = {**_EMPTY, "doc_id": doc_id, "page_idx": page_idx}
    rows: list[dict] = []
    errors: list = []
    with _contained(errors):
        page_scope = table_scopes(scopes, forms)[0]
        for ev_idx, (ev, scope) in enumerate(_content_events(content, page_scope, errors)):
            row = {**head, "ev_idx": ev_idx}
            if ev[0] in ("media", "inline"):
                row.update(ev_type="media", media_name=ev[2])
            elif ev[0] == "atext":
                row.update(ev_type="atext", operand=ev[3])
            else:
                operand = show_operand(ev)
                row.update(ev_type="text", scope=scope.key, font_name=ev[2])
                row["operand" if ev[0] == "text" else "parts"] = operand
            rows.append(row)
    for kind, stage, detail in errors:
        rows.append({**head, "ev_type": "error", "error_kind": kind, "stage": stage, "detail": detail[:500]})
    return rows


def tokenize(decoded: DataFrame) -> DataFrame:
    pages = decoded.filter(F.col("rtype") == "page").select(
        "doc_id", "page_idx", "data", "scopes", "forms"
    )

    return map_rows(pages, TOKENS, _page_rows)
