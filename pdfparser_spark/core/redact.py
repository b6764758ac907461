"""Redaction-annotation application (ISO 32000 §12.5.4.5).

The spec's two-phase redaction workflow: a reviewer first MARKS regions
with ``/Redact`` annotations (content untouched — the marks ride in the
annotation layer, often as an incremental update), then a second step
APPLIES them — the content inside every marked region is removed and the
marks themselves are deleted, producing a sanitized document whose
secret text is gone from the bytes, not merely covered.

:func:`apply_redactions` is that second step for this engine's layout
model: text spans whose origin falls inside any of a page's /Redact
quads (/QuadPoints groups of 8 per §12.5.6.10, /Rect as the fallback
region) are dropped, and the survivors are re-serialized with the
geometry-preserving layout writer — the output carries no /Redact
annotations and no trace of the removed spans.  Per-document and
row-local like every kernel here; the fused wrapper runs mark ->
apply -> re-extract inside one Arrow batch.

Reference parity: the reference parser has no writer tier at all —
this extends the S4 sink surface (SURVEY.md §2) the same way
core/writer.py does.
"""

from __future__ import annotations

from .errors import PdfError
from .extract import (
    _contained,
    _layout_spans,
    _walk_pages,
    get_resolved,
    open_document,
    resolve,
)
from .writer import write_pdf_layout


def _redact_boxes(page, objects) -> list:
    """A page's /Redact regions as (x0, y0, x1, y1) bounding boxes: one
    per /QuadPoints group of 8 numbers; /Rect when no quads are given."""
    boxes = []
    arr = get_resolved(page, "Annots", objects)
    if not isinstance(arr, list):
        return boxes
    for aref in arr:
        an = resolve(aref, objects)
        if not isinstance(an, dict):
            continue
        if str(get_resolved(an, "Subtype", objects)) != "Redact":
            continue
        qp = get_resolved(an, "QuadPoints", objects)
        nums = []
        if isinstance(qp, list):
            nums = [
                float(resolve(v, objects))
                for v in qp
                if isinstance(resolve(v, objects), (int, float))
            ]
        if len(nums) >= 8:
            for q in range(0, len(nums) - 7, 8):
                xs = nums[q : q + 8 : 2]
                ys = nums[q + 1 : q + 8 : 2]
                boxes.append((min(xs), min(ys), max(xs), max(ys)))
            continue
        rect = get_resolved(an, "Rect", objects)
        if isinstance(rect, list) and len(rect) == 4:
            vals = [float(resolve(v, objects)) for v in rect]
            boxes.append(
                (min(vals[0], vals[2]), min(vals[1], vals[3]),
                 max(vals[0], vals[2]), max(vals[1], vals[3]))
            )
    return boxes


def apply_redactions(data: bytes, password: bytes = b"") -> dict:
    """Apply every /Redact annotation in ``data``: returns ``{"bytes":
    sanitized PDF, "n_redacted": spans removed, "errors": [...]}``.  A
    document with no /Redact marks round-trips through the layout writer
    unchanged in content (n_redacted 0).  Lenient: parse failures leave
    the document unredacted with the error recorded — a caller deciding
    to ship MUST check n_redacted/errors, not assume."""
    errors: list = []
    spans: list = []
    try:
        trailer, objects, root = open_document(data, password, errors)
        pages, root = _walk_pages(root, objects, errors)
        with _contained(errors):  # a failed layout pass keeps the marks
            _layout_spans(objects, root, pages, errors, spans)
        boxes_by_page = {p: _redact_boxes(page, objects) for p, (page, _attrs) in enumerate(pages)}
    except PdfError as e:
        errors.append((e.kind, e.stage, str(e)))
        return {"bytes": data, "n_redacted": 0, "errors": errors}
    except Exception as e:  # lenient: corrupt input never kills the task
        errors.append(("ParsingError", "redact", f"{type(e).__name__}: {e}"))
        return {"bytes": data, "n_redacted": 0, "errors": errors}

    kept, dropped = [], 0
    for page_idx, x, y, text, _size in spans:
        covered = any(
            x0 <= x <= x1 and y0 <= y <= y1
            for (x0, y0, x1, y1) in boxes_by_page.get(page_idx, ())
        )
        if covered:
            dropped += 1
        else:
            kept.append((page_idx, x, y, text))
    # the sanitized document: survivors only, NO annotations — applying
    # redactions deletes the marks along with the content (§12.5.4.5)
    out = write_pdf_layout(kept)
    return {"bytes": out, "n_redacted": dropped, "errors": errors}


def redact_mark(x0: float, y0: float, x1: float, y1: float) -> bytes:
    """An inline /Redact annotation body covering the given region (one
    QuadPoints group in §12.5.6.10 ul-ur-ll-lr order), for the layout
    writer's ``page_annots`` hook."""
    from .writer import _num

    q = b" ".join(_num(v) for v in (x0, y1, x1, y1, x0, y0, x1, y0))
    r = b" ".join(_num(v) for v in (x0, y0, x1, y1))
    return (
        b"<< /Type /Annot /Subtype /Redact /Rect [" + r
        + b"] /QuadPoints [" + q + b"] >>"
    )
