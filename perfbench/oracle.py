"""Output checks against the synth oracles.

Each check returns the sorted doc_ids that are missing, duplicated or not
equal to the oracle; the caller counts them as failed and never aborts.
"""

from __future__ import annotations


def expected_spans(family: str, doc_id: int, text: str) -> list:
    from pdfparser_spark import synth

    if family == "binary":
        return synth.expected_spans_binary(doc_id, text)
    # the damaged family's oracle is the undamaged document's spans
    return synth.expected_spans(doc_id, text)


def _by_doc(rows, value) -> tuple[dict, set]:
    got, dup = {}, set()
    for r in rows:
        d = int(r["doc_id"])
        if d in got:
            dup.add(d)
        got[d] = value(r)
    return got, dup


def span_tuples(spans) -> list:
    """Output spans in offset order as (kind, text, media_ref)."""
    ordered = sorted(spans or [], key=lambda s: s["offset"])
    return [(s["kind"], s["text"], s["media_ref"]) for s in ordered]


def span_mismatches(rows, meta: dict) -> list[int]:
    """Rows ``(doc_id, spans)`` vs the span-sequence oracle of each doc."""
    got, bad = _by_doc(rows, lambda r: span_tuples(r["spans"]))
    for d, fam, text in zip(meta["doc_ids"], meta["families"], meta["texts"]):
        if got.get(d) != [tuple(s) for s in expected_spans(fam, d, text)]:
            bad.add(d)
    bad.update(set(got) - set(meta["doc_ids"]))
    return sorted(bad)


def xmp_mismatches(rows, meta: dict) -> list[int]:
    """Rows ``(doc_id, xmp_title, creator_tool)``: exactly the docs with an
    XMP packet, each with the expected title and tool."""
    from pdfparser_spark import synth

    got, bad = _by_doc(rows, lambda r: (r["xmp_title"], r["creator_tool"]))
    for d in meta["doc_ids"]:
        if got.get(d) != synth.xmp_expected(d):
            bad.add(d)
    bad.update(set(got) - set(meta["doc_ids"]))
    return sorted(bad)


def identity_mismatches(rows_a, rows_b) -> list[int]:
    """Two ``(doc_id, spans)`` outputs that must be identical per doc,
    offsets included."""

    def full(r):
        return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"] or []]

    a, dup_a = _by_doc(rows_a, full)
    b, dup_b = _by_doc(rows_b, full)
    bad = dup_a | dup_b | (set(a) ^ set(b))
    bad.update(d for d in set(a) & set(b) if a[d] != b[d])
    return sorted(bad)
