"""The output checks: equal outputs pass, one mutated span is rejected."""

import copy

from perfbench import corpus, oracle

FAMILIES = [("binary", 3), ("damaged", 3)]


def fused_rows(meta):
    """Rows as ``extract_fused`` emits them, built from the oracle."""
    rows = []
    for d, fam, text in zip(meta["doc_ids"], meta["families"], meta["texts"]):
        spans = oracle.expected_spans(fam, d, text)
        rows.append({
            "doc_id": d,
            "spans": [{"kind": k, "text": t, "media_ref": m, "offset": i} for i, (k, t, m) in enumerate(spans)],
        })
    return rows


def meta_for(seed=7):
    docs = corpus.plan(FAMILIES, seed)
    return {"doc_ids": [d for d, _, _ in docs], "families": [f for _, f, _ in docs], "texts": [t for _, _, t in docs]}


def test_equal_output_passes():
    meta = meta_for()
    assert oracle.span_mismatches(fused_rows(meta), meta) == []


def test_one_mutated_span_is_rejected():
    meta = meta_for()
    rows = fused_rows(meta)
    victim = rows[4]
    victim["spans"][0]["text"] += "x"
    assert oracle.span_mismatches(rows, meta) == [victim["doc_id"]]


def test_missing_and_duplicate_docs_are_rejected():
    meta = meta_for()
    rows = fused_rows(meta)
    gone = rows.pop(1)["doc_id"]
    rows.append(copy.deepcopy(rows[0]))
    assert oracle.span_mismatches(rows, meta) == sorted([gone, rows[0]["doc_id"]])


def test_identity_compares_offsets_too():
    meta = meta_for()
    a = fused_rows(meta)
    b = copy.deepcopy(a)
    assert oracle.identity_mismatches(a, b) == []
    b[2]["spans"][0]["offset"] = 99
    assert oracle.identity_mismatches(a, b) == [b[2]["doc_id"]]


def test_xmp_rows_exactly_for_xmp_docs():
    from pdfparser_spark import synth

    ids = list(range(9, 41))  # 9 and 25 carry XMP
    meta = {"doc_ids": ids}
    rows = [{"doc_id": d, "xmp_title": t, "creator_tool": c}
            for d in ids if synth.xmp_expected(d) for t, c in [synth.xmp_expected(d)]]
    assert oracle.xmp_mismatches(rows, meta) == []
    assert oracle.xmp_mismatches(rows[:1], meta) == [25]
    extra = rows + [{"doc_id": 10, "xmp_title": "t", "creator_tool": "c"}]
    assert oracle.xmp_mismatches(extra, meta) == [10]
