"""Spark-level pipeline tests: stage DAG, span equality, resume, metrics,
lineage, and the curation operators' Spark plumbing."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from pdfparser_spark.pipeline import Pipeline
from pdfparser_spark.stages import synthesize_corpus
from pdfparser_spark.synth import expected_spans

from handmade import INHERITED_RESOURCES, pdf, stream


@pytest.fixture(scope="module")
def results(spark, sf_dir, tmp_path_factory):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).filter(F.col("doc_id") < 150)
    raw = synthesize_corpus(docs)
    work = str(tmp_path_factory.mktemp("ck"))
    res = Pipeline(spark, work_dir=work).run(raw)
    return res, work, docs


def _expected_flat(limit=150):
    rows = duckdb.sql(
        f"select doc_id, text from '/root/testdata/sf0.001/documents.parquet' where doc_id < {limit} order by doc_id"
    ).fetchall()
    out = []
    for did, text in rows:
        for i, (k, t, m) in enumerate(expected_spans(int(did), text)):
            out.append((int(did), i, k, t, m))
    return out


def test_spark_span_equality(results):
    res, _work, _docs = results
    got = [
        (r.doc_id, r.ord, r.kind, r.text, r.media_ref)
        for r in res["spans_flat"].orderBy("doc_id", "ord").collect()
    ]
    assert got == _expected_flat()


def test_empty_docs_preserved(results):
    res, _w, docs = results
    n_docs = docs.count()
    assert res["spans"].count() == n_docs  # every doc present, even span-less


def test_metrics_dangling(results):
    res, _w, _d = results
    m = {(r.doc_id, r.error_kind, r.stage): r["count"] for r in res["metrics"].collect()}
    expected = {(d, "ReferenceError", "classify"): 1 for d in range(0, 150, 13)}
    assert m == expected


def test_lineage_totals(results):
    res, _w, _d = results
    agg = res["lineage"].agg(F.sum("docs").alias("d"), F.sum("spans_out").alias("s")).first()
    assert agg["d"] == 150
    assert agg["s"] == len(_expected_flat())


def test_media_metadata_plumbing(results, spark):
    from pdfparser_spark.textops.media import media_metadata

    res, _w, _d = results
    meta = media_metadata(res["spans_flat"]).collect()
    flat_media = res["spans_flat"].filter(F.col("kind") == "media").count()
    assert len(meta) == flat_media
    assert all(16 <= r.width <= 128 and 16 <= r.height <= 128 for r in meta)


# NOTE: the resume/invalidate tests below rewrite the checkpoint files the
# module fixture's DataFrames point at — keep them after any test that
# re-collects from `results`.
def test_resume_skips_completed_stages(results, spark):
    res, work, docs = results
    raw = synthesize_corpus(docs)
    p2 = Pipeline(spark, work_dir=work)
    assert all(p2._stage_done(s) for s in ("decode", "tokenize", "classify", "assemble"))
    res2 = p2.run(raw)
    assert res2["spans_flat"].count() == len(_expected_flat())


def test_invalidate_forces_recompute(results, spark):
    res, work, docs = results
    p = Pipeline(spark, work_dir=work)
    p.invalidate("classify")
    assert p._stage_done("decode") and p._stage_done("tokenize")
    assert not p._stage_done("classify") and not p._stage_done("assemble")
    res3 = p.run(synthesize_corpus(docs))
    assert res3["spans_flat"].count() == len(_expected_flat())


def test_strict_mode_spark(results, spark):
    _res, _w, docs = results
    res = Pipeline(spark, strict=True).run(synthesize_corpus(docs))
    flat = res["spans_flat"]
    assert flat.filter(F.col("doc_id") % 13 == 0).count() == 0
    assert flat.count() == sum(1 for r in _expected_flat() if r[0] % 13 != 0)


def test_repartition_docs_balances(spark, results):
    from pdfparser_spark.partitioning import repartition_docs

    _res, _w, docs = results
    raw = synthesize_corpus(docs)
    # threshold=10 -> every doc is "giant": the empty small branch is
    # eliminated (PropagateEmptyRelation) and only the big_slots remain
    parts = repartition_docs(raw, 4, isolate_threshold=10).rdd.getNumPartitions()
    assert parts == 4
    # huge threshold -> every doc is small: only the target partitions remain
    parts = repartition_docs(raw, 4, isolate_threshold=1 << 40).rdd.getNumPartitions()
    assert parts == 4
    # mixed corpus keeps both ranges (see test_giant_docs_isolated_by_split_strategy)


def test_fused_equals_staged(spark, sf_dir):
    """The fused single-pass mode must be span-for-span identical to the
    staged DAG's expected output (same kernel, no shuffle).  Compared
    against the analytic ground truth rather than the ``results`` fixture's
    DataFrames, whose checkpoint files the resume tests above rewrite."""
    from pdfparser_spark.stages import extract_fused, flatten_spans

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).filter(
        F.col("doc_id") < 150
    )
    fused = flatten_spans(extract_fused(synthesize_corpus(docs)))
    got_fused = [
        (r.doc_id, r.ord, r.kind, r.text, r.media_ref)
        for r in fused.orderBy("doc_id", "ord").collect()
    ]
    assert got_fused == _expected_flat()


def test_fused_strict_mode(spark, sf_dir):
    from pdfparser_spark.stages import extract_fused

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).filter(
        F.col("doc_id") < 30
    )
    fused = extract_fused(synthesize_corpus(docs), strict=True)
    # docs with a dangling xobject (doc_id % 13 == 0) lose their spans in strict mode
    got = {r.doc_id: len(r.spans) for r in fused.collect()}
    assert got[0] == 0 and got[13] == 0 and got[26] == 0
    assert got[1] > 0


def test_giant_docs_isolated_by_split_strategy(spark):
    """Skew policy (partitioning.py): giant documents
    provably occupy the dedicated partition range [target, target+slots)
    and never share a partition with the small-doc bulk — one straggler
    can't blockade a mapInPandas partition of smalls."""
    from pyspark.sql import Row

    from pdfparser_spark.partitioning import repartition_docs
    from pdfparser_spark.schema import DOCUMENTS_RAW

    span = lambda text: Row(kind="struct", text=text, media_ref=None, offset=0)
    rows = [Row(doc_id=i, spans=[span("x" * 100)]) for i in range(50)]
    big_ids = [901, 902, 903, 904]
    rows += [Row(doc_id=b, spans=[span("y" * 5000)]) for b in big_ids]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_RAW)

    target, slots = 4, 16
    out = repartition_docs(df, target, isolate_threshold=1000, big_slots=slots)
    assert out.rdd.getNumPartitions() == target + slots
    pid = out.select("doc_id", F.spark_partition_id().alias("pid")).collect()
    big_pids = [r.pid for r in pid if r.doc_id in big_ids]
    small_pids = {r.pid for r in pid if r.doc_id not in big_ids}
    assert all(p >= target for p in big_pids)      # giants in dedicated range
    assert all(p < target for p in small_pids)     # smalls in their own range
    assert len(set(big_pids)) >= 2                 # giants spread, not clumped


def test_degenerate_span_arrays(spark):
    """Docs with empty or NULL span arrays and media-only docs must flow
    through both execution modes without task failures."""
    from pyspark.sql import Row

    from pdfparser_spark.schema import DOCUMENTS_RAW
    from pdfparser_spark.stages import extract_fused

    rows = [
        Row(doc_id=1, spans=[]),
        Row(doc_id=2, spans=None),
        Row(doc_id=3, spans=[Row(kind="media", text=None, media_ref="Im9", offset=0)]),
    ]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_RAW)
    got = {r.doc_id: r.spans for r in extract_fused(df).collect()}
    assert got[1] == [] and got[3] == []  # no bytes -> no spans, no crash
    assert 2 in got

    res = Pipeline(spark).run(df)
    assert res["spans"].count() == 3
    m = res["metrics"].collect()
    assert all(r.error_kind for r in m)  # degenerate docs reported as errors


def test_synthesize_tolerates_null_rows(spark):
    """A NULL doc_id or NULL text in the source table must cost at most
    that row, never the task (north-rule lenient semantics)."""
    from pyspark.sql import types as T

    from pdfparser_spark.stages import extract_fused, flatten_spans, synthesize_corpus

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (None, "orphan"), (3, "")], schema
    )
    out = flatten_spans(extract_fused(synthesize_corpus(df))).collect()
    assert sorted({r.doc_id for r in out}) == [1]  # only the healthy doc emits spans


def test_merge_pairs_concats_spans(spark, sf_dir):
    """pdf_merge_pairs: each pair's merged document re-extracts to both
    members' spans concatenated in doc_id order, renumbered per pair."""
    from pdfparser_spark.core.extract import extract_spans
    from pdfparser_spark.stages import extract_merge_pairs_fused, synthesize_corpus
    from pdfparser_spark.synth import build_document

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).filter(
        F.col("doc_id") < 20
    )
    out = extract_merge_pairs_fused(synthesize_corpus(docs)).collect()
    got = {}
    for r in sorted(out, key=lambda r: (r.pair_id, r.ord)):
        got.setdefault(r.pair_id, []).append((r.kind, r.text, r.media_ref))
    src = {r.doc_id: r.text for r in docs.collect()}
    for pair in sorted(got):
        want = []
        for d in (2 * pair, 2 * pair + 1):
            if d in src:
                want.extend(
                    tuple(s) for s in extract_spans(build_document(d, src[d])["bytes"])["spans"]
                )
        assert got[pair] == want, pair


def test_page_furniture_strip_decision(spark):
    """Lines repeated at the same origin on >=2 pages vanish; a line on
    one page only — even identical text — survives, and ord renumbers
    in reading order."""
    from pdfparser_spark.textops.furniture import strip_page_furniture

    rows = [
        # doc 1: 2-page doc with a running header + unique body lines
        (1, 0, 0, 72.0, 780.0, "HDR"), (1, 1, 0, 72.0, 720.0, "body a"),
        (1, 2, 1, 72.0, 780.0, "HDR"), (1, 3, 1, 72.0, 720.0, "body b"),
        # doc 2: single page; header-looking line must SURVIVE
        (2, 0, 0, 72.0, 780.0, "HDR"), (2, 1, 0, 72.0, 720.0, "body c"),
        # doc 3: same text on both pages but DIFFERENT origins -> content
        (3, 0, 0, 72.0, 720.0, "dup"), (3, 1, 1, 100.0, 700.0, "dup"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, ord int, page_idx int, x double, y double, text string"
    )
    got = {
        d: [(r.ord, r.page_idx, r.text) for r in sorted(g, key=lambda r: r.ord)]
        for d, g in __import__("itertools").groupby(
            sorted(strip_page_furniture(df).collect(), key=lambda r: (r.doc_id, r.ord)),
            key=lambda r: r.doc_id,
        )
    }
    assert got[1] == [(0, 0, "body a"), (1, 1, "body b")]
    assert got[2] == [(0, 0, "HDR"), (1, 0, "body c")]
    assert got[3] == [(0, 0, "dup"), (1, 1, "dup")]


def test_profile_table_one_pass_metrics(spark):
    from pdfparser_spark.relops import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (3, "b")], "k long, s string"
    )
    rows = {r["column"]: r for r in profile_table(df).collect()}
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_nonnull"] == 4
    assert rows["k"]["n_distinct"] == 3
    assert (rows["k"]["min_s"], rows["k"]["max_s"]) == ("1", "3")
    assert rows["s"]["n_nonnull"] == 3 and rows["s"]["n_distinct"] == 2
    assert (rows["s"]["min_s"], rows["s"]["max_s"]) == ("a", "b")
    # one aggregate over one scan: no join, no repeated exchange chains
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


_CATALOG = b"<< /Type /Catalog /Pages 2 0 R >>"
_PAGES = b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"


def _page(resources: bytes) -> bytes:
    return b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources << %s >> /Contents 6 0 R >>" % resources


# a Form XObject whose own /F1 is a different font than the page's /F1
_FORM_FONTS = pdf(
    _CATALOG, _PAGES,
    _page(b"/Font << /F1 4 0 R >> /XObject << /Fm1 5 0 R >>"),
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
    b"/Encoding << /Differences [88 /A /B] >> >>",
    stream(b"/Type /XObject /Subtype /Form /Resources << /Font << /F1 7 0 R >> >>",
            b"BT /F1 12 Tf (XY) Tj ET"),
    stream(b"", b"/Fm1 Do BT /F1 12 Tf (XY) Tj ET"),
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
)
# the page draws /Im9, which only the form's /XObject declares
_FORM_XOBJECT_NAME = pdf(
    _CATALOG, _PAGES,
    _page(b"/XObject << /Fm1 5 0 R >>"),
    b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 /BitsPerComponent 8 "
    b"/ColorSpace /DeviceGray /Length 1 >>\nstream\n\x00\nendstream",
    stream(b"/Type /XObject /Subtype /Form /Resources << /XObject << /Im9 4 0 R >> >>",
            b"/Im9 Do"),
    stream(b"", b"/Fm1 Do /Im9 Do"),
)
# a ToUnicode range whose destinations outgrow two bytes
_OVERFLOW_BFRANGE = pdf(
    _CATALOG, _PAGES,
    _page(b"/Font << /F1 4 0 R >>"),
    b"<< /Type /Font /Subtype /Type0 /BaseFont /X /Encoding /Identity-H /ToUnicode 5 0 R >>",
    stream(b"", b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
                 b"1 beginbfrange <0000> <FFFF> <0041> endbfrange"),
    stream(b"", b"BT /F1 12 Tf <00010002FFFF> Tj ET"),
)


def test_staged_equals_fused_on_edge_documents(spark, sf_dir):
    """The staged DAG runs the fused kernel's own semantics: equal spans per
    document, and its metrics are exactly extract_spans' error rows, on
    damaged documents (lost catalogs recover orphan pages), on forms with
    their own fonts and XObject names, a malformed ToUnicode and a page
    that inherits its resources from the page tree."""
    from collections import Counter

    from pdfparser_spark.core.extract import extract_spans
    from pdfparser_spark.schema import DOCUMENTS_RAW
    from pdfparser_spark.stages import extract_fused
    from pdfparser_spark.stages.fused import _doc_bytes

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).filter(
        F.col("doc_id") < 40
    )
    damaged = synthesize_corpus(docs, family="damaged")
    edge = spark.createDataFrame(
        [
            (1000 + i, [{"kind": "input", "text": data.decode("latin-1"), "media_ref": None, "offset": 0}])
            for i, data in enumerate(
                (_FORM_FONTS, _FORM_XOBJECT_NAME, _OVERFLOW_BFRANGE, INHERITED_RESOURCES)
            )
        ],
        DOCUMENTS_RAW,
    )
    raw = damaged.unionByName(edge)
    data = {r.doc_id: _doc_bytes(r.spans) for r in raw.collect()}

    staged = Pipeline(spark).run(raw)
    got_staged = {r.doc_id: [tuple(s)[:3] for s in r.spans] for r in staged["spans"].collect()}
    got_fused = {r.doc_id: [tuple(s)[:3] for s in r.spans] for r in extract_fused(raw).collect()}
    metrics: dict = {d: Counter() for d in data}
    for r in staged["metrics"].collect():
        metrics[r.doc_id][(r.error_kind, r.stage)] += r["count"]

    assert got_staged == got_fused
    for doc_id, doc in data.items():
        errors = Counter((k, s) for k, s, _d in extract_spans(doc)["errors"])
        assert metrics[doc_id] == errors, doc_id
    # the lost-catalog docs recover their orphan pages in both modes
    assert all(got_staged[d] for d in (2, 10, 18, 26, 34))
    assert [s[1] for s in got_staged[1000]] == ["XY", "AB"]
    assert got_staged[1001] == [("media", None, "Im9"), ("media", None, "Im9")]
    assert metrics[1001] == Counter({("ReferenceError", "classify"): 1})
    assert got_staged[1002] == [("text", "BC�", None)]
    assert got_staged[1003] == [("media", None, "Im1"), ("text", "AB", None)]
    assert metrics[1003] == Counter()
