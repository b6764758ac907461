"""A malformed ``documents_raw`` span row is an empty document, never a
dead task: a NULL offset among the text spans, or text above U+00FF
(which latin-1 reassembly cannot encode), reassembles to no bytes.  The
fused stage then emits no spans, and the staged pipeline records the
document's error row."""

from __future__ import annotations

from pyspark.sql import Row

from pdfparser_spark.pipeline import Pipeline
from pdfparser_spark.schema import DOCUMENTS_RAW
from pdfparser_spark.stages import extract_fused
from pdfparser_spark.stages.fused import _doc_bytes
from pdfparser_spark.synth import build_document


def _span(text, offset):
    return Row(kind="text", text=text, media_ref=None, offset=offset)


def test_malformed_spans_reassemble_empty():
    assert _doc_bytes([_span("%PDF-1.4", 0), _span(" x", None)]) == b""
    assert _doc_bytes([_span("%PDF-1.4 €", 0)]) == b""
    assert _doc_bytes([_span("b", 1), _span("a", 0)]) == b"ab"


def test_malformed_spans_through_fused_and_pipeline(spark):
    good = build_document(3, "alpha beta")["span_rows"]
    rows = [
        Row(doc_id=1, spans=[_span("%PDF-1.4\n", 0), _span("1 0 obj", None)]),
        Row(doc_id=2, spans=[_span("%PDF-1.4\n% €\n", 0)]),
        Row(doc_id=3, spans=[Row(**s) for s in good]),
    ]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_RAW)

    got = {r.doc_id: r.spans for r in extract_fused(df).collect()}
    assert got[1] == [] and got[2] == []
    assert got[3]  # the healthy document still extracts

    pipeline = Pipeline(spark)
    res = pipeline.run(df)
    staged = {r.doc_id: r.spans for r in res["spans"].collect()}
    errored = {r.doc_id for r in res["metrics"].collect() if r.error_kind}
    pipeline.release()
    assert staged == got
    assert {1, 2} <= errored and 3 not in errored
