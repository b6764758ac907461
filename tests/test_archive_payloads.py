"""Archive payloads reach the kernel byte for byte.

The mbox, tar and zip queries hand each PDF payload to ``extract_fused``
as one text span decoded latin-1 (``__spark_entry__._extract_payloads``);
a binary-family PDF, whose marker comment and Flate streams are not
UTF-8, extracts the same spans as straight from its synth rows.  The
WARC reader decodes ``application/pdf`` bodies latin-1, so a binary PDF
served in a response comes back with its bytes intact."""

from __future__ import annotations

import gzip

from __spark_entry__ import _extract_payloads
from pdfparser_spark.sources import warc
from pdfparser_spark.stages import extract_fused, flatten_spans, synthesize_corpus
from pdfparser_spark.synth import build_document_binary

TEXTS = [(i, f"alpha beta gamma {i}") for i in range(6)]


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_binary_payloads_extract_like_their_synth_rows(spark):
    payloads = spark.createDataFrame(
        [(i, build_document_binary(i, t)["bytes"]) for i, t in TEXTS], "doc_id long, payload binary"
    )
    assert any(not p.isascii() for p in (build_document_binary(i, t)["bytes"] for i, t in TEXTS))
    docs = spark.createDataFrame(TEXTS, "doc_id long, text string")
    want = _sorted(flatten_spans(extract_fused(synthesize_corpus(docs, family="binary"))))
    assert want and _sorted(_extract_payloads(payloads)) == want


def test_warc_pdf_bodies_are_byte_faithful(spark, tmp_path):
    pdf = build_document_binary(1, "alpha beta")["bytes"]
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n"
        b"Content-Length: %d\r\n\r\n" % len(pdf)
    ) + pdf
    record = warc._record(
        "response",
        [("WARC-Date", warc.doc_date(1)), ("WARC-Target-URI", warc.doc_url(1) + ".pdf")],
        http,
    )
    (tmp_path / "one.warc.gz").write_bytes(gzip.compress(record, mtime=0))

    for reader in (warc.read_warc, warc.read_warc_captures):
        (row,) = reader(spark, str(tmp_path)).collect()
        assert row.content_type == "application/pdf"
        assert row.body.encode("latin-1") == pdf
