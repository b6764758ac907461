"""MBOX/MIME source: deterministic message writer + stdlib-email reader.

Covers the RFC 4155 split + mboxrd quoting, the base64 PDF attachment
round trip (the stdlib parser is an independent MIME implementation,
so the fixpoint is an interop check), corrupt-message containment,
and the Spark shard round trip against the documents table.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdfparser_spark.sources import mbox


def test_message_grammar_and_attachment_roundtrip():
    from pdfparser_spark import synth
    from pdfparser_spark.core.extract import extract_spans

    raw = b"".join(
        b"From archive@corpus.example " + mbox.msg_date(d).encode() + b"\n"
        + mbox._mboxrd_quote(mbox.build_eml(d, f"word{d} " * 30)) + b"\n"
        for d in (0, 3, 7)
    )
    msgs = list(mbox.parse_messages(raw))
    assert [m["subject"] for m in msgs] == ["document 0", "document 3", "document 7"]
    for m, d in zip(msgs, (0, 3, 7)):
        assert m["error"] is None and m["n_parts"] == 2
        assert m["filename"] == f"doc{d}.pdf"
        want = synth.build_document(d, f"word{d} " * 30)
        wbytes = "".join(
            s["text"]
            for s in sorted(
                (s for s in want["span_rows"] if s["text"] is not None),
                key=lambda s: s["offset"],
            )
        ).encode()
        assert m["pdf"] == wbytes  # base64 transport is lossless
        assert extract_spans(m["pdf"])["spans"]


def test_mboxrd_quoting_roundtrip():
    body = b"line1\nFrom the archive\n>From quoted\n"
    q = mbox._mboxrd_quote(body)
    assert q == b"line1\n>From the archive\n>>From quoted\n"
    out = list(mbox.split_mbox(b"From sep line\nX: y\n\n" + q))
    assert len(out) == 1
    assert b"\nFrom the archive" in out[0] and b"\n>From quoted" in out[0]


def test_corrupt_message_is_contained():
    msgs = list(mbox.parse_messages(b"From x\n\x00\xff not a message\n"))
    assert len(msgs) == 1 and msgs[0]["pdf"] is None
    # a shard of garbage yields rows (possibly error rows), never raises
    assert isinstance(list(mbox.parse_messages(b"\x00" * 64)), list)


def test_spark_shard_roundtrip(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).filter(
        F.col("doc_id") < 40
    )
    out = str(tmp_path / "mbox")
    manifest = mbox.write_mbox_shards(docs, out, n_shards=4).collect()
    assert sum(r.n_messages for r in manifest) == docs.count()
    assert len(manifest) == 4 and all(os.path.exists(r.path) for r in manifest)
    parsed = mbox.read_mbox(spark, out)
    rows = parsed.collect()
    assert len(rows) == docs.count()
    assert all(r.error is None and r.pdf is not None for r in rows)
    ids = sorted(int(r.subject.split()[-1]) for r in rows)
    assert ids == sorted(r.doc_id for r in docs.collect())


def test_a_null_doc_id_is_dropped_not_fatal(spark, tmp_path):
    """A NULL doc_id has no shard: the write drops its row and writes the
    others, instead of failing the job."""
    docs = spark.createDataFrame([(1, "a b"), (None, "c d")], "doc_id long, text string")
    out = str(tmp_path / "mbox")
    manifest = mbox.write_mbox_shards(docs, out, n_shards=2).collect()
    assert [(m.shard, m.n_messages) for m in manifest] == [(1, 1)]
    msgs = list(mbox.parse_messages(open(manifest[0].path, "rb").read()))
    assert [m["subject"] for m in msgs] == ["document 1"]
