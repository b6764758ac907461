"""WARC source: deterministic shard writer + binaryFile reader.

Covers the record grammar (warcinfo/request/response framing), the
per-record gzip-member layout, corrupt-shard containment (ValueError,
never a task death), and the Spark round trip against the documents
table the shards were synthesized from.
"""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from pdfparser_spark.sources import warc


def _shard_bytes(docs: list[tuple[int, str]]) -> bytes:
    parts = [gzip.compress(warc.build_warcinfo_record(0), mtime=0)]
    for did, text in docs:
        parts.append(gzip.compress(warc.build_request_record(did), mtime=0))
        parts.append(gzip.compress(warc.build_response_record(did, text), mtime=0))
    return b"".join(parts)


def test_record_grammar_roundtrip():
    raw = _shard_bytes([(0, "hello world"), (3, "err doc"), (20, "twenty")])
    recs = list(warc.parse_warc_records(raw))
    assert [h["warc-type"] for h, _ in recs] == [
        "warcinfo", "request", "response", "request", "response", "request", "response",
    ]
    responses = [(h, b) for h, b in recs if h["warc-type"] == "response"]
    # doc 3 is the 404 slice (doc_id % 17 == 3); bodies parse back exactly
    st0, ct0, body0 = warc._parse_http_response(responses[0][1])
    st3, _, body3 = warc._parse_http_response(responses[1][1])
    assert (st0, ct0) == (200, "text/html; charset=utf-8")
    assert body0.decode() == warc.doc_body(0, "hello world")
    assert st3 == 404 and body3 == b"<html><body>not found</body></html>"
    assert responses[2][0]["warc-target-uri"] == warc.doc_url(20)
    assert responses[2][0]["warc-date"] == "2024-01-01T00:00:20Z"


def test_uncompressed_warc_and_multirecord_member():
    a = warc.build_response_record(1, "one")
    b = warc.build_response_record(2, "two")
    # one gzip member holding TWO concatenated records (plain .warc layout)
    assert len(list(warc.parse_warc_records(gzip.compress(a + b, mtime=0)))) == 2
    # and the fully uncompressed path
    assert len(list(warc.parse_warc_records(a + b))) == 2


@pytest.mark.parametrize(
    "mutate",
    [
        lambda raw: raw[: len(raw) // 2],  # truncated gzip member
        lambda raw: raw[:40] + b"\x00\x00" + raw[42:],  # corrupted member bytes
        lambda raw: b"\x1f\x8b" + b"garbage",  # gzip magic, bogus stream
    ],
)
def test_corrupt_shard_raises_valueerror_only(mutate):
    raw = _shard_bytes([(0, "x"), (1, "y")])
    with pytest.raises(ValueError):
        list(warc.parse_warc_records(mutate(raw)))


def test_negative_content_length_rejected():
    rec = warc.build_response_record(2, "two")
    bad = rec.replace(b"Content-Length: ", b"Content-Length: -", 1)
    with pytest.raises(ValueError):
        list(warc._parse_records_in(bad))


def test_corrupt_tail_drops_whole_file_rows(spark, tmp_path):
    """Containment is whole-file: records BEFORE the corruption point
    must not leak into the reader's output (no silent prefix)."""
    good = _shard_bytes([(0, "a"), (1, "b")])
    raw = good + b"\x1f\x8b" + b"garbage-tail"
    with pytest.raises(ValueError):
        list(warc.parse_warc_records(raw))
    p = tmp_path / "shard-corrupt.warc.gz"
    p.write_bytes(raw)
    assert warc.read_warc(spark, str(tmp_path)).count() == 0
    assert warc.index_warc(spark, str(tmp_path)).count() == 0


def test_bad_framing_raises_valueerror_only():
    rec = warc.build_response_record(7, "seven")
    with pytest.raises(ValueError):
        list(warc._parse_records_in(rec[:-2]))  # missing record terminator
    with pytest.raises(ValueError):
        list(warc._parse_records_in(b"NOT-WARC\r\n\r\nxx\r\n\r\n"))


def test_spark_roundtrip_matches_documents(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    out = str(tmp_path / "warc")
    manifest = warc.write_warc_shards(docs, out, n_shards=4).collect()
    assert sum(m.n_records for m in manifest) == docs.count()
    assert len(manifest) <= 4

    parsed = warc.read_warc(spark, out)
    got = parsed.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "status",
        "n_bytes",
        "body",
    )
    rows = {r.doc_id: r for r in got.collect()}
    src = {r.doc_id: r.text for r in docs.collect()}
    assert set(rows) == set(src)
    for did, text in src.items():
        expect = warc.doc_body(did, text)
        assert rows[did].body == expect
        assert rows[did].n_bytes == len(expect.encode())
        assert rows[did].status == warc.doc_status(did)

    # a corrupt shard is skipped whole, the rest still parse
    shard0 = manifest[0].path
    data = open(shard0, "rb").read()
    open(shard0, "wb").write(data[: len(data) // 2])
    survivors = warc.read_warc(spark, out).count()
    assert 0 < survivors < len(src)


def test_cdx_index_and_range_fetch(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"text for {i}") for i in range(30)], "doc_id long, text string"
    )
    out = str(tmp_path / "warc")
    warc.write_warc_shards(docs, out, n_shards=2).collect()

    cdx = warc.index_warc(spark, out)
    rows = cdx.collect()
    assert len(rows) == 30  # one index row per RESPONSE record only
    # extents lie inside their shard and don't overlap (offsets ascend per file)
    by_file: dict = {}
    for r in rows:
        by_file.setdefault(r.path, []).append((r.offset, r.length))
    import os as _os

    for path, extents in by_file.items():
        size = _os.path.getsize(path[len("file:"):] if path.startswith("file:") else path)
        for off, ln in extents:
            assert 0 <= off and off + ln <= size
        ordered = sorted(extents)
        assert all(a[0] + a[1] <= b[0] for a, b in zip(ordered, ordered[1:]))

    fetched = warc.fetch_warc_records(cdx)
    got = {r.url: r for r in fetched.collect()}
    assert len(got) == 30
    for i in range(30):
        r = got[warc.doc_url(i)]
        assert r.body == warc.doc_body(i, f"text for {i}")
        assert r.status == warc.doc_status(i)

    # range-read proof: corrupt every byte OUTSIDE one record's extent in
    # its shard — fetching THAT record alone must still succeed bit-exactly
    probe = rows[7]
    local = probe.path[len("file:"):] if probe.path.startswith("file:") else probe.path
    data = bytearray(b"\xff" * _os.path.getsize(local))
    with open(local, "rb") as fh:
        fh.seek(probe.offset)
        keep = fh.read(probe.length)
    data[probe.offset : probe.offset + probe.length] = keep
    open(local, "wb").write(bytes(data))
    one = warc.fetch_warc_records(spark.createDataFrame([probe])).collect()
    assert len(one) == 1 and one[0].url == probe.url


def test_warc_plans_are_scan_only(spark, tmp_path):
    """The ingest plan's only operators are scan -> project -> the one
    mapInArrow (zero Exchange); the CDX fetch plan likewise never
    shuffles — data movement is exactly the scan at any corpus scale."""
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(10)], "doc_id long, text string"
    )
    out = str(tmp_path / "warc")
    warc.write_warc_shards(docs, out, n_shards=2).collect()

    plan = warc.read_warc(spark, out)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "CartesianProduct" not in plan

    fetch_plan = (
        warc.fetch_warc_records(warc.index_warc(spark, out))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in fetch_plan and "CartesianProduct" not in fetch_plan


def test_pdf_over_warc_roundtrip_and_plan(spark, tmp_path):
    """application/pdf responses carry the ASCII-armored synthetic PDFs
    losslessly (the reader decodes PDF bodies latin-1, byte for byte), and
    the archive-to-extraction chain plan carries zero exchanges."""
    from pdfparser_spark.core.extract import extract_spans as kernel
    from pdfparser_spark.synth import build_document

    docs = spark.createDataFrame(
        [(i, f"alpha beta {i}") for i in range(12)], "doc_id long, text string"
    )
    out = str(tmp_path / "pdfwarc")
    manifest = warc.write_warc_pdf_shards(docs, out, n_shards=2).collect()
    # 12 responses + doc 7's revisit record (doc % 9 == 7 re-crawl rule)
    assert sum(m.n_records for m in manifest) == 13

    parsed = warc.read_warc(spark, out)
    rows = {r.url: r for r in parsed.collect()}
    assert all(r.content_type == "application/pdf" for r in rows.values())
    for i in (0, 7):
        r = rows[warc.doc_url(i) + ".pdf"]
        d = build_document(i, f"alpha beta {i}")
        parts = sorted(
            (s for s in d["span_rows"] if s["text"] is not None),
            key=lambda s: s["offset"],
        )
        raw = "".join(s["text"] for s in parts)
        assert r.body == raw and r.n_bytes == len(raw)
        # and the kernel extracts real spans from the served bytes
        got = kernel(r.body.encode("latin-1"))
        assert got["spans"]

    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_revisit_records_resolve_by_digest(spark, tmp_path):
    """WARC 1.1 §6.7.2 identical-payload-digest revisits: the re-crawl
    capture carries only the digest; resolve_revisits joins it back to
    the original payload (cross-shard), an unresolvable digest keeps an
    observable empty body, and read_warc (responses-only) is unchanged."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta {i}") for i in range(20)], "doc_id long, text string"
    )
    out = str(tmp_path / "revwarc")
    warc.write_warc_pdf_shards(docs, out, n_shards=3).collect()

    caps = warc.read_warc_captures(spark, out)
    revisits = caps.filter(caps.record_type == "revisit").collect()
    assert {r.url for r in revisits} == {
        warc.doc_url(7) + ".pdf?recrawl=1", warc.doc_url(16) + ".pdf?recrawl=1"
    }
    assert all(r.body == "" and r.digest.startswith("sha1:") for r in revisits)

    resolved = warc.resolve_revisits(caps)
    by_url = {r.url: r for r in resolved.collect()}
    for i in (7, 16):
        orig = by_url[warc.doc_url(i) + ".pdf"]
        re_crawl = by_url[warc.doc_url(i) + ".pdf?recrawl=1"]
        assert re_crawl.body == orig.body != ""
    # responses-only reader is unaffected by the new record type
    assert warc.read_warc(spark, out).count() == 20
