"""WARC (ISO 28500) web-archive source — the Common Crawl ingestion shape.

The reference engine reads exactly one local file per run
(/root/reference/src/pdf_doc/pdf_file/pdf_file.rs:118-158 ``create_pdf_from_file``);
a 100 TB web corpus instead arrives as ~1 GB ``.warc.gz`` shards where EVERY
RECORD IS ITS OWN GZIP MEMBER (the Common Crawl convention — it makes any
record independently seekable).  This module provides both halves:

* a deterministic distributed WARC writer (`write_warc_shards`) — the synth
  family for this source: content derives only from ``(doc_id, text)`` so a
  DuckDB oracle can state the expected parse output analytically, exactly
  like `synth.build_document` does for the PDF families;
* a reader (`read_warc`) built on Spark's ``binaryFile`` source plus one
  `mapInArrow` that splits gzip members with ``zlib`` and parses the WARC
  record grammar + the embedded HTTP/1.1 response.

Scale notes (100 TB): parallelism is file-level — `binaryFile` gives one
task per shard, which matches Common Crawl's ~1 GB shard sizing (80 k files
for a crawl → plenty of tasks for 1000 executors; keep shards under the
source's 2 GB per-file ceiling).  The parse is a zero-shuffle stateless
kernel: the only exchanges in any downstream plan are the ones the QUERY
asks for.  Corrupt shards are contained — a truncated gzip member or a bad
record raises `ValueError` inside the kernel, the file is skipped and
counted, never a task failure (same containment contract as the media
decoders in `textops/media.py`).
"""

from __future__ import annotations

import gzip
import hashlib
import zlib
from collections.abc import Iterator
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runner import map_rows
from .shards import write_shards

_EPOCH = datetime(2024, 1, 1)  # WARC-Date base: deterministic, never wall clock
_CRLF = b"\r\n"

READ_SCHEMA = (
    "path string, url string, warc_date string, status int, "
    "content_type string, n_bytes long, body string"
)


# ---------------------------------------------------------------------------
# record builders (the deterministic synth side)
# ---------------------------------------------------------------------------


def doc_url(doc_id: int) -> str:
    """Deterministic crawl URL for a doc — host spread over N_HOSTS
    vhosts (shared with urls/robots) so host-level aggregations
    downstream see real key diversity."""
    from ..textops.urls import N_HOSTS

    return f"http://host{doc_id % N_HOSTS}.example.org/doc/{doc_id}"


def doc_date(doc_id: int) -> str:
    """ISO-8601 WARC-Date, ``_EPOCH + doc_id`` seconds."""
    return (_EPOCH + timedelta(seconds=doc_id)).strftime("%Y-%m-%dT%H:%M:%SZ")


def doc_body(doc_id: int, text: str) -> str:
    """The HTTP body the synthetic server returns: the full nested page
    template shared with the DOM scorer's synth family (so the crawl
    chain ``read_warc -> dom_extract`` is oracle-checkable end to end)
    for 2xx docs, a fixed error page for the 404 slice (doc_id % 17 == 3)
    — the reader must surface BOTH so downstream filters see real
    statuses."""
    from ..textops.dom import page_html

    if doc_id % 17 == 3:
        return "<html><body>not found</body></html>"
    return page_html(doc_id, text)


def doc_status(doc_id: int) -> int:
    return 404 if doc_id % 17 == 3 else 200


def _record(warc_type: str, headers: list[tuple[str, str]], block: bytes) -> bytes:
    rid = hashlib.md5(f"warc-record-{warc_type}-{headers}".encode()).hexdigest()
    head = ["WARC/1.0", f"WARC-Type: {warc_type}"]
    head += [f"{k}: {v}" for k, v in headers]
    head += [
        f"WARC-Record-ID: <urn:uuid:{rid}>",
        f"Content-Length: {len(block)}",
    ]
    return (
        "\r\n".join(head).encode("ascii")
        + _CRLF * 2
        + block
        + _CRLF * 2  # ISO 28500 §4: two CRLFs terminate every record
    )


def build_warcinfo_record(shard: int) -> bytes:
    block = (
        "software: pdfspark-synth/1.0\r\n"
        "format: WARC File Format 1.0\r\n"
        f"description: synthetic crawl shard {shard}\r\n"
    ).encode("ascii")
    return _record(
        "warcinfo",
        [
            ("WARC-Date", doc_date(0)),
            ("Content-Type", "application/warc-fields"),
        ],
        block,
    )


def build_request_record(doc_id: int) -> bytes:
    """The paired GET request — present in real crawls; the reader must
    SKIP it (only responses carry payload)."""
    from ..textops.urls import N_HOSTS

    http = (
        f"GET /doc/{doc_id} HTTP/1.1\r\n"
        f"Host: host{doc_id % N_HOSTS}.example.org\r\n"
        "User-Agent: pdfspark-crawler/1.0\r\n\r\n"
    ).encode("ascii")
    return _record(
        "request",
        [
            ("WARC-Date", doc_date(doc_id)),
            ("WARC-Target-URI", doc_url(doc_id)),
            ("Content-Type", "application/http; msgtype=request"),
        ],
        http,
    )


def build_response_record(doc_id: int, text: str) -> bytes:
    body = doc_body(doc_id, text).encode("utf-8")
    status = doc_status(doc_id)
    reason = "OK" if status == 200 else "Not Found"
    http = (
        f"HTTP/1.1 {status} {reason}\r\n"
        "Content-Type: text/html; charset=utf-8\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("ascii") + body
    return _record(
        "response",
        [
            ("WARC-Date", doc_date(doc_id)),
            ("WARC-Target-URI", doc_url(doc_id)),
            ("Content-Type", "application/http; msgtype=response"),
        ],
        http,
    )


def pdf_response_body(doc_id: int, text: str) -> bytes:
    """The ASCII-armored synthetic PDF bytes served as the response
    payload (shared by the record builder and the revisit digest)."""
    from ..synth import build_document

    return build_document(doc_id, text)["bytes"]


def build_pdf_response_record(doc_id: int, text: str) -> bytes:
    """An ``application/pdf`` response: the body is the ASCII-armored
    synthetic PDF itself (`synth.build_document`, byte-reconstructed the
    same way the decode stage does) — the crawl-archive shape of the
    reference's own input, so the extraction kernel can run straight off
    the archive."""
    body = pdf_response_body(doc_id, text)
    http = (
        "HTTP/1.1 200 OK\r\n"
        "Content-Type: application/pdf\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode("ascii") + body
    return _record(
        "response",
        [
            ("WARC-Date", doc_date(doc_id)),
            ("WARC-Target-URI", doc_url(doc_id) + ".pdf"),
            ("Content-Type", "application/http; msgtype=response"),
        ],
        http,
    )


def payload_digest(body: bytes) -> str:
    """WARC-Payload-Digest in the spec's labelled-base32 form
    (sha1:<base32>, RFC 4648 alphabet) — what Common Crawl records."""
    import base64
    import hashlib as _hl

    return "sha1:" + base64.b32encode(_hl.sha1(body).digest()).decode("ascii")


def build_pdf_revisit_record(doc_id: int, digest: str) -> bytes:
    """A WARC 1.1 §6.7.2 REVISIT record (identical-payload-digest
    profile): the crawler saw the same payload again at a re-crawl URI —
    the record carries only the HTTP headers plus the digest and the
    refers-to pointers; consumers resolve the payload by digest."""
    http = (
        "HTTP/1.1 200 OK\r\n"
        "Content-Type: application/pdf\r\n"
        "Content-Length: 0\r\n\r\n"
    ).encode("ascii")
    return _record(
        "revisit",
        [
            ("WARC-Date", doc_date(doc_id)),
            ("WARC-Target-URI", doc_url(doc_id) + ".pdf?recrawl=1"),
            ("WARC-Profile", "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"),
            ("WARC-Payload-Digest", digest),
            ("WARC-Refers-To-Target-URI", doc_url(doc_id) + ".pdf"),
            ("WARC-Refers-To-Date", doc_date(doc_id)),
            ("Content-Type", "application/http; msgtype=response"),
        ],
        http,
    )


def _warc_shard(shard: int, rows: list) -> tuple[str, bytes, int]:
    records = [build_warcinfo_record(shard)]
    for did, text in rows:
        records += [build_request_record(did), build_response_record(did, text or "")]
    return f"shard-{shard:05d}.warc.gz", _gzip_members(records), len(rows)


def _warc_pdf_shard(shard: int, rows: list) -> tuple[str, bytes, int]:
    records = [build_warcinfo_record(shard)]
    for did, text in rows:
        records.append(build_pdf_response_record(did, text or ""))
        if did % 9 == 7:
            # every 9th+7 doc was re-crawled: the second capture is a
            # revisit-by-digest record (Common Crawl dedup layout)
            digest = payload_digest(pdf_response_body(did, text or ""))
            records.append(build_pdf_revisit_record(did, digest))
    return f"pdf-shard-{shard:05d}.warc.gz", _gzip_members(records), len(records) - 1


def _gzip_members(records: list[bytes]) -> bytes:
    """Every record its own gzip member (mtime 0: reproducible bytes)."""
    return b"".join(gzip.compress(r, mtime=0) for r in records)


def write_warc_pdf_shards(
    documents: DataFrame, out_dir: str, n_shards: int = 8
) -> DataFrame:
    """Like :func:`write_warc_shards` but every response carries the
    document's ASCII-armored PDF bytes (``application/pdf``) — the
    document-crawl archive layout."""
    return write_shards(
        documents.select("doc_id", "text"), out_dir, n_shards, "n_records", _warc_pdf_shard
    )


def write_warc_shards(
    documents: DataFrame, out_dir: str, n_shards: int = 8
) -> DataFrame:
    """Distributed deterministic writer (``sources.shards``):
    ``documents(doc_id, text)`` -> ``out_dir/shard-NNNNN.warc.gz``, a
    warcinfo record then each doc's request and response, every record
    its own gzip member (Common Crawl layout).  Executors write to the
    shared filesystem directly (a cluster points ``out_dir`` at the
    distributed store).  Returns the ``(shard, path, n_records)``
    manifest."""
    return write_shards(
        documents.select("doc_id", "text"), out_dir, n_shards, "n_records", _warc_shard
    )


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def split_gzip_members(data: bytes) -> Iterator[bytes]:
    """Split a multi-member gzip stream into decompressed members.  A
    truncated final member raises ValueError (contained by the caller)."""
    return (out for _off, _clen, out in split_gzip_members_with_offsets(data))


def _parse_records_in(buf: bytes) -> Iterator[tuple[dict, bytes]]:
    """Parse concatenated WARC records in one decompressed buffer ->
    (headers lower-cased, block bytes).  Strict on the framing the spec
    fixes (version line, Content-Length, record terminator)."""
    pos = 0
    while pos < len(buf):
        end = buf.find(_CRLF * 2, pos)
        if end < 0:
            raise ValueError("unterminated WARC header block")
        lines = buf[pos:end].decode("ascii", errors="replace").split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"bad WARC version line: {lines[0]!r}")
        headers: dict[str, str] = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError("missing/bad Content-Length") from e
        if clen < 0:
            # a negative length would walk block_end BEHIND block_start and
            # the terminator check would re-match the header's own CRLFCRLF,
            # fabricating an empty record — reject, per the strict framing
            raise ValueError(f"negative Content-Length {clen}")
        block_start = end + 4
        block_end = block_start + clen
        if buf[block_end : block_end + 4] != _CRLF * 2:
            raise ValueError("missing record terminator")
        yield headers, buf[block_start:block_end]
        pos = block_end + 4


def parse_warc_records(raw: bytes) -> Iterator[tuple[dict, bytes]]:
    """All records of a shard: gzip-member-split when the magic says gzip,
    else the raw buffer is treated as one uncompressed ``.warc``."""
    members = split_gzip_members(raw) if raw[:2] == b"\x1f\x8b" else iter([raw])
    for member in members:
        yield from _parse_records_in(member)


def split_gzip_members_with_offsets(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Like :func:`split_gzip_members` but yields ``(offset, comp_len,
    member_bytes)`` — the byte extent of each compressed member inside the
    shard, i.e. exactly what a CDX index records so a later reader can
    fetch ONE record with a range read."""
    pos, total = 0, len(data)
    while pos < total:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out = d.decompress(data[pos:])
        except zlib.error as e:
            raise ValueError(f"bad gzip member: {e}") from e
        if not d.eof:
            raise ValueError("truncated gzip member")
        comp_len = (total - pos) - len(d.unused_data)
        yield pos, comp_len, out
        pos += comp_len


CDX_SCHEMA = "url string, warc_date string, path string, offset long, length long"


def index_warc(spark: SparkSession, path: str) -> DataFrame:
    """Build the CDX-style index of a shard directory: one row per
    RESPONSE record with its exact compressed byte extent ``(path,
    offset, length)``.  This is the Common Crawl access pattern — the
    index is tiny relative to the corpus and fetching a single document
    later costs ONE range read of ``length`` bytes, not a shard scan."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def index(fpath, content):
        rows = []  # buffered per file: corrupt => NOTHING indexed
        try:
            for off, clen, member in split_gzip_members_with_offsets(content):
                for headers, _block in _parse_records_in(member):
                    if headers.get("warc-type") == "response":
                        rows.append((
                            headers.get("warc-target-uri", ""),
                            headers.get("warc-date", ""),
                            fpath, off, clen,
                        ))
        except ValueError:
            return []  # corrupt shard: absent from the index
        return rows

    return map_rows(files, CDX_SCHEMA, index)


def fetch_warc_records(cdx: DataFrame) -> DataFrame:
    """Random access: given CDX rows ``(path, offset, length, ...)``,
    fetch exactly those byte ranges (seek + read — the local-FS stand-in
    for an object-store range GET; NEVER reads a whole shard), gunzip the
    single member and parse the one record inside it.  Output schema ==
    :func:`read_warc`.  Fetch tasks parallelize over CDX rows, so a
    billion-record corpus serves point lookups at index-partition
    parallelism with O(record) I/O per lookup."""

    def fetch(fpath, off, length):
        local = fpath[len("file:") :] if fpath.startswith("file:") else fpath
        rows = []
        try:
            with open(local, "rb") as fh:
                fh.seek(off)
                comp = fh.read(length)
            for member in split_gzip_members(comp):
                for headers, block in _parse_records_in(member):
                    if headers.get("warc-type") == "response":
                        rows.append(_response_row(fpath, headers, block))
        except (OSError, ValueError):
            pass  # unreadable range: skip the lookup, never the task
        return rows

    return map_rows(cdx.select("path", "offset", "length"), READ_SCHEMA, fetch)


def _response_row(fpath: str, headers: dict, block: bytes) -> tuple:
    """One :data:`READ_SCHEMA` row for a RESPONSE record."""
    status, ctype, body = _parse_http_response(block)
    return (
        fpath,
        headers.get("warc-target-uri", ""),
        headers.get("warc-date", ""),
        status,
        ctype,
        len(body),
        _body_text(ctype, body),
    )


def _body_text(ctype: str, body: bytes) -> str:
    """The ``body`` column: a PDF decodes latin-1, byte-faithful (its
    ``encode("latin-1")`` is the served bytes, binary streams included);
    text decodes UTF-8."""
    if ctype == "application/pdf":
        return body.decode("latin-1")
    return body.decode("utf-8", errors="replace")


def _parse_http_response(block: bytes) -> tuple[int, str, bytes]:
    """HTTP/1.1 response block -> (status, content_type, body)."""
    sep = block.find(_CRLF * 2)
    if sep < 0:
        raise ValueError("unterminated HTTP header block")
    lines = block[:sep].decode("ascii", errors="replace").split("\r\n")
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"bad HTTP status line: {lines[0]!r}")
    status = int(parts[1])
    ctype = ""
    for line in lines[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
    return status, ctype, block[sep + 4 :]


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """``binaryFile`` scan over ``path`` (dir or glob of ``.warc.gz`` /
    ``.warc``) -> one row per RESPONSE record:
    (path, url, warc_date, status, content_type, n_bytes, body).

    warcinfo/request/metadata records are skipped (they carry no payload);
    a corrupt shard is skipped whole — ValueError containment, the task
    never dies.  Column pruning works upstream of the kernel: only
    ``content`` (and ``path``) are read from the binaryFile scan."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse(fpath, content):
        try:  # a list, so a corrupt shard is skipped WHOLE
            return [
                _response_row(fpath, headers, block)
                for headers, block in parse_warc_records(content)
                if headers.get("warc-type") == "response"
            ]
        except ValueError:
            return []  # corrupt shard: skip whole file, never kill the task

    return map_rows(files, READ_SCHEMA, parse)


READ_CAPTURES_SCHEMA = (
    "path string, url string, warc_date string, record_type string, "
    "status int, content_type string, body string, digest string"
)


def read_warc_captures(spark: SparkSession, path: str) -> DataFrame:
    """Like :func:`read_warc` but CAPTURE-complete: response rows carry
    their computed payload digest, and REVISIT records (WARC 1.1 §6.7.2)
    surface as rows with an empty body plus the recorded digest —
    :func:`resolve_revisits` joins them back to the original payloads."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse(fpath, content):
        rows = []  # buffered per file: corrupt => skipped WHOLE
        try:
            for headers, block in parse_warc_records(content):
                wtype = headers.get("warc-type")
                if wtype not in ("response", "revisit"):
                    continue
                status, ctype, body = _parse_http_response(block)
                if wtype == "response":
                    text, digest = _body_text(ctype, body), payload_digest(body)
                else:
                    text, digest = "", headers.get("warc-payload-digest", "")
                rows.append((
                    fpath,
                    headers.get("warc-target-uri", ""),
                    headers.get("warc-date", ""),
                    wtype, status, ctype, text, digest,
                ))
        except ValueError:
            return []  # corrupt shard: skip whole file, never kill the task
        return rows

    return map_rows(files, READ_CAPTURES_SCHEMA, parse)


def resolve_revisits(captures: DataFrame) -> DataFrame:
    """Resolve identical-payload-digest REVISITS against the original
    responses: one equi-join on the digest (the Spark shape of Common
    Crawl's dedup — digests are content hashes, so the join key is
    uniform; originals may live in OTHER shards, which is exactly why
    this is a join and not a per-shard lookup).  Returns the capture
    table with revisit bodies filled in; a revisit whose digest matches
    no response keeps its empty body (observable, never dropped)."""
    responses = captures.filter(F.col("record_type") == "response")
    revisits = captures.filter(F.col("record_type") == "revisit")
    originals = responses.select(
        F.col("digest").alias("o_digest"), F.col("body").alias("o_body")
    ).dropDuplicates(["o_digest"])
    resolved = (
        revisits.join(originals, revisits["digest"] == originals["o_digest"], "left")
        .select(
            "path", "url", "warc_date", "record_type", "status", "content_type",
            F.coalesce(F.col("o_body"), F.col("body")).alias("body"), "digest",
        )
    )
    return responses.unionByName(resolved)
