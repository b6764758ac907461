"""ZIP archive source (PKWARE APPNOTE.TXT public layout) — the most
common bulk-distribution container: data dumps, scraped-site exports
and document collections overwhelmingly arrive as .zip.

Writer side builds archives BYTE-DETERMINISTICALLY by hand — local
file headers, raw-deflate payloads (zlib wbits=-15), CRC-32s, the
central directory, and the end-of-central-directory record; one shard
per ``doc_id % n_shards``, members sorted by doc_id, write-temp +
atomic rename (the shared writer, sources/shards.py).  PDFs are DEFLATED,
the ``notes/*.txt`` sidecars are STORED, so the reader must handle
both methods.

Reader side does what a real zip reader does: reverse-scan for the
EOCD signature, walk the CENTRAL DIRECTORY (never the local headers
first — the central directory is the authoritative index), then slice
each member via its local-header offset and inflate/copy with the
CRC-32 VERIFIED.  One stateless mapInArrow over ``binaryFile`` shards
— file-level parallelism, zero shuffle, like every archive source
here.  A member whose CRC fails costs that member (error row); a shard
with no EOCD costs that shard, never the task.

Interop is proven both ways against stdlib :mod:`zipfile` in tests.
Reference parity: none — the reference has no sources tier.
"""

from __future__ import annotations

import os
import struct
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..runner import map_rows
from .shards import write_shards

_LOCAL_SIG = b"PK\x03\x04"
_CDIR_SIG = b"PK\x01\x02"
_EOCD_SIG = b"PK\x05\x06"


def build_zip(members: list) -> bytes:
    """``members`` = [(name, payload, method)] with method 0 (stored) or
    8 (deflate) -> one archive.  Fixed DOS timestamp (1980-01-01) keeps
    shard bytes reproducible."""
    out = bytearray()
    central = bytearray()
    for name, payload, method in members:
        nb = name.encode("ascii")
        crc = zlib.crc32(payload) & 0xFFFFFFFF
        if method == 8:
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = co.compress(payload) + co.flush()
        else:
            data = payload
        offset = len(out)
        hdr = struct.pack(
            "<4sHHHHHIIIHH",
            _LOCAL_SIG, 20, 0, method, 0, 0x21,  # version, flags, method, DOS time/date
            crc, len(data), len(payload), len(nb), 0,
        )
        out += hdr + nb + data
        central += struct.pack(
            "<4sHHHHHHIIIHHHHHII",
            _CDIR_SIG, 20, 20, 0, method, 0, 0x21,
            crc, len(data), len(payload), len(nb), 0, 0, 0, 0, 0o644 << 16, offset,
        )
        central += nb
    cd_off = len(out)
    out += central
    out += struct.pack(
        "<4sHHHHIIH",
        _EOCD_SIG, 0, 0, len(members), len(members), len(central), cd_off, 0,
    )
    return bytes(out)


def _zip_shard(shard: int, rows: list) -> tuple[str, bytes, int]:
    from ..synth import build_document

    members = []
    for did, text in rows:
        members.append((f"corpus/doc{did}.pdf", build_document(did, text or "")["bytes"], 8))
        note = f"source note for document {did}\n".encode("ascii")
        members.append((f"corpus/notes/doc{did}.txt", note, 0))
    return f"shard-{shard:05d}.zip", build_zip(members), len(members)


def write_zip_shards(
    documents: DataFrame, out_dir: str, n_shards: int = 8
) -> DataFrame:
    """Distributed deterministic writer (``sources.shards``):
    ``documents(doc_id, text)`` -> ``out_dir/shard-NNNNN.zip`` plus the
    ``(shard, path, n_members)`` manifest."""
    return write_shards(
        documents.select("doc_id", "text"), out_dir, n_shards, "n_members", _zip_shard
    )


def parse_zip(data: bytes) -> Iterator[dict]:
    """Members of one archive via the central directory -> dicts (name,
    method, size, payload, error).  EOCD found by reverse signature scan
    (comments up to 64 KiB); each member's CRC-32 is VERIFIED — a
    mismatch or a bad local header costs that member only."""
    tail = data[-(65536 + 22):]
    p = tail.rfind(_EOCD_SIG)
    if p < 0:
        raise ValueError("no end-of-central-directory record")
    eocd = tail[p : p + 22]
    if len(eocd) < 22:
        raise ValueError("truncated EOCD")
    n_entries = struct.unpack("<H", eocd[10:12])[0]
    _cd_size, cd_off = struct.unpack("<II", eocd[12:20])
    pos = cd_off
    for _ in range(n_entries):
        if data[pos : pos + 4] != _CDIR_SIG:
            raise ValueError("central directory signature mismatch")
        (
            _ver_made, _ver_need, _flags, method, _t, _d,
            crc, csize, usize, nlen, xlen, clen, _disk, _iattr, _eattr, loff,
        ) = struct.unpack("<HHHHHHIIIHHHHHII", data[pos + 4 : pos + 46])
        name = data[pos + 46 : pos + 46 + nlen].decode("ascii", "replace")
        pos += 46 + nlen + xlen + clen
        try:
            if data[loff : loff + 4] != _LOCAL_SIG:
                raise ValueError("local header signature mismatch")
            lnlen, lxlen = struct.unpack("<HH", data[loff + 26 : loff + 30])
            start = loff + 30 + lnlen + lxlen
            raw = data[start : start + csize]
            if len(raw) != csize:
                raise ValueError("truncated member data")
            if method == 8:
                payload = zlib.decompress(raw, -15)
            elif method == 0:
                payload = raw
            else:
                raise ValueError(f"unsupported compression method {method}")
            if len(payload) != usize or (zlib.crc32(payload) & 0xFFFFFFFF) != crc:
                raise ValueError("CRC-32 / size mismatch")
            yield {
                "name": name, "method": int(method), "size": int(usize),
                "payload": payload, "error": None,
            }
        except (ValueError, zlib.error) as e:
            yield {
                "name": name, "method": int(method), "size": int(usize),
                "payload": None, "error": f"{type(e).__name__}: {e}",
            }


def read_zip(spark: SparkSession, path: str) -> DataFrame:
    """``binaryFile`` over the shard dir -> one stateless mapInArrow
    walking every central-directory entry (shard-level parallelism;
    the central directory lives at EOF, so a shard is the work unit)."""
    files = spark.read.format("binaryFile").load(os.path.join(path, "*.zip"))

    def parse(content):
        rows = []
        try:
            rows.extend(parse_zip(content))
        except Exception as e:  # corrupt shard: contained skip
            rows.append(
                {
                    "name": None, "method": 0, "size": 0,
                    "payload": None, "error": f"{type(e).__name__}: {e}",
                }
            )
        return rows

    return map_rows(
        files.select("content"),
        "name string, method int, size long, payload binary, error string",
        parse,
    )
