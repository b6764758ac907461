"""TAR / ustar archive source (POSIX.1-1988 ustar layout, the format's
public spec) — the bulk-archive ingestion shape: research corpora
(arXiv source dumps, institutional repositories) routinely arrive as
tar shards whose members are the documents.

Writer side builds archives BYTE-DETERMINISTICALLY by hand — 512-byte
ustar headers (octal size/mtime, spec checksum over a space-filled
checksum field), member data zero-padded to block size, two zero
blocks as end-of-archive; one shard per ``doc_id % n_shards``, members
sorted by doc_id, write-temp + atomic rename (sources/shards.py,
the shared writer).  Each document contributes its PDF member plus a small
``notes/*.txt`` sidecar so the reader must actually FILTER members,
not just take everything.

Reader side walks the header chain (name via the ustar ``prefix``
field when set, size, typeflag, mtime, checksum VERIFIED) inside one
stateless mapInArrow over ``binaryFile`` shards — file-level
parallelism, zero shuffle, like every archive source here.  A member
whose checksum fails costs that member (counted as an error row); a
truncated archive costs the remainder of that shard, never the task.

Reference parity: none — the reference has no sources tier; this
extends the engine's ingestion surface alongside warc.py / mbox.py /
jsonl.py.
"""

from __future__ import annotations

import gzip
import lzma
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from ..runner import map_rows
from .shards import write_shards

BLOCK = 512


def _octal(value: int, width: int) -> bytes:
    """Zero-padded octal field with trailing NUL (the classic encoding)."""
    return f"{value:0{width - 1}o}".encode("ascii") + b"\0"


def build_tar_member(name: str, data: bytes, mtime: int = 0) -> bytes:
    """One ustar member: 512-byte header + data zero-padded to blocks.
    The checksum is the byte sum of the header with the checksum field
    read as eight spaces, stored ``%06o\\0 `` (the historical form every
    reader accepts)."""
    nb = name.encode("ascii")
    prefix = b""
    if len(nb) > 100:  # ustar split: prefix/name at a '/' boundary
        try:
            cut = nb.rindex(b"/", 0, 156)
        except ValueError:
            raise ValueError("tar member name too long for ustar (no '/' split point): %r" % name)
        prefix, nb = nb[:cut], nb[cut + 1 :]
        if len(nb) > 100 or len(prefix) > 155:
            raise ValueError("tar member name too long for ustar prefix/name split: %r" % name)
    hdr = bytearray(BLOCK)
    hdr[0:100] = nb.ljust(100, b"\0")
    hdr[100:108] = _octal(0o644, 8)
    hdr[108:116] = _octal(0, 8)
    hdr[116:124] = _octal(0, 8)
    hdr[124:136] = _octal(len(data), 12)
    hdr[136:148] = _octal(mtime, 12)
    hdr[148:156] = b" " * 8  # checksum computed over spaces
    hdr[156:157] = b"0"  # typeflag: regular file
    hdr[257:263] = b"ustar\0"
    hdr[263:265] = b"00"
    hdr[265:297] = b"corpus".ljust(32, b"\0")
    hdr[297:329] = b"corpus".ljust(32, b"\0")
    hdr[345 : 345 + len(prefix)] = prefix
    chk = sum(hdr)
    hdr[148:156] = f"{chk:06o}".encode("ascii") + b"\0 "
    pad = (-len(data)) % BLOCK
    return bytes(hdr) + data + b"\0" * pad


def _tar_shard(shard: int, rows: list) -> tuple[str, bytes, int]:
    from ..synth import build_document

    parts = []
    for did, text in rows:
        body = build_document(did, text or "")["bytes"]
        parts.append(build_tar_member(f"corpus/doc{did}.pdf", body, mtime=did))
        note = f"source note for document {did}\n".encode("ascii")
        parts.append(build_tar_member(f"corpus/notes/doc{did}.txt", note, mtime=did))
    parts.append(b"\0" * (2 * BLOCK))  # end-of-archive
    blob = b"".join(parts)
    name = f"shard-{shard:05d}.tar"
    # compression cycle by shard: plain / .tar.gz (deterministic gzip,
    # mtime 0) / .tar.xz — the real-world dump mix; the reader sniffs
    # magic bytes, so the tar walk itself is container-blind
    if shard % 3 == 1:
        blob, name = gzip.compress(blob, mtime=0), name + ".gz"
    elif shard % 3 == 2:
        blob, name = lzma.compress(blob, format=lzma.FORMAT_XZ), name + ".xz"
    return name, blob, 2 * len(rows)


def write_tar_shards(
    documents: DataFrame, out_dir: str, n_shards: int = 8
) -> DataFrame:
    """Distributed deterministic writer (``sources.shards``):
    ``documents(doc_id, text)`` -> ``out_dir/shard-NNNNN.tar[.gz|.xz]``
    plus the ``(shard, path, n_members)`` manifest."""
    return write_shards(
        documents.select("doc_id", "text"), out_dir, n_shards, "n_members", _tar_shard
    )


def decompress_container(data: bytes) -> bytes:
    """Sniff and strip the archive's compression container: gzip
    (1F 8B), xz (FD '7zXZ' 00) or none.  A corrupt container raises
    ValueError (contained by the reader as one error row)."""
    if data[:2] == b"\x1f\x8b":
        try:
            return gzip.decompress(data)
        except Exception as e:
            raise ValueError(f"bad gzip container: {e}") from e
    if data[:6] == b"\xfd7zXZ\x00":
        try:
            return lzma.decompress(data)
        except Exception as e:
            raise ValueError(f"bad xz container: {e}") from e
    return data


def parse_tar(data: bytes) -> Iterator[dict]:
    """Members of one archive -> dicts (name, size, mtime, payload,
    error).  Compressed containers (.tar.gz/.tar.xz) are stripped by
    magic sniff first.  The header checksum is VERIFIED (sum with the
    checksum field as spaces); a mismatch yields one error row and
    stops the walk — after a bad header the chain offsets are
    untrustworthy.  Two zero blocks (or EOF) end the archive."""
    data = decompress_container(data)
    off = 0
    while off + BLOCK <= len(data):
        hdr = data[off : off + BLOCK]
        if hdr == b"\0" * BLOCK:
            break
        try:
            stored = int(hdr[148:156].rstrip(b"\0 ") or b"0", 8)
            actual = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
            if stored != actual:
                raise ValueError(f"header checksum {stored} != {actual}")
            name = hdr[0:100].rstrip(b"\0").decode("ascii", "replace")
            prefix = hdr[345:500].rstrip(b"\0").decode("ascii", "replace")
            if prefix:
                name = prefix + "/" + name
            size = int(hdr[124:136].rstrip(b"\0 ") or b"0", 8)
            mtime = int(hdr[136:148].rstrip(b"\0 ") or b"0", 8)
            typeflag = hdr[156:157]
        except (ValueError, UnicodeDecodeError) as e:
            yield {
                "name": None, "size": 0, "mtime": 0,
                "payload": None, "error": f"{type(e).__name__}: {e}",
            }
            return
        payload = data[off + BLOCK : off + BLOCK + size]
        if typeflag in (b"0", b"\0") and len(payload) == size:
            yield {
                "name": name, "size": size, "mtime": mtime,
                "payload": bytes(payload), "error": None,
            }
        elif len(payload) != size:
            yield {
                "name": name, "size": size, "mtime": mtime,
                "payload": None, "error": "truncated member",
            }
            return
        off += BLOCK + size + ((-size) % BLOCK)


def read_tar(spark: SparkSession, path: str) -> DataFrame:
    """``binaryFile`` over the shard dir -> one stateless mapInArrow
    walking every member header (shard-level parallelism; tar is not
    splittable without the header chain, so a shard is the work unit —
    size shards ~1 GB like WARC)."""
    files = spark.read.format("binaryFile").load(os.path.join(path, "*.tar*"))

    def parse(content):
        rows = []
        try:
            rows.extend(parse_tar(content))
        except Exception as e:  # corrupt shard: contained skip
            rows.append(
                {
                    "name": None, "size": 0, "mtime": 0,
                    "payload": None, "error": f"{type(e).__name__}: {e}",
                }
            )
        return rows

    return map_rows(
        files.select("content"),
        "name string, size long, mtime long, payload binary, error string",
        parse,
    )
