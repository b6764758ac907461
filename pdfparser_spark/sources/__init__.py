"""Ingestion sources beyond the driver parquet tables.

`warc` — Common Crawl-style WARC/1.0 web-archive shards: a deterministic
distributed writer (the synth side) and a `binaryFile`-based reader that
splits per-record gzip members and parses HTTP response payloads.
`jsonl`, `mbox`, `tar` and `zipsrc` follow the same shape; every writer
is one format function behind `shards.write_shards`.
"""

from .warc import build_response_record, parse_warc_records, read_warc, write_warc_shards

__all__ = [
    "build_response_record",
    "parse_warc_records",
    "read_warc",
    "write_warc_shards",
]
