"""JSON-lines source with corrupt-record rescue — the semi-structured
ingestion shape (API dumps, event exports, model-output shards arrive as
.jsonl with a real-world defect rate).

Spark's native json source does the heavy lifting: an EXPLICIT schema
(never inferred — schema inference is a full extra pass over 100 TB and
non-deterministic under drift) plus PERMISSIVE mode with
``columnNameOfCorruptRecord``, so malformed lines become rescue rows
carrying the raw line instead of killing the read or silently vanishing.
Parallelism is Spark-native line splitting: .jsonl is splittable, so one
shard can feed many tasks (unlike the gzip-member WARC shards).

The writer half is the deterministic synth family: content derives only
from (doc_id, lang, text); the corrupt slice (doc_id % 23 == 7) is
truncated mid-object so the oracle can state the rescue rows analytically.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .shards import write_shards

READ_SCHEMA = "doc_id long, lang string, text string, _corrupt string"


def doc_json_line(doc_id: int, lang: str | None, text: str | None) -> str:
    """Canonical line for a doc (a NULL ``lang`` or ``text`` is JSON
    ``null``); the doc_id % 23 == 7 slice is truncated mid-object (the
    classic partial-write defect)."""
    line = json.dumps(
        {"doc_id": doc_id, "lang": lang, "text": text}, separators=(",", ":")
    )
    return line[: max(len(line) - 5, 1)] if doc_id % 23 == 7 else line


def _jsonl_shard(shard: int, rows: list) -> tuple[str, bytes, int]:
    lines = [doc_json_line(*row) for row in rows]
    return f"shard-{shard:05d}.jsonl", ("\n".join(lines) + "\n").encode("utf-8"), len(lines)


def write_jsonl_shards(
    documents: DataFrame, out_dir: str, n_shards: int = 8
) -> DataFrame:
    """Distributed deterministic writer (``sources.shards``):
    ``documents(doc_id, lang, text)`` -> ``out_dir/shard-NNNNN.jsonl``
    plus the ``(shard, path, n_records)`` manifest."""
    return write_shards(
        documents.select("doc_id", "lang", "text"), out_dir, n_shards, "n_records", _jsonl_shard
    )


def read_jsonl_rescue(spark: SparkSession, path: str) -> DataFrame:
    """Schema-explicit PERMISSIVE read: well-formed lines parse into typed
    columns, malformed lines surface as rescue rows (typed columns NULL,
    raw line in ``_corrupt``) — no row is ever silently dropped, and the
    read never dies on a defect."""
    return (
        spark.read.schema(READ_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )


def jsonl_ingest_rescue(spark: SparkSession, documents: DataFrame, out_dir: str) -> DataFrame:
    """The end-to-end demo: write shards, read them back permissively,
    emit one row per input line — parsed rows typed, rescued rows flagged
    with their raw-line length (the triage signal an ops pipeline logs)."""
    write_jsonl_shards(documents, out_dir).count()
    back = read_jsonl_rescue(spark, out_dir)
    return back.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        F.col("_corrupt").isNotNull().alias("is_corrupt"),
        F.length("_corrupt").alias("corrupt_len"),
    )
