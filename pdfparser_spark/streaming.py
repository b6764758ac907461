"""Streaming EXTRACTION: the document kernel run as a Structured
Streaming job, landing its spans in the snapshot log exactly-once.

This is the continuous-ingest shape of the pipeline (BASELINE.json north
star is a resumable batch DAG; real deployments also tail an arriving
corpus): new documents stream in, every micro-batch flows through the
same zero-shuffle fused kernel (`stages.fused.extract_fused` over
`synthesize_corpus` — both plain ``mapInArrow``, stateless, so they
lift to streaming DataFrames unchanged), and ``foreachBatch`` commits
each batch into the table format with the batch-id-idempotent pattern
(see `textops.events.stream_window_to_snapshot_log`): a checkpoint
replay finds its ``stream_batch_id`` already in the log chain and skips
the write, so crash-replay never double-appends.

The landed table is bit-equal to the batch extraction — the registered
query's oracle is the SAME analytic span SQL that checks
``extract_spans``, the strongest equivalence statement available.

Scale shape: stateless stream (no watermark state at all — extraction
is per-document), executor-written parquet, one atomic manifest commit
per micro-batch.  At 10^12 docs this is the standing ingest job; the
batch DAG remains the backfill path.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from . import snapshots
from .stages import extract_fused, flatten_spans, synthesize_corpus
from .textops.events import _stream_dir


def extract_stream_to_log(
    spark: SparkSession,
    sf_dir: str,
    log_root: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream the documents source through the fused extraction kernel and
    commit spans to a snapshot log; returns the landed table flattened to
    (doc_id, ord, kind, text, media_ref).

    ``max_files_per_trigger`` bounds each micro-batch to that many source
    files — the backfill throttle: pointing this job at a 100 TB backlog
    with AvailableNow + the cap processes it as a SEQUENCE of bounded,
    individually-committed batches (each sized to executor memory) instead
    of one giant batch, and a crash resumes from the checkpoint at the
    next uncommitted batch."""
    docs_path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(docs_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(_stream_dir(docs_path))
    spans = extract_fused(synthesize_corpus(stream.select("doc_id", "text")))

    if log_root is None:
        log_root = os.path.join(
            tempfile.gettempdir(), "extract_stream_" + uuid.uuid4().hex[:12]
        )
    log = snapshots.SnapshotLog(os.path.join(log_root, "log"))

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        done = {
            s["summary"].get("stream_batch_id")
            for s in log.chain()
            if s.get("operation") == "stream-append"
        }
        if batch_id in done:  # replayed micro-batch: already committed
            return
        new_dir = log.new_data_dir("spans")
        batch_df.write.parquet(new_dir)
        log.commit(
            {"spans": [new_dir]},
            operation="stream-append",
            summary={"stream_batch_id": batch_id},
        )

    q = (
        spans.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", os.path.join(log_root, "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return flatten_spans(log.read(spark, "spans"))
