"""Resumable extraction DAG: decode -> tokenize -> classify -> assemble.

north_rule requirements realized here:
  * each stage output is checkpointed to a stage table (parquet locally;
    the writer seam is Iceberg-shaped — swap ``_write``/``_read`` for
    ``df.writeTo(table).createOrReplace()`` when an Iceberg catalog is
    configured — same DAG, same schemas);
  * a run manifest records completed stages; on restart, completed stages
    are detected and *skipped* (resume-from-checkpoint);
  * per-partition lineage (stage, partition_id, rows) and per-doc error
    metrics land in ``lineage`` / ``metrics`` tables;
  * heavy-tailed docs are tamed by the two-tier repartition
    (partitioning.py) before the decode map stage, and AQE skew-join
    handling covers the classify joins (session.py).

The reference's closest analog is its memoizing object cache
(pdf_file.rs:25-68): parse once, reuse — here a stage table is parsed once
and reused by every downstream stage *and* every restart.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import register_persisted, unregister
from .partitioning import repartition_docs
from .stages import assemble, classify, decode, flatten_spans, synthesize_corpus, tokenize

STAGES = ("decode", "tokenize", "classify", "assemble")


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str | None = None,
        strict: bool = False,
        pre_balanced: bool = False,
    ) -> None:
        """``pre_balanced=True`` skips the input salting shuffle: the caller
        guarantees the corpus is already laid out by ``repartition_docs``
        (at production the salted layout is applied when the input Iceberg
        table is written, so steady-state extraction jobs start from it)."""
        self.spark = spark
        self.work_dir = work_dir
        self.strict = strict
        self.pre_balanced = pre_balanced
        self._manifest: dict = {"stages": {}}
        self._persisted: list[DataFrame] = []
        if work_dir:
            os.makedirs(work_dir, exist_ok=True)
            mpath = self._manifest_path()
            if os.path.exists(mpath):
                with open(mpath) as f:
                    self._manifest = json.load(f)

    # -- checkpoint plumbing (Iceberg-shaped seam) ---------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.work_dir, "manifest.json")

    def _table_path(self, name: str) -> str:
        return os.path.join(self.work_dir, f"stage_{name}")

    def _stage_done(self, name: str) -> bool:
        return bool(self.work_dir) and self._manifest["stages"].get(name, {}).get("done", False)

    def _write(self, df: DataFrame, name: str) -> DataFrame:
        path = self._table_path(name)
        df.write.mode("overwrite").parquet(path)
        self._manifest["stages"][name] = {"done": True, "ts": time.time()}
        with open(self._manifest_path(), "w") as f:
            json.dump(self._manifest, f)
        return self.spark.read.parquet(path)

    def _read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._table_path(name))

    def _checkpointed(self, name: str, build, eager: bool = True) -> DataFrame:
        if not self.work_dir:
            # no durable checkpoint requested: persist so the stage runs once
            # even though several downstream branches reference it — the
            # in-memory analog of the stage table (same single-execution
            # guarantee the reference gets from its memo cache,
            # pdf_file.rs:53-64).  ``eager`` materializes immediately: needed
            # for diamond-shaped stages (decode feeds tokenize + classify +
            # metrics + assemble in ONE action) where a lazy cache would race;
            # chain stages skip the extra job barrier.
            df = register_persisted(build().persist())
            self._persisted.append(df)
            if eager:
                df.count()
            return df
        if self._stage_done(name):
            return self._read(name)
        return self._write(build(), name)

    def release(self) -> None:
        """Unpersist this run's in-memory stage caches (work_dir=None mode).
        Call once the result DataFrames have been materialized/consumed —
        a long-lived driver running many pipelines otherwise accumulates
        cached plans until eviction pressure degrades timed runs."""
        while self._persisted:
            df = self._persisted.pop()
            unregister(df)  # keep the global registry bounded
            try:
                df.unpersist()
            except Exception:
                pass

    def invalidate(self, from_stage: str = "decode") -> None:
        """Drop checkpoints from ``from_stage`` onward (forced recompute)."""
        if not self.work_dir:
            return
        drop = False
        for s in STAGES:
            if s == from_stage:
                drop = True
            if drop:
                self._manifest["stages"].pop(s, None)
                shutil.rmtree(self._table_path(s), ignore_errors=True)
        with open(self._manifest_path(), "w") as f:
            json.dump(self._manifest, f)

    # -- the DAG -------------------------------------------------------------
    def run(self, documents_raw: DataFrame) -> dict:
        """Execute (or resume) the DAG.  Returns dict of DataFrames:
        spans (doc_id, spans), spans_flat, metrics, lineage."""
        def build_decode():
            if self.pre_balanced:
                return decode(documents_raw)
            n_parts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            return decode(repartition_docs(documents_raw, n_parts))

        decoded = self._checkpointed("decode", build_decode)
        tokens = self._checkpointed("tokenize", lambda: tokenize(decoded), eager=False)

        classified = self._checkpointed("classify", lambda: classify(tokens, decoded))

        # metrics: the decode stage's error rows + the content interpreter's
        # (tokenize), aggregated per (doc, kind, stage) — reference error
        # taxonomy.
        errors = decoded.filter(F.col("rtype") == "error").select(
            "doc_id", "error_kind", "stage"
        ).unionByName(
            tokens.filter(F.col("ev_type") == "error").select("doc_id", "error_kind", "stage")
        )
        metrics = errors.groupBy("doc_id", "error_kind", "stage").agg(
            F.count(F.lit(1)).alias("count")
        )

        spans = self._checkpointed(
            "assemble",
            lambda: assemble(classified, decoded, strict=self.strict, metrics=metrics),
            eager=False,
        )

        # per-partition lineage of the final table
        lineage = (
            spans.select(F.spark_partition_id().alias("partition_id"), F.size("spans").alias("n"))
            .groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n").alias("spans_out"),
            )
            .withColumn("stage", F.lit("assemble"))
        )
        return {
            "spans": spans,
            "spans_flat": flatten_spans(spans),
            "metrics": metrics,
            "lineage": lineage,
            "decoded": decoded,
            "tokens": tokens,
        }


def run_extraction(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str | None = None,
    strict: bool = False,
) -> dict:
    """Convenience wrapper: synthesize the interleaved corpus from the
    driver's ``documents`` table, then run the DAG.

    The source parquet is one split at small SFs and mapInArrow preserves
    partitioning, so spread the scan first — otherwise synthesis (and the
    first read of every downstream branch) runs single-threaded."""
    n_parts = spark.sparkContext.defaultParallelism
    documents = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).repartition(
        n_parts, "doc_id"
    )
    raw = synthesize_corpus(documents)
    return Pipeline(spark, work_dir=work_dir, strict=strict).run(raw)
