#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``build_session()``'s ``local[N]`` (N = the
CPUs in the affinity mask, or ``SPARK_GRAFT_CPUS``) and prints ONE JSON
line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys beyond the contract: ``docs_per_sec`` (the BASELINE.json primary
metric: documents/sec through the fused single-pass extraction),
``docs_per_sec_staged_dag`` (the same documents through the staged DAG) and
``scaling``, measured in this run: the headline's ``extract_fused`` timing at
N cores against the same job at one core, with the whole process tree
(driver, JVM, Python workers) pinned to one CPU.  Efficiency =
(docs_per_sec_N / docs_per_sec_1) / N.  On a one-core session ``scaling`` is
left out.  A run writes no file into the checkout.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from pdfparser_spark.cache import release_cached  # noqa: E402
from pdfparser_spark.partitioning import repartition_docs  # noqa: E402
from pdfparser_spark.pipeline import Pipeline  # noqa: E402
from pdfparser_spark.session import build_session  # noqa: E402
from pdfparser_spark.stages import extract_fused, synthesize_corpus  # noqa: E402
from pdfparser_spark.textops import ann, dedup, graph, model, textqc  # noqa: E402
from perfbench.engine import pin_tree  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# warm-up input: the smallest scale factor, next to SF_DIR
WARM_DIR = os.path.join(os.path.dirname(os.path.normpath(SF_DIR)), "sf0.001")


def _sf_of(path: str) -> float:
    base = os.path.basename(os.path.normpath(path))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _table(spark, name: str, sf_dir: str = SF_DIR):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def timed_best2(fn, between=None):
    """Best-of-2 wall time (best-of-3 when the two attempts disagree by
    more than 50%): single-box timings carry multi-second noise (GC
    pauses, page cache, first-plan codegen, co-tenant load) that can
    dominate a 3s query; the faster warm run is the truer steady-state
    capability.  The adaptive third attempt costs nothing when the box is
    quiet and halves the damage a noisy patch does to the one recorded
    number.  ``between`` runs after each attempt (cache release) so every
    run re-executes the full plan."""
    times, n = [], None
    for attempt in range(3):
        t0 = time.perf_counter()
        n = fn()
        times.append(time.perf_counter() - t0)
        if between:
            between()
        if attempt == 1 and abs(times[0] - times[1]) / min(times) <= 0.5:
            break
    return round(min(times), 3), n


def materialized_corpus(spark, sf_dir: str):
    """Synthesize + persist the interleaved raw corpus (input prep — at
    production the Iceberg table already exists, so this is NOT timed).

    The source parquet is a single split at these SFs, and mapInArrow
    preserves partitioning — without an explicit spread the whole persisted
    corpus would be ONE partition and every downstream scan of it would be
    single-threaded.  The persisted layout is the *salted* two-tier layout
    (``repartition_docs``) — exactly what the production Iceberg input table
    is written with — so the timed job runs ``Pipeline(pre_balanced=True)``,
    the steady-state shape."""
    n_parts = spark.sparkContext.defaultParallelism * 3
    documents = _table(spark, "documents", sf_dir).repartition(n_parts, "doc_id")
    raw = repartition_docs(synthesize_corpus(documents), n_parts).persist()
    raw.count()
    return raw


def fused_docs(raw) -> int:
    """One fused single-pass extraction over ``raw``; returns its doc count."""
    row = extract_fused(raw).select(F.count(F.lit(1)).alias("docs"), F.sum(F.size("spans"))).collect()
    return int(row[0]["docs"])


def run_headline(spark) -> tuple[dict, int]:
    """Time each headline query; return ({name: sec}, extracted_doc_count)."""
    out: dict[str, float] = {}

    # warm the JVM + the Python-UDF worker pool (mapInArrow path) so q1
    # measures compute, not worker spawn; also warm whole-stage codegen for
    # the shingle/minhash expression tree (its first compile costs seconds
    # and belongs to session startup, not the operator); then drop caches.
    warm = materialized_corpus(spark, WARM_DIR)
    Pipeline(spark, work_dir=None).run(warm)["spans"].count()
    dedup.lsh_candidate_pairs(_table(spark, "documents", WARM_DIR)).count()
    release_cached()
    spark.catalog.clearCache()
    raw = materialized_corpus(spark, SF_DIR)

    # q1: full extraction DAG (the north-star workload). Time includes every
    # stage materialization; no checkpoint dir -> pure compute.
    pipelines = []

    def full_dag():
        pl = Pipeline(spark, work_dir=None, pre_balanced=True)
        pipelines.append(pl)  # released AFTER each timed attempt
        res = pl.run(raw)
        return res["spans"].select(
            F.count(F.lit(1)).alias("docs"), F.sum(F.size("spans")).alias("spans")
        ).collect()

    def _release_pipelines():
        # release only the pipelines' own stage caches — a blanket
        # clearCache() would also evict the persisted input corpus and the
        # next attempt would re-synthesize it inside the timed region
        while pipelines:
            pipelines.pop().release()

    sec, agg = timed_best2(full_dag, between=_release_pipelines)
    out["extract_full_dag"] = sec
    n_docs = int(agg[0]["docs"])
    _release_pipelines()

    # q1b: the fused single-pass mode (zero-shuffle steady-state path)
    out["extract_fused"], _ = timed_best2(lambda: fused_docs(raw))

    docs = _table(spark, "documents")
    emb = _table(spark, "embeddings")

    def _release():
        release_cached()  # drop persisted subplans so re-runs re-execute
        spark.catalog.clearCache()

    out["dedup_minhash_lsh"], _ = timed_best2(
        lambda: dedup.lsh_candidate_pairs(docs).count(), between=_release
    )
    out["dedup_simhash"], _ = timed_best2(lambda: dedup.simhash(docs).count())
    out["textqc_quality_langid"], _ = timed_best2(
        lambda: textqc.quality_scores(docs).join(textqc.lang_id(docs), "doc_id").count()
    )
    out["ann_cosine_topk"], _ = timed_best2(lambda: ann.cosine_topk(emb).count())

    lineitem = _table(spark, "lineitem")
    out["tpch_q1_pricing"], _ = timed_best2(
        lambda: lineitem.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .count()
    )
    # round-3 heavies: iterative link analysis + learned filter (train+infer)
    out["docs_pagerank"], _ = timed_best2(lambda: graph.pagerank(docs).count())
    out["model_classifier"], _ = timed_best2(
        lambda: model.centroid_classifier(docs).count()
    )
    return out, n_docs


def one_core_fused() -> tuple[float, int]:
    """The headline's ``extract_fused`` timing on one CPU: pin the process
    tree to one CPU of the affinity mask, start a ``local[1]`` session, warm
    it, time the fused pass over the same corpus by the same rule, and
    restore the mask.  Returns (sec, docs)."""
    allowed = os.sched_getaffinity(0)
    pin_tree({min(allowed)})
    try:
        spark = build_session(master="local[1]")
        try:
            fused_docs(materialized_corpus(spark, WARM_DIR))
            # the cache manager dedupes persisted plans: drop the warm-up's
            spark.catalog.clearCache()
            raw = materialized_corpus(spark, SF_DIR)
            return timed_best2(lambda: fused_docs(raw))
        finally:
            spark.stop()
    finally:
        pin_tree(allowed)


def main() -> None:
    spark = build_session()
    cores = spark.sparkContext.defaultParallelism
    queries, n_docs = run_headline(spark)
    spark.stop()
    result = {
        "metric": "headline wall seconds (extraction DAG + curation ops); docs_per_sec = BASELINE.json primary metric",
        "unit": "sec",
        "sf": _sf_of(SF_DIR),
        "value": round(sum(queries.values()), 3),
        "queries": queries,
        # primary metric = steady-state throughput mode (fused, zero-shuffle);
        # the checkpointed staged DAG's figure is reported alongside
        "docs_per_sec": round(n_docs / queries["extract_fused"], 2),
        "docs_per_sec_staged_dag": round(n_docs / queries["extract_full_dag"], 2),
    }
    if cores > 1:
        sec1, docs1 = one_core_fused()
        high = {"cores": cores, "docs": n_docs, "sec": queries["extract_fused"],
                "docs_per_sec": result["docs_per_sec"]}
        low = {"cores": 1, "docs": docs1, "sec": sec1, "docs_per_sec": round(docs1 / sec1, 2)}
        result["scaling"] = {
            "low": low,
            "high": high,
            "efficiency": round(high["docs_per_sec"] / low["docs_per_sec"] / cores, 3),
        }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
