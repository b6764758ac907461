"""Skew-aware document partitioning (SURVEY.md §4, north_rule).

Document corpora are heavy-tailed: a handful of giant documents can straggle
an entire mapInArrow stage because AQE's skew handling only re-splits
*shuffle* partitions at join/agg boundaries, not Python map stages.

Two strategies, both pure DataFrame API:

``split`` (default, deterministic)
    Filter the corpus into small/giant branches, repartition each on the
    full-entropy ``doc_id``, and union.  Union CONCATENATES child
    partitions, so giants provably occupy the dedicated partition range
    ``[target, target + big_slots)`` and never share a partition with the
    small-doc bulk.  Costs one extra pass over the input predicate (two
    pushed scans of a table-backed input; for an expensive lazy upstream,
    persist it first or use ``salt``).

``salt`` (single-shuffle, probabilistic)
    One repartition on a salt key.  The salt must stay FULL-ENTROPY: an
    early version used ``pmod(hash(doc_id), k)`` — re-hashing those small
    integers through HashPartitioning collapses badly (murmur3 of adjacent
    small ints is heavily correlated modulo small partition counts; we
    observed 3 distinct salts landing in 1 of 20 partitions).  Instead the
    giant tier re-seeds the full 32-bit hash, so placement is uniform and
    giants spread by independence rather than by construction.

At cluster scale the same policy holds with larger constants; the isolate
threshold should sit near (executor memory / arrow batch rows), and
``target_partitions`` should scale with corpus bytes, not just cores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_ISOLATE_THRESHOLD = 8 * 1024 * 1024  # bytes of span payload


def doc_weight(col: str = "spans"):
    """Total payload bytes per document, computed JVM-side.  NULL span
    arrays weigh 0 — without the outer coalesce a NULL weight fails BOTH
    split-strategy filter predicates and the row silently vanishes."""
    return F.coalesce(
        F.aggregate(
            F.col(col),
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.coalesce(F.length(s["text"]).cast("long"), F.lit(0)),
        ),
        F.lit(0).cast("long"),
    )


def repartition_docs(
    df: DataFrame,
    target_partitions: int,
    isolate_threshold: int = DEFAULT_ISOLATE_THRESHOLD,
    big_slots: int | None = None,
    weight_col=None,
    strategy: str = "split",
) -> DataFrame:
    """Two-tier repartition of a document table (see module docstring).

    Entirely lazy — no driver-side action — so upstream synthesis/scan
    stages are never executed just to plan the partitioning.
    """
    big_slots = big_slots or target_partitions
    w = weight_col if weight_col is not None else doc_weight()
    if strategy == "split":
        small = df.filter(w <= isolate_threshold).repartition(target_partitions, "doc_id")
        big = df.filter(w > isolate_threshold).repartition(big_slots, "doc_id")
        return small.union(big)
    if strategy == "salt":
        salt = F.when(
            w > isolate_threshold, F.hash(F.col("doc_id"), F.lit("isolate"))
        ).otherwise(F.hash(F.col("doc_id")))
        return df.repartition(target_partitions + big_slots, salt)
    raise ValueError(f"unknown strategy {strategy!r}")
