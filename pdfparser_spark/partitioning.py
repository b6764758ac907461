"""Skew-aware document partitioning (SURVEY.md §4, north_rule).

Document corpora are heavy-tailed: a handful of giant documents can straggle
an entire mapInArrow stage because AQE's skew handling only re-splits
*shuffle* partitions at join/agg boundaries, not Python map stages.

The policy is pure DataFrame API: filter the corpus into small/giant
branches, repartition each on the full-entropy ``doc_id``, and union.
Union CONCATENATES child partitions, so giants provably occupy the
dedicated partition range ``[target, target + big_slots)`` and never share
a partition with the small-doc bulk.  Costs one extra pass over the input
predicate (two pushed scans of a table-backed input; persist an expensive
lazy upstream first).

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
) -> DataFrame:
    """Two-tier repartition of a document table (see module docstring).

    Entirely lazy — no driver-side action — so upstream synthesis/scan
    stages are never executed just to plan the partitioning.
    """
    big_slots = big_slots or target_partitions
    w = doc_weight()
    small = df.filter(w <= isolate_threshold).repartition(target_partitions, "doc_id")
    big = df.filter(w > isolate_threshold).repartition(big_slots, "doc_id")
    return small.union(big)
