"""Table detection over layout spans — pure DataFrame algebra.

The layout kernel (``stages.fused.extract_layout_fused``) turns each
document into positioned text lines ``(doc_id, page_idx, x, y, text)``.
Real documents interleave tabular data with prose; a training-data
pipeline wants the table CELLS back as structured ``(table, row, col)``
records.  The reference parser has no table notion (its surface stops at
ordered spans — SURVEY.md §2.6); this is north-rule layout-analysis depth
("PDF/layout parse") built ON TOP of the kernel's output, entirely as
JVM-side DataFrame algebra — no Python in the detection path.

Detection rule (classic grid-alignment heuristic):

1. A *candidate row* is a (page, y) text line with >= ``min_cols`` cells
   (distinct x origins).  Single-cell prose lines (titles, footers,
   paragraphs) never enter.
2. Consecutive candidate rows (descending y) belong to the same table iff
   they share the SAME x signature (the sorted tuple of cell origins —
   i.e. the column grid) and are vertically closer than ``row_gap``.
   A signature change or a large gap starts a new block.
3. Blocks with >= ``min_rows`` rows are tables; everything else (e.g.
   two adjacent multi-cell lines whose grids don't align) is discarded.
4. ``table_idx`` numbers a page's tables top-to-bottom, ``row_idx``
   top-to-bottom within the table, ``col_idx`` left-to-right.

Scale shape: ONE hash aggregate keyed on (doc_id, page_idx, y) — uniform,
corpus-sized — then windows partitioned by (doc_id, page_idx) (bounded
partitions: lines-per-page), then a posexplode.  No joins, no Python, no
driver actions; survives any corpus size that extraction itself survives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def detect_tables(
    lines: DataFrame,
    min_rows: int = 2,
    min_cols: int = 2,
    row_gap: float = 30.0,
    x_quantum: float = 0.0,
) -> DataFrame:
    """``(doc_id, page_idx, x, y, text)`` layout lines ->
    ``(doc_id, page_idx, table_idx, row_idx, col_idx, x, y, cell)``.

    See module docstring for the detection rule.  ``row_gap`` is the max
    vertical distance between consecutive baselines of one table (points).
    ``x_quantum`` > 0 snaps cell origins to the nearest multiple for the
    SIGNATURE comparison only (output ``x`` stays raw) — the tolerance
    real scanners/writers need, where a column's cells jitter by a
    fraction of a point; 0 (default) keeps exact matching.
    """
    w_page = Window.partitionBy("doc_id", "page_idx").orderBy(F.col("y").desc())
    w_run = w_page.rowsBetween(Window.unboundedPreceding, 0)

    rows = (
        # ONE shuffle for the whole operator: clustering on (doc_id,
        # page_idx) satisfies the agg's (doc_id, page_idx, y) grouping AND
        # every window below, so Catalyst inserts no further Exchange.
        # (The layout kernel's mapInArrow reports UnknownPartitioning, so
        # upstream doc_id clustering can't be reused declaratively.)
        lines.repartition("doc_id", "page_idx")
        .groupBy("doc_id", "page_idx", "y")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            # cells carried through the agg as (x, text) structs: array_sort
            # orders by x (first struct field), so position == column index —
            # no join back onto the line table, no double-equality keys
            F.array_sort(F.collect_list(F.struct("x", F.col("text").alias("cell")))).alias("cells"),
        )
        .filter(F.col("n_cells") >= min_cols)
        # the column grid = the sorted x origins; its string form is the
        # row's signature (same-source doubles render identically; with a
        # quantum, jittered origins snap to a shared grid first)
        .withColumn(
            "sig",
            F.concat_ws(
                ",",
                F.transform(
                    "cells",
                    (lambda s: s["x"].cast("string"))
                    if x_quantum <= 0
                    else (
                        lambda s: (
                            F.floor(s["x"] / x_quantum + 0.5) * x_quantum
                        ).cast("string")
                    ),
                ),
            ),
        )
        .withColumn(
            "brk",
            F.when(
                F.lag("sig").over(w_page).isNull()
                | (F.lag("sig").over(w_page) != F.col("sig"))
                | ((F.lag("y").over(w_page) - F.col("y")) > F.lit(float(row_gap))),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("block", F.sum("brk").over(w_run))
    )

    w_block = Window.partitionBy("doc_id", "page_idx", "block")
    kept = (
        rows.withColumn("n_rows", F.count(F.lit(1)).over(w_block))
        .filter(F.col("n_rows") >= min_rows)
        # blocks were numbered in descending-y order, so rank(block) is
        # already top-to-bottom; dense_rank re-packs after drops
        .withColumn(
            "table_idx",
            F.dense_rank().over(Window.partitionBy("doc_id", "page_idx").orderBy("block")) - 1,
        )
        .withColumn("row_idx", F.row_number().over(w_block.orderBy(F.col("y").desc())) - 1)
    )

    return (
        kept.select(
            "doc_id",
            "page_idx",
            F.col("table_idx").cast("int").alias("table_idx"),
            F.col("row_idx").cast("int").alias("row_idx"),
            "y",
            F.posexplode("cells").alias("col_idx", "cellst"),
        )
        .select(
            "doc_id",
            "page_idx",
            "table_idx",
            "row_idx",
            F.col("col_idx").cast("int").alias("col_idx"),
            F.col("cellst.x").alias("x"),
            "y",
            F.col("cellst.cell").alias("cell"),
        )
    )


def tables_to_markdown(cells: DataFrame) -> DataFrame:
    """``detect_tables`` output -> one GitHub-markdown string per table
    ``(doc_id, page_idx, table_idx, n_rows, n_cols, md)`` — the shape a
    training-data pipeline actually feeds an LLM (linearized tables).

    Row 0 renders as the header, followed by the ``| --- |`` separator,
    then the body rows.  Pure JVM string algebra: two nested aggregates
    whose grouping keys extend ``detect_tables``'s (doc_id, page_idx)
    clustering, so Catalyst inserts NO exchange beyond the detector's own
    single repartition (pytest-asserted)."""
    rows = (
        cells.groupBy("doc_id", "page_idx", "table_idx", "row_idx")
        .agg(
            F.concat(
                F.lit("| "),
                F.concat_ws(
                    " | ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("col_idx", "cell"))),
                        lambda s: s["cell"],
                    ),
                ),
                F.lit(" |"),
            ).alias("row_md"),
            F.count(F.lit(1)).alias("n_cols"),
        )
    )
    sep = F.concat(F.lit("|"), F.repeat(F.lit(" --- |"), F.col("n_cols")))
    return (
        rows.groupBy("doc_id", "page_idx", "table_idx")
        .agg(
            F.array_sort(F.collect_list(F.struct("row_idx", "row_md"))).alias("rws"),
            F.count(F.lit(1)).alias("n_rows"),
            F.max("n_cols").alias("n_cols"),
        )
        .select(
            "doc_id",
            "page_idx",
            "table_idx",
            F.col("n_rows").cast("int").alias("n_rows"),
            F.col("n_cols").cast("int").alias("n_cols"),
            F.concat(
                F.element_at(F.col("rws"), 1)["row_md"],
                F.lit("\n"),
                sep,
                F.when(
                    F.col("n_rows") > 1,
                    F.concat(
                        F.lit("\n"),
                        F.concat_ws(
                            "\n",
                            F.transform(
                                F.slice(F.col("rws"), 2, F.size("rws")),
                                lambda s: s["row_md"],
                            ),
                        ),
                    ),
                ).otherwise(F.lit("")),
            ).alias("md"),
        )
    )


def table_column_profile(cells: DataFrame) -> DataFrame:
    """Per-column type inference over ``detect_tables`` output:
    ``(doc_id, page_idx, table_idx, col_idx, n_cells, n_numeric,
    col_type)`` where ``col_type`` is ``int`` iff every cell in the
    column is all-digits, else ``text`` — the first step of table
    *understanding* (numeric columns become features, text columns
    become labels/keys downstream).

    One hash aggregate whose key extends the detector's clustering —
    no new exchange, no Python; the digit test is a JVM regex."""
    is_num = F.col("cell").rlike("^[0-9]+$").cast("int")
    return (
        cells.groupBy("doc_id", "page_idx", "table_idx", "col_idx")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(is_num).alias("n_numeric"),
        )
        .select(
            "doc_id",
            "page_idx",
            "table_idx",
            "col_idx",
            "n_cells",
            "n_numeric",
            F.when(F.col("n_numeric") == F.col("n_cells"), "int")
            .otherwise("text")
            .alias("col_type"),
        )
    )
