"""Stage 4 — assemble.

Ordered span emission (reference B5, doc_tree.rs:134-142 preorder walk;
SURVEY.md §2.6).  The reading order key is ``(page_idx, ev_idx)`` — page
order came from the tree walk in decode, ``ev_idx`` is the event's order in
the page's one content stream (its /Contents array joined, forms executed
in place).

Implementation note (scale): a window (`row_number` over doc_id) followed by
``collect_list`` would shuffle twice.  Instead we do ONE shuffle:
``groupBy(doc_id).agg(sort_array(collect_list(struct(ordkeys..., payload))))``
— partial aggregation is map-side, the sort is per-doc on the reduce side,
and ``transform`` strips the ordering keys while stamping the final
``offset`` = array position.  Documents with zero spans (family A) are
preserved via a left join from the doc universe (meta rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assemble(classified: DataFrame, decoded: DataFrame, strict: bool = False, metrics: DataFrame | None = None) -> DataFrame:
    """-> ``(doc_id, spans array<struct<kind,text,media_ref,offset>>)``."""
    ordered = (
        classified.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("page_idx", "ev_idx", "kind", "text", "media_ref"))
            ).alias("raw")
        )
        .select(
            "doc_id",
            F.transform(
                "raw",
                lambda x, i: F.struct(
                    x["kind"].alias("kind"),
                    x["text"].alias("text"),
                    x["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )
    universe = decoded.filter(F.col("rtype") == "meta").select("doc_id").distinct()
    out = (
        universe.join(ordered, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(
                "spans", F.array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>")
            ).alias("spans"),
        )
    )
    if strict and metrics is not None:
        errored = metrics.select("doc_id").distinct()
        out = (
            out.join(errored.withColumn("_err", F.lit(True)), on="doc_id", how="left")
            .withColumn("spans", F.when(F.col("_err").isNull(), F.col("spans")).otherwise(F.array().cast(out.schema["spans"].dataType)))
            .drop("_err")
        )
    return out


def flatten_spans(spans_df: DataFrame) -> DataFrame:
    """Exploded view ``(doc_id, ord, kind, text, media_ref)`` — the shape the
    driver's DuckDB oracle compares against."""
    return spans_df.select("doc_id", F.posexplode("spans").alias("ord", "s")).select(
        "doc_id",
        F.col("ord").cast("int").alias("ord"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def hyphenate_words(documents: DataFrame) -> DataFrame:
    """Deterministic hyphenation injector for the dehyphenation demo:
    every word at 0-based index j % 5 == 2 with >= 6 chars splits into
    two words ``first3-`` + ``rest``, shifting subsequent line
    boundaries — so when the columns family lays the transformed text
    out, hyphen pieces land both mid-line (kept) and at line ends
    (merged by :func:`assemble_paragraphs`).  Pure JVM array algebra,
    mirrored literally by the oracle SQL."""
    return documents.withColumn(
        "text",
        F.array_join(
            F.flatten(
                F.transform(
                    F.split("text", " "),
                    lambda w, j: F.when(
                        ((j % 5) == 2) & (F.length(w) >= 6),
                        F.array(
                            F.concat(F.substring(w, 1, 3), F.lit("-")),
                            F.substring(w, F.lit(4), F.length(w)),
                        ),
                    ).otherwise(F.array(w)),
                )
            ),
            " ",
        ),
    )


def assemble_paragraphs(columns_df: DataFrame) -> DataFrame:
    """Layout lines -> logical PARAGRAPHS (the classic PDF text-extraction
    post-pass): one row per (doc, page, column); lines merge in reading
    order, and a line ending ``-`` merges into the next line with the
    hyphen dropped (cross-line dehyphenation).  Hyphens at a column's
    LAST line are kept — merging across column/page boundaries is a
    layout-analysis judgment call this operator deliberately refuses.

    Scale shape: ONE exchange (the groupBy on (doc_id, page_idx, col) —
    uniform keys, bounded groups of <= COLUMN_ROWS lines); the ordered
    merge is a JVM higher-order fold (``aggregate`` over
    ``array_sort(collect_list(...))``), no window, no Python."""
    merge = lambda acc, s: (  # noqa: E731 — lambda is the HOF argument shape
        F.when(acc == F.lit(""), s["text"])
        .when(s["text"] == F.lit(""), acc)
        .when(
            acc.endswith(F.lit("-")),
            F.concat(F.substring(acc, F.lit(1), F.length(acc) - 1), s["text"]),
        )
        .otherwise(F.concat(acc, F.lit(" "), s["text"]))
    )
    return (
        columns_df.groupBy("doc_id", "page_idx", "col")
        .agg(F.array_sort(F.collect_list(F.struct("ord", "text"))).alias("lines"))
        .select(
            "doc_id",
            "page_idx",
            "col",
            F.aggregate("lines", F.lit(""), merge).alias("para"),
        )
    )


def assemble_line_boxes(word_boxes: DataFrame) -> DataFrame:
    """Layout analysis over the word-box stream: group consecutive spans
    into LINES (a line starts wherever the advance cursor resets to 0 —
    a positioning operator moved the pen) and emit each line's exact
    extent box.  ``x_lo/x_hi_micro`` are orientation-safe (vertical CID
    text advances negative, so least/greatest per span first), ``y`` is
    the line baseline (the cursor-reset span's — text rise lifts later
    spans, never the line), ``text`` the space-joined spans in cursor
    order.  All JVM expressions: one window (doc_id-partitioned, ord
    order — the partition is one document, never the corpus) and one
    aggregate; zero Python.  Input = `extract_word_boxes_fused` rows."""
    w = Window.partitionBy("doc_id").orderBy("ord")
    lined = word_boxes.withColumn(
        "line_idx",
        (
            F.sum(F.when(F.col("ax_micro") == 0, 1).otherwise(0)).over(w) - 1
        ).cast("int"),
    )
    lo = F.least(F.col("ax_micro"), F.col("ax_micro") + F.col("w_micro"))
    hi = F.greatest(F.col("ax_micro"), F.col("ax_micro") + F.col("w_micro"))
    return (
        lined.groupBy("doc_id", "line_idx")
        .agg(
            F.first("page_idx").alias("page_idx"),
            F.min(lo).alias("x_lo_micro"),
            F.max(hi).alias("x_hi_micro"),
            F.expr("min_by(y, ord)").alias("y"),
            F.count(F.lit(1)).cast("int").alias("n_spans"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("ord", "text"))),
                    lambda s: s.text,
                ),
            ).alias("text"),
        )
    )
