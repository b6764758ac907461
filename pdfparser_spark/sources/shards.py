"""The one distributed shard writer behind every archive source.

Each source supplies only its format: a function ``build(shard, rows)``
that turns one shard's rows, in doc_id order, into ``(file name, bytes,
count)``.  This module owns the rest of the discipline every writer
shares: the shard key ``pmod(doc_id, n_shards)`` (a NULL doc_id is
dropped, as ``synthesize_corpus`` does), the per-shard doc_id
order (a Spark ``sort_array`` over the collected group, so shard bytes
are reproducible), write-temp plus atomic rename into ``out_dir`` (task
retries are idempotent), and the one manifest row per shard.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..runner import map_rows


def write_shards(
    documents: DataFrame,
    out_dir: str,
    n_shards: int,
    count: str,
    build: Callable[[int, list], tuple[str, bytes, int]],
) -> DataFrame:
    """Write one file per ``doc_id % n_shards`` group of ``documents``
    (``doc_id`` its first column).  ``build(shard, rows)`` gets the
    group's rows as tuples of ``documents``' columns, sorted by doc_id.
    Returns the manifest ``(shard, path, <count>)``: materializing it IS
    the write.  A row with a NULL doc_id has no shard and is dropped."""
    os.makedirs(out_dir, exist_ok=True)
    keyed = documents.filter(F.col("doc_id").isNotNull())
    groups = keyed.groupBy(F.pmod("doc_id", F.lit(n_shards)).alias("shard")).agg(
        F.sort_array(F.collect_list(F.struct(*documents.columns))).alias("rows")
    )

    def write(shard, rows):
        name, data, n = build(shard, [tuple(r.values()) for r in rows])
        path = os.path.join(out_dir, name)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)
        return [(shard, path, n)]

    return map_rows(groups, f"shard long, path string, {count} long", write)
