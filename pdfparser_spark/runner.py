"""The package's one Arrow row runner: every batch Python kernel runs
through :func:`map_rows`, the only ``mapInArrow`` call.

A kernel is a row function plus a Spark schema.  The runner hands the row
function each input row's values as plain Python objects (Arrow's
``to_pylist``: ``int``, ``str``, ``bytes``, lists, dicts; NULL is
``None``) and builds each output ``RecordBatch`` straight from the rows it
returns, against the Arrow form of the schema parsed once on the driver.
No pandas frame sits between Arrow and the kernel.  The runner adds no
error handling: each kernel keeps its own leniency.

A group-shaped kernel (the archive shard writers of ``sources/shards.py``,
the pair merge) groups in Spark first,
``groupBy(key).agg(sort_array(collect_list(struct(...))))``, and gets one
row per group: its key and the group's rows as a list of dicts, in order.
Only the streaming state of ``textops/events.py`` stays on pandas.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def map_rows(df: DataFrame, schema, rows_of: Callable[..., Iterable]) -> DataFrame:
    """Run ``rows_of(*values)`` once per row of ``df`` (its columns in
    order) as one ``mapInArrow``.  Each call returns zero or more output
    rows, tuples in schema order or dicts keyed by column (a missing key
    is NULL).  ``schema`` is a DDL string or a ``StructType``.

    Output arrays are built with ``from_pandas=True``, so a NaN in a
    floating-point column, nested lists included, lands as NULL."""
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    names = arrow.names

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows: list = []
            for values in zip(*(c.to_pylist() for c in batch.columns)):
                for row in rows_of(*values):
                    rows.append(tuple(map(row.get, names)) if isinstance(row, dict) else row)
            cols = list(zip(*rows)) or [()] * len(names)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type, from_pandas=True) for c, f in zip(cols, arrow, strict=True)],
                schema=arrow,
            )

    return df.mapInArrow(run, schema=struct)
