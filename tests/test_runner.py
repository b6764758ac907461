"""The Arrow row runner's contract (``runner.map_rows``)."""

from __future__ import annotations

import math


def test_map_rows_contract(spark):
    from pdfparser_spark.runner import map_rows
    from pdfparser_spark.stages.fused import _doc_bytes

    df = spark.createDataFrame(
        [(0, 1.0), (1, None), (3, 2.0), (4, 4.0)], "k long, v double"
    ).coalesce(1)

    def rows_of(k, v):
        # k=0 yields nothing, k=1 one tuple row, k=3 three dict rows (one
        # missing a key), k=4 a NaN and a None in the double columns
        if k == 1:
            return [(k, 0, v is None, v, [1.0])]
        if k == 3:
            return [{"k": k, "i": i, "got_none": v is None, "x": v * i} for i in range(2)] + [
                {"k": k, "i": 2, "got_none": v is None}
            ]
        if k == 4:
            return [(k, 0, v is None, math.nan, [math.nan, None, v])]
        return []

    out = map_rows(df, "k long, i int, got_none boolean, x double, xs array<double>", rows_of)
    got = sorted(tuple(r) for r in out.collect())
    assert got == [
        (1, 0, True, None, [1.0]),
        (3, 0, False, 0.0, None),
        (3, 1, False, 2.0, None),
        (3, 2, False, None, None),
        (4, 0, False, None, [None, None, 4.0]),
    ]

    # an empty partition still yields a (typed, empty) result
    empty = map_rows(df.filter("k < 0"), "k long", lambda k, v: [(k,)])
    assert empty.collect() == [] and empty.schema.simpleString() == "struct<k:bigint>"

    assert _doc_bytes(None) == b""
