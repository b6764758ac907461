"""Local simulation of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the same
sf_dir, compare row count, column names, and exact sorted values — each
value together with its type, so an INT and a DOUBLE of equal value differ
as they do when results are hashed as strings.  The Spark session takes its
width from ``SPARK_GRAFT_CPUS`` (default: the CPUs this process may use).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from pdfparser_spark.session import build_session  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    """``(type, value)`` of one result cell.  Floats round to 9 places,
    lists normalize elementwise, binary is bytes on either side; any other
    type is an error, so a new result type gets a deliberate normal form."""
    if v is None:
        return ("null", None)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        return ("float", "nan" if math.isnan(v) else round(v, 9))
    if isinstance(v, decimal.Decimal):
        return ("decimal", v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("bytes", bytes(v))
    if isinstance(v, list):
        return ("list", tuple(norm(x) for x in v))
    if isinstance(v, (datetime.datetime, datetime.date, str)):
        return (type(v).__name__, v)
    raise TypeError(f"check_oracles: no normal form for {type(v).__name__} {v!r}")


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per corpus table present at sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def compare(spark, con, sf_dir: str, name: str, query, oracle: str | None) -> tuple[bool, str]:
    """Run ``query(spark, sf_dir)`` on Spark and ``oracle`` on DuckDB ->
    (passed, verdict; on a mismatch the first differing row pair)."""
    try:
        df = query(spark, sf_dir)
        cols = df.columns
        rows = [tuple(norm(v) for v in r) for r in df.collect()]
    except Exception as e:
        return False, f"{name}: spark error {type(e).__name__}: {e}"
    if oracle is None:
        return True, f"{name}: rows-only (no oracle), {len(rows)} rows"
    try:
        res = con.sql(oracle)
        ocols = [c.lower() for c in res.columns]
        orows = [tuple(norm(v) for v in r) for r in res.fetchall()]
    except Exception as e:
        return False, f"{name}: duckdb error {type(e).__name__}: {e}"
    scols = [c.lower() for c in cols]
    if sorted(scols) != sorted(ocols):
        return False, f"{name}: columns {scols} vs {ocols}"
    # align column order by name (the gate compares columns sorted by name)
    sidx = [scols.index(c) for c in sorted(scols)]
    oidx = [ocols.index(c) for c in sorted(ocols)]
    # repr sort key: total order even with NULLs / mixed types
    srows = sorted((tuple(r[i] for i in sidx) for r in rows), key=repr)
    orows2 = sorted((tuple(r[i] for i in oidx) for r in orows), key=repr)
    if len(srows) != len(orows2):
        return False, f"{name}: row count {len(srows)} vs {len(orows2)}"
    if srows != orows2:
        bad = [(a, b) for a, b in zip(srows, orows2) if a != b]
        a, b = bad[0]
        return False, (
            f"{name}: {len(bad)}/{len(srows)} value mismatches\n"
            f"   spark:  {a}\n   duckdb: {b}"
        )
    return True, f"{name}: {len(srows)} rows"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session()
    con = duckdb_views(sf_dir)
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, query in entrymod.queries().items():
        if only and name not in only:
            continue
        ok, verdict = compare(spark, con, sf_dir, name, query, oracles.get(name))
        tag = "FAIL" if not ok else "PASS" if name in oracles else "ok? "
        print(f"{tag} {verdict}", flush=True)
        failures += not ok
    spark.stop()
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
