"""SparkSession construction tuned for the extraction workload.

Settings follow SURVEY.md §4: AQE on (skew-join splitting + partition
coalescing), Arrow exchange on with a bounded batch size (span payloads are
large — BASELINE.json's heavy-tailed corpus), shuffle partitions sized to
cores rather than the 200 default.  The session is sized from the machine:
one local core per CPU in the process's affinity mask and a quarter of
MemTotal for the driver heap; ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEMORY`` override either.  Python workers run under
:mod:`pdfparser_spark.daemon`, which stops every task from re-reading
pyspark.zip (about 250 ms of CPU per task); like the package's UDFs, the
workers import it from the working directory or ``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# bounded: rows carry whole-document payloads
ARROW_BATCH_ROWS = 256


def _default_driver_memory() -> str:
    """A quarter of the machine's memory (MemTotal): in local mode the
    driver heap hosts every executor, and the Python workers need the rest."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, kb // 4096)}m"


def build_session(
    master: str | None = None,
    app_name: str = "pdfparser_spark",
    extra: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
    shuffle_partitions = cpus if n == "*" else max(4, int(n))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.session.timeZone", "UTC")
        # checkpoint/sink parquet codec: lz4 beats the snappy default on
        # this workload (interleaved warm runs at sf0.1: 5.9-6.1 s vs
        # 6.3-6.4 s staged DAG; far bigger gap cold) — the stage tables
        # are write-once/read-once, so cheap compression wins
        .config("spark.sql.parquet.compression.codec", "lz4")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "pdfparser_spark.daemon")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
