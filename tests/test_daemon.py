"""The session's worker daemon (``pdfparser_spark.daemon``): a Python task
starts with no zip importer cached, so PySpark's per-task
``importlib.invalidate_caches()`` does not re-read pyspark.zip."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_task_starts_with_no_zip_importer(spark):
    def zip_importers_at_entry(batches):  # nested: pickled by value
        import sys
        import zipimport

        import pyarrow as pa

        n = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"n": n}])

    df = spark.range(0, 8, numPartitions=4)
    df.mapInArrow(zip_importers_at_entry, "n long").collect()  # warm the workers
    counts = [r.n for r in df.mapInArrow(zip_importers_at_entry, "n long").collect()]
    assert counts == [0, 0, 0, 0]


def test_importing_the_daemon_starts_nothing():
    import pyspark.daemon

    from pdfparser_spark import daemon

    assert pyspark.daemon.worker_main is daemon._worker_main
    # run as a module, it would serve workers forever and print its port
    done = subprocess.run(
        [sys.executable, "-c", "import pdfparser_spark.daemon"],
        cwd=ROOT, capture_output=True, timeout=120,
    )
    assert done.returncode == 0
    assert done.stdout == b""
