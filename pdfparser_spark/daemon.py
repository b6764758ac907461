"""PySpark worker daemon that does not re-read pyspark.zip on every task.

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python task.  On
CPython 3.11 a ``zipimport.zipimporter``'s ``invalidate_caches()`` re-reads
its archive's whole directory, and a worker holds one zip importer per
package directory it imported from ``pyspark.zip`` and the py4j archive
(16 of them after the first task), so every task re-read those
directories 16 times before any user code ran: about 250 ms of CPU per
task.

This module wraps PySpark's worker main: before each task it drops every
zip importer from ``sys.path_importer_cache``, so the invalidation has
nothing to re-read.  A dropped importer is rebuilt by the next import that
needs it, from zipimport's directory cache, without re-reading the
archive.  ``session.build_session`` sets it as ``spark.python.daemon.module``;
Spark starts it as ``python -m pdfparser_spark.daemon``.  Importing it
starts and patches nothing.
"""

from __future__ import annotations

import sys
import zipimport

import pyspark.daemon

_worker_main = pyspark.daemon.worker_main


def worker_main(infile, outfile):
    """PySpark's worker main, run with no zip importer cached."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    return _worker_main(infile, outfile)


if __name__ == "__main__":
    pyspark.daemon.worker_main = worker_main
    pyspark.daemon.manager()
