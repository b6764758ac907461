"""Spark-side plumbing: box sizing, session life cycle, input load, timed
passes, process-tree RSS and CPU pinning.

Everything the run writes goes under one work directory inside the
checkout: Spark local dirs, the JVM temp dir, the warehouse, event logs and
checkpoints.
"""

from __future__ import annotations

import os
import threading
import time


def box() -> dict:
    """Cores this process may use and MemTotal, in MB."""
    cores = len(os.sched_getaffinity(0))
    mem_mb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_mb = int(line.split()[1]) // 1024
    return {"cores": cores, "mem_mb": mem_mb}


def configure_env(root: str, work: str, b: dict) -> None:
    """Size the session through the package's env overrides and keep every
    file Spark or the JVM writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(b["cores"])
    # an eighth of the box (the session's 48g default exceeds the box):
    # ample for these inputs, and a bounded heap keeps peak RSS steady
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1024, b['mem_mb'] // 8)}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )


def start_session(work: str, cores: int, extra: dict | None = None):
    from pdfparser_spark.session import build_session

    conf = {"spark.sql.warehouse.dir": "file://" + os.path.join(work, "warehouse")}
    conf.update(extra or {})
    return build_session(master=f"local[{cores}]", app_name="perfbench", extra=conf)


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def load_input(spark, parquet: str, parts: int):
    """Read the corpus, lay it out as the staged path expects
    (``repartition_docs``), persist and materialize it."""
    from pdfparser_spark.partitioning import repartition_docs
    from pdfparser_spark.schema import DOCUMENTS_RAW

    df = repartition_docs(spark.read.schema(DOCUMENTS_RAW).parquet(parquet), parts).persist()
    df.count()
    return df


def timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def passes(job, seconds: float, min_passes: int, after=None) -> list[float]:
    """Run ``job`` back to back (closed loop, one job in flight) until
    ``seconds`` have passed and at least ``min_passes`` ran."""
    times: list[float] = []
    end = time.perf_counter() + seconds
    while len(times) < min_passes or time.perf_counter() < end:
        dt, _ = timed(job)
        times.append(dt)
        if after is not None:
            after()
    return times


# -- process tree ---------------------------------------------------------------
def descendants(pid: int) -> list[int]:
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(pid: int) -> int:
    """Summed RSS of ``pid``'s descendants: the Spark JVM, the Python
    daemon and its workers (the benchmark's own process is excluded)."""
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssPeak:
    """Background sampler of :func:`tree_rss_bytes` while a block runs."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def pin_tree(cpus: set) -> None:
    """``taskset -a -p``: pin every thread of this process and of its
    descendants (the JVM, Python daemon and workers) to ``cpus``.  Threads
    and processes created later inherit the mask of their creator."""
    for p in [os.getpid(), *descendants(os.getpid())]:
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                os.sched_setaffinity(int(t), cpus)
            except OSError:
                pass  # thread exited meanwhile


def reap(timeout: float = 30.0) -> list[int]:
    """Terminate and wait out any process the run left behind."""
    import signal

    left = descendants(os.getpid())
    for p in left:
        try:
            os.kill(p, signal.SIGTERM)
        except OSError:
            pass
    end = time.time() + timeout
    while left and time.time() < end:
        for p in list(left):
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
            if not os.path.exists(f"/proc/{p}") or _zombie(p):
                left.remove(p)
        time.sleep(0.1)
    return left


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        return stat[stat.rfind(")") + 2] == "Z"
    except OSError:
        return True
