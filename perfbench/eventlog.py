"""Spark event-log reader: per-pass task, shuffle, spill and GC totals.

The benchmark runs the traced Spark pass under one job group and enables
``spark.eventLog`` (uncompressed, not rolled) in a directory of its own.
Only jobs of that group, and the tasks of their stages, are counted.
"""

from __future__ import annotations

import json
import os
import statistics


def conf(log_dir: str) -> dict:
    """Session settings that log one application to ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_events(log_dir: str) -> list:
    """Events of the one application logged in ``log_dir``.  Job and stage
    ids restart in every application, so a directory must hold one log."""
    names = os.listdir(log_dir)
    if len(names) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0])) as f:
        return [json.loads(line) for line in f if line.strip()]


def pass_metrics(events: list, group: str, docs: int, cores: int) -> dict:
    """``spark.*`` metrics of the jobs in job group ``group``.

    * ``task_run_us_per_doc``: Σ executor run time ÷ docs;
    * ``core_busy_frac``: Σ executor run time ÷ (cores × wall), wall from the
      first job's submission to the last job's completion;
    * ``task_s_p50`` / ``task_s_max``: task durations (finish − launch);
    * ``sched_overhead_ms``: Σ per task of duration − run − deserialize −
      result serialization − getting-result time (the UI's scheduler delay);
    * ``gc_ms``, ``shuffle_write_mb``, ``shuffle_read_mb``, ``spill_mb``
      (disk bytes spilled); MB = 10^6 bytes.
    """
    stages: set = set()
    t_first = t_last = None
    jobs: set = set()
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            if (e.get("Properties") or {}).get("spark.jobGroup.id") != group:
                continue
            jobs.add(e["Job ID"])
            stages.update(e.get("Stage IDs", []))
            t = e["Submission Time"]
            t_first = t if t_first is None else min(t_first, t)
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            t = e["Completion Time"]
            t_last = t if t_last is None else max(t_last, t)
    if not jobs or t_last is None:
        raise ValueError(f"no completed jobs in group {group!r}")

    run_ms = gc = sched = 0
    w = r = spill = 0
    durations = []
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e.get("Stage ID") not in stages:
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        dur = info["Finish Time"] - info["Launch Time"]
        durations.append(dur)
        run = m.get("Executor Run Time", 0)
        run_ms += run
        gc += m.get("JVM GC Time", 0)
        sched += max(
            0,
            dur
            - run
            - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0)
            - info.get("Getting Result Time", 0),
        )
        w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        rm = m.get("Shuffle Read Metrics") or {}
        r += rm.get("Remote Bytes Read", 0) + rm.get("Local Bytes Read", 0)
        spill += m.get("Disk Bytes Spilled", 0)
    if not durations:
        raise ValueError(f"no tasks in group {group!r}")
    wall_ms = max(1, t_last - t_first)
    return {
        "spark.task_run_us_per_doc": run_ms * 1e3 / docs,
        "spark.core_busy_frac": run_ms / (cores * wall_ms),
        "spark.task_s_p50": statistics.median(durations) / 1e3,
        "spark.task_s_max": max(durations) / 1e3,
        "spark.sched_overhead_ms": float(sched),
        "spark.gc_ms": float(gc),
        "spark.shuffle_write_mb": w / 1e6,
        "spark.shuffle_read_mb": r / 1e6,
        "spark.spill_mb": spill / 1e6,
    }
