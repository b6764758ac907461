"""The event-log reader on a small log captured from a real session: one
staged pipeline pass (job group ``staged``) then one fused pass (``fused``),
2 cores, 150 documents; trimmed to the fields the reader uses."""

import os
import shutil

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture
def events(tmp_path):
    shutil.copy(os.path.join(DATA, "eventlog_small.jsonl"), tmp_path / "local-1")
    return eventlog.read_events(str(tmp_path))


def test_staged_group_shuffles(events):
    m = eventlog.pass_metrics(events, "staged", docs=150, cores=2)
    assert m["spark.shuffle_write_mb"] == pytest.approx(0.016165)
    assert m["spark.shuffle_read_mb"] == pytest.approx(0.016165)
    assert m["spark.spill_mb"] == 0
    assert m["spark.task_s_max"] == pytest.approx(3.723)
    assert 0 < m["spark.core_busy_frac"] <= 1


def test_fused_group_counts_only_its_own_tasks(events):
    m = eventlog.pass_metrics(events, "fused", docs=150, cores=2)
    assert m["spark.shuffle_write_mb"] == 0
    assert m["spark.task_run_us_per_doc"] == pytest.approx(11526.666, rel=1e-5)
    assert m["spark.task_s_p50"] == pytest.approx(0.4515)
    assert m["spark.sched_overhead_ms"] == 40
    assert m["spark.core_busy_frac"] == pytest.approx(0.9407, rel=1e-3)


def test_unknown_group_and_second_log_are_errors(events, tmp_path):
    with pytest.raises(ValueError):
        eventlog.pass_metrics(events, "nope", docs=1, cores=1)
    shutil.copy(tmp_path / "local-1", tmp_path / "local-2")
    with pytest.raises(ValueError):
        eventlog.read_events(str(tmp_path))
