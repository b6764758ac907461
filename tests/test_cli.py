"""Deployment-surface test: the spark-submit entry point (run_pipeline.py)
must run the resumable pipeline end-to-end from a cold process and print a
valid JSON summary — the `spark-submit --py-files` shape of BASELINE.json."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_run_pipeline_cli(tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = str(tmp_path / "work")
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "scripts", "run_pipeline.py"),
            "--sf-dir", "/root/testdata/sf0.001",
            "--work-dir", work,
            "--master", "local[4]",
        ],
        capture_output=True,
        text=True,
        timeout=240,
        cwd=repo,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    assert summary["docs"] == 500
    assert summary["docs_per_sec"] > 0
    # checkpoints written -> a second run resumes (manifest marks all
    # stages); the effective work dir is keyed on (mode, sf, strict)
    import glob

    [mf] = glob.glob(os.path.join(work, "pdf_sf0.001_*", "manifest.json"))
    manifest = json.load(open(mf))
    assert set(manifest["stages"]) == {"decode", "tokenize", "classify", "assemble"}


def test_driver_contract_query_oracle_pairing():
    """Every oracle key must name a registered query, and every query has
    an oracle (the correctness gate covers 100% of the surface — a typo'd
    key would silently demote a query to the weaker rows-only check)."""
    import __spark_entry__ as e

    q = set(e.queries())
    o = set(e.oracle_sql())
    assert o <= q, f"oracles without queries: {o - q}"
    assert q - o == set(), f"queries without oracles: {q - o}"


def test_run_pipeline_cli_warc_mode(tmp_path):
    """--mode warc deploys the crawl chain (shard write -> WARC parse ->
    DOM main content) through the same spark-submit entry point."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "scripts", "run_pipeline.py"),
            "--sf-dir", "/root/testdata/sf0.001",
            "--work-dir", str(tmp_path / "work"),
            "--out", str(tmp_path / "out"),
            "--mode", "warc",
            "--master", "local[4]",
        ],
        capture_output=True,
        text=True,
        timeout=240,
        cwd=repo,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    # 500 docs minus the 404 slice minus filtered-out pages = the DOM
    # oracle's own row count at sf0.001
    assert summary["mode"] == "warc" and summary["docs"] == 469
    assert os.path.exists(str(tmp_path / "out" / "main_content"))


def test_bench_prints_one_contract_line():
    """bench.py's driver contract at the test scale: the last stdout line
    is the one JSON result with the 9 headline query walls and a 1 -> N
    core scaling record measured in the run, and the run writes no
    ``BENCH/`` directory."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001", SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=repo,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result["queries"]) == {
        "extract_full_dag", "extract_fused", "dedup_minhash_lsh", "dedup_simhash",
        "textqc_quality_langid", "ann_cosine_topk", "tpch_q1_pricing",
        "docs_pagerank", "model_classifier",
    }
    assert result["value"] == round(sum(result["queries"].values()), 3)
    assert result["docs_per_sec"] > 0 and result["docs_per_sec_staged_dag"] > 0
    scaling = result["scaling"]
    assert (scaling["low"]["cores"], scaling["high"]["cores"]) == (1, 2)
    assert scaling["low"]["docs"] == scaling["high"]["docs"] == 500
    assert scaling["efficiency"] > 0
    assert not [k for k in result if k.startswith("hw_probe")]
    assert not os.path.exists(os.path.join(repo, "BENCH"))
