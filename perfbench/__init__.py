"""Layered extraction benchmark: one command per workload and seed.

Run from the repository root::

    python3 perfbench/run.py --workload fused_ascii --seed 1 --seconds 6 --trace 0

See ``run.py`` for the workloads and the metrics each mode prints.
"""
