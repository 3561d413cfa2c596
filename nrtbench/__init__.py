"""Closed-loop benchmark of the nrt_spark monitoring engine.

Run from the repository root::

    python3 nrtbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

See ``run.py`` for the workloads and the printed metrics.
"""
