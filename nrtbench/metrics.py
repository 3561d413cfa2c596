"""Names, units and directions of the metrics the benchmark prints.

``BENCHMARK.json`` at the repository root lists the same metrics; the
benchmark's tests keep the two in step.  Every workload prints every
metric; what a metric counts depends on the workload's op:

- ``setup_s``: process start to the first timed op (session with its
  warm-up, input load, one untimed warm-up op); input generation is not
  counted.
- ``points_per_s``: raw observations through the op per second of op
  wall.  backfill: five passes over every point, median over whole
  rotations.  archive: points rolled into the tiers and blocks, median
  over builds.
- ``bytes_per_point``: bytes the op leaves stored per raw point.
  backfill: the state snapshots.  archive: the Gorilla block table, per
  rolled point.

The per-layer metrics come from the traced run: Spark stage totals per
timed cycle from the event log, single-process layer probes, and the
host drift record.  ``op.read_s.p50`` is the median wall of a read
(backfill: the report of the monitored state; archive: decoding every
block to a checksum).  It is not end to end because its run-to-run
spread on a 4-core shared host reached 28% of its median, more than
the largest bound allowed, following the host's speed (``host.*``).
"""

from __future__ import annotations

#: (name, unit, better) of the end-to-end metrics (``--trace 0``)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("points_per_s", "pt/s", "higher"),
    ("bytes_per_point", "B/pt", "lower"),
]

#: stage-layer totals per span, from the Spark event log
SPARK_STAGE = [
    ("tasks", "count", "lower"), ("busy_share", "ratio", "higher"),
    ("task_skew", "ratio", "lower"), ("executor_cpu_s", "s", "lower"),
    ("driver_gap_s", "s", "lower"), ("shuffle_write_bytes", "B", "lower"),
    ("python_bytes_out", "B", "lower"), ("python_bytes_in", "B", "lower"),
    ("spill_bytes", "B", "lower"), ("gc_s", "s", "lower"),
]

#: (name, unit, better) of the per-layer metrics (``--trace 1``)
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.first_job_s", "s", "lower"),
    ("session.peak_rss_mb", "MB", "lower"),
    *[(f"kernels.fit_state_s.{m}", "s", "lower")
      for m in ("ols", "roc", "rirls", "ccdc_stable")],
    *[(f"kernels.run_monitor_s.{m}", "s", "lower")
      for m in ("ewma", "cusum", "mosum", "ccdc", "iqr")],
    ("kernels.runtime_warnings", "count", "lower"),
    ("tokens.to_matrix_s", "s", "lower"),
    ("tokens.points", "count", "higher"),
    ("engine.monitor_obs_s", "s", "lower"),
    ("advance.late_masked_share", "ratio", "higher"),
    ("state.to_pdf_s", "s", "lower"),
    ("state.from_pdf_s", "s", "lower"),
    ("gorilla.encode_points_per_s", "pt/s", "higher"),
    ("gorilla.decode_points_per_s", "pt/s", "higher"),
    *[(f"spark.cycle.{k}", u, b) for k, u, b in SPARK_STAGE],
    ("op.read_s.p50", "s", "lower"),
    ("op.useful_share", "ratio", "higher"),
    ("bench.inputs_gen_s", "s", "lower"),
    ("host.probe_melems_per_s", "Melem/s", "higher"),
    ("host.probe_spread", "ratio", "lower"),
    ("host.steal_share", "ratio", "lower"),
    ("host.jvm_mrows_per_s", "Mrow/s", "higher"),
]
