#!/usr/bin/env python3
"""Closed-loop benchmark of the nrt_spark monitoring engine.

    python3 nrtbench/run.py --workload {backfill,archive} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root.  One driver process on ``local[nproc]``
drives the engine's public API; every timed op is checked against a
single-process numpy twin outside its timed span.  Inputs are made from
``--seed`` and cached under ``nrtbench/.work/inputs``.

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` runs the
same loop with a Spark event log and spans, and prints the per-layer
table.  The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import os

# BLAS is pinned to one thread before numpy is first imported: Spark
# tasks are the parallelism axis, and the twin must run the same BLAS
# code path as the tasks it checks.
for _var in ("OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "OMP_NUM_THREADS"):
    os.environ[_var] = "1"

import argparse
import json
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from nrtbench import host as hostmod  # noqa: E402
from nrtbench.metrics import END_TO_END, PER_LAYER, SPARK_STAGE  # noqa: E402

WORK = ROOT / "nrtbench" / ".work"
DRIVER_MEMORY = "3g"          # get_spark's 48g default exceeds a 15 GB host
#: series per workload.  A cold session with get_spark's warm-up takes
#: ~30 s on 4 cores, so a run's budget leaves ~20 s of timed ops: two
#: backfill rotations, or three archive build-and-read cycles.
SIZES = {"backfill": {"full": 600, "smoke": 60},
         "archive": {"full": 1000, "smoke": 60}}
#: series in the input of the untimed warm-up op
WARM_SERIES = 40


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: a few dozen series, for the bench's tests")
    return ap.parse_args(argv)


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def main(argv=None) -> int:
    args = _args(argv)
    t_start = time.perf_counter() - hostmod.process_age_s()

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        from nrt_spark.session import get_spark
    except ImportError as exc:
        print(f"nrtbench: the engine package is not importable ({exc}); "
              "run from a repository checkout", file=sys.stderr)
        return 2
    from nrtbench.inputs import cached_tokens

    n_series = SIZES[args.workload][args.size]
    tokens_path, tokens_pdf, gen_s, generated = cached_tokens(
        WORK / "inputs", args.seed, n_series)
    warm_path, _, warm_gen_s, warm_generated = cached_tokens(
        WORK / "inputs", args.seed, WARM_SERIES)
    gen_in_run = (gen_s if generated else 0.0) + \
        (warm_gen_s if warm_generated else 0.0)

    run_dir = WORK / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    conf = {"spark.local.dir": str(run_dir / "local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if args.trace:
        (run_dir / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    try:
        return _run(args, get_spark, conf, run_dir, t_start, n_series,
                    tokens_path, tokens_pdf, warm_path, gen_s, gen_in_run)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, get_spark, conf, run_dir, t_start, n_series, tokens_path,
         tokens_pdf, warm_path, gen_s, gen_in_run) -> int:
    from nrtbench.layers import probe_advance, probe_layers
    from nrtbench.trace import Tracer, parse_event_log, per_name_medians
    from nrtbench.workloads import WORKLOADS

    t = time.perf_counter()
    spark = get_spark(cores=hostmod.nproc(), app_name="nrtbench",
                      driver_memory=DRIVER_MEMORY, extra_conf=conf)
    session_start_s = time.perf_counter() - t
    try:
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, run_dir / "tables",
                                      tokens_path, tokens_pdf, warm_path)
        t = time.perf_counter()
        tracer.enabled = False          # spans cover timed ops only
        wl.warmup()
        tracer.enabled = bool(args.trace)
        first_job_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_start - gen_in_run

        probe = hostmod.HostProbe()
        probe.probe()
        wl.run(args.seconds, probe)

        record = {"workload": args.workload, "seed": args.seed,
                  "series": n_series, "trace": args.trace,
                  "fingerprint": hostmod.fingerprint(
                      spark, ROOT, WORK, DRIVER_MEMORY),
                  "bench.inputs_gen_s": gen_s}
        record.update(probe.metrics())
        record["host.jvm_mrows_per_s"] = hostmod.jvm_mrows_per_s(spark)
        e2e = wl.metrics()
        e2e["setup_s"] = setup_s
        layer = {}
        if args.trace:
            layer = probe_layers(tokens_pdf, wl.bucket_members())
            layer.update(probe_advance(spark, wl.tokens, tokens_pdf,
                                       wl.num_buckets, run_dir / "advance"))
            wl.attempted += 1
            if layer["advance.late_masked_share"] != 1.0:
                wl.failed += 1
                wl.errors.append("monitor_obs: a late row changed state")
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        peak_rss = hostmod.vm_hwm_mb() + hostmod.vm_hwm_mb(jvm_pid)
        app_id = spark.sparkContext.applicationId
    finally:
        _stop(spark)

    record["e2e"] = e2e
    record["workload_table"] = wl.table()
    record["op_walls"] = wl.op_walls()
    if wl.errors:
        record["errors"] = wl.errors[:10]
    print("record " + json.dumps(record, default=str))
    for k, v in wl.table().items():
        print(f"  {k:40s} {_fmt(v)}")

    if not args.trace:
        WORK.mkdir(parents=True, exist_ok=True)
        with open(WORK / "records.jsonl", "a") as fh:
            fh.write(json.dumps({"workload": args.workload,
                                 "series": n_series, **e2e}) + "\n")
        metrics = {k: {"value": e2e[k], "unit": u} for k, u, _ in END_TO_END}
    else:
        log = parse_event_log(run_dir / "eventlog" / app_id)
        stages = per_name_medians(tracer.spans, log, hostmod.nproc())
        layer.update({
            "session.start_s": session_start_s,
            "session.first_job_s": first_job_s,
            "session.peak_rss_mb": peak_rss,
            "op.read_s.p50": e2e["read_s.p50"],
            "op.useful_share": wl.useful_share(),
            "bench.inputs_gen_s": gen_s,
            **{k: record[k] for k in ("host.probe_melems_per_s",
                                      "host.probe_spread", "host.steal_share",
                                      "host.jvm_mrows_per_s")},
            **{f"spark.cycle.{k}": stages["cycle"][k]
               for k, _, _ in SPARK_STAGE},
        })
        print("per-layer table (traced run)")
        for k, u, _ in PER_LAYER:
            print(f"  {k:40s} {_fmt(layer[k]):>14s} {u}")
        for name, row in sorted(stages.items()):
            print(f"  spark stage layer, span {name}: " + ", ".join(
                f"{k}={_fmt(v)}" for k, v in row.items()))
        _print_overhead(args.workload, n_series, e2e)
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u, _ in PER_LAYER}

    print(json.dumps({"correct": wl.failed == 0, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


def _print_overhead(workload: str, n_series: int, traced: dict) -> None:
    """Traced end-to-end figures against the untraced runs on record."""
    path = WORK / "records.jsonl"
    rows = []
    if path.exists():
        rows = [r for r in map(json.loads, path.read_text().splitlines())
                if r["workload"] == workload and r["series"] == n_series]
    if not rows:
        print("tracing overhead: no untraced run of this workload on "
              "record in this checkout; run --trace 0 first")
        return
    for k, _, _ in END_TO_END:
        base = statistics.median(r[k] for r in rows)
        print(f"tracing overhead {k}: traced {_fmt(traced[k])} vs untraced "
              f"median {_fmt(base)} over {len(rows)} runs "
              f"({(traced[k] / base - 1) * 100:+.1f}%)")


if __name__ == "__main__":
    sys.exit(main())
