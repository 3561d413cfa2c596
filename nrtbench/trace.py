"""Spans recorded by the benchmark and the Spark event log parsed per span.

Spans are kept in memory.  In a traced run every span also becomes the
Spark job group of the jobs it submits, so the event log's job and stage
records can be attributed to the span that caused them.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from pathlib import Path

#: task-accumulable names of the Python exec nodes' SQL metrics
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


class Tracer:
    """Records ``(id, name, parent, t0, t1)`` spans; a no-op when off."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = f"{name}#{len(self.spans)}"
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "t0": time.time() * 1000.0}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty("spark.jobGroup.id", sid)
        try:
            yield
        finally:
            rec["t1"] = time.time() * 1000.0
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self._stack[-1] if self._stack else None)


def parse_event_log(path: str | Path) -> dict:
    """Job and task records of one Spark event log, keyed for lookup.

    Returns ``{"jobs": {job_id: {group, t0, t1}}, "tasks": [...]}``, where
    each task carries its job group, run/CPU/GC time, shuffle-write and
    spill bytes and the Python exec bytes sent and received.
    """
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id") or ""
                jobs[ev["Job ID"]] = {"group": group,
                                      "t0": ev["Submission Time"],
                                      "t1": None}
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                acc = {a.get("Name"): a.get("Update")
                       for a in info.get("Accumulables", [])}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "group": stage_group.get(ev["Stage ID"], ""),
                    "duration_ms": info["Finish Time"] - info["Launch Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0),
                    "py_out": int(acc.get(PY_SENT) or 0),
                    "py_in": int(acc.get(PY_RECEIVED) or 0),
                })
    return {"jobs": jobs, "tasks": tasks}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def span_stage_metrics(span: dict, spans: list[dict], log: dict,
                       nproc: int) -> dict:
    """Stage-layer totals of one span and every span nested in it."""
    ids = {span["id"]}
    for s in spans:                       # spans are appended in start order
        if s["parent"] in ids:
            ids.add(s["id"])
    tasks = [t for t in log["tasks"] if t["group"] in ids]
    wall = span["t1"] - span["t0"]
    busy = [(max(j["t0"], span["t0"]), min(j["t1"], span["t1"]))
            for j in log["jobs"].values()
            if j["group"] in ids and j["t1"] is not None]
    by_stage: dict[int, list[dict]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    skew = 1.0
    if by_stage:
        heaviest = max(by_stage.values(),
                       key=lambda ts: sum(t["run_ms"] for t in ts))
        durs = [t["duration_ms"] for t in heaviest]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    run_ms = sum(t["run_ms"] for t in tasks)
    return {
        "tasks": len(tasks),
        "busy_share": run_ms / (wall * nproc) if wall > 0 else 0.0,
        "task_skew": skew,
        "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "driver_gap_s": max(0.0, wall - _union_ms(
            [iv for iv in busy if iv[1] > iv[0]])) / 1000.0,
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "python_bytes_out": sum(t["py_out"] for t in tasks),
        "python_bytes_in": sum(t["py_in"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "wall_s": wall / 1000.0,
    }


def per_name_medians(spans: list[dict], log: dict, nproc: int
                     ) -> dict[str, dict]:
    """For each span name, the median of every stage metric over its spans."""
    rows: dict[str, list[dict]] = {}
    for s in spans:
        if "t1" in s:
            rows.setdefault(s["name"], []).append(
                span_stage_metrics(s, spans, log, nproc))
    return {name: {k: statistics.median(r[k] for r in recs)
                   for k in recs[0]}
            for name, recs in rows.items()}
