"""Host fingerprint and drift probes.

A run record carries what the host was (fingerprint) and how fast it was
while the run measured (``host.*``): a fixed numpy probe run between
timed ops, the CPU steal share over the run and a pure-JVM control job.
Neither probe runs inside a timed span.
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

_PROBE = np.linspace(0.0, 1.0, 1 << 19)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate CPU line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def process_age_s() -> float:
    """Seconds since this process was created (covers interpreter start)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set of a process in MB (0 when unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class HostProbe:
    """Fixed numpy work timed between ops, plus steal over the run."""

    def __init__(self):
        self.samples: list[float] = []
        self._cpu0 = _cpu_times()

    def probe(self) -> None:
        t0 = time.perf_counter()
        acc = 0.0
        for _ in range(8):
            acc += float(np.sum(_PROBE * 1.000001 + 0.5))
        dt = time.perf_counter() - t0
        self.samples.append(8 * _PROBE.size / dt / 1e6)

    def metrics(self) -> dict:
        steal1, total1 = _cpu_times()
        d_total = total1 - self._cpu0[1]
        med = statistics.median(self.samples)
        return {
            "host.probe_melems_per_s": med,
            "host.probe_spread": (max(self.samples) - min(self.samples)) / med,
            "host.steal_share": ((steal1 - self._cpu0[0]) / d_total
                                 if d_total > 0 else 0.0),
        }


def jvm_mrows_per_s(spark) -> float:
    """Pure-JVM control: a codegen'd sum over ``spark.range``, best of 3."""
    n = 20_000_000
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, n, 1, nproc()).selectExpr("sum(id)").collect()
        best = min(best, time.perf_counter() - t0)
    return n / best / 1e6


def _git_commit(root: Path) -> str:
    if not (root / ".git").exists():
        return "unknown (not a git checkout)"
    try:
        out = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "unknown (no git)"


def _filesystem(path: Path) -> str:
    best, fstype = "", "unknown"
    target = str(path.resolve())
    with open("/proc/mounts") as fh:
        for line in fh:
            _, mnt, fs = line.split()[:3]
            if target.startswith(mnt) and len(mnt) > len(best):
                best, fstype = mnt, fs
    return f"{fstype} at {best}"


def fingerprint(spark, root: Path, work: Path, driver_memory: str) -> dict:
    import pyarrow
    import pyspark

    blas = np.show_config(mode="dicts")["Build Dependencies"]["blas"]
    return {
        "nproc": nproc(),
        "cpu": platform.processor() or platform.machine(),
        "blas": {"name": blas.get("name"), "version": blas.get("version"),
                 "OPENBLAS_NUM_THREADS":
                     os.environ.get("OPENBLAS_NUM_THREADS")},
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "git_commit": _git_commit(root),
        "driver_memory": driver_memory,
        "work_fs": _filesystem(work),
    }
