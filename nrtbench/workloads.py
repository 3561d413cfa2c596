"""The benchmark's closed-loop workloads and their correctness twins.

One client drives ``nrt_spark``'s public API and waits for every result
(a closed loop).  Each timed op is followed, outside its timed span, by
a check against a single-process numpy twin; an exception or a mismatch
counts the op as failed.

- ``backfill``: whole rotations of five full passes, one per monitor and
  fit method: ``fit -> save_state -> load_state -> monitor -> save_state
  -> report``.  The ROC and RIRLS fit steps are the longest steps of a
  rotation.
- ``archive``: cycles of one tier build (day tier from raw, week and
  month cascaded from the written day tier, Gorilla blocks by tier, as
  ``jobs/rollup_job.py`` builds them) and two block-table reads reduced
  to a checksum.  No fit or monitor kernel runs.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from nrt_spark.compress import decompress_tier
from nrt_spark.engine import NrtEngine, with_bucket
from nrt_spark.fastpath import rollup_compress_tokens
from nrt_spark.gorilla import decode_float_streams, decode_int_streams
from nrt_spark.kernels.monitors import fit_state, run_monitor
from nrt_spark.rollup import rollup_cascade, rollup_raw, write_tier
from nrt_spark.tokens import GAP_TOKEN, SCALE, decode_long, grid_days, \
    tokens_to_matrix

from nrtbench.inputs import HISTORY_END

#: stated tolerance of the twin check on ``process`` and on float sums
#: whose Spark-side order is not fixed (cascaded month sums, checksums)
RTOL = 1e-9
ATOL = 1e-12

MONITORS = [
    ("ewma", {}),                    # OLS fit + Shewhart screen
    ("cusum", {}),                   # ROC stable-history fit
    ("mosum", {"method": "RIRLS"}),
    ("ccdc", {}),                    # CCDC-stable fit
    ("iqr", {}),                     # OLS fit
]
HE_DAY = int(np.datetime64(HISTORY_END, "D").astype(int))


class CheckFailed(AssertionError):
    pass


def _close(a, b, what: str) -> None:
    a, b = np.asarray(a, np.float64), np.asarray(b, np.float64)
    if a.shape != b.shape or not np.allclose(a, b, rtol=RTOL, atol=ATOL,
                                             equal_nan=True):
        bad = int(np.sum(~np.isclose(a, b, rtol=RTOL, atol=ATOL,
                                     equal_nan=True))) \
            if a.shape == b.shape else "shape"
        raise CheckFailed(f"{what}: {bad} values outside rtol={RTOL}")


def _exact(a, b, what: str) -> None:
    a, b = np.asarray(a), np.asarray(b)
    nan = a.dtype.kind == "f"
    if a.shape != b.shape or not np.array_equal(a, b, equal_nan=nan):
        raise CheckFailed(f"{what}: not identical")


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Workload:
    """Shared state: session, tracer, run dir and the token inputs."""

    name = ""

    def __init__(self, spark, tracer, run_dir: Path, tokens_path: str,
                 tokens_pdf: pd.DataFrame, warm_path: str):
        self.spark = spark
        self.tracer = tracer
        self.dir = run_dir
        self.tokens = spark.read.parquet(tokens_path)
        #: the untimed warm-up op runs the timed op's plans on a few
        #: dozen series of the same shape
        self.warm_tokens = spark.read.parquet(warm_path)
        self.pdf = tokens_pdf
        self.points = int(tokens_pdf["n_tok"].sum())
        self.num_buckets = NrtEngine.auto_buckets(self.tokens)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _checked(self, fn, *args):
        """Run one op's check; count the op failed on any exception."""
        self.attempted += 1
        try:
            fn(*args)
        except Exception as exc:        # a failed op must not end the run
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {exc}")

    def bucket_members(self) -> pd.DataFrame:
        """(doc_id, bucket) as the engine hashes them."""
        return with_bucket(self.tokens.select("doc_id"),
                           self.num_buckets).toPandas()


class Backfill(Workload):
    name = "backfill"

    def __init__(self, *a):
        super().__init__(*a)
        self.engines = [NrtEngine(self.spark, m, num_buckets=self.num_buckets,
                                  **kw) for m, kw in MONITORS]
        self._twins: dict[str, pd.DataFrame] = {}
        self._groups = None
        self.timings = {m: {"fit": [], "monitor": [], "report": []}
                        for m, _ in MONITORS}
        self.state_bytes: dict[str, int] = {}
        self.monitored_share: list[float] = []
        self.rotations: list[float] = []

    def _pass(self, eng, tokens, out: Path):
        fit_p, mon_p = str(out / "state_fit"), str(out / "state")
        span = self.tracer.span
        t0 = time.perf_counter()
        with span("backfill.fit"):
            eng.save_state(eng.fit(tokens, history_end=HISTORY_END), fit_p)
        t1 = time.perf_counter()
        with span("backfill.monitor"):
            eng.save_state(eng.monitor(eng.load_state(fit_p), tokens), mon_p)
        t2 = time.perf_counter()
        with span("backfill.report"):
            rep = eng.report(eng.load_state(mon_p)).toPandas()
        t3 = time.perf_counter()
        return rep, (t1 - t0, t2 - t1, t3 - t2)

    def warmup(self) -> None:
        self._pass(self.engines[0], self.warm_tokens, self.dir / "warm")

    def _twin(self, eng) -> pd.DataFrame:
        """The engine's result for every series, computed in-process on
        the same bucket membership and doc order."""
        m = eng.monitor_name
        if m in self._twins:
            return self._twins[m]
        if self._groups is None:
            members = self.bucket_members()
            toks = self.pdf.set_index("doc_id")["tokens"]
            self._groups = [
                (docs, [toks[d] for d in docs]) for docs in
                (sorted(g["doc_id"]) for _, g in members.groupby("bucket"))]
        out = []
        for docs, lists in self._groups:
            y = tokens_to_matrix(lists)
            days = grid_days(y.shape[0])
            hist = days <= HE_DAY
            state = fit_state(y[hist], days[hist], eng.params)
            last = int(days[hist][-1]) if hist.any() else 0
            y[days <= last] = np.nan
            run_monitor(state, y, days, eng.params, update_mask=True)
            out.append(pd.DataFrame({
                "doc_id": docs, "mask": state["mask"].astype(np.int8),
                "detection_date": state["detection_date"].astype(np.int32),
                "process": state["process"]}))
        self._twins[m] = pd.concat(out).sort_values("doc_id") \
            .reset_index(drop=True)
        return self._twins[m]

    def _check(self, eng, rep: pd.DataFrame) -> None:
        twin = self._twin(eng)
        rep = rep.sort_values("doc_id").reset_index(drop=True)
        _exact(rep["doc_id"].to_numpy(), twin["doc_id"].to_numpy(),
               f"{eng.monitor_name} doc_ids")
        _exact(rep["mask"].to_numpy(np.int64), twin["mask"].to_numpy(np.int64),
               f"{eng.monitor_name} mask")
        _exact(rep["detection_date"].to_numpy(np.int64),
               twin["detection_date"].to_numpy(np.int64),
               f"{eng.monitor_name} detection_date")
        _close(rep["process"], twin["process"], f"{eng.monitor_name} process")

    def run(self, seconds: float, host) -> None:
        while sum(self.rotations) < seconds:
            passes = []
            with self.tracer.span("cycle"):
                for eng in self.engines:
                    rep, walls = self._pass(eng, self.tokens, self.dir)
                    # the snapshot is overwritten by the next pass
                    size = sum(p.stat().st_size for p in
                               (self.dir / "state").rglob("*.parquet"))
                    passes.append((eng, rep, walls, size))
            # outside the timed spans: the checks and a host probe
            wall = 0.0
            for eng, rep, (f, mo, r), size in passes:
                wall += f + mo + r
                t = self.timings[eng.monitor_name]
                t["fit"].append(f)
                t["monitor"].append(mo)
                t["report"].append(r)
                self.state_bytes[eng.monitor_name] = size
                self.monitored_share.append(
                    float(np.isin(rep["mask"], (1, 3)).mean()))
                self._checked(self._check, eng, rep)
            self.rotations.append(wall)
            host.probe()

    def metrics(self) -> dict:
        rot_points = len(self.engines) * self.points
        return {
            "points_per_s": _median([rot_points / w for w in self.rotations]),
            "read_s.p50": _median([x for t in self.timings.values()
                                   for x in t["report"]]),
            "bytes_per_point": sum(self.state_bytes.values())
            / (len(self.state_bytes) * self.points),
        }

    def op_walls(self) -> dict:
        return {"rotation_s": self.rotations,
                **{f"{m}.{k}_s": v for m, t in self.timings.items()
                   for k, v in t.items()}}

    def table(self) -> dict:
        n = len(self.pdf)
        out = {"backfill.series_per_s": _median(
            [len(self.engines) * n / w for w in self.rotations]),
            "backfill.rotations": len(self.rotations)}
        for m, t in self.timings.items():
            out[f"engine.fit_s.{m}"] = _median(t["fit"])
            out[f"engine.monitor_s.{m}"] = _median(t["monitor"])
        out["engine.report_s"] = _median(
            [x for t in self.timings.values() for x in t["report"]])
        out["backfill.monitored_share"] = _median(self.monitored_share)
        return out

    def useful_share(self) -> float:
        return _median(self.monitored_share)


def fold_tiers(pdf: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """Numpy fold of every tier: per (doc_id, bucket day) ``n``, ``vsum``,
    ``mean``, ``vmin``, ``vmax`` and ``last``.  Sums accumulate left to
    right in time order (``np.bincount``), as the engine's folds do."""
    lens = pdf["n_tok"].to_numpy(np.int64)
    toks = np.concatenate([np.asarray(t, np.float64) for t in pdf["tokens"]])
    vals = np.where(toks == GAP_TOKEN, np.nan, toks / SCALE)
    pos = np.arange(len(toks)) - np.repeat(np.cumsum(lens) - lens, lens)
    days = grid_days(int(lens.max()))[pos]
    doc = np.repeat(np.arange(len(lens)), lens)
    out = {}
    for tier in ("day", "week", "month"):
        if tier == "day":
            start = days
        elif tier == "week":
            start = days - (days + 3) % 7
        else:
            start = days.astype("datetime64[D]").astype("datetime64[M]") \
                .astype("datetime64[D]").astype(np.int64)
        new = np.ones(len(start), bool)
        new[1:] = (start[1:] != start[:-1]) | (doc[1:] != doc[:-1])
        seg = np.cumsum(new) - 1
        valid = ~np.isnan(vals)
        cnt = np.bincount(seg, weights=valid.astype(np.float64))
        vsum = np.bincount(seg, weights=np.where(valid, vals, 0.0))
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = np.where(cnt > 0, vsum / cnt, np.nan)
        frame = pd.DataFrame({"seg": seg, "v": vals})
        g = frame.groupby("seg")["v"]
        out[tier] = pd.DataFrame({
            "doc_id": pdf["doc_id"].to_numpy()[doc[new]],
            "day": start[new],
            "n": cnt.astype(np.int64),
            "vsum": np.where(cnt > 0, vsum, np.nan),
            "mean": mean,
            "vmin": g.min().to_numpy(),
            "vmax": g.max().to_numpy(),
            "last": g.last().to_numpy(),
        })
    return out


def _days(col) -> np.ndarray:
    return pd.to_datetime(col).to_numpy().astype("datetime64[D]") \
        .astype(np.int64)


class Archive(Workload):
    name = "archive"
    READS_PER_BUILD = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.expect = fold_tiers(self.pdf)
        every = pd.concat(self.expect.values())
        mean = every["mean"].to_numpy()
        self.expect_sum = (len(every), float(np.nansum(mean)),
                           int(np.isnan(mean).sum()),
                           int(every["day"].to_numpy().sum()) * 86400)
        self.builds: list[tuple[float, float, float]] = []
        self.reads: list[float] = []
        self.bytes_per_point = float("nan")
        self.valid_share = float((every["n"] > 0).mean())

    def build(self, tokens, out: Path) -> tuple[float, float, float]:
        tiers, span = str(out / "tiers"), self.tracer.span
        with span("archive.build"):
            t0 = time.perf_counter()
            with span("rollup.day_tier"):
                write_tier(rollup_raw(decode_long(tokens), "day",
                                      with_last_ts=True), tiers, "day")
            t1 = time.perf_counter()
            with span("rollup.cascade"):
                day = self.spark.read.parquet(f"{tiers}/tier=day") \
                    .drop("period")
                for tier in ("week", "month"):
                    write_tier(rollup_cascade(day, tier), tiers, tier)
            t2 = time.perf_counter()
            with span("fastpath.blocks"):
                rollup_compress_tokens(tokens).write.mode("overwrite") \
                    .partitionBy("tier").parquet(str(out / "blocks"))
            t3 = time.perf_counter()
        return t1 - t0, t2 - t1, t3 - t2

    def read(self, out: Path):
        with self.tracer.span("archive.read"):
            t0 = time.perf_counter()
            # an all-gap bucket's NaN mean crosses the Arrow boundary
            # as NULL
            missing = F.col("value").isNull() | F.isnan("value")
            row = decompress_tier(
                self.spark.read.parquet(str(out / "blocks"))).agg(
                F.count(F.lit(1)),
                F.sum(F.when(missing, 0.0).otherwise(F.col("value"))),
                F.sum(missing.cast("long")),
                F.sum(F.unix_seconds("bucket_start"))).collect()[0]
            dt = time.perf_counter() - t0
        return tuple(row), dt

    def warmup(self) -> None:
        self.build(self.warm_tokens, self.dir / "warm")
        self.read(self.dir / "warm")

    def _check_build(self) -> None:
        for tier, exp in self.expect.items():
            got = pq.read_table(self.dir / "tiers" / f"tier={tier}") \
                .to_pandas()
            got = got.assign(day=_days(got["bucket_start"])) \
                .sort_values(["doc_id", "day"]).reset_index(drop=True)
            _exact(got["doc_id"].to_numpy(), exp["doc_id"].to_numpy(),
                   f"{tier} tier keys")
            _exact(got["day"].to_numpy(), exp["day"].to_numpy(),
                   f"{tier} tier buckets")
            _exact(got["n"].to_numpy(np.int64), exp["n"].to_numpy(),
                   f"{tier} tier n")
            for c in ("vmin", "vmax", "last"):
                _exact(got[c].to_numpy(np.float64), exp[c].to_numpy(),
                       f"{tier} tier {c}")
            for c in ("vsum", "mean"):
                # month buckets merge up to seven day sums in a
                # shuffle-dependent order; day and week sums are exact
                check = _close if tier == "month" else _exact
                check(got[c].to_numpy(np.float64), exp[c].to_numpy(),
                      f"{tier} tier {c}")
        blocks = pq.read_table(self.dir / "blocks").to_pandas()
        self.bytes_per_point = float(blocks["n_bytes"].sum()
                                     / blocks["n_points"].sum())
        for tier, exp in self.expect.items():
            b = blocks[blocks["tier"] == tier].sort_values("doc_id")
            means = decode_float_streams([bytes(x) for x in b["val_block"]])
            ts = decode_int_streams([bytes(x) for x in b["ts_block"]])
            _exact(np.concatenate(means), exp["mean"].to_numpy(),
                   f"{tier} block means")
            _exact(np.concatenate(ts), exp["day"].to_numpy() * 86400,
                   f"{tier} block timestamps")

    def _check_read(self, got) -> None:
        n, vsum, nans, ts = self.expect_sum
        counts = (got[0], got[2], got[3])
        _exact(np.array(counts), np.array([n, nans, ts]),
               f"read checksum (rows, missing means, ts sum) {counts} vs "
               f"twin {(n, nans, ts)}")
        _close(got[1], vsum, "read checksum value sum")

    def run(self, seconds: float, host) -> None:
        spent = 0.0
        # the first timed build runs ~30% slower than later ones; a median
        # over at least three keeps it from deciding the run
        while spent < seconds or len(self.builds) < 3:
            with self.tracer.span("cycle"):
                parts = self.build(self.tokens, self.dir)
                reads = [self.read(self.dir)
                         for _ in range(self.READS_PER_BUILD)]
            # outside the timed spans: the checks and a host probe
            self.builds.append(parts)
            spent += sum(parts)
            self._checked(self._check_build)
            for got, dt in reads:
                self.reads.append(dt)
                spent += dt
                self._checked(self._check_read, got)
            host.probe()

    def metrics(self) -> dict:
        return {
            "points_per_s": _median([self.points / sum(b)
                                     for b in self.builds]),
            "read_s.p50": _median(self.reads),
            "bytes_per_point": self.bytes_per_point,
        }

    def op_walls(self) -> dict:
        return {"build_s": [sum(b) for b in self.builds], "read_s": self.reads}

    def table(self) -> dict:
        reads = sorted(self.reads)
        return {
            "archive.build_points_per_s": self.metrics()["points_per_s"],
            "archive.read_s.p50": _median(reads),
            "archive.read_s.p90": float(np.percentile(reads, 90))
            if reads else float("nan"),
            "archive.reads": len(reads),
            "archive.builds": len(self.builds),
            "archive.bytes_per_point": self.bytes_per_point,
            "rollup.day_tier_s": _median([b[0] for b in self.builds]),
            "rollup.cascade_s": _median([b[1] for b in self.builds]),
            "fastpath.blocks_s": _median([b[2] for b in self.builds]),
            "compress.decompress_s": _median(self.reads),
        }

    def useful_share(self) -> float:
        return self.valid_share


WORKLOADS = {w.name: w for w in (Backfill, Archive)}
