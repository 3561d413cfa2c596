"""The distributed fit/monitor engine.

Spark-first re-expression of the reference's fit -> monitor -> report
lifecycle (nrt/monitor/__init__.py):

- ``fit``: one shuffle on the bucket key, then one grouped-map pandas UDF
  per bucket; inside the UDF the bucket's series form the same (M, K)
  matrix the reference vectorizes over (``__init__.py:192``), so the
  numpy kernels are shared verbatim with the single-process oracle.
- ``monitor``: a *cogrouped* pandas UDF (state bucket x observation
  bucket) — one shuffle per side, no separate join stage — folding new
  acquisitions through the sequential process update in timestamp order.
- ``report``: plain projection of the state table.

Scale design: ``doc_id`` is hash-bucketed (``pmod(xxhash64(doc_id), B)``),
which (a) bounds the pandas group size to ~n_docs/B series regardless of
source skew, (b) is a deterministic function of the key so state and
observations co-bucket by construction, and (c) maps 1:1 onto Iceberg
``bucket(doc_id)`` storage partitioning on a real cluster (making the
state<->obs alignment a storage-partitioned join with zero shuffle).
Incremental monitoring is idempotent: state rows carry ``last_day`` and
observations at or before it are masked out exactly like NaN gaps.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from nrt_spark.kernels.monitors import fit_state, resolve_params, run_monitor
from nrt_spark.state import STATE_SCHEMA, STATE_COLUMNS, pdf_to_state, state_to_pdf
from nrt_spark.tokens import grid_days, tokens_to_matrix


def _day_number(date_str: str | None) -> int | None:
    if date_str is None:
        return None
    return int(np.datetime64(date_str, "D").astype(int))


def with_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int"))


def write_tokens_bucketed(tokens_df: DataFrame, path: str,
                          num_buckets: int) -> None:
    """Write the token table hash-partitioned on ``bucket(doc_id)`` —
    the parquet analog of Iceberg's ``bucket(N, doc_id)`` transform.

    A table written this way pays the bucket shuffle ONCE at ingest;
    every subsequent fit/monitor pass reads it via the zero-shuffle
    bucketed fastpath (:meth:`NrtEngine.fit_bucketed` /
    :meth:`NrtEngine.monitor_bucketed`) because state and observations
    align by storage layout, not by an Exchange.
    """
    (with_bucket(tokens_df, num_buckets)
     .repartition(num_buckets, "bucket")
     .write.partitionBy("bucket").mode("overwrite").parquet(path))


def _fit_step(pdf: pd.DataFrame, bucket: int, params: dict,
              he_day: int | None, needs_bands: bool) -> pd.DataFrame:
    """One bucket's history fit on full-series token rows — shared by
    the shuffled and the storage-partitioned fit (byte-identical)."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    y = tokens_to_matrix(list(pdf["tokens"]))
    days = grid_days(y.shape[0])
    green = swir = None
    if needs_bands:
        green = tokens_to_matrix(list(pdf["green_tokens"]), max_len=len(y))
        swir = tokens_to_matrix(list(pdf["swir_tokens"]), max_len=len(y))
    if he_day is not None:
        keep = days <= he_day
        y, days = y[keep], days[keep]
        if needs_bands:
            green, swir = green[keep], swir[keep]
    state = fit_state(y, days, params, green=green, swir=swir)
    last = np.full(len(pdf), int(days[-1]) if len(days) else 0)
    return state_to_pdf(state, pdf["doc_id"].to_numpy(), bucket, last)


def _monitor_step(state_pdf: pd.DataFrame, toks_pdf: pd.DataFrame,
                  params: dict, update_mask: bool) -> pd.DataFrame:
    """One bucket's monitor advance on full-series token rows — shared
    by the cogrouped path and the storage-partitioned fastpath (must
    stay byte-identical between them; see test_engine parity tests)."""
    if not len(state_pdf):
        return pd.DataFrame(columns=STATE_COLUMNS)
    state_pdf = state_pdf.sort_values("doc_id").reset_index(drop=True)
    if not len(toks_pdf):
        return state_pdf[STATE_COLUMNS]
    if toks_pdf["doc_id"].duplicated().any():
        dupes = toks_pdf["doc_id"][toks_pdf["doc_id"].duplicated()]
        raise ValueError(
            "monitor() expects one token row per doc_id per call; "
            f"duplicates include {sorted(set(dupes))[:3]}")
    toks_pdf = (toks_pdf.set_index("doc_id")["tokens"]
                .reindex(state_pdf["doc_id"]))
    token_lists = [t if t is not None and not (isinstance(t, float))
                   else [] for t in toks_pdf]
    y = tokens_to_matrix(token_lists)
    days = grid_days(y.shape[0])
    last_day = state_pdf["last_day"].to_numpy(dtype=np.int64, na_value=0)
    # observations at or before last_day behave exactly like NaN
    # gaps (reference W8 semantics) -> incremental/idempotent
    y[days[:, None] <= last_day[None, :]] = np.nan
    state = pdf_to_state(state_pdf)
    run_monitor(state, y, days, params, update_mask=update_mask)
    new_last = np.maximum(
        last_day,
        np.array([grid_days(len(t))[-1] if len(t) else 0
                  for t in token_lists]))
    return state_to_pdf(state, state_pdf["doc_id"].to_numpy(),
                        int(state_pdf["bucket"].iloc[0]), new_last)


class NrtEngine:
    """Distributed monitor over a pre-tokenized sequence table.

    Args:
        spark: session.
        monitor: one of ewma/cusum/mosum/ccdc/iqr.
        num_buckets: series are hash-bucketed into this many groups; each
            grouped UDF call processes one bucket as an (M, K) matrix.
            Size so that a bucket (~n_docs/B series x M obs x 8 bytes)
            fits comfortably in executor memory; at 10^12 series this is
            a large constant (e.g. 2^20) set once and reused by the
            Iceberg table's bucket partitioning.
        **params: monitor overrides (sensitivity, lambda_, method, ...).
    """

    def __init__(self, spark: SparkSession, monitor: str = "ewma",
                 num_buckets: int = 64, **params):
        self.spark = spark
        self.monitor_name = monitor
        self.num_buckets = int(num_buckets)
        self.params = resolve_params(monitor, **params)

    @staticmethod
    def auto_buckets(tokens_df: DataFrame, n_obs: int = 130,
                     target_group_mb: int = 256,
                     parallelism: int | None = None) -> int:
        """Pick a bucket count so each grouped-UDF call holds a
        comfortably-sized (M, K) matrix.

        Sizing rule: K_per_bucket ~ target_group_mb / (n_obs * 8 bytes *
        ~4x working-set factor), rounded so buckets >= 2x parallelism
        (keeps every core busy and AQE happy).  At 10^12 series this
        lands around 2^20 buckets — set once and baked into the Iceberg
        table's bucket(doc_id) partition transform.
        """
        n_docs = tokens_df.count()
        bytes_per_doc = n_obs * 8 * 4
        docs_per_bucket = max(1, (target_group_mb << 20) // bytes_per_doc)
        p = parallelism or tokens_df.sparkSession.sparkContext \
            .defaultParallelism
        return max(2 * p, -(-n_docs // docs_per_bucket))

    # ------------------------------------------------------------------
    def fit(self, tokens_df: DataFrame, history_end: str | None = None
            ) -> DataFrame:
        """Fit history models for every series; returns the state table.

        ``history_end`` (YYYY-MM-DD, inclusive) truncates each series to
        the history period; observations after it are left for
        ``monitor``.  The cut happens inside the UDF on the positional
        grid, so no explode/join is needed.
        """
        params = self.params
        he_day = _day_number(history_end)
        needs_bands = params.get("screen_outliers") == "CCDC_RIRLS"
        if needs_bands and "green_tokens" not in tokens_df.columns:
            raise ValueError("CCDC_RIRLS screen requires green_tokens and "
                             "swir_tokens columns in the token table")

        def fit_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(pdf):
                return pd.DataFrame(columns=STATE_COLUMNS)
            return _fit_step(pdf, int(pdf["bucket"].iloc[0]), params,
                             he_day, needs_bands)

        # shuffle only what the UDF reads (band arrays double the shuffle
        # volume; keep them out unless the screen needs them)
        cols = ["doc_id", "tokens"] + (
            ["green_tokens", "swir_tokens"] if needs_bands else [])
        bucketed = with_bucket(tokens_df.select(*cols), self.num_buckets)
        return bucketed.groupBy("bucket").applyInPandas(fit_fn, STATE_SCHEMA)

    # ------------------------------------------------------------------
    def fit_monitor(self, tokens_df: DataFrame, history_end: str,
                    update_mask: bool = True) -> DataFrame:
        """Fit on the history window and monitor the remainder in ONE
        grouped pass (one shuffle, one UDF invocation per bucket).

        Equivalent to ``monitor(fit(tokens, history_end), tokens)`` —
        verified byte-exact in tests — but with half the shuffles; use it
        whenever the series' full extent is already in hand (bulk
        backfill/reprocessing).  The two-phase path remains for
        incremental arrivals.
        """
        params = self.params
        he_day = _day_number(history_end)
        if he_day is None:
            raise ValueError("history_end is required for fit_monitor")

        def fm_fn(pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(pdf):
                return pd.DataFrame(columns=STATE_COLUMNS)
            pdf = pdf.sort_values("doc_id").reset_index(drop=True)
            y = tokens_to_matrix(list(pdf["tokens"]))
            days = grid_days(y.shape[0])
            hist = days <= he_day
            state = fit_state(y[hist], days[hist], params)
            run_monitor(state, y[~hist], days[~hist], params,
                        update_mask=update_mask)
            last = np.full(len(pdf), int(days[-1]) if len(days) else 0)
            return state_to_pdf(state, pdf["doc_id"].to_numpy(),
                                int(pdf["bucket"].iloc[0]), last)

        bucketed = with_bucket(tokens_df.select("doc_id", "tokens"),
                               self.num_buckets)
        return bucketed.groupBy("bucket").applyInPandas(fm_fn, STATE_SCHEMA)

    # ------------------------------------------------------------------
    def monitor(self, state_df: DataFrame, tokens_df: DataFrame,
                update_mask: bool = True) -> DataFrame:
        """Advance state with all observations newer than each series'
        ``last_day``; returns the updated state table.

        Cogrouped by bucket: each task receives the bucket's state rows
        and token rows, aligns them on doc_id in pandas, and folds the
        sequential update in time order (vectorized across the bucket's
        series, sequential over time — the reference's axis order).
        """
        params = self.params

        def step_fn(state_pdf: pd.DataFrame, toks_pdf: pd.DataFrame
                    ) -> pd.DataFrame:
            return _monitor_step(state_pdf, toks_pdf, params, update_mask)

        toks = with_bucket(tokens_df.select("doc_id", "tokens"),
                           self.num_buckets)
        state_g = state_df.groupBy("bucket")
        return state_g.cogroup(toks.groupBy("bucket")).applyInPandas(
            step_fn, STATE_SCHEMA)

    # ------------------------------------------------------------------
    def fit_bucketed(self, tokens_path: str, history_end: str | None = None
                     ) -> DataFrame:
        """Zero-shuffle fit over a bucket-partitioned token table
        (written by :func:`write_tokens_bucketed`, or any Iceberg
        ``bucket(N, doc_id)`` layout on a shared filesystem).

        The plan is ``range(B) -> mapInPandas`` — NO Exchange anywhere
        (pinned in tests/test_plan_shapes.py): each task reads exactly
        its bucket's parquet files and runs the same kernels as
        :meth:`fit`, so the result is byte-identical.  This is the
        cluster-shape the docstring at the top of this module promises:
        pay the bucket shuffle once at ingest, never per pass.
        """
        params = self.params
        he_day = _day_number(history_end)
        needs_bands = params.get("screen_outliers") == "CCDC_RIRLS"
        cols = ["doc_id", "tokens"] + (
            ["green_tokens", "swir_tokens"] if needs_bands else [])
        if needs_bands:
            # validate on the DRIVER like fit() does — a missing band
            # column should be an immediate ValueError, not an opaque
            # pyarrow field-not-found inside a Spark task
            import pyarrow.parquet as pq

            sample = next(iter(Path(tokens_path).glob("bucket=*/*.parquet")),
                          None)
            if sample is None:
                raise FileNotFoundError(
                    f"no bucketed parquet files under {tokens_path} "
                    "(expected bucket=*/...parquet from "
                    "write_tokens_bucketed)")
            schema_cols = set(pq.read_schema(sample).names)
            if not {"green_tokens", "swir_tokens"} <= schema_cols:
                raise ValueError(
                    "CCDC_RIRLS screen requires green_tokens and "
                    "swir_tokens columns in the bucketed token table")

        def fit_gen(batches):
            import pyarrow.parquet as pq
            for pdf in batches:
                for b in pdf["id"]:
                    part = f"{tokens_path}/bucket={int(b)}"
                    try:
                        toks = pq.read_table(part, columns=cols).to_pandas()
                    except FileNotFoundError:
                        continue
                    if len(toks):
                        yield _fit_step(toks, int(b), params, he_day,
                                        needs_bands)

        buckets = self.spark.range(0, self.num_buckets, 1,
                                   numPartitions=self.num_buckets)
        return buckets.mapInPandas(fit_gen, STATE_SCHEMA)

    def monitor_bucketed(self, state_path: str, tokens_path: str,
                         update_mask: bool = True) -> DataFrame:
        """Zero-shuffle monitor: state snapshot AND token table are both
        bucket-partitioned on the same ``pmod(xxhash64(doc_id), B)``
        key, so obs ⋈ state aligns by storage layout — each task reads
        ONE bucket's state + token files directly and folds the
        sequential update.  No Exchange, no cogroup, no join in the
        plan; on a real cluster this is the storage-partitioned join
        Iceberg's bucket transform enables, expressed directly.
        Byte-identical to :meth:`monitor` (shared ``_monitor_step``).
        """
        params = self.params

        def mon_gen(batches):
            import pyarrow.parquet as pq

            from nrt_spark.streaming import _load_bucket_state
            for pdf in batches:
                for b in pdf["id"]:
                    state_pdf = _load_bucket_state(state_path, int(b))
                    if state_pdf is None or not len(state_pdf):
                        continue
                    try:
                        toks = pq.read_table(
                            f"{tokens_path}/bucket={int(b)}",
                            columns=["doc_id", "tokens"]).to_pandas()
                    except FileNotFoundError:
                        toks = pd.DataFrame(columns=["doc_id", "tokens"])
                    yield _monitor_step(state_pdf, toks, params,
                                        update_mask)

        buckets = self.spark.range(0, self.num_buckets, 1,
                                   numPartitions=self.num_buckets)
        return buckets.mapInPandas(mon_gen, STATE_SCHEMA)

    # ------------------------------------------------------------------
    def monitor_obs(self, state_df: DataFrame, obs_df: DataFrame,
                    update_mask: bool = True) -> DataFrame:
        """Advance state with *long-form* observations
        ``(doc_id string, ts timestamp | day int, value double)`` — the
        shape incremental ingest delivers at scale (new acquisitions
        arrive as points, not re-shipped full series).  Semantics are
        identical to :meth:`monitor` (same kernels, same ``last_day``
        late-data masking); shares its advance step with the streaming
        operator."""
        from nrt_spark.streaming import _advance

        params = self.params
        if "day" not in obs_df.columns:
            obs_df = obs_df.withColumn(
                "day", F.datediff("ts", F.lit("1970-01-01")))
        obs = with_bucket(obs_df.select("doc_id", "day", "value"),
                          self.num_buckets)

        def step_fn(state_pdf: pd.DataFrame, obs_pdf: pd.DataFrame
                    ) -> pd.DataFrame:
            if not len(state_pdf):
                return pd.DataFrame(columns=STATE_COLUMNS)
            state_pdf = state_pdf.sort_values("doc_id").reset_index(drop=True)
            if not len(obs_pdf):
                return state_pdf[STATE_COLUMNS]
            return _advance(state_pdf, obs_pdf, params,
                            int(state_pdf["bucket"].iloc[0]),
                            update_mask=update_mask)

        return state_df.groupBy("bucket").cogroup(
            obs.groupBy("bucket")).applyInPandas(step_fn, STATE_SCHEMA)

    # ------------------------------------------------------------------
    @staticmethod
    def report(state_df: DataFrame,
               layers: tuple = ("mask", "detection_date", "process")
               ) -> DataFrame:
        """Reference ``report()`` analog: per-series result projection
        (``nrt/monitor/__init__.py:324-381`` minus the raster geometry)."""
        valid = {"mask", "detection_date", "process"}
        if not set(layers) <= valid:
            raise ValueError("invalid layer(s) requested")
        return state_df.select("doc_id", *layers)

    # ------------------------------------------------------------------
    def save_state(self, state_df: DataFrame, path: str) -> None:
        """Checkpoint: bucket-partitioned snapshot (Iceberg table when a
        catalog is configured, parquet otherwise — the engine analog of
        the reference's ``to_netcdf``; see nrt_spark.catalog)."""
        from nrt_spark.catalog import write_table

        write_table(state_df, path, partition_cols=("bucket",))

    def load_state(self, path: str) -> DataFrame:
        from nrt_spark.catalog import read_table

        return read_table(self.spark, path)
