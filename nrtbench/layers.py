"""Single-process layer probes for the traced run.

Each probe times one library layer in-process on this run's inputs:
the numpy fit and monitor kernels on one engine-formed bucket, the token
decode, the state codec and the Gorilla codec, plus one long-form
``monitor_obs`` batch through Spark.  They run after the timed loop, so
they never overlap a timed op.
"""

from __future__ import annotations

import time
import warnings
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from nrt_spark.engine import NrtEngine
from nrt_spark.gorilla import decode_float_streams, encode_float_streams
from nrt_spark.kernels.monitors import fit_state, resolve_params, run_monitor
from nrt_spark.state import pdf_to_state, state_to_pdf
from nrt_spark.tokens import GAP_TOKEN, SCALE, grid_days, tokens_to_matrix

from nrtbench.inputs import HISTORY_END, N_HISTORY
from nrtbench.workloads import HE_DAY, MONITORS

#: fit method -> a monitor configuration that fits with it
FIT_METHODS = {"ols": ("iqr", {}), "roc": ("cusum", {}),
               "rirls": ("mosum", {"method": "RIRLS"}),
               "ccdc_stable": ("ccdc", {})}


def _timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


def probe_layers(pdf: pd.DataFrame, members: pd.DataFrame) -> dict:
    """Layer metrics; ``members`` is the engine's (doc_id, bucket) map."""
    out = {}
    lists = list(pdf["tokens"])
    y_all, out["tokens.to_matrix_s"] = _timed(tokens_to_matrix, lists)
    out["tokens.points"] = int(pdf["n_tok"].sum())

    biggest = members["bucket"].value_counts().idxmax()
    docs = sorted(members.loc[members["bucket"] == biggest, "doc_id"])
    toks = pdf.set_index("doc_id")["tokens"]
    y = tokens_to_matrix([toks[d] for d in docs])
    days = grid_days(y.shape[0])
    hist = days <= HE_DAY
    n_warn = 0
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always", RuntimeWarning)
        for method, (m, kw) in FIT_METHODS.items():
            _, out[f"kernels.fit_state_s.{method}"] = _timed(
                fit_state, y[hist], days[hist], resolve_params(m, **kw))
        y_new = y.copy()
        y_new[hist] = np.nan
        for m, kw in MONITORS:
            params = resolve_params(m, **kw)
            state = fit_state(y[hist], days[hist], params)
            _, out[f"kernels.run_monitor_s.{m}"] = _timed(
                run_monitor, state, y_new, days, params)
        n_warn = sum(issubclass(w.category, RuntimeWarning) for w in caught)
    out["kernels.runtime_warnings"] = n_warn

    # state codec on a window-carrying (mosum) state of every series
    hist_all = grid_days(y_all.shape[0]) <= HE_DAY
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        state = fit_state(y_all[hist_all], grid_days(y_all.shape[0])[hist_all],
                          resolve_params("mosum", method="OLS"))
    doc_ids = pdf["doc_id"].to_numpy()
    last = np.full(len(doc_ids), HE_DAY)
    spdf, out["state.to_pdf_s"] = _timed(state_to_pdf, state, doc_ids, 0, last)
    _, out["state.from_pdf_s"] = _timed(pdf_to_state, spdf)

    # Gorilla float codec on every raw series, best of three
    streams = [y_all[:, k] for k in range(y_all.shape[1])]
    n_pts = sum(len(s) for s in streams)
    enc = min(_timed(encode_float_streams, streams)[1] for _ in range(3))
    blobs = encode_float_streams(streams)
    dec = min(_timed(decode_float_streams, blobs)[1] for _ in range(3))
    out["gorilla.encode_points_per_s"] = n_pts / enc
    out["gorilla.decode_points_per_s"] = n_pts / dec
    return out


def probe_advance(spark, tokens_df, pdf: pd.DataFrame, num_buckets: int,
                  out: Path) -> dict:
    """One ``monitor_obs`` batch with ~5% late re-deliveries.

    Series are fitted (mosum with OLS) up to the history end, then one
    acquisition date is folded through ``load_state -> monitor_obs ->
    save_state``.  The same batch without its late rows must give the
    same state: late rows fall at or before each series' ``last_day``
    and must be masked.
    """
    eng = NrtEngine(spark, "mosum", num_buckets=num_buckets, method="OLS")
    fit_p = str(out / "advance_fit")
    eng.save_state(eng.fit(tokens_df, history_end=HISTORY_END), fit_p)

    day = int(grid_days(N_HISTORY + 1)[-1])
    late_day = int(grid_days(N_HISTORY // 2)[-1])
    rows = [(d, day, float(t[N_HISTORY] / SCALE))
            for d, t in zip(pdf["doc_id"], pdf["tokens"])
            if len(t) > N_HISTORY and t[N_HISTORY] != GAP_TOKEN]
    late_docs = list(pdf["doc_id"][::20])
    late = [(d, late_day, 2.0) for d in late_docs]
    schema = "doc_id string, day int, value double"

    def advance(obs, path):
        t0 = time.perf_counter()
        eng.save_state(eng.monitor_obs(eng.load_state(fit_p),
                                       spark.createDataFrame(obs, schema)),
                       path)
        dt = time.perf_counter() - t0
        cols = ["doc_id", "mask", "process", "detection_date", "last_day"]
        return pq.read_table(path, columns=cols).to_pandas() \
            .set_index("doc_id").sort_index(), dt

    with_late, dt = advance(rows + late, str(out / "advance_late"))
    on_time, _ = advance(rows, str(out / "advance"))
    same = (with_late.loc[late_docs] == on_time.loc[late_docs]) \
        | (with_late.loc[late_docs].isna() & on_time.loc[late_docs].isna())
    return {"engine.monitor_obs_s": dt,
            "advance.late_masked_share": float(same.all(axis=1).mean())}
