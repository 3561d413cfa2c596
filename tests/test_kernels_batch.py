"""Batched fit kernels: agreement with the per-series loop oracle,
batch invariance (bucket composition, column order, BLAS threads) and
closed-form evidence for the recursive residuals."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import warnings
from pathlib import Path

import numpy as np
import pytest

import fit_oracle
from nrt_spark.kernels import efp, fit, stats
from nrt_spark.kernels.monitors import fit_state, resolve_params, run_monitor
from nrt_spark.kernels.regressors import regressors_for_days
from nrt_spark.tokens import grid_days

M_HIST, M_ALL, K = 100, 130, 24

#: (monitor, overrides): every default fit method, plus RIRLS and an
#: intercept-only design (a single-column normal equation)
CONFIGS = {
    "ewma": ("ewma", {}),
    "cusum-roc": ("cusum", {}),
    "cusum-roc-notrend": ("cusum", {"trend": False}),
    "mosum-roc": ("mosum", {"trend": False}),
    "mosum-rirls": ("mosum", {"method": "RIRLS"}),
    "ccdc": ("ccdc", {}),
    "iqr": ("iqr", {}),
    "iqr-rirls-intercept": ("iqr", {"trend": False, "harmonic_order": 0,
                                    "method": "RIRLS"}),
}


def _batch(seed=5, K=K, M=M_ALL):
    """Seasonal series with cloud gaps, ragged ends, a planted level
    shift in a third of them (monitoring period) and an early regime
    change in another third (history, for ROC)."""
    rng = np.random.default_rng(seed)
    days = grid_days(M)
    X = regressors_for_days(days, trend=False, harmonic_order=2)
    y = X @ rng.normal([0.5, 0.1, 0.03, 0.05, 0.01], 0.02, (K, 5)).T
    y += rng.normal(0, 0.02, (M, K))
    y[:30, K // 3: 2 * K // 3] += 0.15
    y[110:, : K // 3] -= 0.2
    y[rng.random((M, K)) < 0.12] = np.nan
    for k in range(0, K, 5):                 # ragged ends
        y[M - 1 - k:, k] = np.nan
    return y, days


def _run(y, days, monitor, overrides):
    params = resolve_params(monitor, **overrides)
    state = fit_state(y[:M_HIST], days[:M_HIST], params)
    run_monitor(state, y[M_HIST:], days[M_HIST:], params)
    return state


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_fit_and_monitor_raise_no_runtime_warning(name):
    """Degenerate series (all gaps, too short, constant, a single
    observation after the history) get defined state, silently."""
    y, days = _batch()
    y[:, 0] = np.nan
    y[8:, 1] = np.nan
    y[:, 2] = 0.25
    y[M_HIST + 1:, 3] = np.nan
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        state = _run(y, days, *CONFIGS[name])
    assert state["mask"][0] == 4
    assert set(state["mask"]) <= {1, 2, 3, 4}


def _assert_state_equal(a, b, cols, what):
    for key, va in a.items():
        va, vb = np.asarray(va), np.asarray(b[key])
        if va.ndim:
            va = va[..., cols]
        np.testing.assert_array_equal(va, vb, err_msg=f"{what}: {key}")


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_fit_state_invariant_to_column_subset_and_order(name):
    """A series' fitted and monitored state is bit-identical whatever
    else shares its batch: every single column, a permutation and a
    random subset give the same bits as the full batch."""
    monitor, overrides = CONFIGS[name]
    y, days = _batch()
    full = _run(y, days, monitor, overrides)
    assert (full["mask"] == 3).any() or monitor == "ewma"
    rng = np.random.default_rng(0)
    subsets = [[k] for k in range(K)] + [list(rng.permutation(K)),
                                         sorted(rng.choice(K, 7, False))]
    for cols in subsets:
        part = _run(y[:, cols], days, monitor, overrides)
        if part["window"].shape[0] < full["window"].shape[0]:
            part["window"] = np.r_[part["window"], np.zeros(
                (full["window"].shape[0] - part["window"].shape[0],
                 len(cols)))]
        _assert_state_equal(full, part, cols, f"{name} cols={cols}")


_CHILD = """
import json, sys
import numpy as np
sys.path[:0] = {paths!r}
import test_kernels_batch as t
out = {{}}
y, days = t._batch()
for name, (monitor, overrides) in t.CONFIGS.items():
    state = t._run(y, days, monitor, overrides)
    out[name] = {{k: np.asarray(v).tobytes().hex() for k, v in state.items()}}
print(json.dumps(out))
"""


def test_fit_state_invariant_to_blas_threads():
    """Same bits with one BLAS thread (this process) and with as many as
    the host has, set before numpy loads in a fresh interpreter."""
    here = Path(__file__).resolve().parent
    env = dict(os.environ)
    for var in ("OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "OMP_NUM_THREADS"):
        env[var] = str(len(os.sched_getaffinity(0)))      # $(nproc)
    child = subprocess.run(
        [sys.executable, "-c",
         _CHILD.format(paths=[str(here), str(here.parent)])],
        env=env, capture_output=True, text=True, timeout=300, check=True)
    got = json.loads(child.stdout)
    y, days = _batch()
    for name, (monitor, overrides) in CONFIGS.items():
        state = _run(y, days, monitor, overrides)
        for key, v in state.items():
            assert got[name][key] == np.asarray(v).tobytes().hex(), \
                f"{name}: {key}"


def _design(trend):
    days = grid_days(M_HIST)
    return regressors_for_days(days, trend=trend, harmonic_order=2), days


@pytest.mark.parametrize("trend", [False, True])
def test_batched_fits_match_loop_oracle(trend):
    """Batched OLS/RIRLS/ROC/CCDC-stable against the per-series loops.  Tolerances:
    1e-9 relative on coefficients of the well-conditioned harmonic
    design; with the days-since-epoch trend column the normal equations
    carry cond(X'X) ~ 1e10, so 1e-5 there.  Discrete outcomes exact."""
    X, days = _design(trend)
    y = _batch()[0][:M_HIST]
    rtol = 1e-5 if trend else 1e-9
    scale = np.abs(fit_oracle.nanlstsq(X, y)).max(axis=1, keepdims=True)

    np.testing.assert_allclose(stats.nanlstsq(X, y) / scale,
                               fit_oracle.nanlstsq(X, y) / scale,
                               rtol=0, atol=rtol)
    b, r = fit.rirls(X, y)
    b0, r0 = fit_oracle.rirls(X, y)
    np.testing.assert_allclose(b / scale, b0 / scale, rtol=0, atol=rtol)
    np.testing.assert_allclose(r, r0, rtol=0, atol=rtol * np.nanmax(np.abs(y)))

    got = fit.roc_stable_fit(X, y, days)
    want = fit_oracle.roc_stable_fit(X, y, days)
    np.testing.assert_array_equal(got[2], want[2])
    np.testing.assert_array_equal(got[3], want[3])
    np.testing.assert_allclose(got[0] / scale, want[0] / scale, rtol=0,
                               atol=rtol)
    if not trend:       # the ROC scan truncates some histories here
        assert (got[3][got[2]] > days[0]).sum() >= K // 4
    got = fit.ccdc_stable_fit(X, y, days)
    want = fit_oracle.ccdc_stable_fit(X, y, days)
    np.testing.assert_array_equal(got[2], want[2])
    np.testing.assert_array_equal(got[3], want[3])
    np.testing.assert_array_equal(np.isnan(got[1]), np.isnan(want[1]))
    np.testing.assert_allclose(got[0] / scale, want[0] / scale, rtol=0,
                               atol=rtol)
    assert (got[3] > days[2]).any()          # some windows shrank
    idx = efp.history_roc(X, y)
    for k in range(K):
        keep = ~np.isnan(y[:, k])
        with np.errstate(invalid="ignore"):
            assert idx[k] == fit_oracle.history_roc(X[keep], y[keep, k])


def test_recresid_matches_loop_oracle_on_ragged_batch():
    """The masked batched recursion equals the scalar one per series.
    The recursion starts from the inverse of X0'X0 over six rows (30 days
    of an annual harmonic), cond ~ 7e9: reordered sums move the residuals
    by eps * 7e9 ~ 1e-6 of their scale, compounded over the updates."""
    X, _ = _design(False)
    y = _batch()[0][:M_HIST]
    n = np.count_nonzero(~np.isnan(y), axis=0)
    Xr = np.zeros((M_HIST, K, X.shape[1]))
    yr = np.zeros((M_HIST, K))
    for k in range(K):
        keep = ~np.isnan(y[:, k])
        Xr[:n[k], k], yr[:n[k], k] = X[keep], y[keep, k]
    span = X.shape[1] + 1
    got = efp.recresid(Xr, yr, span, n)
    for k in range(K):
        want = fit_oracle.recresid(Xr[:n[k], k], yr[:n[k], k], span)
        np.testing.assert_allclose(got[:n[k], k], want, rtol=0,
                                   atol=1e-5 * np.nanmax(np.abs(want)))
        assert np.isnan(got[n[k]:, k]).all()


def test_recresid_closed_form_intercept_only():
    """Independent evidence: on an intercept-only design the recursive
    residual is w_t = (y_t - mean(y_<t)) / sqrt(1 + 1/t), t >= span.
    Series of a ragged batch with different gap patterns and lengths are
    compressed to their observed values, as the ROC scan does."""
    rng = np.random.default_rng(11)
    M, Kc = 60, 9
    y = rng.normal(3.0, 1.5, (M, Kc))
    for k in range(Kc):
        y[rng.random(M) < 0.05 * k, k] = np.nan      # gap share per series
        y[M - 4 * k:, k] = np.nan                    # different lengths
    n = np.count_nonzero(~np.isnan(y), axis=0)
    vals = np.zeros((M, Kc))
    for k in range(Kc):
        vals[:n[k], k] = y[~np.isnan(y[:, k]), k]
    span = 2
    got = efp.recresid(np.ones((M, Kc, 1)), vals, span, n)
    for k in range(Kc):
        v = vals[:n[k], k]
        t = np.arange(span, n[k])
        want = (v[t] - np.cumsum(v)[t - 1] / t) / np.sqrt(1 + 1 / t)
        np.testing.assert_allclose(got[span:n[k], k], want, rtol=1e-10)
        assert np.isnan(got[: span - 1, k]).all()
        assert np.isnan(got[n[k]:, k]).all()


def test_roc_nan_statistic_means_stable_index_zero_without_warning():
    """With the raw days-since-epoch trend column the rank-1 downdate of
    (X'X)^-1 loses all precision within a few steps: the prediction-error
    variance turns non-positive, the recursive residual is NaN, the
    sup-statistic is NaN and the series counts as stable over its whole
    history -- with no RuntimeWarning on the way."""
    X, days = _design(True)
    y = _batch()[0][:M_HIST]
    keep = ~np.isnan(y[:, 0])
    Xr, yr = X[keep][::-1, None, :], y[keep, :1][::-1]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        span = X.shape[1] + 1
        assert np.isnan(efp.recresid(Xr, yr, span)[span:]).any()
        process = efp.cusum_rec_efp(Xr, yr)
        assert np.isnan(efp.cusum_rec_sctest(process, [len(process)]))
        np.testing.assert_array_equal(efp.history_roc(X, y), 0)
        beta, _, stable, start = fit.roc_stable_fit(X, y, days)
    first_obs = days[np.argmax(~np.isnan(y), axis=0)]
    np.testing.assert_array_equal(start[stable], first_obs[stable])
    np.testing.assert_array_equal(beta[:, stable],
                                  stats.nanlstsq(X, y[:, stable]))


def test_singular_system_does_not_fail_the_stack():
    """A series whose weighted normal equations are singular gets the
    minimum-norm solution; the others keep their bits."""
    X, _ = _design(False)
    y = _batch()[0][:M_HIST]
    w = (~np.isnan(y)).astype(np.float64)
    want = stats.weighted_solve(X, y, w)
    w[:, 3] = 0.0
    got = stats.weighted_solve(X, y, w)
    np.testing.assert_array_equal(np.delete(got, 3, axis=1),
                                  np.delete(want, 3, axis=1))
    np.testing.assert_array_equal(got[:, 3], 0.0)


def test_nanmedian_and_mad_equal_numpy():
    rng = np.random.default_rng(3)
    a = rng.normal(size=(41, 12))
    a[rng.random(a.shape) < 0.2] = np.nan
    a[:, 0] = np.nan
    a[:-1, 1] = np.nan
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        want = np.nanmedian(a, axis=0)
    np.testing.assert_array_equal(stats.nanmedian0(a), want)
    for k in range(1, a.shape[1]):
        assert stats.mad(a[:, k]) == fit_oracle.mad(a[:, k])
    np.testing.assert_array_equal(
        stats.mad(a[:, 1:]), [fit_oracle.mad(a[:, k]) for k in range(1, 12)])
