"""Per-series loop versions of the batched fit kernels (test oracle).

These are the straightforward one-series-at-a-time implementations the
batched kernels in ``nrt_spark.kernels`` replaced: a per-series
``np.linalg.solve``/``lstsq`` on the series' own non-NaN rows, the
scalar rank-1 recursive-residual update, the per-series ROC scan and the
CCDC window shrinking.
They follow the reference line by line, so the batched kernels are
checked against them with a tolerance set from float64 rounding: the
batched kernels accumulate sums in another order (normal equations
instead of ``lstsq`` in RIRLS, sequential instead of pairwise sums),
which moves results by a few ulp times the design's condition number,
never the discrete outcome (stable index, stability flag, fit start).
"""

from __future__ import annotations

import numpy as np

from nrt_spark.kernels.efp import REC_CUSUM_CRIT_005
from nrt_spark.kernels.stats import bisquare, ncdf

_F32_EPS = float(np.finfo(np.float32).eps)


def nanlstsq(X, y):
    beta = np.zeros((X.shape[1], y.shape[1]))
    for k in range(y.shape[1]):
        keep = ~np.isnan(y[:, k])
        Xs, ys = X[keep], y[keep, k]
        beta[:, k] = np.linalg.solve(Xs.T @ Xs, Xs.T @ ys)
    return beta


def weighted_ols(X, y, w):
    sw = np.sqrt(w)
    beta, *_ = np.linalg.lstsq(X * sw[:, None], y * sw, rcond=-1)
    return beta, y - X @ beta


def mad(resid, c=0.6745):
    return np.nanmedian(np.fabs(resid - np.nanmedian(resid))) / c


def rirls(X, y, tune=4.685, scale_constant=0.6745, maxiter=50, tol=1e-8):
    """Reference ``fit_methods.py:74-140`` one series at a time."""
    beta = np.zeros((X.shape[1], y.shape[1]))
    resid = np.full_like(y, np.nan)
    for k in range(y.shape[1]):
        keep = ~np.isnan(y[:, k])
        Xs, ys = X[keep], y[keep, k]
        b, r = weighted_ols(Xs, ys, np.ones_like(ys))
        scale = mad(r, c=scale_constant)
        iteration, converged = 1, scale < _F32_EPS
        while not converged and iteration < maxiter:
            b_prev = b.copy()
            b, r = weighted_ols(Xs, ys, bisquare(r / scale, c=tune))
            scale = max(_F32_EPS, mad(r, c=scale_constant))
            iteration += 1
            converged = not np.any(np.fabs(b - b_prev > tol))
        beta[:, k] = b
        resid[keep, k] = r
    return beta, resid


def recresid(X, y, span):
    """Reference ``utils_efp.py:216-301`` for one series (no NaN)."""
    nobs = X.shape[0]
    w = np.full(nobs, np.nan)
    var = np.full(nobs, np.nan)
    X0, y0 = X[:span], y[:span]
    Sinv = np.linalg.inv(X0.T @ X0)
    b = Sinv @ (X0.T @ y0)
    x_last = X[span - 1]
    w[span - 1] = y[span - 1] - x_last @ b
    var[span - 1] = 1.0 + x_last @ (Sinv @ x_last)
    for t in range(span, nobs):
        x_t = X[t]
        e_t = y[t] - x_t @ b
        Sx = Sinv @ x_t
        f_t = 1.0 + x_t @ Sx
        Sinv = Sinv - np.outer(Sx, Sx) / f_t
        b = b + Sx * (e_t / f_t)
        w[t] = e_t
        var[t] = f_t
    with np.errstate(invalid="ignore"):
        return w / np.sqrt(var)


def history_roc(X, y, alpha=0.05, crit=REC_CUSUM_CRIT_005):
    """Reference ``utils_efp.py:67-100`` for one series (no NaN)."""
    n, k = X.shape
    k += 1
    w = recresid(X[::-1], y[::-1], k)[k:]
    process = np.cumsum(np.r_[0.0, w]) / (np.std(w) * (n - k) ** 0.5)
    x = process[1:]
    j = np.linspace(0, 1, x.size + 1)[1:]
    stat = np.abs(x / (1 + 2 * j)).max()
    p = 1 - 0.1464 * stat if stat < 0.3 else 2 * (
        1 - ncdf(3 * stat)
        + np.exp(-4 * stat ** 2) * (ncdf(stat) + ncdf(5 * stat) - 1)
        - np.exp(-16 * stat ** 2) * (1 - ncdf(stat)))
    if p < alpha:
        boundary = crit + (2 * crit * np.arange(0, x.size + 1) / x.size)
        return int(len(process)
                   - np.where(np.abs(process) > boundary)[0].min())
    return 0


def ccdc_stable_fit(X, y, dates, threshold=3.0):
    """Reference ``fit_methods.py:166-251`` one series at a time."""
    min_obs = int(X.shape[1] * 1.5)
    K = y.shape[1]
    beta = np.zeros((X.shape[1], K))
    residuals = np.full_like(y, np.nan)
    stable = np.zeros(K, dtype=bool)
    fit_start = np.zeros(K)
    for k in range(K):
        keep = ~np.isnan(y[:, k])
        Xs, ys, ds = X[keep], y[keep, k], dates[keep]
        for jdx in range(len(ys), min_obs - 1, -2):
            X_w, y_w = Xs[-jdx:], ys[-jdx:]
            b_sub = np.linalg.solve(X_w.T @ X_w, X_w.T @ y_w)
            r_sub = X_w @ b_sub - y_w
            rmse = np.sqrt(np.mean(r_sub ** 2))
            is_stable = (np.fabs(b_sub[1]) / rmse < threshold
                         and np.fabs(r_sub[0]) / rmse < threshold
                         and np.fabs(r_sub[-1]) / rmse < threshold)
            if is_stable or ds[-1] - ds[-jdx] < 183:
                break
        beta[:, k] = b_sub
        residuals[np.flatnonzero(keep)[-jdx:], k] = r_sub
        stable[k] = is_stable
        fit_start[k] = ds[-jdx]
    return beta, residuals, stable, fit_start


def roc_stable_fit(X, y, dates, alpha=0.05, crit=REC_CUSUM_CRIT_005):
    """Reference ``fit_methods.py:254-323`` one series at a time."""
    K, nreg = y.shape[1], X.shape[1]
    is_stable = np.ones(K, dtype=bool)
    fit_start = np.zeros(K, dtype=np.uint16)
    beta = np.full((nreg, K), np.nan)
    for k in range(K):
        keep = ~np.isnan(y[:, k])
        ys, Xs, ds = y[keep, k], X[keep], dates[keep]
        with np.errstate(invalid="ignore"):
            idx = history_roc(Xs, ys, alpha=alpha, crit=crit)
        if len(ys) - idx < nreg + 1 or ds[-1] - ds[idx] < 183:
            is_stable[k] = False
            continue
        X_st, y_st = Xs[idx:], ys[idx:]
        beta[:, k] = np.linalg.solve(X_st.T @ X_st, X_st.T @ y_st)
        fit_start[k] = ds[idx]
    return beta, X @ beta - y, is_stable, fit_start
