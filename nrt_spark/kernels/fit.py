"""Model-fitting kernels: OLS, robust IRLS, and the two stable-history fits.

Numeric semantics match the reference (``/root/reference/nrt/fit_methods.py``)
including its sign convention — fit residuals are ``X @ beta - y``
(prediction minus observation), the *opposite* of monitoring residuals
(RIRLS returns ``y - X @ beta``, as the reference does).

OLS, RIRLS and ROC run over the whole (M, K) batch at once, batch-invariant
(see :mod:`nrt_spark.kernels.stats`): NaN is a row of weight 0 in one
stacked weighted solve, RIRLS iterates only the series still moving and
ROC's recursion runs once over t; CCDC-stable shrinks every unstable
series' window in the same round.
"""

from __future__ import annotations

import numpy as np

from nrt_spark.kernels.stats import (bisquare, mad, nanlstsq, nanmean0,
                                     predict, weighted_solve)
from nrt_spark.kernels.efp import history_roc, REC_CUSUM_CRIT_005

_F32_EPS = float(np.finfo(np.float32).eps)


def ols(X: np.ndarray, y: np.ndarray):
    """NaN-aware OLS per series (reference ``fit_methods.py:58-71``).

    Returns:
        beta (N, K), residuals (M, K) = X @ beta - y (NaN where y is NaN).
    """
    beta = nanlstsq(X, y)
    return beta, predict(X, beta) - y


def rirls(X: np.ndarray, y: np.ndarray, M=bisquare, tune: float = 4.685,
          scale_est=mad, scale_constant: float = 0.6745,
          update_scale: bool = True, maxiter: int = 50, tol: float = 1e-8):
    """Robust regression via iteratively reweighted least squares.

    Tukey-biweight weights with MAD scale, per series; a series stops
    when no coefficient moved by more than ``tol`` or after ``maxiter``
    iterations (reference ``fit_methods.py:74-140``, after yatsm).

    Returns:
        beta (N, K), residuals (M, K) = y - X @ beta, NaN kept in place.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    keep = ~np.isnan(y)
    beta = weighted_solve(X, y, keep.astype(np.float64))
    resid = y - predict(X, beta)
    scale = scale_est(resid, c=scale_constant)
    active = np.flatnonzero(scale >= _F32_EPS)
    for _ in range(1, maxiter):
        if not active.size:
            break
        ya = y[:, active]
        weights = np.where(keep[:, active],
                           M(resid[:, active] / scale[active], c=tune), 0.0)
        b = weighted_solve(X, ya, weights)
        resid[:, active] = ya - predict(X, b)
        if update_scale:
            scale[active] = np.maximum(
                _F32_EPS, scale_est(resid[:, active], c=scale_constant))
        # Reference quirk kept for parity: the convergence test is one-sided,
        # `not any(fabs(b - prev > tol))`, i.e. no coefficient grew by > tol.
        moved = np.any(b - beta[:, active] > tol, axis=0)
        beta[:, active] = b
        active = active[moved]
    return beta, resid


def ccdc_stable_fit(X: np.ndarray, y: np.ndarray, dates: np.ndarray,
                    threshold: float = 3.0):
    """CCDC-style stable-history fit (reference ``fit_methods.py:166-251``).

    Per series: OLS fit on the most recent window; if unstable
    (|slope|/RMSE, |first resid|/RMSE or |last resid|/RMSE >= threshold),
    drop the two oldest observations and refit, while at least
    ``1.5 * n_regressors`` observations and more than 183 days of data
    remain.  Each round refits all series still shrinking in one stacked
    weighted solve.

    Args:
        X: (M, N) design matrix (column 1 must be the trend).
        y: (M, K) observations with NaN gaps.
        dates: (M,) int days since epoch, aligned with rows of X/y.

    Returns:
        beta (N, K), residuals (M, K) (NaN outside the final fit window),
        is_stable (K,) bool, fit_start (K,) int days since epoch.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    dates = np.asarray(dates)
    min_obs = int(X.shape[1] * 1.5)
    K = y.shape[1]
    valid = ~np.isnan(y)
    size = np.count_nonzero(valid, axis=0)             # window size per series
    after = size - np.cumsum(valid, axis=0)            # valid rows after a row
    last = len(y) - 1 - np.argmax(valid[::-1], axis=0)
    beta = np.zeros((X.shape[1], K))
    residuals = np.full_like(y, np.nan)
    stable = np.zeros(K, dtype=bool)
    fit_start = np.zeros(K)
    todo = np.flatnonzero(size >= min_obs)
    while todo.size:
        win = valid[:, todo] & (after[:, todo] < size[todo])
        b = weighted_solve(X, y[:, todo], win.astype(np.float64))
        r = np.where(win, predict(X, b) - y[:, todo], np.nan)
        first = np.argmax(win, axis=0)
        cols = np.arange(todo.size)
        with np.errstate(divide="ignore", invalid="ignore"):
            rmse = np.sqrt(nanmean0(r ** 2))
            ok = ((np.fabs(b[1]) / rmse < threshold)
                  & (np.fabs(r[first, cols]) / rmse < threshold)
                  & (np.fabs(r[last[todo], cols]) / rmse < threshold))
        beta[:, todo], residuals[:, todo] = b, r
        stable[todo], fit_start[todo] = ok, dates[first]
        size[todo] -= 2                                # drop the two oldest
        todo = todo[~ok & (dates[last[todo]] - dates[first] >= 183)
                    & (size[todo] >= min_obs)]
    return beta, residuals, stable, fit_start


def roc_stable_fit(X: np.ndarray, y: np.ndarray, dates: np.ndarray,
                   alpha: float = 0.05, crit: float = REC_CUSUM_CRIT_005):
    """Stable fit via Reverse-Ordered-CUSUM history detection
    (reference ``fit_methods.py:254-323``).

    Per series: find the stable-period start with :func:`history_roc`,
    mark unstable when fewer than ``n_regressors + 1`` observations or
    less than 183 days remain, else OLS-fit the stable tail.

    Returns:
        beta (N, K) (NaN for unstable series), residuals (M, K) =
        X @ beta - y on the full series, is_stable (K,) bool,
        fit_start (K,) uint16 days since epoch (0 for unstable series).
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    dates = np.asarray(dates)
    K, nreg = y.shape[1], X.shape[1]
    valid = ~np.isnan(y)
    n = np.count_nonzero(valid, axis=0)
    rank = np.cumsum(valid, axis=0) - 1              # position among valid rows
    stable_idx = history_roc(X, y, alpha=alpha, crit=crit)
    tail = valid & (rank >= stable_idx)
    first = dates[np.argmax(tail, axis=0)]
    last = dates[len(y) - 1 - np.argmax(valid[::-1], axis=0)]
    is_stable = (n - stable_idx >= nreg + 1) & (last - first >= 183)

    beta = np.full((nreg, K), np.nan)
    beta[:, is_stable] = weighted_solve(X, y[:, is_stable],
                                        tail[:, is_stable].astype(np.float64))
    fit_start = np.where(is_stable, first, 0).astype(np.uint16)
    return beta, predict(X, beta) - y, is_stable, fit_start
