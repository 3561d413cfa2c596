"""Low-level statistics kernels (NaN-aware, batched over series).

Numeric semantics match the reference (its ``nrt/stats.py``);
the implementations are plain numpy over a whole (M, K) batch, and
*batch-invariant*: a series' result is bit-identical whatever other
series share its batch and whatever the BLAS thread count.  So nothing
per-series goes through gemv/gemm or a multi-RHS solve (their rounding
depends on the batch width) or through a float reduction along a
possibly contiguous axis (pairwise there, so K == 1 rounds differently):
sums run in a fixed index order (:func:`dot_last`, :func:`colsum`,
``einsum``) and each series' system is its own LAPACK solve.
"""

from __future__ import annotations

import warnings

import numpy as np


def dot_last(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``sum(a * b, axis=-1)`` accumulated in index order (broadcasting)."""
    out = a[..., 0] * b[..., 0]
    for i in range(1, np.shape(a)[-1]):
        out = out + a[..., i] * b[..., i]
    return out


def predict(X: np.ndarray, beta: np.ndarray) -> np.ndarray:
    """``X @ beta`` per series: X (M, N) or (N,), beta (N, K)."""
    return dot_last(np.asarray(X)[..., None, :], beta.T)


def colsum(a: np.ndarray) -> np.ndarray:
    """Column sums of (M, K) accumulated row by row (trailing zero rows,
    e.g. NaN padding mapped to 0, leave them unchanged)."""
    return np.cumsum(a, axis=0)[-1] if len(a) else np.zeros(a.shape[1:])


def nansum0(a: np.ndarray) -> np.ndarray:
    """``np.nansum(a, axis=0)`` with :func:`colsum`."""
    return colsum(np.where(np.isnan(a), 0.0, a))


def nanmean0(a: np.ndarray) -> np.ndarray:
    """``np.nanmean(a, axis=0)`` with :func:`colsum` (NaN for empty columns)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return nansum0(a) / np.count_nonzero(~np.isnan(a), axis=0)


def nanstd0(a: np.ndarray, ddof: int = 0) -> np.ndarray:
    """``np.nanstd(a, axis=0, ddof=ddof)`` with :func:`colsum`; NaN where
    fewer than ``ddof + 1`` values are present, without a warning."""
    isna = np.isnan(a)
    n = np.count_nonzero(~isna, axis=0)
    with np.errstate(divide="ignore", invalid="ignore"):
        dev = np.where(isna, 0.0, a - nanmean0(a))
        var = colsum(dev * dev) / (n - ddof)
    return np.sqrt(np.where(n - ddof > 0, var, np.nan))


def nanmedian0(a: np.ndarray) -> np.ndarray:
    """Median along axis 0 ignoring NaN, bit-equal to ``np.nanmedian``:
    the mean of the two middle order statistics of the sorted column."""
    n = np.count_nonzero(~np.isnan(a), axis=0)
    s = np.sort(a, axis=0)                       # NaN sorts last
    lo, hi = (np.take_along_axis(s, np.asarray(i)[None], 0)[0]
              for i in (np.maximum((n - 1) // 2, 0), n // 2))
    return np.where(n > 0, (lo + hi) / 2, np.nan)


def weighted_solve(X: np.ndarray, y: np.ndarray, w: np.ndarray) -> np.ndarray:
    """Weighted least squares per series, ``(X' W_k X) b_k = X' W_k y_k``,
    for X (M, N), y and w (M, K); returns (N, K).  Rows of weight 0 drop
    out exactly (NaN in ``y`` must carry weight 0)."""
    M, N = X.shape
    K = y.shape[1]
    # einsum sums these in row order, except for two single-column
    # operands (K == N == 1), where it switches to a SIMD reduction
    XX = (X[:, :, None] * X[:, None, :]).reshape(M, N * N)
    if N == 1:
        XX = np.repeat(XX, 2, axis=1)
    A = np.einsum("mk,mp->kp", w, XX)[:, :N * N].reshape(K, N, N)
    b = np.einsum("mk,mk,mn->kn", w, np.where(w != 0, y, 0.0), X)
    return solve(A, b[..., None])[..., 0].T


def solve(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Stacked ``np.linalg.solve`` of (K, N, N) by (K, N, R): one LAPACK
    ``gesv`` per system.  A singular system gets the least-squares
    minimum-norm solution instead of failing the whole stack."""
    try:
        return np.linalg.solve(A, B)
    except np.linalg.LinAlgError:
        return np.stack([_solve_one(a, b) for a, b in zip(A, B)])


def _solve_one(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    try:
        return np.linalg.solve(a, b)
    except np.linalg.LinAlgError:
        return np.linalg.lstsq(a, b, rcond=None)[0]


def nanlstsq(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Least-squares solution per series, skipping NaN observations
    (reference ``nrt/stats.py:20-68``): a NaN is a row of weight 0 in
    :func:`weighted_solve`.

    Args:
        X: (M, N) design matrix.
        y: (M, K) matrix of dependent variables (NaN = missing).

    Returns:
        (N, K) float64 array of coefficients.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    return weighted_solve(X, y, (~np.isnan(y)).astype(np.float64))


def mad(resid: np.ndarray, c: float = 0.6745):
    """Median absolute deviation scale estimate per column, NaN ignored
    (reference ``nrt/stats.py:71-86``)."""
    return nanmedian0(np.fabs(resid - nanmedian0(resid))) / c


def bisquare(resid: np.ndarray, c: float = 4.685) -> np.ndarray:
    """Tukey biweight: w = (1-(r/c)^2)^2 where |r|<c else 0 (``nrt/stats.py:89-104``)."""
    return (np.abs(resid) < c) * (1 - (resid / c) ** 2) ** 2


def erfcc(x):
    """Complementary error function, Numerical-Recipes rational approximation
    (same constants as reference ``nrt/stats.py:107-118``), elementwise."""
    z = np.abs(x)
    t = 1.0 / (1.0 + 0.5 * z)
    r = t * np.exp(
        -z * z - 1.26551223 + t * (1.00002368 + t * (0.37409196 + t * (
            0.09678418 + t * (-0.18628806 + t * (0.27886807 + t * (
                -1.13520398 + t * (1.48851587 + t * (-0.82215223 + t * 0.17087277))))))))
    )
    return np.where(x >= 0.0, r, 2.0 - r)


def ncdf(x):
    """Standard normal CDF via ``erfcc`` (reference ``nrt/stats.py:121-127``)."""
    return 1.0 - 0.5 * erfcc(x / (2.0 ** 0.5))


def nan_percentile_axis0(arr: np.ndarray, percentiles) -> np.ndarray:
    """``np.nanpercentile(arr, percentiles, axis=0)`` with the same linear
    interpolation the reference uses (``nrt/stats.py:131-154``); numpy
    evaluates it column by column, so it is batch-invariant as is.  An
    all-NaN column (an unstable series) gives NaN without a warning."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        return np.nanpercentile(arr, np.asarray(percentiles), axis=0)
