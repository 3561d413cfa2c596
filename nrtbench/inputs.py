"""Seeded benchmark inputs, cached on disk outside the timed region.

The series model follows ``nrt_spark.datagen``: a harmonic signal plus
gaussian noise, ~8% NaN gaps and a planted negative break in about half
of the series, quantized to int32 tokens with ``-1`` as the gap token.
On top of that about 1% of the series are degenerate, split evenly
between all-gap, too short to fit and constant.  Doc ids do not depend
on the seed, so every seed fills the engine's hash buckets equally and
the seed moves only the values, gaps, breaks and degenerate picks.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from nrt_spark.tokens import GAP_TOKEN, SCALE, grid_days
from nrt_spark.kernels.regressors import regressors_for_days

N_OBS = 130
#: the first 100 grid dates are history (grid day 99 is 2016-05-10)
N_HISTORY = 100
HISTORY_END = str(np.datetime64(int(grid_days(N_HISTORY)[-1]), "D"))
#: a too-short series keeps fewer valid points than the 1.5 x n_coef a
#: trend + 2-harmonic fit needs (9)
SHORT_LEN = 8
DEGENERATE_SHARE = 0.01


def make_tokens(seed: int, n_series: int) -> pd.DataFrame:
    """Token table ``(doc_id, tokens, n_tok, source)`` for one seed."""
    rng = np.random.default_rng([seed, n_series])
    X = regressors_for_days(grid_days(N_OBS), trend=False, harmonic_order=2)
    beta = np.stack([
        0.3 + 0.4 * rng.random(n_series),
        0.05 + 0.15 * rng.random(n_series),
        -0.05 + 0.1 * rng.random(n_series),
        0.02 * rng.standard_normal(n_series),
        0.02 * rng.standard_normal(n_series),
    ])
    v = X @ beta + 0.02 * rng.standard_normal((N_OBS, n_series))
    has_break = rng.random(n_series) < 0.5
    b_idx = (N_OBS * (0.5 + 0.4 * rng.random(n_series))).astype(int)
    drop = 0.1 + 0.2 * rng.random(n_series)
    after = np.arange(N_OBS)[:, None] >= b_idx[None, :]
    v -= np.where(after & has_break[None, :], drop[None, :], 0.0)
    tok = np.rint(np.clip(v, -3.0, 3.0) * SCALE).astype(np.int32)
    tok[rng.random((N_OBS, n_series)) < 0.08] = GAP_TOKEN

    token_lists = [tok[:, k] for k in range(n_series)]
    n_deg = max(3, int(round(DEGENERATE_SHARE * n_series)))
    deg = rng.choice(n_series, size=n_deg, replace=False)
    for j, k in enumerate(deg):
        kind = j % 3
        if kind == 0:
            token_lists[k] = np.full(N_OBS, GAP_TOKEN, dtype=np.int32)
        elif kind == 1:
            token_lists[k] = token_lists[k][:SHORT_LEN]
        else:
            token_lists[k] = np.full(N_OBS, int(0.5 * SCALE), dtype=np.int32)
    src_u = rng.random(n_series)
    return pd.DataFrame({
        "doc_id": [f"doc{k:07d}" for k in range(n_series)],
        "tokens": token_lists,
        "n_tok": np.array([len(t) for t in token_lists], dtype=np.int32),
        "source": [f"src{int(10 * u ** 3)}" for u in src_u],
    })


#: files per token table: a one-file table would scan as a single Spark
#: task and hide the engine's map-side parallelism
N_FILES = 8


def cached_tokens(cache_dir: Path, seed: int, n_series: int
                  ) -> tuple[str, pd.DataFrame, float, bool]:
    """(parquet dir, table, generation seconds, generated by this call).

    The table is generated and written on the first call for a
    ``(seed, n_series)`` pair and read back afterwards; the returned
    generation time is the one recorded when it was generated.
    """
    cache_dir.mkdir(parents=True, exist_ok=True)
    path = cache_dir / f"tokens-s{seed}-n{n_series}"
    meta = cache_dir / f"tokens-s{seed}-n{n_series}.json"
    if path.is_dir() and meta.exists():
        gen_s = json.loads(meta.read_text())["gen_s"]
        pdf = pq.read_table(path).to_pandas().sort_values("doc_id") \
            .reset_index(drop=True)
        return str(path), pdf, gen_s, False
    t0 = time.perf_counter()
    pdf = make_tokens(seed, n_series)
    tmp = cache_dir / f"tokens-s{seed}-n{n_series}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    for i, part in enumerate(np.array_split(np.arange(n_series), N_FILES)):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[part],
                                            preserve_index=False),
                       tmp / f"part-{i:05d}.parquet")
    shutil.rmtree(path, ignore_errors=True)
    tmp.rename(path)
    gen_s = time.perf_counter() - t0
    meta.write_text(json.dumps({"gen_s": gen_s}))
    return str(path), pdf, gen_s, True
