"""Shared fixtures.

Golden fixtures are loaded read-only from the reference checkout at
/root/reference (R/statsmodels-derived CSVs); tests that need them are
skipped when the reference tree is absent.  A single local[4] Spark
session is shared across the suite.
"""

from __future__ import annotations

import os
from pathlib import Path

# Pin BLAS to one thread before numpy loads it: OpenBLAS reads these
# once, at load time, so setting them later (e.g. in a fixture) leaves
# the in-process oracles running multi-threaded BLAS.
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")

import numpy as np  # noqa: E402
import pytest  # noqa: E402

REF_DATA = Path("/root/reference/tests/unit_tests/data")

# The IVF oracle generator (queries._ivf_topk_sql) trains its quantizer
# twin from the parquet at $NRT_TEST_SF_DIR; pin it to the suite's scale
# BEFORE any test module renders + caches the lazy oracle SQL.
os.environ.setdefault("NRT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Skip the session factory's one-time runtime bootstrap (Python daemon
# + codegen warm-up jobs) in unit tests: the suite creates several
# fresh sessions and the warm-up would add seconds to each for paths
# the tests exercise anyway.  test_session_warmup opts back in.
os.environ.setdefault("NRT_SESSION_WARMUP", "0")

requires_reference = pytest.mark.skipif(
    not REF_DATA.exists(), reason="reference golden CSVs not available")


@pytest.fixture(scope="session")
def ref_data_dir():
    if not REF_DATA.exists():
        pytest.skip("reference golden CSVs not available")
    return REF_DATA


@pytest.fixture(scope="session")
def romania(ref_data_dir):
    """(X, y, dates): 135-obs x 5-series real fixture used by the reference
    golden tests (reference tests/unit_tests/conftest.py:73-81)."""
    X = np.loadtxt(ref_data_dir / "X.csv", delimiter=",", dtype=np.float64)
    y = np.loadtxt(ref_data_dir / "y.csv", delimiter=",", dtype=np.float64)
    dates = np.genfromtxt(ref_data_dir / "dates.csv", delimiter=",").astype(
        "datetime64[ns]")
    return X, y, dates


@pytest.fixture(scope="session")
def spark():
    from nrt_spark.session import get_spark

    spark = get_spark(cores=4, app_name="nrt_spark_tests",
                      shuffle_partitions=8)
    yield spark
    spark.stop()
