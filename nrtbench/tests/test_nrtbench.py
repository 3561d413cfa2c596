"""Tests of the benchmark itself: inputs, metric names, the event-log
parser, the tier twin, and a smoke-size run of each workload.

    python3 -m pytest nrtbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
DATA = Path(__file__).resolve().parent / "data"
sys.path.insert(0, str(ROOT))

from nrtbench.inputs import N_OBS, SHORT_LEN, make_tokens  # noqa: E402
from nrtbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from nrtbench.trace import parse_event_log, per_name_medians  # noqa: E402
from nrtbench.workloads import fold_tiers  # noqa: E402
from nrt_spark.tokens import GAP_TOKEN  # noqa: E402


def _bench_json():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_inputs_repeat_for_a_seed_and_differ_across_seeds():
    a, b, c = make_tokens(7, 300), make_tokens(7, 300), make_tokens(8, 300)
    assert a["doc_id"].equals(b["doc_id"])
    assert all(np.array_equal(x, y) for x, y in zip(a["tokens"], b["tokens"]))
    assert not all(np.array_equal(x, y)
                   for x, y in zip(a["tokens"], c["tokens"]))


def test_inputs_carry_each_degenerate_kind():
    pdf = make_tokens(3, 1000)
    lists = list(pdf["tokens"])
    all_gap = sum(bool(np.all(t == GAP_TOKEN)) for t in lists)
    short = sum(len(t) == SHORT_LEN for t in lists)
    constant = sum(len(t) == N_OBS and len(set(t.tolist())) == 1
                   and t[0] != GAP_TOKEN for t in lists)
    assert min(all_gap, short, constant) >= 3
    assert all_gap + short + constant == 10          # 1% of 1000


def test_metric_names_and_units_match_benchmark_json():
    doc = _bench_json()
    assert [(m["name"], m["unit"], m["better"]) for m in doc["end_to_end"]] \
        == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] \
        == PER_LAYER
    assert {w["name"] for w in doc["workloads"]} == {"backfill", "archive"}


def test_event_log_parser_on_a_recorded_log():
    log = parse_event_log(DATA / "eventlog_sample.json")
    spans = json.loads((DATA / "eventlog_sample_spans.json").read_text())
    groups = {j["group"] for j in log["jobs"].values()}
    assert {"py#1", "shuffle#2", ""} <= groups
    rows = per_name_medians(spans, log, nproc=4)
    py, shuffle, outer = rows["py"], rows["shuffle"], rows["outer"]
    assert py["python_bytes_out"] > 0 and py["python_bytes_in"] > 0
    assert shuffle["python_bytes_out"] == 0
    assert shuffle["shuffle_write_bytes"] > 0
    # a span's totals cover the spans nested in it, and nothing else
    assert outer["tasks"] == py["tasks"] + shuffle["tasks"]
    assert outer["executor_cpu_s"] == pytest.approx(
        py["executor_cpu_s"] + shuffle["executor_cpu_s"])
    for r in rows.values():
        assert 0 < r["busy_share"] <= 1
        assert r["task_skew"] >= 1
        assert 0 <= r["driver_gap_s"] <= r["wall_s"]


def test_fold_tiers_on_a_hand_built_series():
    # grid days from 2015-01-01 every 5 days: Jan 1, 6, 11, 16, 21, 26, 31
    toks = np.array([1000, GAP_TOKEN, 3000, 5000, 2000, 4000, 6000],
                    dtype=np.int32)
    pdf = pd.DataFrame({"doc_id": ["a"], "tokens": [toks],
                        "n_tok": [len(toks)]})
    tiers = fold_tiers(pdf)
    day = tiers["day"]
    assert list(day["n"]) == [1, 0, 1, 1, 1, 1, 1]
    assert np.isnan(day["mean"][1])
    month = tiers["month"]
    assert len(month) == 1 and month["n"][0] == 6
    assert month["mean"][0] == (0.1 + 0.3 + 0.5 + 0.2 + 0.4 + 0.6) / 6
    assert month["last"][0] == 0.6 and month["vmin"][0] == 0.1
    # ISO weeks: Jan 1 (Thu) -> Dec 29; Jan 6 -> Jan 5; 11 -> 5; 16 -> 12 ...
    week = tiers["week"]
    assert list(week["n"]) == [1, 1, 1, 1, 2]
    assert week["mean"].iloc[-1] == (0.4 + 0.6) / 2


@pytest.mark.parametrize("workload,trace", [("backfill", 0), ("archive", 1)])
def test_smoke_run_end_to_end(workload, trace):
    out = subprocess.run(
        [sys.executable, "nrtbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    doc = _bench_json()
    want = doc["per_layer"] if trace else doc["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
    for m in doc["end_to_end"] if not trace else []:
        assert result["metrics"][m["name"]]["value"] > 0
