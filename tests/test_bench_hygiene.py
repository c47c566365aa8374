"""Bench measurement-hygiene unit tests (r9): the median prior must
resist both tails, fall back sensibly, and never resurrect the
BENCH_BEST min-ratchet as a challenge reference (the r8 advisor
finding that let a memo-contaminated 0.079s become a permanent
prior)."""

import importlib.util
import json
import sys
from pathlib import Path


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", Path(__file__).resolve().parent.parent / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_robust_prior_is_median_over_history(tmp_path):
    bench = _load_bench()
    hist = {
        "runs": [
            {"sf": 0.1, "queries": {"q1": 1.0, "q2": 9.0}},
            {"sf": 0.1, "queries": {"q1": 2.0, "q2": 2.0}},
            # one stalled round must not inflate the prior...
            {"sf": 0.1, "queries": {"q1": 60.0, "q2": 2.2}},
        ]
    }
    (tmp_path / "BENCH_HISTORY.json").write_text(json.dumps(hist))
    prior = bench._robust_prior(str(tmp_path))
    assert prior["q1"] == 2.0  # median, not min(1.0) nor the 60s stall
    assert prior["q2"] == 2.2
    # ...and one anomalously-fast round must not deflate it either
    hist["runs"].append({"sf": 0.1, "queries": {"q1": 0.05}})
    (tmp_path / "BENCH_HISTORY.json").write_text(json.dumps(hist))
    prior = bench._robust_prior(str(tmp_path))
    assert prior["q1"] == 1.5  # median of [1.0, 2.0, 60.0, 0.05]


def test_robust_prior_window_is_bounded(tmp_path):
    bench = _load_bench()
    runs = [
        {"sf": 0.1, "queries": {"q": float(i)}} for i in range(1, 11)
    ]
    (tmp_path / "BENCH_HISTORY.json").write_text(
        json.dumps({"runs": runs})
    )
    # only the last 5 runs (6..10) enter the median
    assert bench._robust_prior(str(tmp_path))["q"] == 8.0


def test_robust_prior_falls_back_for_unseen_queries(tmp_path):
    bench = _load_bench()
    (tmp_path / "BENCH_HISTORY.json").write_text(
        json.dumps({"runs": [{"sf": 0.1, "queries": {"q1": 3.0}}]})
    )
    (tmp_path / "BENCH_LOCAL.json").write_text(
        json.dumps({"queries": {"q1": 99.0, "q_new": 4.0}})
    )
    (tmp_path / "BENCH_BEST.json").write_text(
        json.dumps({"queries": {"q1": 0.01, "q_new": 0.01, "q_old": 7.0}})
    )
    prior = bench._robust_prior(str(tmp_path))
    # history wins over both fallbacks; LOCAL wins over BEST's ratchet;
    # BEST only fills queries nothing newer has seen
    assert prior["q1"] == 3.0
    assert prior["q_new"] == 4.0
    assert prior["q_old"] == 7.0


def test_robust_prior_empty_repo_is_empty(tmp_path):
    bench = _load_bench()
    assert bench._robust_prior(str(tmp_path)) == {}
