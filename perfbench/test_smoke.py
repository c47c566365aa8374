"""Smoke test for the benchmark: a tiny-scale run of each workload.

    python3 -m pytest perfbench/test_smoke.py -q

Each run starts its own JVM, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END  # noqa: E402


def bench(*args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["backtest", "live_feed", "index_lifecycle"])
def test_every_metric_printed_and_every_check_passes(workload):
    proc = bench("--workload", workload, "--seed", "3", "--seconds", "3",
                 "--trace", "0", "--scale", "tiny")
    res = result(proc)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    lines = proc.stdout.splitlines()
    assert not [l for l in lines if l.startswith("check FAIL")]
    for name, unit in END_TO_END:
        assert res["metrics"][name]["unit"] == unit
        assert res["metrics"][name]["value"] > 0
        assert any(l.split()[:1] == [name] and l.split()[2:3] == [unit] for l in lines)
    assert "failed_ratio 0 1" in lines


def test_traced_run_writes_spans_for_every_called_module():
    proc = bench("--workload", "backtest", "--seed", "4", "--seconds", "3",
                 "--trace", "1", "--scale", "tiny")
    res = result(proc)
    assert res["correct"]
    metrics = res["metrics"]
    for m in ("operators", "kernels", "streaming"):
        assert metrics[f"{m}.jobs"]["value"] > 0
        assert metrics[f"{m}.span_s"]["unit"] == "s"
    assert metrics["llmops.jobs"]["value"] == 0
    for name in ("ungrouped_jobs", "span_coverage", "tracing_overhead_s"):
        assert name in metrics
    path = os.path.join(ROOT, ".perfbench", "out", "trace-backtest-seed4.json")
    with open(path) as fh:
        spans = json.load(fh)["spans"]
    assert {s["phase"] for s in spans} == {"build", "execute"}


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "backtest", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=str(tmp_path), timeout=60)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
