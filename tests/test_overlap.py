"""The two concurrency/commit primitives: ``session.overlap`` (the one
way to run driver jobs concurrently) and ``sinks.atomic_write`` (the
one single-file sidecar commit).

Covers the failure path (no helper thread outlives a raising call, and
every injected error is visible on the raised one), job-group
inheritance into helper threads, the dynamic-partition-overwrite
assumption the concurrent epoch folds rest on, and a source scan that
keeps both primitives the only ones in the package."""

import ast
import os
import threading
import time
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

import tastytrade_sdk_spark
from tastytrade_sdk_spark.llmops.retrieval import (
    bm25_index_append,
    bm25_index_write,
)
from tastytrade_sdk_spark.llmops.similarity import (
    axis_centroids,
    knn_graph_index_write,
)
from tastytrade_sdk_spark.session import overlap
from tastytrade_sdk_spark.streaming.sinks import atomic_write

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a quick brown dog outpaces a lazy fox"),
    (3, "spark streams ticks into candles"),
    (4, "lazy candles and quick ticks"),
]
MORE_DOCS = [
    (5, "brown ticks jump over spark"),
    (6, "the dog streams candles"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vectors(spark, n=40, dim=8, seed=3):
    rng = np.random.default_rng(seed)
    rows = [
        (i, [float(x) for x in rng.standard_normal(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# ---------------- overlap: the primitive itself ----------------


def test_overlap_returns_results_in_order(spark):
    main = threading.current_thread()
    out = overlap(
        lambda: threading.current_thread() is main,
        lambda: threading.current_thread() is main,
        lambda: 3,
    )
    assert out == [True, False, 3]


def test_overlap_joins_helpers_and_attaches_later_errors(spark):
    helpers = []

    def fail():
        raise ValueError("main")

    def slow_fail():
        helpers.append(threading.current_thread())
        time.sleep(0.5)
        raise KeyError("helper")

    baseline = threading.active_count()
    with pytest.raises(ValueError, match="main") as ei:
        overlap(fail, slow_fail)
    assert helpers and not helpers[0].is_alive()
    assert threading.active_count() == baseline
    assert any("KeyError('helper')" in n for n in ei.value.__notes__)


# ---------------- failure path of the converted index writers ----------------


@pytest.fixture
def inject(monkeypatch):
    """Make the ``main`` table's parquet write raise at once and the
    ``helper`` table's write raise ~0.5 s later (after the main error
    has already fired), so a writer that does not join its helper
    before re-raising is caught with the helper still running."""

    def _inject(main: str, helper: str) -> list:
        real = DataFrameWriter.parquet
        main_failed = threading.Event()
        helpers: list = []

        def fake(self, path, *args, **kwargs):
            leaf = os.path.basename(str(path).rstrip("/"))
            if leaf == main:
                main_failed.set()
                raise RuntimeError(f"injected {main} failure")
            if leaf == helper:
                helpers.append(threading.current_thread())
                main_failed.wait(timeout=60)
                time.sleep(0.5)
                raise RuntimeError(f"injected {helper} failure")
            return real(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", fake)
        return helpers

    return _inject


def _assert_drained(exc_info, helpers, baseline, helper):
    assert helpers, "the call raised before its helper write ran"
    assert not any(t.is_alive() for t in helpers)
    assert threading.active_count() == baseline
    notes = "\n".join(getattr(exc_info.value, "__notes__", []))
    assert f"injected {helper} failure" in notes


def test_bm25_write_failure_joins_postings_writer(spark, tmp_path, inject):
    helpers = inject("doclen", "postings")
    baseline = threading.active_count()
    with pytest.raises(RuntimeError, match="injected doclen failure") as ei:
        bm25_index_write(_docs(spark, DOCS), str(tmp_path / "idx"), n_buckets=4)
    _assert_drained(ei, helpers, baseline, "postings")


def test_bm25_append_failure_joins_postings_writer(spark, tmp_path, inject):
    path = str(tmp_path / "idx")
    bm25_index_write(_docs(spark, DOCS), path, n_buckets=4)
    helpers = inject("doclen", "postings")
    baseline = threading.active_count()
    with pytest.raises(RuntimeError, match="injected doclen failure") as ei:
        bm25_index_append(_docs(spark, MORE_DOCS), path)
    _assert_drained(ei, helpers, baseline, "postings")


def test_knn_graph_write_failure_joins_table_writers(spark, tmp_path, inject):
    helpers = inject("edges", "units")
    baseline = threading.active_count()
    with pytest.raises(RuntimeError, match="injected edges failure") as ei:
        knn_graph_index_write(
            _vectors(spark), str(tmp_path / "g"), axis_centroids(4, 8),
            k=4, rounds=1, rev_cap=4,
        )
    _assert_drained(ei, helpers, baseline, "units")


# ---------------- job-group inheritance ----------------


def test_index_writes_keep_caller_job_group(spark, tmp_path):
    """Every job an overlapped index write submits — from the calling
    thread or a helper — carries the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    docs, more, vecs = (
        _docs(spark, DOCS), _docs(spark, MORE_DOCS), _vectors(spark)
    )
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "overlap job-group test")
    try:
        path = str(tmp_path / "bm25")
        bm25_index_write(docs, path, n_buckets=4)
        bm25_index_append(more, path)
        knn_graph_index_write(
            vecs, str(tmp_path / "g"), axis_centroids(4, 8),
            k=4, rounds=1, rev_cap=4,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("g")
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


# ---------------- the concurrent epoch-fold assumption ----------------


def test_concurrent_epoch_folds_survive(spark, tmp_path):
    """The plans' concurrent epoch folds rely on Spark's default file
    commit protocol giving each dynamic-overwrite job its own staging
    dir: overlapped writes into disjoint ``epoch=`` partitions of ONE
    root must all survive. A custom committer would void that."""
    assert spark.conf.get("spark.sql.sources.commitProtocolClass") == (
        "org.apache.spark.sql.execution.datasources."
        "SQLHadoopMapReduceCommitProtocol"
    )
    root = str(tmp_path / "folds")

    def fold(ep: int):
        (
            spark.range(ep * 100, ep * 100 + 100)
            .withColumn("epoch", F.lit(ep))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(root)
        )

    overlap(*(lambda ep=ep: fold(ep) for ep in range(3)))
    got = spark.read.parquet(root).groupBy("epoch").count().collect()
    assert {r["epoch"]: r["count"] for r in got} == {0: 100, 1: 100, 2: 100}


# ---------------- atomic_write ----------------


def test_atomic_write_replaces_and_leaves_no_temp(tmp_path):
    target = tmp_path / "_stats.json"
    atomic_write(str(target), "one")
    atomic_write(str(target), "two")
    assert target.read_text() == "two"
    assert os.listdir(tmp_path) == ["_stats.json"]


# ---------------- single-primitive source guard ----------------

PKG = Path(tastytrade_sdk_spark.__file__).parent
THREAD_OK = {"sources/socket_source.py"}


def _call_name(node: ast.Call) -> str:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")


def _scan():
    """(defs, offenders): where overlap/atomic_write are defined, and
    every thread construction or mkstemp outside its one home."""
    defs: dict = {"overlap": [], "atomic_write": []}
    offenders: list = []

    def visit(node, rel, func):
        for child in ast.iter_child_nodes(node):
            inner = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
                if child.name in defs:
                    defs[child.name].append(rel)
            if isinstance(child, ast.Call):
                name, where = _call_name(child), f"{rel}:{child.lineno}"
                if name == "Thread" and rel not in THREAD_OK:
                    offenders.append(f"{where} threading.Thread")
                if name == "InheritableThread" and func != "overlap":
                    offenders.append(f"{where} InheritableThread")
                if name == "mkstemp" and func != "atomic_write":
                    offenders.append(f"{where} mkstemp")
            visit(child, rel, inner)

    for f in sorted(PKG.rglob("*.py")):
        rel = f.relative_to(PKG).as_posix()
        visit(ast.parse(f.read_text()), rel, None)
    return defs, offenders


def test_single_overlap_and_atomic_write_primitives():
    defs, offenders = _scan()
    assert defs == {
        "overlap": ["session.py"],
        "atomic_write": ["streaming/sinks.py"],
    }
    assert offenders == []
