"""Failure-path pins from the round-2 review: the upsert sink's swap
must survive a crash between its two renames, and connected
components must refuse to return silently-split labels."""

import os

import pytest

from tastytrade_sdk_spark.streaming.sinks import upsert_parquet_batch


def _df(spark, rows):
    return spark.createDataFrame(rows, "sym string, seq int, px double")


def test_upsert_recovers_from_crash_between_renames(spark, tmp_path):
    path = str(tmp_path / "latest")
    upsert_parquet_batch(
        _df(spark, [("A", 1, 10.0), ("B", 1, 5.0)]), path, ["sym"], ["seq"]
    )
    # simulate a writer that died between rename(path, old) and
    # rename(tmp, path): the full table sits under .__old, path gone
    os.rename(path, path + ".__old")
    assert not os.path.exists(path)
    # the replayed batch must RESTORE the backup before merging, so
    # earlier keys (B) survive
    upsert_parquet_batch(_df(spark, [("A", 2, 11.0)]), path, ["sym"], ["seq"])
    snap = {r["sym"]: r["px"] for r in spark.read.parquet(path).collect()}
    assert snap == {"A": 11.0, "B": 5.0}
    assert not os.path.exists(path + ".__old")
    assert not os.path.exists(path + ".__tmp")


def test_upsert_rejects_mismatched_batch_before_writing(spark, tmp_path):
    """A batch whose column set differs from the table's raises before
    anything is written: the table's files stay as they were."""
    path = str(tmp_path / "latest")
    upsert_parquet_batch(
        _df(spark, [("A", 1, 10.0), ("B", 1, 5.0)]), path, ["sym"], ["seq"]
    )
    before = {
        f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    }
    other = spark.createDataFrame([("A", 2, 11.0)], "sym string, seq int, bid double")
    with pytest.raises(Exception, match="(?i)bid|px"):
        upsert_parquet_batch(other, path, ["sym"], ["seq"])
    assert {
        f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    } == before
    assert not os.path.exists(path + ".__tmp")
    snap = {r["sym"]: r["px"] for r in spark.read.parquet(path).collect()}
    assert snap == {"A": 10.0, "B": 5.0}


def test_connected_components_raises_on_non_convergence(spark):
    from tastytrade_sdk_spark.llmops.cluster import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a int, doc_b int"
    )
    # force the DISTRIBUTED min-label path (the driver union-find path
    # always converges exactly, and the r11 default big-graph path is
    # star contraction whose round count is O(log n) by construction —
    # non-convergence is a min-label-only concern)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            chain, max_iters=2, small_graph_edges=0, algorithm="minlabel"
        )
    # non-strict mode still returns (documented-partial) labels
    out = connected_components(
        chain, max_iters=2, strict=False, small_graph_edges=0,
        algorithm="minlabel",
    )
    assert out.count() == 13
    # and enough rounds converge the same chain fully
    ok = connected_components(
        chain, max_iters=20, small_graph_edges=0, algorithm="minlabel"
    )
    assert {r["component"] for r in ok.collect()} == {0}
    # the r11 default distributed path (star contraction) converges the
    # same chain regardless of diameter
    star = connected_components(chain, small_graph_edges=0)
    assert {r["component"] for r in star.collect()} == {0}
    # the small-graph union-find path agrees with the converged loop
    uf = connected_components(chain)
    assert {r["component"] for r in uf.collect()} == {0}
