"""``sinks.dir_commit``: the one directory commit of every sink, store,
compaction and index rebuild.

The pure-filesystem cases exercise the primitive itself (the three
states a crash can leave, a raising body, a concurrent writer) without
Spark. The Spark cases pin its callers: crashes between the two
renames, failed rebuilds that must leave the previous index
searchable, the partitioned-root refusal of ``compact_parquet_table``,
and a source scan that keeps the swap in one place."""

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
from tastytrade_sdk_spark.llmops import retrieval, similarity
from tastytrade_sdk_spark.streaming import sinks
from tastytrade_sdk_spark.streaming.sinks import (
    dir_commit,
    readable_store_path,
)


def _tree(root: str) -> dict:
    """{relative path: bytes} of every file under ``root``."""
    out = {}
    for base, _, names in os.walk(root):
        for n in names:
            full = os.path.join(base, n)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, root)] = fh.read()
    return out


def _put(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


# ---------------- the primitive, no Spark ----------------


def test_commit_swaps_in_new_contents(tmp_path):
    path = str(tmp_path / "t")
    _put(os.path.join(path, "a.parquet"), "old")
    with dir_commit(path) as tmp:
        assert not os.path.exists(tmp)
        _put(os.path.join(tmp, "b.parquet"), "new")
    assert _tree(path) == {"b.parquet": b"new"}
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_only_old_present_is_restored(tmp_path):
    """Crash between the renames: ``.__old`` is the only copy."""
    path = str(tmp_path / "t")
    _put(os.path.join(path + ".__old", "a.parquet"), "only copy")
    with dir_commit(path) as tmp:
        assert _tree(path) == {"a.parquet": b"only copy"}
        _put(os.path.join(tmp, "a.parquet"), "next")
    assert _tree(path) == {"a.parquet": b"next"}
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_stale_tmp_is_cleaned(tmp_path):
    """Crash while writing: the half-written ``.__tmp`` never commits."""
    path = str(tmp_path / "t")
    _put(os.path.join(path, "a.parquet"), "live")
    _put(os.path.join(path + ".__tmp", "torn.parquet"), "torn")
    with dir_commit(path) as tmp:
        assert not os.path.exists(tmp)
        _put(os.path.join(tmp, "b.parquet"), "new")
    assert _tree(path) == {"b.parquet": b"new"}
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_path_and_old_present_keeps_path(tmp_path):
    """Crash after the second rename: ``path`` is the new contents and
    ``.__old`` the stale ones, which are dropped."""
    path = str(tmp_path / "t")
    _put(os.path.join(path, "a.parquet"), "new")
    _put(os.path.join(path + ".__old", "a.parquet"), "stale")
    with dir_commit(path):
        assert _tree(path) == {"a.parquet": b"new"}
        assert not os.path.exists(path + ".__old")
    assert _tree(path) == {"a.parquet": b"new"}
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_raising_body_leaves_path_byte_identical(tmp_path):
    path = str(tmp_path / "t")
    _put(os.path.join(path, "a.parquet"), "live")
    _put(os.path.join(path, "k=1", "b.parquet"), "nested")
    _put(os.path.join(path, "_epoch"), "3")
    before = _tree(path)
    with pytest.raises(ValueError, match="boom"):
        with dir_commit(path) as tmp:
            _put(os.path.join(tmp, "a.parquet"), "half")
            raise ValueError("boom")
    assert _tree(path) == before
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_nested_file_appearing_aborts(tmp_path):
    """A concurrent writer's file, even in a partition directory, must
    abort the commit: swapping would delete it with ``.__old``."""
    path = str(tmp_path / "t")
    _put(os.path.join(path, "k=1", "a.parquet"), "live")
    with pytest.raises(RuntimeError, match="changed during .*aborted.*untouched"):
        with dir_commit(path) as tmp:
            _put(os.path.join(tmp, "k=1", "a.parquet"), "rewritten")
            _put(os.path.join(path, "k=2", "late.parquet"), "concurrent")
    assert _tree(path) == {
        os.path.join("k=1", "a.parquet"): b"live",
        os.path.join("k=2", "late.parquet"): b"concurrent",
    }
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_body_that_writes_nothing_commits_nothing(tmp_path):
    path = str(tmp_path / "t")
    _put(os.path.join(path, "a.parquet"), "live")
    with dir_commit(path):
        pass
    assert _tree(path) == {"a.parquet": b"live"}
    with dir_commit(str(tmp_path / "never")):
        pass
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_readers_see_old_in_the_rename_gap(tmp_path):
    path = str(tmp_path / "t")
    assert readable_store_path(path) is None
    _put(os.path.join(path + ".__old", "a.parquet"), "only copy")
    assert readable_store_path(path) == path + ".__old"
    with dir_commit(path):
        pass
    assert readable_store_path(path) == path


# ---------------- single-primitive source guard ----------------

PKG = Path(tastytrade_sdk_spark.__file__).parent
# the primitive: its name constants, its entry half and the commit
PRIMITIVE = {"_repair", "dir_commit", None}
# a race-to-publish cache with its own protocol (one rename, no swap)
OWN_PROTOCOL = {"plans/_fixture.py"}


def _swap_offenders() -> list:
    offenders: list = []

    def visit(node, rel, func):
        for child in ast.iter_child_nodes(node):
            inner = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            home = rel == "streaming/sinks.py" and func in PRIMITIVE
            where = f"{rel}:{getattr(child, 'lineno', '?')}"
            if (
                isinstance(child, ast.Constant)
                and child.value in (".__old", ".__tmp")
                and not home
            ):
                offenders.append(f"{where} {child.value!r}")
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "rename"
                and not home
                and rel not in OWN_PROTOCOL
            ):
                offenders.append(f"{where} rename")
            visit(child, rel, inner)

    for f in sorted(PKG.rglob("*.py")):
        rel = f.relative_to(PKG).as_posix()
        visit(ast.parse(f.read_text()), rel, None)
    return offenders


def test_directory_swap_lives_only_in_dir_commit():
    assert _swap_offenders() == []


# ---------------- callers: crash between the renames ----------------

CORPUS = [
    (i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(3 + i % 4)))
    for i in range(20)
]
OTHER = [(100 + i, f"z{i} z{i + 1} w1") for i in range(5)]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def test_bm25_compact_heals_crash_between_renames(spark, tmp_path):
    idx = str(tmp_path / "idx")
    docs = _docs(spark, CORPUS)
    retrieval.bm25_index_stream_batch(
        docs.filter(F.col("doc_id") < 10), idx, 0, n_buckets=8
    )
    retrieval.bm25_index_stream_batch(
        docs.filter(F.col("doc_id") >= 10), idx, 1, n_buckets=8
    )
    q = docs.filter(F.col("doc_id") < 3)
    want = _rows(retrieval.bm25_index_topk(spark, idx, q, k=4))
    os.rename(idx, idx + ".__old")  # compactor died between its renames
    assert retrieval.bm25_index_compact(spark, idx)["n_docs"] == 20
    assert not os.path.exists(idx + ".__old")
    assert _rows(retrieval.bm25_index_topk(spark, idx, q, k=4)) == want


def test_additive_store_heals_crash_between_renames(spark, tmp_path):
    path = str(tmp_path / "agg")
    batch = spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], "k string, v long"
    )
    sinks.additive_agg_batch(batch, path, ["k"], ["v"], epoch_id=0)
    os.rename(path, path + ".__old")  # store renamed away, no new one
    sinks.additive_agg_batch(batch, path, ["k"], ["v"], epoch_id=1)
    sinks.additive_agg_batch(batch, path, ["k"], ["v"], epoch_id=1)  # replay
    assert _rows(spark.read.parquet(path)) == [("a", 8, 4), ("b", 4, 2)]
    assert sinks.committed_epoch(path) == 1
    assert not os.path.exists(path + ".__old")


def test_clustered_stats_sidecar_heals_crash_between_renames(spark, tmp_path):
    from tastytrade_sdk_spark.sources.skipping import (
        STATS_SUFFIX,
        append_clustered,
        pruned_file_plan,
        read_pruned,
        write_clustered,
    )

    path = str(tmp_path / "clustered")
    write_clustered(
        spark.range(400).withColumnRenamed("id", "k"), path, ["k"], n_files=4
    )
    sidecar = path + STATS_SUFFIX
    os.rename(sidecar, sidecar + ".__old")  # sidecar swap died mid-way
    append_clustered(
        spark.range(400, 500).withColumnRenamed("id", "k"), path, ["k"]
    )
    assert not os.path.exists(sidecar + ".__old")
    # the restored sidecar was extended, not re-seeded: it describes
    # every data file, so the pruned plan is usable and prunes
    files, total = pruned_file_plan(spark, path, "k", 100, 150)
    assert total == 5 and len(files) < total
    assert read_pruned(spark, path, "k", 100, 150).count() == 51


# ---------------- callers: compaction ----------------


def test_compact_refuses_partitioned_root(spark, tmp_path):
    """Compacting a partitioned root flattened its ``sym=`` directories
    into root files the next partitioned append made invisible (30 rows
    read back as 10). It must refuse and leave the table as it was."""
    path = str(tmp_path / "parted")
    for i in range(3):
        (
            spark.range(i * 10, i * 10 + 10)
            .withColumn("sym", F.lit(f"S{i % 2}"))
            .write.mode("append")
            .partitionBy("sym")
            .parquet(path)
        )
    before = _tree(path)
    with pytest.raises(ValueError, match="compact each partition directory"):
        sinks.compact_parquet_table(spark, path)
    assert _tree(path) == before
    assert spark.read.parquet(path).count() == 30
    assert sorted(os.listdir(tmp_path)) == ["parted"]


def test_partition_commit_siblings_stay_out_of_the_root(
    spark, tmp_path, monkeypatch
):
    """Compacting one partition directory (``root/list_id=0``, as the
    IVF index's per-list maintenance does) puts the commit's siblings
    inside the partitioned root. Partition discovery must never list
    them: a stale ``list_id=0.__old`` left by a crash before its
    delete read back as 40 rows with ``list_id`` widened to string,
    and an explicit int schema failed with INVALID_PARTITION_VALUE. A
    crash between the two renames still heals on the next commit."""
    import shutil

    root = str(tmp_path / "ivf")
    (
        spark.range(30)
        .withColumn("list_id", (F.col("id") % 3).cast("int"))
        .write.partitionBy("list_id")
        .parquet(root)
    )
    part = os.path.join(root, "list_id=0")
    tmp, old = sinks._siblings(part)

    def reads(n):
        inferred = spark.read.parquet(root)
        footer = spark.read.schema(sinks._footer_schema(root)).parquet(root)
        for df in (inferred, footer):
            assert dict(df.dtypes)["list_id"] == "int"
            assert df.count() == n

    # crash after the second rename, before the delete: a stale old
    # copy beside the committed partition
    real_rmtree = shutil.rmtree

    def crash_before_delete(p, *a, **kw):
        if p == old:
            raise OSError("crash")
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", crash_before_delete)
    with pytest.raises(OSError, match="crash"):
        sinks.compact_parquet_table(spark, part)
    monkeypatch.undo()
    assert os.path.isdir(old)
    reads(30)

    # crash between the renames: the partition exists only as the old
    # copy (a reader of the root misses it until the next commit)
    real_rename = os.rename

    def crash_between_renames(src, dst):
        if src == tmp:
            raise OSError("crash")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_between_renames)
    with pytest.raises(OSError, match="crash"):
        sinks.compact_parquet_table(spark, part)
    monkeypatch.undo()
    assert not os.path.exists(part) and os.path.isdir(old)
    reads(20)
    sinks.compact_parquet_table(spark, part)
    assert not os.path.exists(old) and not os.path.exists(tmp)
    reads(30)


def test_compact_abort_leaves_table_without_stale_sidecar(
    spark, tmp_path, monkeypatch
):
    """The stale stats sidecar is removed before the commit's abort
    check, so an aborted compaction leaves the table with no sidecar:
    the full-scan state, which reads correctly."""
    from tastytrade_sdk_spark.sources.skipping import (
        STATS_SUFFIX,
        read_pruned,
        write_clustered,
    )

    path = str(tmp_path / "clustered")
    write_clustered(
        spark.range(300).withColumnRenamed("id", "k"), path, ["k"], n_files=4
    )
    files_before = sinks.parquet_files(path)
    real_listing = sinks.parquet_files

    def racy_listing(p):
        out = real_listing(p)
        if str(p) == path and os.path.exists(path + ".__tmp"):
            out = out + ["part-99999-phantom.snappy.parquet"]
        return out

    monkeypatch.setattr(sinks, "parquet_files", racy_listing)
    with pytest.raises(RuntimeError, match="changed during compaction"):
        sinks.compact_parquet_table(spark, path)
    monkeypatch.undo()
    assert sinks.parquet_files(path) == files_before
    assert not os.path.exists(path + STATS_SUFFIX)
    assert not os.path.exists(path + ".__tmp")
    assert read_pruned(spark, path, "k", 100, 200).count() == 101


# ---------------- callers: failed rebuilds keep the previous index ----------------


def _vectors(spark, n, seed, first_id=0, dim=8):
    rng = np.random.default_rng(seed)
    rows = [
        (first_id + i, [float(x) for x in rng.standard_normal(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _bm25_case(spark, path):
    def build(rows, n_buckets):
        retrieval.bm25_index_write(_docs(spark, rows), path, n_buckets=n_buckets)

    q = _docs(spark, CORPUS[:2])
    return (
        retrieval,
        lambda: build(CORPUS, 8),
        lambda: build(OTHER, 4),
        lambda: retrieval.bm25_index_topk(spark, path, q, k=4),
    )


def _ivf_case(spark, path):
    cent = similarity.axis_centroids(4, 8)

    def build(vecs):
        similarity.ivf_index_write(vecs, path, cent)

    q = _vectors(spark, 4, seed=9).withColumnRenamed("vec_id", "query_id")
    return (
        similarity,
        lambda: build(_vectors(spark, 40, seed=3)),
        lambda: build(_vectors(spark, 10, seed=5, first_id=1000)),
        lambda: similarity.ivf_index_topk(spark, path, q, cent, k=3),
    )


@pytest.mark.parametrize("case", [_bm25_case, _ivf_case], ids=["bm25", "ivf"])
def test_failed_rebuild_keeps_previous_index(spark, tmp_path, monkeypatch, case):
    """The last commit step of a rebuild (the stats / digest stamp)
    raises: the previous index must answer exactly as before, with no
    mixed-generation postings and no lost digest."""
    path = str(tmp_path / "idx")
    module, build, rebuild, search = case(spark, path)
    build()
    want = _rows(search())
    assert want

    def boom(*a, **kw):
        raise OSError("injected stamp failure")

    monkeypatch.setattr(module, "atomic_write", boom)
    with pytest.raises(OSError, match="injected stamp failure"):
        rebuild()
    monkeypatch.undo()
    assert _rows(search()) == want
    assert sorted(os.listdir(tmp_path)) == ["idx"]


def test_knn_graph_overlapped_write_failure_keeps_previous_index(
    spark, tmp_path, monkeypatch
):
    """One of the three overlapped table writes raises while the
    others run: no helper thread outlives the call, no ``tmp`` is
    left, and the previous graph index answers identically."""
    path = str(tmp_path / "g")
    cent = similarity.axis_centroids(4, 8)
    q = _vectors(spark, 4, seed=9).withColumnRenamed("vec_id", "query_id")
    kw = dict(k=4, rounds=1, rev_cap=4)
    similarity.knn_graph_index_write(_vectors(spark, 40, seed=3), path, cent, **kw)
    want = _rows(similarity.knn_graph_index_search(spark, path, q, cent, k=3))
    assert want

    real = DataFrameWriter.parquet
    writers: list = []

    def fake(self, p, *args, **kwargs):
        if os.path.basename(str(p).rstrip("/")) == "entry":
            writers.append(threading.current_thread())
            time.sleep(0.5)  # fail while the other writes are running
            raise RuntimeError("injected entry failure")
        return real(self, p, *args, **kwargs)

    baseline = threading.active_count()
    monkeypatch.setattr(DataFrameWriter, "parquet", fake)
    with pytest.raises(RuntimeError, match="injected entry failure"):
        similarity.knn_graph_index_write(
            _vectors(spark, 30, seed=5, first_id=1000), path, cent, **kw
        )
    monkeypatch.undo()
    assert writers and not any(t.is_alive() for t in writers)
    assert threading.active_count() == baseline
    assert sorted(os.listdir(tmp_path)) == ["g"]
    assert _rows(
        similarity.knn_graph_index_search(spark, path, q, cent, k=3)
    ) == want
