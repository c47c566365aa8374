"""File-level min/max data skipping (sources/skipping.py)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tastytrade_sdk_spark.sources.skipping import (
    STATS_SUFFIX,
    pruned_file_plan,
    read_pruned,
    write_clustered,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def clustered_events(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/orders.parquet")  # o_orderkey bigint keys
    path = str(tmp_path / "orders")
    write_clustered(ev, path, ["o_orderkey"], n_files=8)
    return ev, path


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestPrunedRead:
    def test_equals_plain_filter(self, spark, clustered_events):
        ev, path = clustered_events
        lo, hi = 100, 900
        got = read_pruned(spark, path, "o_orderkey", lo, hi)
        want = ev.filter(F.col("o_orderkey").between(lo, hi))
        assert _sorted_rows(got.select(*sorted(got.columns))) == _sorted_rows(
            want.select(*sorted(want.columns))
        )

    def test_actually_prunes_files(self, spark, clustered_events):
        _, path = clustered_events
        files, total = pruned_file_plan(spark, path, "o_orderkey", 100, 900)
        assert total == 8
        # a narrow range over a range-clustered key must drop files
        assert 0 < len(files) < total
        # and the pruned scan's inputs are exactly the surviving files
        # (normalize inputFiles' URI form to the plan's plain paths)
        from urllib.parse import unquote, urlparse

        got = read_pruned(spark, path, "o_orderkey", 100, 900)
        got_paths = {unquote(urlparse(u).path) for u in got.inputFiles()}
        assert got_paths <= set(files)

    def test_empty_range(self, spark, clustered_events):
        ev, path = clustered_events
        top = ev.agg(F.max("o_orderkey")).first()[0]
        got = read_pruned(spark, path, "o_orderkey", top + 1, top + 1000)
        assert got.count() == 0
        files, total = pruned_file_plan(
            spark, path, "o_orderkey", top + 1, top + 1000
        )
        assert files == []

    def test_full_range_keeps_everything(self, spark, clustered_events):
        ev, path = clustered_events
        got = read_pruned(spark, path, "o_orderkey", -(10**9), 10**12)
        assert got.count() == ev.count()

    def test_missing_sidecar_falls_back(self, spark, clustered_events):
        ev, path = clustered_events
        shutil.rmtree(path + STATS_SUFFIX)
        assert pruned_file_plan(spark, path, "o_orderkey", 100, 900) is None
        got = read_pruned(spark, path, "o_orderkey", 100, 900)
        want = ev.filter(F.col("o_orderkey").between(100, 900))
        assert got.count() == want.count()

    def test_unstated_column_falls_back(self, spark, clustered_events):
        ev, path = clustered_events
        # stats exist only for o_orderkey; pruning on another column
        # must fall back to the full scan, not mis-prune
        got = read_pruned(spark, path, "o_custkey", 1, 50)
        want = ev.filter(F.col("o_custkey").between(1, 50))
        assert got.count() == want.count()

    def test_null_cluster_values(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, 10), (2, None), (3, 25), (4, None), (5, 40)],
            "id bigint, k bigint",
        )
        path = str(tmp_path / "nulls")
        write_clustered(df, path, ["k"], n_files=2)
        got = read_pruned(spark, path, "k", 0, 30)
        # NULL k rows fail BETWEEN on both the pruned and plain path
        assert sorted(r["id"] for r in got.collect()) == [1, 3]

    def test_crash_orphan_tmp_stats_ignored(self, spark, clustered_events):
        ev, path = clustered_events
        # simulate a crash mid-sidecar-write: tmp dir left behind,
        # real sidecar gone — reader must fall back cleanly
        shutil.move(path + STATS_SUFFIX, path + STATS_SUFFIX + ".__tmp-dead")
        got = read_pruned(spark, path, "o_orderkey", 100, 900)
        want = ev.filter(F.col("o_orderkey").between(100, 900))
        assert got.count() == want.count()

    def test_timestamp_cluster_column(self, spark, tmp_path):
        from datetime import datetime

        df = spark.createDataFrame(
            [(i, datetime(2024, 1, 1 + i % 28, i % 24)) for i in range(200)],
            "id bigint, ts timestamp",
        )
        path = str(tmp_path / "ts")
        write_clustered(df, path, ["ts"], n_files=4)
        lo, hi = datetime(2024, 1, 5), datetime(2024, 1, 10)
        got = read_pruned(spark, path, "ts", lo, hi)
        want = df.filter(F.col("ts").between(F.lit(lo), F.lit(hi)))
        assert got.count() == want.count() > 0
        files, total = pruned_file_plan(spark, path, "ts", lo, hi)
        assert len(files) < total


class TestCompaction:
    def test_compacts_and_preserves_rows(self, spark, tmp_path):
        from tastytrade_sdk_spark.streaming.sinks import (
            compact_parquet_table,
        )

        path = str(tmp_path / "logs")
        # simulate many micro-batch appends -> many small files
        for i in range(12):
            spark.range(i * 100, (i + 1) * 100).withColumnRenamed(
                "id", "v"
            ).write.mode("append").parquet(path)
        before = sorted(r["v"] for r in spark.read.parquet(path).collect())
        import os as _os

        n_files_before = len(
            [f for f in _os.listdir(path) if f.endswith(".parquet")]
        )
        assert n_files_before >= 12
        stats = compact_parquet_table(spark, path)
        assert stats["files_before"] == n_files_before
        n_files_after = len(
            [f for f in _os.listdir(path) if f.endswith(".parquet")]
        )
        assert n_files_after == stats["files_after"] < n_files_before
        after = sorted(r["v"] for r in spark.read.parquet(path).collect())
        assert after == before

    def test_epoch_sidecar_survives(self, spark, tmp_path):
        import os as _os

        from tastytrade_sdk_spark.streaming.sinks import (
            compact_parquet_table,
        )

        path = str(tmp_path / "store")
        spark.range(100).write.parquet(path)
        with open(_os.path.join(path, "_epoch"), "w") as fh:
            fh.write("7")
        compact_parquet_table(spark, path)
        with open(_os.path.join(path, "_epoch")) as fh:
            assert fh.read() == "7"

    def test_stale_stats_sidecar_removed(self, spark, tmp_path):
        import os as _os

        from pyspark.sql import functions as F

        from tastytrade_sdk_spark.sources.skipping import (
            STATS_SUFFIX,
            read_pruned,
            write_clustered,
        )
        from tastytrade_sdk_spark.streaming.sinks import (
            compact_parquet_table,
        )

        path = str(tmp_path / "clustered")
        df = spark.range(1000).withColumnRenamed("id", "k")
        write_clustered(df, path, ["k"], n_files=8)
        assert _os.path.exists(path + STATS_SUFFIX)
        compact_parquet_table(spark, path)
        # sidecar gone -> reader falls back to full scan, stays correct
        assert not _os.path.exists(path + STATS_SUFFIX)
        got = read_pruned(spark, path, "k", 100, 200).count()
        assert got == 101

    def test_crash_between_renames_recovers(self, spark, tmp_path):
        """A compaction that died between its two renames leaves the
        only copy under .__old; the next call must restore it first
        (the upsert sinks' restore-before-delete rule)."""
        import os as _os

        from tastytrade_sdk_spark.streaming.sinks import (
            compact_parquet_table,
        )

        path = str(tmp_path / "crashy")
        spark.range(500).withColumnRenamed("id", "v").write.parquet(path)
        # simulate the crash window: path renamed away, no new path yet
        _os.rename(path, path + ".__old")
        assert not _os.path.exists(path)
        compact_parquet_table(spark, path)
        got = sorted(r["v"] for r in spark.read.parquet(path).collect())
        assert got == list(range(500))

    def test_concurrent_append_aborts_untouched(
        self, spark, tmp_path, monkeypatch
    ):
        """A file appearing between the compaction read and the swap
        must abort the compaction with the table untouched."""
        import os as _os

        import pytest as _pytest

        import tastytrade_sdk_spark.streaming.sinks as sinks

        path = str(tmp_path / "racy")
        spark.range(300).withColumnRenamed("id", "v").write.parquet(path)
        real_listing = sinks.parquet_files

        def racy_listing(p):
            # the phantom "lands" once the rewrite has been written
            out = real_listing(p)
            if str(p) == path and _os.path.exists(path + ".__tmp"):
                out = out + ["part-99999-phantom.snappy.parquet"]
            return out

        monkeypatch.setattr(sinks, "parquet_files", racy_listing)
        with _pytest.raises(RuntimeError, match="changed during compaction"):
            sinks.compact_parquet_table(spark, path)
        monkeypatch.undo()
        got = sorted(r["v"] for r in spark.read.parquet(path).collect())
        assert got == list(range(300))
        assert not _os.path.exists(path + ".__tmp")


def test_pruned_read_on_path_with_special_chars(spark, tmp_path):
    """input_file_name() returns percent-encoded URIs; the pruned
    reader must decode them or every read on a space-containing table
    path dies with PATH_NOT_FOUND (the fallback path doesn't)."""
    base = tmp_path / "my table %dir"
    base.mkdir()
    path = str(base / "t")
    df = spark.range(1000).withColumnRenamed("id", "k")
    write_clustered(df, path, ["k"], n_files=4)
    got = read_pruned(spark, path, "k", 100, 200)
    assert got.count() == 101
    files, total = pruned_file_plan(spark, path, "k", 100, 200)
    assert 0 < len(files) < total


class TestAppendClustered:
    def test_append_extends_sidecar_and_keeps_pruning(self, spark, tmp_path):
        from tastytrade_sdk_spark.sources.skipping import (
            append_clustered,
            pruned_file_plan,
            read_pruned,
            write_clustered,
        )

        path = str(tmp_path / "t")
        base = spark.range(0, 1000).withColumnRenamed("id", "k")
        write_clustered(base, path, ["k"], n_files=8)
        batch = spark.range(5000, 5200).withColumnRenamed("id", "k")
        append_clustered(batch, path, ["k"], n_files=2)
        # all rows present
        assert read_pruned(spark, path, "k", -1, 10**9).count() == 1200
        # sidecar still complete -> pruning active, and a range inside
        # the appended batch selects only its files
        plan = pruned_file_plan(spark, path, "k", 5000, 5100)
        assert plan is not None
        files, total = plan
        assert total == 10 and 0 < len(files) <= 2
        assert read_pruned(spark, path, "k", 5000, 5100).count() == 101

    def test_incomplete_sidecar_falls_back_not_misprunes(
        self, spark, tmp_path
    ):
        """A data file the sidecar does not describe (crash between
        append and sidecar extension, out-of-band writer) must force
        the full-scan fallback — never a silent skip of that file."""
        from tastytrade_sdk_spark.sources.skipping import (
            pruned_file_plan,
            read_pruned,
            write_clustered,
        )

        path = str(tmp_path / "t2")
        write_clustered(
            spark.range(0, 1000).withColumnRenamed("id", "k"),
            path,
            ["k"],
            n_files=4,
        )
        # out-of-band append WITHOUT sidecar maintenance
        spark.range(100, 150).withColumnRenamed("id", "k").write.mode(
            "append"
        ).parquet(path)
        assert pruned_file_plan(spark, path, "k", 100, 149) is None
        # fallback sees every copy: 50 original + 50 appended
        assert read_pruned(spark, path, "k", 100, 149).count() == 100


def test_clustered_log_sink_streams_into_skippable_table(spark, tmp_path):
    """Micro-batches through clustered_log_sink land clustered with an
    extended sidecar: after the stream, a range read prunes files and
    returns exactly the filtered rows."""
    from tastytrade_sdk_spark.streaming.sinks import clustered_log_sink

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.range(0, 400).withColumnRenamed("id", "k").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.range(400, 800).withColumnRenamed("id", "k").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema("k bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = clustered_log_sink(stream, out, ckpt, ["k"], n_files=2).start()
    q.processAllAvailable()
    q.stop()
    plan = pruned_file_plan(spark, out, "k", 100, 150)
    assert plan is not None  # sidecar complete after streaming appends
    files, total = plan
    assert total >= 4 and 0 < len(files) < total
    assert read_pruned(spark, out, "k", 100, 150).count() == 51
    assert read_pruned(spark, out, "k", -1, 10**9).count() == 800


def test_empty_batch_file_does_not_kill_pruning(spark, tmp_path):
    """An empty micro-batch writes a footer-only part file with no
    data rows; the sidecar must still describe it (synthetic
    NULL-stats row) or the completeness check would permanently
    disable pruning for the table."""
    from tastytrade_sdk_spark.sources.skipping import append_clustered

    path = str(tmp_path / "t3")
    write_clustered(
        spark.range(0, 400).withColumnRenamed("id", "k"),
        path,
        ["k"],
        n_files=4,
    )
    empty = spark.range(0).withColumnRenamed("id", "k").coalesce(1)
    append_clustered(empty, path, ["k"], n_files=1)
    plan = pruned_file_plan(spark, path, "k", 100, 200)
    assert plan is not None  # completeness holds despite 0-row file
    files, total = plan
    assert 0 < len(files) < total
    assert read_pruned(spark, path, "k", 100, 200).count() == 101


def test_symlinked_table_path_still_prunes(spark, tmp_path):
    """realpath normalization: reading through a symlink to the table
    directory must compare equal to the absolute URIs the stats carry
    (which resolve the real path)."""
    real = str(tmp_path / "real_table")
    write_clustered(
        spark.range(0, 500).withColumnRenamed("id", "k"),
        real,
        ["k"],
        n_files=4,
    )
    link = str(tmp_path / "link_table")
    os.symlink(real, link)
    os.symlink(real + STATS_SUFFIX, link + STATS_SUFFIX)
    plan = pruned_file_plan(spark, link, "k", 10, 50)
    assert plan is not None
    files, total = plan
    assert 0 < len(files) < total
    assert read_pruned(spark, link, "k", 10, 50).count() == 41
