"""Streaming sinks (SURVEY K1/K2/K4): keep-last upsert tables and
append logs via foreachBatch.

The reference dual-writes every event: append to a pub/sub log AND
upsert a latest-value snapshot (redis.py:26-38). On Spark the same
stream feeds two sinks:

- append log  -> partitioned parquet append (K1 Influx-style history)
- latest view -> keep-last MERGE per micro-batch (K2 Redis-HSET-style)

Without Delta in this container, the upsert sink does read-merge-
overwrite on a parquet dir — the exact-once story is the standard
idempotent-merge one: replayed micro-batches re-upsert the same keys
and converge (the property the reference relies on for reconnect
backfill, SURVEY ST7). On a lake deployment this becomes a Delta/
Iceberg MERGE with no code change upstream of the sink function.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tastytrade_sdk_spark.operators.dedup import keep_last


def upsert_parquet_batch(
    batch_df: DataFrame,
    path: str,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> None:
    """Merge one micro-batch into a keep-last parquet table.

    Executor-side write to a sibling tmp dir, then directory swap —
    never routes the table through the driver (a collect() here would
    cap the keyed table at driver memory, a scale-killer at 100x) and
    never reads+overwrites the same path in one job. A crash between
    the two swap renames is recovered on the next call (the backup dir
    is restored BEFORE it could be deleted), so replayed micro-batches
    still converge (ST7). Concurrent readers can observe a brief
    path-missing gap between the renames; use
    streaming/manifest_store.versioned_upsert_batch when readers need
    snapshot isolation. On a lake deployment this whole dance becomes
    a Delta/Iceberg MERGE.
    """
    spark = batch_df.sparkSession
    tmp, old = path + ".__tmp", path + ".__old"
    # crash recovery FIRST: a previous run that died between its two
    # renames left the full table under `old` and no `path` — restore
    # it before anything can delete the only copy
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    for d in (tmp, old):
        if os.path.exists(d):
            shutil.rmtree(d)
    # ONE keep-last window over (existing ∪ batch) instead of reducing
    # the batch first and re-reducing the union: order_by is a total
    # order per key by contract, so the winner of the union equals the
    # winner of {winner(batch)} ∪ existing — same row, one fewer
    # window shuffle per micro-batch (r11, guide §2.4)
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        merged = keep_last(
            existing.unionByName(batch_df), keys, order_by
        )
    else:
        merged = keep_last(batch_df, keys, order_by)
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def latest_table_sink(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    order_by: Sequence[str],
    checkpoint: str,
):
    """K2 latest-value table: update-on-key per micro-batch."""
    return (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda df, epoch: upsert_parquet_batch(df, path, keys, order_by)
        )
    )


def append_log_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: Sequence[str] = (),
):
    """K1 append history sink (Influx-style measurement table)."""
    w = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w


def clustered_log_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    cluster_cols: Sequence[str],
    n_files: int = 1,
):
    """K1 append sink that keeps the table DATA-SKIPPABLE as it grows:
    each micro-batch lands range-clustered on ``cluster_cols`` with
    its per-file min/max stats appended to the sidecar
    (sources/skipping.append_clustered), so range reads over the
    cluster column prune files from the very first batch — no separate
    indexing pass. Periodic compact_parquet_table + write_clustered
    re-establish the GLOBAL clustering (per-batch clustering is local:
    every batch spans its own value range, so pruning selectivity
    degrades as overlapping batches accumulate — the same reason lake
    tables re-OPTIMIZE). Crash between a batch's data and its stats is
    absorbed by the reader's completeness check (full-scan fallback),
    and a replayed batch re-appends — pair with the dedup sinks when
    exact-once matters, same as append_log_sink."""
    from tastytrade_sdk_spark.sources.skipping import append_clustered

    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda df, epoch: append_clustered(
                df, path, list(cluster_cols), n_files
            )
        )
    )


def committed_epoch(path: str) -> int:
    """Last committed epoch from a store's ``_epoch`` sidecar, -1 if
    the store (or sidecar) does not exist — the ONE parser for the
    sidecar format (used by the guard below and by gap-decay sinks)."""
    epoch_file = os.path.join(path, "_epoch")
    if os.path.exists(epoch_file):
        with open(epoch_file) as fh:
            return int(fh.read().strip())
    return -1


def _epoch_admits(path: str, epoch_id: int, who: str) -> bool:
    """Shared epoch guard for NON-idempotent (additive/decrementing)
    foreachBatch merges. Recovers a crashed swap (``.__old`` left
    behind), skips an already-committed replayed epoch, and raises on
    epoch REGRESSION — a checkpoint deleted/recreated restarts epoch
    ids at 0, and silently skipping would drop every new batch until
    the counter catches up (quiet data loss). Clears stale tmp/old
    dirs when admitting."""
    tmp, old = path + ".__tmp", path + ".__old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    committed = committed_epoch(path)
    if epoch_id <= committed:
        if epoch_id < committed:
            raise ValueError(
                f"{who}: epoch regression (batch epoch {epoch_id} < "
                f"committed {committed}) at {path} — the streaming "
                f"checkpoint was likely deleted/recreated; restore it "
                f"or remove the sink's _epoch sidecar to re-seed"
            )
        return False
    for d in (tmp, old):
        if os.path.exists(d):
            shutil.rmtree(d)
    return True


def _commit_swap(merged: DataFrame, path: str, epoch_id: int) -> None:
    """Write the merged table + ``_epoch`` sidecar into a tmp dir and
    atomically rename it over the store: data and epoch commit in the
    SAME directory rename, so there is no crash window where one lands
    without the other (underscore-prefixed sidecars are invisible to
    the parquet reader)."""
    tmp, old = path + ".__tmp", path + ".__old"
    merged.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_epoch"), "w") as fh:
        fh.write(str(epoch_id))
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def atomic_write(path: str, text: str) -> None:
    """The ONE single-file sidecar commit: write ``text`` to a temp file
    in ``path``'s own directory (same filesystem, so the replace is a
    rename), then ``os.replace`` it over ``path``. Readers
    see the old content or the new, never a torn file. The temp is
    named ``.<basename>.*`` — debris a crash can leave between the two
    steps (manifest_store.vacuum_store prunes the ``._latest.*`` kind)."""
    d, name = os.path.split(path)
    fd, tmp = tempfile.mkstemp(dir=d or ".", prefix=f".{name}.")
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


def additive_agg_batch(
    batch_df: DataFrame,
    path: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    epoch_id: int,
    count_col: str = "n",
) -> None:
    """Merge one micro-batch into a stored ADDITIVE aggregate table
    (incremental view maintenance: per-key running sums + counts that
    never re-scan history).

    Keep-last upserts are naturally idempotent under micro-batch
    replay; additive merges are NOT — a replayed epoch would
    double-add. foreachBatch's exactly-once recipe is the epoch guard:
    the table carries the last merged epoch in an ``_epoch`` sidecar
    INSIDE the data directory (underscore-prefixed files are invisible
    to the parquet reader), so data + epoch commit in the SAME
    directory rename — there is no crash window where one lands
    without the other. A batch whose epoch is already committed is
    skipped wholesale. On a lake deployment this is a MERGE with the
    epoch in the commit metadata (txnAppId/txnVersion pattern).
    """
    spark = batch_df.sparkSession
    if not _epoch_admits(path, epoch_id, "additive_agg_batch"):
        return  # replayed epoch: already folded in
    part = batch_df.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.count(F.lit(1)).alias(count_col),
    )
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        merged = (
            existing.unionByName(part)
            .groupBy(*keys)
            .agg(
                *[F.sum(c).alias(c) for c in sum_cols],
                F.sum(count_col).alias(count_col),
            )
        )
    else:
        merged = part
    _commit_swap(merged, path, epoch_id)


def additive_agg_sink(
    stream: DataFrame,
    path: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    checkpoint: str,
):
    """K4-additive: per-key running sums maintained incrementally."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda df, epoch: additive_agg_batch(df, path, keys, sum_cols, epoch)
        )
    )


def compact_parquet_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction — the OPTIMIZE half of a lake table's
    lifecycle. Streaming append sinks (append_log_sink) accrete one
    file per micro-batch; at lake scale a day of 10-second batches is
    ~8,640 files whose per-file open/footer cost eventually dominates
    every scan. Compaction rewrites the table into
    ceil(bytes / target_file_bytes) files via coalesce (a NARROW
    repartition: no shuffle, existing files are concatenated
    per-output-task) and commits with the same tmp-then-rename dance
    as the upsert sinks, INCLUDING their restore-before-delete crash
    recovery: a run that died between its two renames left the only
    copy under ``.__old``, which the next call restores before
    anything can delete it.

    The WRITER MUST BE QUIESCED for the read-rewrite-swap window —
    this is a directory swap, not a transaction log; a concurrent
    append's file would ride into ``.__old`` and be deleted with it.
    Without Delta/Iceberg optimistic commits in this container the
    hazard is detected, not prevented: the file listing is re-checked
    immediately before the swap and the compaction ABORTS (table
    untouched) if it changed.

    If a data-skipping stats sidecar (sources/skipping) exists it is
    REMOVED rather than silently left stale: the old per-file stats
    describe files that no longer exist, and a missing sidecar means
    fallback-to-full-scan (correct), where a stale one could mis-prune.
    The removal happens BEFORE the new table swaps in, so no reader
    can pair fresh data files with stale per-file stats (and a crash
    anywhere after leaves only the safe missing-sidecar state).
    Callers re-cluster + re-stat via skipping.write_clustered when the
    table is meant to stay skippable.

    Returns {"files_before", "files_after", "bytes"} for observability.
    """
    from tastytrade_sdk_spark.sources.skipping import STATS_SUFFIX

    tmp, old = path + ".__tmp", path + ".__old"
    # crash recovery FIRST (same as upsert_parquet_batch): a previous
    # run that died between its renames left the full table under
    # `old` and no `path` — restore it before the cleanup below could
    # delete the only copy
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    for d in (tmp, old):
        if os.path.exists(d):
            shutil.rmtree(d)

    def _listing() -> list[str]:
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    files = _listing()
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
    # carry the epoch sidecar through the rewrite (additive/upsert
    # stores guard replays with it; losing it would re-admit an old
    # epoch after compaction)
    epoch = os.path.join(path, "_epoch")
    if os.path.exists(epoch):
        with open(epoch) as fh:
            val = fh.read()
        with open(os.path.join(tmp, "_epoch"), "w") as fh:
            fh.write(val)
    if _listing() != files:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compact_parquet_table: {path} changed during compaction "
            "(concurrent writer?) — aborted, table untouched; quiesce "
            "the writer and retry"
        )
    # stale stats go BEFORE the swap: missing sidecar = full-scan
    # fallback for any reader racing the window; removing it after
    # would let a pruned read resolve old file URIs that the swap
    # just deleted
    sidecar = path.rstrip("/") + STATS_SUFFIX
    if os.path.exists(sidecar):
        shutil.rmtree(sidecar)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {
        "files_before": len(files),
        "files_after": n_out,
        "bytes": total,
    }


def readable_store_path(path: str) -> "str | None":
    """Directory a READ-ONLY consumer should scan: the store itself,
    or the pre-swap ``.__old`` snapshot if a writer crashed between
    _commit_swap's two renames (store absent, old present) — without
    it a reader in that window would mistake a populated store for a
    never-created one and report empty results. Readers never mutate
    (the next write's _epoch_admits performs the actual restore), so a
    reader racing that recovery sees one complete snapshot either way.
    Returns None when neither exists (genuinely never created)."""
    if os.path.exists(path):
        return path
    old = path + ".__old"
    if os.path.exists(old):
        return old
    return None
