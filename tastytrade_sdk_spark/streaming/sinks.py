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

Cost model of a keep-last upsert (``upsert_parquet_batch`` and
manifest_store.versioned_upsert_batch): ONE Spark job, one stage, one
task per micro-batch. The table's schema comes from the Spark schema
stored in its own parquet footer (no inference job), table ∪ batch is
coalesced into one partition (which already satisfies the keep-last
window's clustering, so the plan has no Exchange), and the table is
written back as one file, which the next micro-batch reads in one
task. The work is O(table + batch) in a single task rather than an
O(table) shuffle over many small tasks: at the latest-value table
sizes a live feed keeps (keys = symbols or bars) the per-trigger
fixed cost of jobs and tasks is what dominates; SCALING.md records the
table size where the single task's merge time takes over.

Directory commit (``dir_commit``): every sink, store, compaction and
index rebuild that rewrites a directory commits the same way. The new
contents are written to the sibling ``<path>.__tmp`` and swapped in by
two renames, ``path -> <path>.__old`` then ``<path>.__tmp -> path``,
after which ``.__old`` is deleted. The siblings of a partition
directory (``root/k=v``) are hidden ones, ``root/.k=v.__tmp`` and
``root/.k=v.__old``, so that reads of the partitioned root never list
them. A crash can leave three states, all repaired on the next
commit's entry before anything is deleted: only
``.__old`` (died between the renames: it is the only copy and is
restored), a stale ``.__tmp`` (died while writing: removed), and
``path`` beside ``.__old`` (died before the delete: ``.__old`` is
dropped). Readers see the old directory or the new one, apart from the
gap between the renames, when ``path`` is missing; read-only consumers
resolve that gap through ``readable_store_path``, which serves
``.__old``. A directory swap is not a transaction log, so the writer
of ``path`` must be quiesced: the commit lists ``path``'s parquet
files (recursively) on entry and again before the swap, and if they
differ it aborts with ``path`` untouched instead of deleting a
concurrent writer's file along with ``.__old``. Sidecars that must
land with the data (``_epoch``, digests, layout stamps) are written
into the same tmp directory, so they commit in the same rename.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from tastytrade_sdk_spark.operators.dedup import keep_last


# the footer key under which Spark stores the schema it wrote a
# parquet file with (the one schema inference would read back)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(table_dir: str) -> StructType:
    """The Spark schema of a Spark-written parquet table, read on the
    driver from the footer of one of its data files (well under 1 ms)
    instead of by an inference job. Every file of the table was
    written with the same schema, so any one of them serves.

    A partitioned root keeps its data files under ``k=v`` directories
    (nested, one level per partition column): the schema is then the
    first such file's, followed by each partition column in nesting
    order, typed int as partition discovery types these ids (list,
    bucket and epoch numbers; a value past int32 fails the read
    loudly). Hidden (``_``, ``.``) names are skipped, as Spark's
    listing skips them."""
    for base, dirs, files in os.walk(table_dir):
        dirs[:] = sorted(
            d for d in dirs if "=" in d and not d.startswith(("_", "."))
        )
        data = sorted(
            f for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if data:
            break
    else:
        raise FileNotFoundError(f"{table_dir}: no parquet data file")
    meta = pq.read_schema(os.path.join(base, data[0])).metadata
    schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    rel = os.path.relpath(base, table_dir)
    for part in [] if rel == "." else rel.split(os.sep):
        schema.add(part.split("=", 1)[0], IntegerType())
    return schema


def _keep_last_merge(
    batch_df: DataFrame,
    table_dir: "str | None",
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """The keep-last merge of both upsert sinks: the last row per key
    of (table ∪ batch), or of the batch alone when there is no table
    yet (``table_dir`` None).

    ONE keep-last window over the union instead of reducing the batch
    first and re-reducing the union: order_by is a total order per key
    by contract, so the winner of the union equals the winner of
    {winner(batch)} ∪ table (r11, guide §2.4). The union is coalesced
    into one partition, which satisfies the window's clustering, so
    the plan has no Exchange: writing the result is one job with one
    stage and one task, and it writes one file. ``unionByName`` keeps
    its type widening and raises, before anything is written, on a
    batch whose columns differ from the table's."""
    rows = batch_df
    if table_dir is not None:
        existing = batch_df.sparkSession.read.schema(
            _footer_schema(table_dir)
        ).parquet(table_dir)
        rows = existing.unionByName(batch_df)
    return keep_last(rows.coalesce(1), keys, order_by)


def upsert_parquet_batch(
    batch_df: DataFrame,
    path: str,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> None:
    """Merge one micro-batch into a keep-last parquet table.

    One Spark job, one stage, one task (``_keep_last_merge``): the
    table is read with the schema from its own footer, merged with the
    batch in one partition and written back as one file, so the cost
    per micro-batch is O(table + batch) in a single task, with no
    inference job and no shuffle.

    Executor-side write committed by ``dir_commit`` (module
    docstring): the table never routes through the driver (a collect()
    here would cap the keyed table at driver memory) and is never read
    and overwritten by one job. A crashed swap is repaired on the next
    call, so replayed micro-batches still converge (ST7). Readers that
    need snapshot isolation across the swap use
    streaming/manifest_store.versioned_upsert_batch; on a lake
    deployment this becomes a Delta/Iceberg MERGE.
    """
    with dir_commit(path) as tmp:
        merged = _keep_last_merge(
            batch_df, path if os.path.exists(path) else None, keys, order_by
        )
        merged.write.mode("overwrite").parquet(tmp)


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
    foreachBatch merges. Repairs a crashed swap first (``_repair``, so
    the epoch is read from the restored store), skips an
    already-committed replayed epoch, and raises on epoch REGRESSION —
    a checkpoint deleted/recreated restarts epoch ids at 0, and
    silently skipping would drop every new batch until the counter
    catches up (quiet data loss)."""
    _repair(path)
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
    return True


def _commit_swap(merged: DataFrame, path: str, epoch_id: int) -> None:
    """Commit the merged table with its ``_epoch`` sidecar in one
    ``dir_commit``: data and epoch land in the same rename, so no
    crash leaves one without the other (underscore-prefixed sidecars
    are invisible to the parquet reader)."""
    with dir_commit(path) as tmp:
        merged.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_epoch"), "w") as fh:
            fh.write(str(epoch_id))


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


_TMP, _OLD = ".__tmp", ".__old"


def parquet_files(path: str) -> list[str]:
    """Sorted paths, relative to ``path``, of every ``.parquet`` file
    under it (partition directories included); [] when ``path`` is
    missing."""
    return sorted(
        os.path.relpath(os.path.join(base, f), path)
        for base, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    )


def _siblings(path: str) -> tuple[str, str]:
    """``(tmp, old)`` of a commit of ``path``: ``<path>.__tmp`` and
    ``<path>.__old``, hidden behind a leading ``.`` when ``path`` is a
    partition directory (``k=v``). Partition discovery would list a
    visible ``k=v.__old`` beside its partitions as one more partition
    value (rows read twice, the column widened to string); it skips
    ``.`` names, while ``_`` names that hold ``=`` are still listed."""
    head, name = os.path.split(path.rstrip("/"))
    if "=" in name:
        path = os.path.join(head, "." + name)
    return path + _TMP, path + _OLD


def _repair(path: str) -> None:
    """Entry half of ``dir_commit``: restore ``.__old`` when ``path``
    is missing (the only copy after a crash between the renames), then
    remove ``.__tmp`` / ``.__old`` debris."""
    tmp, old = _siblings(path)
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    for d in (tmp, old):
        if os.path.exists(d):
            shutil.rmtree(d)


@contextmanager
def dir_commit(path: str) -> Iterator[str]:
    """The ONE directory commit (module docstring): ``with
    dir_commit(path) as tmp:`` repairs a crashed earlier commit,
    yields the fresh ``tmp`` for the body to write the new contents
    into, and on normal exit swaps ``tmp`` in for ``path``. A body
    that writes nothing to ``tmp`` commits nothing. A body that raises
    leaves ``path`` untouched and no ``tmp``. If ``path``'s parquet
    files changed while the body ran, the commit aborts with
    ``RuntimeError`` and ``path`` untouched."""
    tmp, old = _siblings(path)
    _repair(path)
    before = parquet_files(path)
    try:
        yield tmp
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if not os.path.exists(tmp):
        return
    if parquet_files(path) != before:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"{path} changed during compaction or rewrite (concurrent "
            "writer?) — aborted, left untouched; quiesce the writer "
            "and retry"
        )
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


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
    per-output-task) and commits through ``dir_commit`` (module
    docstring), with the ``_epoch`` sidecar carried into the rewrite.

    The WRITER MUST BE QUIESCED: a file appended during the rewrite
    aborts the compaction, table untouched. A PARTITIONED root (``k=v``
    directories) is refused, because the rewrite would flatten its
    partition columns into the files; compact each partition directory
    instead.

    If a data-skipping stats sidecar (sources/skipping) exists it is
    REMOVED rather than silently left stale: the old per-file stats
    describe files that no longer exist, and a missing sidecar means
    fallback-to-full-scan (correct), where a stale one could mis-prune.
    The removal happens BEFORE the new table swaps in, so no reader
    can pair fresh data files with stale per-file stats; a crash or an
    aborted commit after it leaves the table without a sidecar, the
    same safe full-scan state. Callers re-cluster + re-stat via
    skipping.write_clustered when the table is meant to stay
    skippable.

    Returns {"files_before", "files_after", "bytes"} for observability.
    """
    from tastytrade_sdk_spark.sources.skipping import STATS_SUFFIX

    with dir_commit(path) as tmp:
        parts = sorted(
            d for d in os.listdir(path)
            if "=" in d and os.path.isdir(os.path.join(path, d))
        )
        if parts:
            raise ValueError(
                f"compact_parquet_table: {path} is partitioned "
                f"({parts[0]}, ...); compact each partition directory "
                "instead"
            )
        files = parquet_files(path)
        total = sum(os.path.getsize(os.path.join(path, f)) for f in files)
        n_out = max(1, -(-total // target_file_bytes))
        spark.read.parquet(path).coalesce(n_out).write.mode(
            "overwrite"
        ).parquet(tmp)
        # the epoch sidecar guards replays of additive/upsert stores;
        # losing it would re-admit an old epoch after compaction
        epoch = os.path.join(path, "_epoch")
        if os.path.exists(epoch):
            shutil.copyfile(epoch, os.path.join(tmp, "_epoch"))
        sidecar = path.rstrip("/") + STATS_SUFFIX
        if os.path.exists(sidecar):
            shutil.rmtree(sidecar)
    return {
        "files_before": len(files),
        "files_after": n_out,
        "bytes": total,
    }


def readable_store_path(path: str) -> "str | None":
    """Directory a READ-ONLY consumer should scan: the store itself,
    or the pre-swap ``.__old`` snapshot in the gap between
    ``dir_commit``'s two renames (store absent, old present) — without
    it a reader in that window would mistake a populated store for a
    never-created one and report empty results. Readers never mutate
    (the next commit performs the actual restore), so a reader racing
    that recovery sees one complete snapshot either way. Returns None
    when neither exists (genuinely never created)."""
    if os.path.exists(path):
        return path
    old = _siblings(path)[1]
    if os.path.exists(old):
        return old
    return None
