"""File-level min/max data skipping (Delta-style statistics pruning).

At lake scale the cheapest scan is the one that never happens:
a table clustered on its dominant predicate column plus per-file
min/max statistics lets the reader drop whole files at PLANNING time,
before Spark schedules a single task. Parquet row-group stats give the
same effect inside one file, but only after the file is opened and
footers are fetched — at 100 TB / ~1 M files, footer round-trips alone
dominate a highly-selective scan. Open table formats (Delta, Iceberg)
solve this with file-level stats in the transaction log; no such
package exists in this container, so this module is the honest
hand-rolled equivalent, mirroring streaming/manifest_store.py's role
for versioning.

Mechanics:

- ``write_clustered`` range-partitions the frame on the cluster
  columns (so each file owns a narrow value slice — the whole point;
  without clustering every file spans the full range and nothing
  prunes) and, after the data lands, computes ONE aggregation pass
  grouped by ``input_file_name()`` to produce per-file min/max for the
  requested stat columns. The stats sidecar is committed by
  streaming/sinks.dir_commit, so a crash mid-write leaves the previous
  sidecar or none (readers fall back to a full scan), never a partial
  one.
- ``read_pruned`` plans from the sidecar: files whose [min, max]
  interval cannot intersect the predicate range are never handed to
  the reader. The residual predicate is ALWAYS applied to the
  surviving rows, so skipping is a pure optimization — correct for
  any stats, and rows where the predicate column is NULL are excluded
  by the range predicate on both the pruned and the fallback path
  (an all-NULL file has NULL stats and is skippable for the same
  reason). Planning collects one row per data file onto the driver —
  the same bound every table format's planner pays (a Delta log
  checkpoint read); at ~1 M files that is tens of MB, and the
  sidecar's column pruning keeps it to (file, min, max).

100 TB shape: the stats pass is a map-side-partial aggregation over
data just written (one extra scan at write time — what Delta's OPTIMIZE
+ stats collection costs); reads are planning-time file pruning plus a
scan of only the surviving files, so a range predicate over a clustered
column reads O(matching files), not O(table). Compose with
operators/scale.zorder_key for multi-column predicates: cluster on the
interleaved key, keep per-column stats, prune on any participating
column.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tastytrade_sdk_spark.streaming.sinks import dir_commit

STATS_SUFFIX = ".stats"


def _stats_path(path: str) -> str:
    return path.rstrip("/") + STATS_SUFFIX


def _to_path(uri: str) -> str:
    """Decode a ``file:`` URI (input_file_name form, percent-encoded)
    to a plain filesystem path; anything that is not a file URI —
    already-plain paths, object-store URIs — passes through untouched
    (a plain path containing '%' must NOT be unquoted again)."""
    from urllib.parse import unquote, urlparse

    if uri.startswith("file:"):
        return unquote(urlparse(uri).path)
    return uri


def _data_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _file_stats(spark: SparkSession, files: list[str], stats_cols) -> DataFrame:
    """Per-file min/max stats over exactly ``files`` — INCLUDING
    zero-row files, which produce no input_file_name group and would
    otherwise be missing from the sidecar forever (a footer-only part
    file from an empty micro-batch), permanently tripping the reader's
    completeness check. Such files get a NULL-stats / n_rows=0 row
    (NULL stats are unprunable-into, i.e. always skippable for a range
    predicate — exactly right for an empty file)."""
    aggs = []
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"min__{c}"))
        aggs.append(F.max(c).alias(f"max__{c}"))
    stats = (
        spark.read.parquet(*files)
        .groupBy(F.input_file_name().alias("file"))
        .agg(*aggs, F.count(F.lit(1)).alias("n_rows"))
    )
    described = {
        os.path.realpath(_to_path(r["file"]))
        for r in stats.select("file").collect()
    }
    missing = [f for f in files if os.path.realpath(f) not in described]
    if missing:
        empty_rows = [
            tuple([f] + [None] * (2 * len(stats_cols)) + [0])
            for f in missing
        ]
        stats = stats.unionByName(
            spark.createDataFrame(empty_rows, stats.schema)
        )
    return stats


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    n_files: int = 16,
    stats_cols: Sequence[str] | None = None,
) -> None:
    """Write ``df`` range-clustered on ``cluster_cols`` with a per-file
    min/max stats sidecar for ``stats_cols`` (default: cluster_cols)."""
    stats_cols = list(stats_cols or cluster_cols)
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in cluster_cols])
        .write.mode("overwrite")
        .parquet(path)
    )
    spark = df.sparkSession
    stats = _file_stats(spark, _data_files(path), stats_cols)
    # single stats file: the sidecar is one row per data file
    with dir_commit(_stats_path(path)) as tmp:
        stats.coalesce(1).write.mode("overwrite").parquet(tmp)


def pruned_file_plan(
    spark: SparkSession, path: str, col: str, lo, hi
) -> tuple[list[str], int] | None:
    """Planning step: (surviving files, total files) for the predicate
    ``col BETWEEN lo AND hi``, or None when no usable sidecar exists
    (missing, crash-orphaned, or lacking stats for ``col``) — callers
    fall back to a full scan. A file survives iff its [min, max] can
    intersect [lo, hi]; NULL stats (all-NULL file) cannot satisfy a
    range predicate and are skipped."""
    sp = _stats_path(path)
    if not os.path.exists(sp):
        return None
    # a writer may swap the sidecar between our exists() check, the
    # scan's file listing, and the collect — the contract is fallback,
    # not failure, so any read error here means "no usable sidecar"
    try:
        stats = spark.read.parquet(sp)
        if f"min__{col}" not in stats.columns:
            return None
        rows = stats.select(
            "file",
            (
                (F.col(f"max__{col}") >= F.lit(lo))
                & (F.col(f"min__{col}") <= F.lit(hi))
            ).alias("keep"),
        ).collect()
    except Exception:
        return None
    total = len(rows)
    # input_file_name() yields percent-ENCODED file URIs; Hadoop Path
    # does not decode them on the way back in, so a table directory
    # containing a space (or '%', '#', ...) would make every pruned
    # read PATH_NOT_FOUND while the unpruned fallback works (_to_path
    # decodes; synthetic zero-row-file rows already store plain paths).
    files = [
        os.path.realpath(_to_path(r["file"])) for r in rows if r["keep"]
    ]
    # completeness check: a sidecar that does not describe EXACTLY the
    # table's current data files would silently mis-prune (a data file
    # absent from the sidecar is never selected). Any mismatch — a
    # crash between a data append and its sidecar extension, an
    # out-of-band writer — falls back to the full scan, which is
    # always correct. One directory listing; no data touched. Both
    # sides go through realpath so relative table paths and symlinks
    # compare canonically against the absolute URIs stats carry.
    actual = sorted(os.path.realpath(f) for f in _data_files(path))
    described = sorted(os.path.realpath(_to_path(r["file"])) for r in rows)
    if actual != described:
        return None
    return files, total


def read_pruned(
    spark: SparkSession, path: str, col: str, lo, hi
) -> DataFrame:
    """``read(path).filter(col BETWEEN lo AND hi)``, planned through
    the stats sidecar when one exists. Always applies the residual
    predicate, so the result is identical with or without pruning."""
    plan = pruned_file_plan(spark, path, col, lo, hi)
    pred = F.col(col).between(F.lit(lo), F.lit(hi))
    if plan is None:
        return spark.read.parquet(path).filter(pred)
    files, _total = plan
    if not files:
        return spark.read.parquet(path).filter(pred).limit(0)
    # empty-schema inference is avoided: surviving files share the
    # table schema by construction (one writer)
    return spark.read.parquet(*files).filter(pred)


def append_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    n_files: int = 1,
    stats_cols: Sequence[str] | None = None,
) -> None:
    """Append a batch to a clustered table and EXTEND the stats
    sidecar incrementally — the streaming half of the data-skipping
    lifecycle (a micro-batch sink calls this per batch; compaction +
    write_clustered re-establish the global clustering periodically).

    Stats are computed only over the files this append created (one
    scan of the new files, never the table — zero-row part files from
    an empty batch included, via _file_stats' synthetic rows), then
    unioned with the existing sidecar in one ``dir_commit`` (its entry
    restores a sidecar a crashed swap left under ``.__old`` before the
    union reads it, so prior files' stats are never lost). Crash
    between the data append and the sidecar extension is safe BY THE
    READER'S COMPLETENESS CHECK: a reader that sees data files the
    sidecar does not describe falls back to the full scan
    (pruned_file_plan returns None) instead of mis-pruning.
    """
    stats_cols = list(stats_cols or cluster_cols)
    spark = df.sparkSession
    before = set(_data_files(path)) if os.path.exists(path) else set()
    (
        df.repartitionByRange(max(1, n_files), *[F.col(c) for c in cluster_cols])
        .write.mode("append")
        .parquet(path)
    )
    new_files = sorted(set(_data_files(path)) - before)
    if not new_files:
        return
    new_stats = _file_stats(spark, new_files, stats_cols)
    final = _stats_path(path)
    with dir_commit(final) as tmp:
        merged = new_stats
        if os.path.exists(final):
            merged = spark.read.parquet(final).unionByName(new_stats)
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
