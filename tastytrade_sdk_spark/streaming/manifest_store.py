"""Versioned snapshot store: a minimal manifest commit protocol.

The upsert sinks publish keyed snapshots by directory swap
(sinks.upsert_parquet_batch) — correct, but a reader that lists the
directory MID-swap can see a torn state, and old versions are gone the
moment the swap lands. Lake formats solve this with a metadata layer;
this module is that layer reduced to its core, with no new deps:

- a writer materializes version N under ``<root>/v=N/`` (executor-side
  parquet write, never through the driver),
- then commits by writing ``<root>/_manifest.N.json`` (version, data
  dir, row count) and LAST updates the ``_latest`` pointer file via
  atomic rename — the single mutation readers observe,
- readers resolve ``_latest`` -> manifest -> data dir, so they always
  load a complete, immutable snapshot (snapshot isolation), and any
  historical version remains readable until pruned (time travel).

Crash safety: a writer dying before the pointer rename leaves a
harmless orphan version; replayed micro-batches re-publish the same
content under a new version and converge (the ST7 idempotence story).
Single-writer protocol (foreachBatch runs batches serially, which is
exactly that) — concurrent writers would race version numbers.
On a real lake this module is replaced by Delta/Iceberg commits; the
sink code above it does not change.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from tastytrade_sdk_spark.streaming.sinks import atomic_write

_LATEST = "_latest"


def _pointer_path(root: str) -> str:
    return os.path.join(root, _LATEST)


def current_version(root: str) -> int | None:
    try:
        with open(_pointer_path(root)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def publish_version(df: DataFrame, root: str) -> int:
    """Write ``df`` as the next version and commit it atomically.
    Returns the committed version number."""
    os.makedirs(root, exist_ok=True)
    prev = current_version(root)
    version = 0 if prev is None else prev + 1
    data_dir = os.path.join(root, f"v={version}")
    df.write.mode("overwrite").parquet(data_dir)
    # no row count in the manifest: recording one would cost a second
    # full scan of the snapshot per commit, and no reader consumes it
    manifest = {"version": version, "data_dir": data_dir}
    with open(os.path.join(root, f"_manifest.{version}.json"), "w") as f:
        json.dump(manifest, f)
    # the pointer flip is the commit: write-to-temp + rename is atomic
    # on POSIX, so readers see either the old or the new version
    atomic_write(_pointer_path(root), str(version))
    return version


def read_version(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """Load a committed snapshot (default: latest). Raises if nothing
    has been committed yet."""
    v = current_version(root) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version under {root}")
    with open(os.path.join(root, f"_manifest.{v}.json")) as f:
        manifest = json.load(f)
    return spark.read.parquet(manifest["data_dir"])


def prune_versions(root: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` committed versions (never the
    current pointer target). Returns pruned version numbers."""
    import shutil

    latest = current_version(root)
    if latest is None:
        return []
    # COMMITTED versions only (v <= pointer): an uncommitted leftover
    # manifest (crash between manifest write and pointer flip, v >
    # latest) must not count toward the newest-keep window, or the
    # retention contract silently keeps one fewer committed snapshot
    versions = sorted(
        v
        for v in (
            int(f.split(".")[1])
            for f in os.listdir(root)
            if f.startswith("_manifest.") and f.endswith(".json")
        )
        if v <= latest
    )
    to_prune = [v for v in versions[:-keep] if v != latest]
    for v in to_prune:
        shutil.rmtree(os.path.join(root, f"v={v}"), ignore_errors=True)
        try:
            os.remove(os.path.join(root, f"_manifest.{v}.json"))
        except FileNotFoundError:
            pass
    return to_prune


def version_changes(
    spark: SparkSession,
    root: str,
    v_from: int,
    v_to: int,
    keys,
) -> DataFrame:
    """Change feed between two committed snapshots — the Delta
    Change-Data-Feed analog for the manifest store: one NULL-safe full
    outer join of the two versions on ``keys`` classifies every key as
    ``insert`` (absent before), ``delete`` (absent after) or
    ``update`` (present in both with any value column differing;
    unchanged rows are excluded). Values are the POST-image for
    insert/update and the PRE-image for delete, so applying the feed
    to the old snapshot (delete the deletes, upsert the rest)
    reconstructs the new one exactly — pinned by test.

    Both snapshots are immutable committed versions, so the feed is
    stable under concurrent writers (snapshot isolation); cost is one
    key-partitioned shuffle of the two versions, independent of how
    many versions lie between — at lake scale this is how a
    downstream incremental consumer avoids re-reading the full table.
    """
    from pyspark.sql import functions as F

    keys = list(keys)
    old = read_version(spark, root, v_from)
    new = read_version(spark, root, v_to)
    vals = [c for c in new.columns if c not in keys]
    if "op" in new.columns:
        raise ValueError(
            "version_changes: the snapshot already has an 'op' column "
            "— it would collide with the feed's change-type column; "
            "rename it before diffing"
        )
    # presence MARKERS, not key-null checks: the join is NULL-safe, so
    # a legitimately-NULL key value would otherwise read as "absent".
    # Marker names deliberately do NOT match the __o_{c}/__n_{c} alias
    # shape, so no user column can alias onto them.
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in vals],
        F.lit(True).alias("__present_old__"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in vals],
        F.lit(True).alias("__present_new__"),
    )
    cond = None
    for k in keys:
        c = F.col(f"__ok_{k}").eqNullSafe(F.col(f"__nk_{k}"))
        cond = c if cond is None else cond & c
    j = o.join(n, cond, "full_outer")
    in_old = F.col("__present_old__").isNotNull()
    in_new = F.col("__present_new__").isNotNull()
    changed = None
    for c in vals:
        d = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        changed = d if changed is None else changed | d
    if changed is None:
        changed = F.lit(False)
    op = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    out_keys = [
        F.coalesce(F.col(f"__nk_{k}"), F.col(f"__ok_{k}")).alias(k)
        for k in keys
    ]
    out_vals = [
        F.when(in_new, F.col(f"__n_{c}"))
        .otherwise(F.col(f"__o_{c}"))
        .alias(c)
        for c in vals
    ]
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(*out_keys, *out_vals, "op")
    )


def vacuum_store(
    root: str, keep: int = 2, grace_s: float = 7 * 24 * 3600
) -> dict:
    """Delta-VACUUM analog for the manifest store: reclaim everything
    unreachable from a committed manifest.

    ``prune_versions`` drops OLD committed versions; this removes the
    debris prune can never see —

    - **orphan data dirs**: a writer that died between the parquet
      write and the manifest write leaves ``v=N/`` with no
      ``_manifest.N.json``; nothing references it and it would leak
      forever (at lake scale, a full snapshot's worth of bytes per
      crash),
    - **uncommitted manifests**: a crash between the manifest write
      and the pointer flip leaves ``_manifest.N.json`` with
      ``N > _latest``; the retry reuses N (publish_version numbers off
      the pointer) so after grace these are dead,
    - **stale pointer temps**: ``._latest.*`` files from a crash
      inside atomic_write, between its temp write and the replace.

    Anything younger than ``grace_s`` (by mtime) is kept — exactly
    Delta's retention-window defense against deleting an IN-FLIGHT
    writer's files (default 7 days, same as VACUUM's). The current
    pointer target and the newest ``keep`` committed versions are
    never touched regardless of age. Also calls ``prune_versions``
    so one entry point covers the whole retention story.

    Driver-side listing of one directory level only (version count,
    not file count — the data dirs are removed recursively without
    listing them into memory). Returns a report dict.
    """
    import shutil
    import time

    if current_version(root) is None and not os.path.isdir(root):
        return {"orphan_dirs": [], "stale_manifests": [], "tmp_files": 0,
                "pruned_versions": []}
    now = time.time()

    def _expired(p: str) -> bool:
        try:
            return (now - os.path.getmtime(p)) > grace_s
        except FileNotFoundError:
            return False

    latest = current_version(root)
    manifests = {
        int(f.split(".")[1])
        for f in os.listdir(root)
        if f.startswith("_manifest.") and f.endswith(".json")
    }
    if latest is None and manifests and os.path.exists(_pointer_path(root)):
        # the pointer FILE exists but is unreadable (torn write,
        # manual damage): versions WERE committed and with latest
        # unknown every manifest would classify as uncommitted-stale
        # and the whole store would be reclaimed. Refuse — a
        # recoverable one-byte pointer corruption must never become
        # data loss. (A store whose pointer file never existed is the
        # different, harmless state: a first-ever publish crashed
        # before its pointer flip — nothing was committed, and its
        # debris ages out through the stale-manifest path below.)
        raise ValueError(
            f"vacuum_store: {root} has manifests but an unreadable "
            f"{_LATEST} pointer — repair the pointer (write the "
            "highest committed version number) before vacuuming"
        )
    committed = {v for v in manifests if latest is not None and v <= latest}
    protected = set(sorted(committed)[-keep:])
    if latest is not None:
        protected.add(latest)

    orphan_dirs: list[int] = []
    for f in os.listdir(root):
        if not f.startswith("v="):
            continue
        try:
            v = int(f.split("=", 1)[1])
        except ValueError:
            continue
        p = os.path.join(root, f)
        if v in protected or v in manifests or not _expired(p):
            continue
        shutil.rmtree(p, ignore_errors=True)
        orphan_dirs.append(v)

    stale_manifests: list[int] = []
    for v in sorted(manifests - committed):
        if v in protected:
            continue
        mpath = os.path.join(root, f"_manifest.{v}.json")
        dpath = os.path.join(root, f"v={v}")
        # BOTH the manifest and the data dir must be past grace: a
        # retry writer REUSES the crashed version number (numbers come
        # off the pointer), so an old leftover manifest can coexist
        # with a fresh in-flight rewrite of v=N — judging by the
        # manifest's mtime alone would delete the new files mid-write
        if not _expired(mpath) or (
            os.path.exists(dpath) and not _expired(dpath)
        ):
            continue
        shutil.rmtree(dpath, ignore_errors=True)
        try:
            os.remove(mpath)
        except FileNotFoundError:
            pass
        stale_manifests.append(v)

    tmp_files = 0
    for f in os.listdir(root):
        p = os.path.join(root, f)
        if f.startswith("._latest.") and _expired(p):
            try:
                os.remove(p)
                tmp_files += 1
            except FileNotFoundError:
                pass

    return {
        "orphan_dirs": orphan_dirs,
        "stale_manifests": stale_manifests,
        "tmp_files": tmp_files,
        "pruned_versions": prune_versions(root, keep=keep),
    }


def versioned_upsert_batch(
    batch_df: DataFrame,
    root: str,
    keys,
    order_by,
) -> int:
    """K2/K4 keep-last upsert publishing through the manifest store:
    merge the micro-batch with the latest committed snapshot, commit
    as a new version. Readers mid-merge keep seeing the old version."""
    from tastytrade_sdk_spark.operators.dedup import keep_last

    spark = batch_df.sparkSession
    new = keep_last(batch_df, keys, order_by)
    if current_version(root) is not None:
        existing = read_version(spark, root)
        merged = keep_last(existing.unionByName(new), keys, order_by)
    else:
        merged = new
    return publish_version(merged, root)
