"""Streaming near-duplicate filtering (incremental MinHash-LSH dedup).

A live ingest pipeline cannot re-run corpus-wide dedup per batch; the
standard incremental recipe is: keep a BAND STORE of every admitted
document's LSH band keys, and per micro-batch

1. drop incoming docs sharing any band with a DIFFERENT doc already in
   the store (cross-batch near-dups),
2. collapse the remainder within the batch via candidate pairs +
   connected components, keeping the canonical (min-id) doc per
   cluster (llmops/cluster.py),
3. admit the canonicals: upsert them into the output table and append
   their (band_id, band_hash, owner) keys to the store.

Replay safety (ST7 story, same as the keyed upsert sinks): the store
records the OWNING doc id per band, so a replayed batch's own
canonicals do not self-collide; re-admitted docs are absorbed by the
keep-last upsert on the output table. State is data, not memory: the
band store is a parquet table keyed on (band_id, band_hash) — on a
lake this is a compacted Delta table, and the per-batch probe is a
hash semi-join against it (never a full text comparison).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tastytrade_sdk_spark.llmops.cluster import connected_components
from tastytrade_sdk_spark.llmops.dedup import band_hashes, band_pairs
from tastytrade_sdk_spark.session import overlap
from tastytrade_sdk_spark.streaming.sinks import upsert_parquet_batch


def near_dup_filter_batch(
    batch_df: DataFrame,
    store_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    small_graph_edges: int = 1_000_000,
) -> None:
    """Process one micro-batch through the incremental dedup.

    Per-batch plan (stage-count-bound at real trigger rates, so every
    stage earns its keep): ONE MinHash pass over the batch feeds ONE
    band-key-shuffled self-join of (incoming ∪ store) that yields the
    cross-store hits AND the within-batch candidate edges together —
    the former two-join shape (store probe, then a separate
    survivor-semi-joined pair join) shuffled the band keys twice and
    re-executed the hits lineage inside the admit job. The probe is
    fetched with ONE bounded job (limit(bound+1), Arrow transfer —
    the same adaptive pattern as connected_components): under the
    bound it IS the complete hit+edge set, so suppression and
    canonicalization run as a driver union-find and the admit side
    becomes a BROADCAST anti-join against the small drop set (no
    shuffle, no lineage re-execution). Above the bound the original
    fully-distributed flow runs unchanged — the fast path changes
    stage count, never semantics (equality pinned by the replay tests
    and the band_store_replay oracle)."""
    spark = batch_df.sparkSession
    if batch_df.isEmpty():
        return
    # ONE MinHash pass per batch: the band keys computed here drive
    # the store probe, the within-batch pair generation, AND the store
    # append — the checkpoint barrier stops the consumers from each
    # re-running tokenize/shingle/minhash. LAZY checkpoint: the first
    # consumer (the probe job below) materializes it as part of its
    # own job; later consumers read the saved blocks.
    incoming = band_hashes(batch_df, text_col, id_col, k, bands).localCheckpoint(
        eager=False
    )
    id_type = dict(batch_df.dtypes)[id_col]
    store_exists = os.path.exists(store_path)
    new_side = incoming.select(
        "band_id",
        "band_hash",
        F.col(id_col).alias("__id"),
        F.lit(True).alias("__new"),
    )
    if store_exists:
        # schema pinned: the store layout is fixed by the writer below,
        # so skip the per-batch parquet footer-inference job
        store = spark.read.schema(
            f"band_id int, band_hash string, owner {id_type}"
        ).parquet(store_path)
        all_bands = new_side.unionByName(
            store.select(
                "band_id",
                "band_hash",
                F.col("owner").alias("__id"),
                F.lit(False).alias("__new"),
            )
        )
    else:
        all_bands = new_side
    a, b = all_bands.alias("a"), all_bands.alias("b")
    probe_frame = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .filter(
            F.col("a.__new")
            & (
                (~F.col("b.__new") & (F.col("a.__id") != F.col("b.__id")))
                | (F.col("b.__new") & (F.col("a.__id") < F.col("b.__id")))
            )
        )
        .select(
            F.col("a.__id").alias("__x"),
            F.col("b.__id").alias("__y"),
            F.col("b.__new").alias("__edge"),
        )
        # no .distinct(): the driver sets/union-find dedupe for free,
        # and skipping it removes a whole shuffle stage per trigger.
        # The transfer bound below therefore counts RAW band-collision
        # rows (a pair sharing all 4 bands occupies 4 rows) — a
        # constant-factor-tighter bound, same safety guarantee.
    )
    probe = probe_frame.limit(small_graph_edges + 1).toPandas()
    if len(probe) <= small_graph_edges:
        # complete hit+edge set in hand: suppress and canonicalize
        # driver-side (bounded rows by construction), admit via
        # broadcast anti-join
        hits = {
            x
            for x, e in zip(probe["__x"].tolist(), probe["__edge"].tolist())
            if not e
        }
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for x, y, e in zip(
            probe["__x"].tolist(),
            probe["__y"].tolist(),
            probe["__edge"].tolist(),
        ):
            # within-batch edges count only between store-survivors:
            # a store-suppressed doc must not glue two clusters
            if not e or x in hits or y in hits:
                continue
            parent.setdefault(x, x)
            parent.setdefault(y, y)
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
        noncanon = {n for n in parent if find(n) != n}
        drop = hits | noncanon
        if drop:
            drop_df = F.broadcast(
                spark.createDataFrame(
                    [(v,) for v in drop], f"`{id_col}` {id_type}"
                )
            )
            kept = batch_df.join(drop_df, id_col, "left_anti")
            kept_bands = incoming.join(drop_df, id_col, "left_anti")
        else:
            kept = batch_df
            kept_bands = incoming
    else:
        # distributed fallback: the candidate graph itself is huge —
        # the original two-join flow, unchanged semantics
        if store_exists:
            hits_df = (
                incoming.join(store, ["band_id", "band_hash"])
                .filter(F.col(id_col) != F.col("owner"))
                .select(id_col)
                .distinct()
            )
            survivors = batch_df.join(hits_df, id_col, "left_anti")
        else:
            survivors = batch_df
        pairs = band_pairs(
            incoming.join(survivors.select(id_col), id_col, "left_semi"),
            id_col,
        )
        comp = connected_components(pairs, id_col=id_col)
        noncanon_df = comp.filter(
            F.col(id_col) != F.col("component")
        ).select(id_col)
        kept = survivors.join(noncanon_df, id_col, "left_anti")
        # barrier (fallback only): kept feeds BOTH the upsert and the
        # band semi-join here; without it each admit action re-executes
        # the full anti-join lineage (and, in a real stream, re-reads
        # the micro-batch source). The fast path skips it — its kept is
        # one broadcast anti-join with a single consumer, and writing
        # checkpoint blocks would cost more than re-planning it.
        kept = kept.localCheckpoint(eager=False)
        kept_bands = incoming.join(
            kept.select(id_col), id_col, "left_semi"
        )
    # admit: idempotent keyed upsert (replays converge) + band append;
    # band hashes come from the already-computed `incoming`, never
    # recomputed. The two writes touch DISJOINT paths off DISJOINT
    # lineages (kept ⊂ batch; kept_bands ⊂ the already-materialized
    # incoming blocks), so they are submitted CONCURRENTLY — the
    # scheduler runs both job DAGs at once and the per-trigger wall is
    # max(upsert, append) instead of their sum. Either failure
    # propagates; a half-admitted batch is the normal replay case
    # (upsert converges by key, store append self-absorbs via the
    # owner guard).
    overlap(
        lambda: upsert_parquet_batch(kept, out_path, [id_col], [id_col]),
        lambda: kept_bands.select(
            "band_id", "band_hash", F.col(id_col).alias("owner")
        )
        .write.mode("append")
        .parquet(store_path),
    )


def read_band_store(
    spark, store_path: str, owner_type: str = "bigint"
) -> DataFrame:
    """Current band store contents: (band_id, band_hash, owner).

    A store that was never created (every batch so far empty, so
    near_dup_filter_batch returned before the first append) reads as
    an empty store — the state a zero-document stream is actually in —
    instead of a path-not-found AnalysisException. ``owner_type`` is
    the id column's Spark type (the writer stores the caller's id
    values as ``owner``)."""
    from tastytrade_sdk_spark.streaming.sinks import readable_store_path

    readable = readable_store_path(store_path)
    if readable is None:
        return spark.createDataFrame(
            [], f"band_id int, band_hash string, owner {owner_type}"
        )
    return spark.read.parquet(readable)


def streaming_near_dup_sink(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
):
    """writeStream wrapper: admit only never-seen-before documents."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda df, epoch: near_dup_filter_batch(
                df, store_path, out_path, text_col, id_col, k, bands
            )
        )
    )
