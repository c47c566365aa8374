"""Bounded streaming heavy-hitter store (mergeable Misra-Gries).

The additive count sink (sinks.additive_agg_batch) keeps EXACT per-key
running counts — the right tool when the key domain is bounded. On a
long-tail stream (tokens, URLs, user ids) that store grows without
bound; the streaming-scale alternative is a Misra-Gries summary of
fixed capacity merged per micro-batch (Agarwal et al., "Mergeable
Summaries"): the store holds at most ``capacity`` rows forever, any
key whose count STRICTLY exceeds n/(capacity+1) is guaranteed present
(the classic strict MG bound — a key landing exactly on the floor can
be decremented to zero), and each stored lower bound undercounts by at
most n/(capacity+1) (n = rows seen so far, tracked exactly in a
reserved sentinel row inside the store; a genuine stream key equal to
the sentinel is excluded, documented below).

Merge per batch = combine counts, subtract the (capacity+1)-largest
combined count from everyone, drop the non-positive — the same MG
decrement operators/sketches.mg_candidates applies within a batch.
Replay safety reuses the shared epoch guard: MG merges are
decrementing, NOT idempotent, so a replayed epoch must be skipped
wholesale and an epoch regression must fail loudly
(sinks._epoch_admits).

Scale shape per batch: one groupBy over the batch's keys (map-side
partials), a union with the <=capacity-row store, and one global
row_number window over (batch-distinct + capacity) rows — bounded by
the micro-batch size, never by stream history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tastytrade_sdk_spark.streaming.sinks import (
    _commit_swap,
    _epoch_admits,
    committed_epoch,
    readable_store_path,
)

_TOTAL_KEY = "\x00__mg_total__"


def mg_store_batch(
    batch_df: DataFrame,
    store_path: str,
    key_col: str,
    capacity: int,
    epoch_id: int,
) -> None:
    """Merge one micro-batch into the bounded MG store.

    Store schema: (key_col string, mg_lb long). One reserved sentinel
    row (non-printable key prefix) carries the exact total row count —
    the denominator every share guarantee needs — so no side file and
    no extra scan.
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    spark = batch_df.sparkSession
    # epoch guard FIRST: it also performs crashed-swap recovery and
    # regression detection, which must run even for an empty batch
    # (an empty replay after a crash would otherwise leave the store
    # stranded under its .__old name)
    if not _epoch_admits(store_path, epoch_id, "mg_store_batch"):
        return
    if batch_df.isEmpty():
        return
    batch_counts = (
        batch_df.select(F.col(key_col).cast("string").alias(key_col))
        # NULL keys carry no identity; the reserved sentinel key is
        # excluded too — admitting it would corrupt the exact-total row
        .filter(
            F.col(key_col).isNotNull() & (F.col(key_col) != F.lit(_TOTAL_KEY))
        )
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("mg_lb"))
    )
    total_row = batch_counts.agg(
        F.lit(_TOTAL_KEY).alias(key_col),
        F.coalesce(F.sum("mg_lb"), F.lit(0)).alias("mg_lb"),
    )
    combined = batch_counts.unionByName(total_row)
    if os.path.exists(store_path):
        combined = combined.unionByName(spark.read.parquet(store_path))
    # materialize the combine ONCE: three consumers (ranking, cut,
    # total) would otherwise each re-read the store parquet and
    # re-aggregate the micro-batch on the hot streaming path
    merged = (
        combined.groupBy(key_col)
        .agg(F.sum("mg_lb").alias("mg_lb"))
        .localCheckpoint(eager=True)
    )
    counters = merged.filter(F.col(key_col) != F.lit(_TOTAL_KEY))
    total = merged.filter(F.col(key_col) == F.lit(_TOTAL_KEY))
    # MG decrement: subtract the (capacity+1)-largest combined count;
    # deterministic tiebreak on the key so replays of a rebuilt
    # checkpoint produce byte-identical stores
    w = Window.orderBy(F.col("mg_lb").desc(), F.col(key_col).asc())
    ranked = counters.withColumn("__r", F.row_number().over(w))
    cut = F.coalesce(
        F.max(
            F.when(F.col("__r") == capacity + 1, F.col("mg_lb"))
        ).over(Window.partitionBy(F.lit(1))),
        F.lit(0),
    )
    survivors = (
        ranked.withColumn("__cut", cut)
        .select(key_col, (F.col("mg_lb") - F.col("__cut")).alias("mg_lb"))
        .filter(F.col("mg_lb") > 0)
    )
    _commit_swap(survivors.unionByName(total), store_path, epoch_id)


def read_mg_store(spark, store_path: str, key_col: str) -> tuple[DataFrame, int]:
    """(candidates frame, exact rows seen) from a store directory.

    ``key_col`` is required and must name the same column the writer
    used (mg_store_batch stores under the caller-chosen key column); a
    default here could silently mismatch the written schema and raise
    an unresolved-column error at read time.

    A store that was never created (every batch so far empty or
    epoch-rejected, so mg_store_batch never wrote) reads as an empty
    candidate set with 0 rows seen — the state a zero-event stream is
    actually in — instead of a path-not-found AnalysisException."""
    readable = readable_store_path(store_path)
    if readable is None:
        df = spark.createDataFrame([], f"`{key_col}` string, mg_lb long")
        return df, 0
    df = spark.read.parquet(readable)
    total = (
        df.filter(F.col(key_col) == F.lit(_TOTAL_KEY))
        .agg(F.coalesce(F.sum("mg_lb"), F.lit(0)))
        .collect()[0][0]
    )
    return df.filter(F.col(key_col) != F.lit(_TOTAL_KEY)), int(total)


def mg_store_sink(
    stream: DataFrame,
    store_path: str,
    key_col: str,
    capacity: int,
    checkpoint: str,
):
    """writeStream wiring for the bounded heavy-hitter store."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda df, epoch: mg_store_batch(
                df, store_path, key_col, capacity, epoch
            )
        )
    )


def decayed_topk_batch(
    batch_df: DataFrame,
    store_path: str,
    key_col: str,
    capacity: int,
    epoch_id: int,
) -> None:
    """Bounded exponentially-decayed top-k ("TRENDING keys") store:
    carried scores are halved once per elapsed epoch (integer
    score DIV 2^gap — gaps from empty/skipped epochs decay too), the
    batch's counts are added, and only the top ``capacity`` rows by
    (score DESC, key ASC) survive. The all-time MG store answers
    "most frequent ever"; this answers "most frequent lately" in the
    same fixed state.

    Honest guarantee statement: truncation-after-decay is the standard
    space-bounded trending heuristic (decayed SpaceSaving shape) — it
    has NO deterministic undercount bound the way strict MG does. What
    IS exact: the arithmetic (all-integer halvings, zero float decay
    drift), determinism (same batch sequence -> same store, replayed
    row-for-row by decayed_topk_replay's unrolled oracle), and replay
    safety (the decay+add merge is NOT idempotent, so the shared epoch
    guard skips redelivered epochs wholesale).

    Scale shape per batch: one groupBy over the batch's keys with
    map-side partials, a union with the <= capacity-row store, one
    global row_number over (batch-distinct + capacity) rows — bounded
    by the micro-batch, never by stream history.
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    spark = batch_df.sparkSession
    if not _epoch_admits(store_path, epoch_id, "decayed_topk_batch"):
        return
    # read the carried epoch AFTER the guard: a crashed swap's
    # restore (.__old -> store) happens inside _epoch_admits, and the
    # _epoch sidecar lives in the restored directory
    committed = committed_epoch(store_path)
    if batch_df.isEmpty():
        # time still ADVANCES on an empty epoch: decay the carried
        # scores and commit, so "lately" doesn't freeze during quiet
        # periods — and so a trailing empty batch matches the replay
        # oracle's halve-every-batch unrolling (the MG store skips
        # empty batches because its counts are time-free; decayed
        # scores are not)
        if os.path.exists(store_path) and committed >= 0:
            gap = max(epoch_id - committed, 0)
            decayed = (
                spark.read.parquet(store_path)
                .select(
                    key_col,
                    F.expr(f"score DIV {1 << min(gap, 62)}").alias("score"),
                )
                .filter(F.col("score") > 0)
            )
            _commit_swap(decayed, store_path, epoch_id)
        return
    batch_counts = (
        batch_df.select(F.col(key_col).cast("string").alias(key_col))
        .filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("score"))
    )
    combined = batch_counts
    if os.path.exists(store_path):
        gap = max(epoch_id - committed, 0) if committed >= 0 else 0
        decayed = spark.read.parquet(store_path).select(
            key_col,
            F.expr(f"score DIV {1 << min(gap, 62)}").alias("score"),
        ).filter(F.col("score") > 0)
        combined = combined.unionByName(decayed)
    merged = combined.groupBy(key_col).agg(F.sum("score").alias("score"))
    w = Window.orderBy(F.col("score").desc(), F.col(key_col).asc())
    survivors = (
        merged.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= capacity)
        .select(key_col, "score")
    )
    _commit_swap(survivors, store_path, epoch_id)


def read_decayed_topk(spark, store_path: str, key_col: str) -> DataFrame:
    """Store contents (key, score); empty frame for a never-created
    store, pre-swap snapshot during a crashed writer's swap window."""
    readable = readable_store_path(store_path)
    if readable is None:
        return spark.createDataFrame([], f"`{key_col}` string, score long")
    return spark.read.parquet(readable)
