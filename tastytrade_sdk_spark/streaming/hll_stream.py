"""Bounded streaming distinct-count store (mergeable HyperLogLog).

The third member of the bounded-state streaming sketch trio (with the
LSH band store in dedup_stream.py and the Misra-Gries store in
heavy_stream.py): per-group distinct counts over an unbounded stream
in O(groups x m) state forever. Each micro-batch is sketched with the
SAME explicit md5 register construction as the batch operator
(operators/sketches.hll_sketch) and merged into the store by
element-wise register max — the mergeable-summaries property (Agarwal
et al.) that also makes the store equal, by construction, to the
one-shot sketch of every event ever seen. That equality is exactly
what hll_store_replay's oracle checks: replaying N micro-batches
through the store must produce the SAME estimates as one batch pass
over the union.

Unlike the MG store's decrementing merge, register max is IDEMPOTENT,
so a replayed micro-batch cannot corrupt the store even without epoch
tracking; the shared epoch guard is kept anyway — it also performs
crashed-swap recovery (restore-before-delete), detects epoch
regressions loudly, and keeps all three sketch stores operationally
identical.

Scale shape per batch: ONE (group, register) partial-agg shuffle over
the micro-batch — at most m rows per group survive the map-side
combine — then a full outer join against the <= groups-row store.
State never grows with stream history, only with the group domain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tastytrade_sdk_spark.operators.sketches import hll_merge, hll_sketch
from tastytrade_sdk_spark.streaming.sinks import (
    _commit_swap,
    _epoch_admits,
    readable_store_path,
)


def hll_store_batch(
    batch_df: DataFrame,
    store_path: str,
    group_col: str,
    value_col: str,
    epoch_id: int,
    p: int = 6,
) -> None:
    """Merge one micro-batch's HLL sketches into the store.

    Store schema: (group_col string, hll_regs array<int>). NULL groups
    are dropped (they carry no identity, matching the batch sketch's
    groupBy semantics for the queries we declare).
    """
    spark = batch_df.sparkSession
    m = 1 << p
    # epoch guard FIRST (crashed-swap recovery + regression detection
    # must run even for an empty batch)
    if not _epoch_admits(store_path, epoch_id, "hll_store_batch"):
        return
    if batch_df.isEmpty():
        return
    batch_sk = hll_sketch(
        batch_df.select(
            F.col(group_col).cast("string").alias(group_col), value_col
        ).filter(F.col(group_col).isNotNull()),
        [group_col],
        value_col,
        p=p,
    )
    if os.path.exists(store_path):
        store = spark.read.parquet(store_path).withColumnRenamed(
            "hll_regs", "__store_regs"
        )
        zeros = F.array_repeat(F.lit(0), m)
        # a store written at a different p would zip_with into a
        # silently corrupt mixed-length merge — raise instead; the
        # assert is woven into the merge expression so pruning cannot
        # drop it (NULL store side = group absent from store, fine)
        stored_ok = F.assert_true(
            F.col("__store_regs").isNull()
            | (F.size("__store_regs") == F.lit(m)),
            F.lit(
                f"hll_store_batch: store register length != m={m} — "
                "store was written with a different p"
            ),
        )
        merged = batch_sk.join(store, group_col, "full_outer").select(
            group_col,
            F.when(
                stored_ok.isNull(),
                hll_merge(
                    F.coalesce(F.col("hll_regs"), zeros),
                    F.coalesce(F.col("__store_regs"), zeros),
                ),
            ).alias("hll_regs"),
        )
    else:
        merged = batch_sk
    _commit_swap(merged, store_path, epoch_id)


def read_hll_store(spark, store_path: str, group_col: str) -> DataFrame:
    """The store as a DataFrame; a never-created store (every batch so
    far empty or epoch-rejected) reads as an empty frame rather than a
    path-not-found AnalysisException."""
    readable = readable_store_path(store_path)
    if readable is None:
        return spark.createDataFrame(
            [], f"`{group_col}` string, hll_regs array<int>"
        )
    return spark.read.parquet(readable)
