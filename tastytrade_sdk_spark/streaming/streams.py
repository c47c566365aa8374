"""Streaming transformations (SURVEY ST3-ST5): watermarked candle
aggregation and latest-per-key in update mode — the streaming twins of
operators/candles.ohlcv and operators/dedup.latest_per_key.

``streaming_ohlcv`` and ``streaming_latest`` declare their event-time
watermark through ``_event_time``: when the time column already
carries one (set upstream, e.g. by
``sources.feedbus.absorb_redelivery``, and kept through an alias),
that watermark stays and no second one is declared. Spark rejects a
second watermark after a stateful operator ("Redefining watermark is
disallowed"), so without this the redelivery absorb could not feed
either. The ``watermark`` argument then has no effect: the upstream
delay bounds the state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the column metadata key Spark's EventTimeWatermark sets on its column
_WATERMARK_DELAY_KEY = "spark.watermarkDelayMs"


def _event_time(stream: DataFrame, time_col: str, watermark: str) -> DataFrame:
    """``stream`` watermarked on ``time_col``: the watermark it already
    carries, else a new one of delay ``watermark``."""
    if _WATERMARK_DELAY_KEY in stream.schema[time_col].metadata:
        return stream
    return stream.withWatermark(time_col, watermark)


def streaming_ohlcv(
    stream: DataFrame,
    symbol_col: str = "symbol",
    time_col: str = "time",
    price_col: str = "price",
    size_col: str | None = None,
    interval: str = "5 minutes",
    watermark: str = "10 minutes",
    order_col: str | None = None,
) -> DataFrame:
    """A8 as a watermarked tumbling-window aggregation. Late rows
    within the watermark update the open bar (ST3); beyond it they are
    dropped — the bounded-state replacement for the reference's
    unbounded keep-last frames (ST5). The aggregate list is SHARED
    with the batch twin (operators/candles.candle_agg_exprs) so the
    two schemas — including vwap and column order — cannot drift.
    A watermark already on ``time_col`` takes the place of
    ``watermark`` (module docstring)."""
    from tastytrade_sdk_spark.operators.candles import candle_agg_exprs

    aggs = candle_agg_exprs(time_col, price_col, size_col, order_col)
    agg = (
        _event_time(stream, time_col, watermark)
        .groupBy(
            F.col(symbol_col).alias("symbol"),
            F.window(F.col(time_col), interval).alias("w"),
        )
        .agg(*aggs)
    )
    return agg.select(
        "symbol", F.col("w.start").alias("time"),
        *[c for c in agg.columns if c not in ("symbol", "w")],
    )


def streaming_latest(
    stream: DataFrame,
    keys: Sequence[str],
    time_col: str,
    watermark: str = "1 hour",
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """D1 latest-value table in update mode: max_by over event time.
    Emits one updated row per key per micro-batch (the Redis HSET
    'latest' shape, redis.py:36-38).

    ``order_cols`` extends the max_by ordering past the event time
    (e.g. ``[time_col, "event_id"]``): with equal timestamps and no
    tiebreak the winner is arbitrary and can FLIP between micro-batch
    replays, breaking the replay-convergence (ST7) story — same
    deterministic-total-order contract as operators/dedup.keep_last.
    A watermark already on ``time_col`` takes the place of
    ``watermark`` (module docstring)."""
    payload = F.struct(*[F.col(c) for c in stream.columns])
    order = F.struct(*[F.col(c) for c in (list(order_cols) if order_cols else [time_col])])
    agg = (
        _event_time(stream, time_col, watermark)
        .groupBy(*keys)
        .agg(F.max_by(payload, order).alias("__latest"))
    )
    value_cols = [c for c in stream.columns if c not in keys]
    return agg.select(*keys, *[F.col(f"__latest.{c}").alias(c) for c in value_cols])


def streaming_latest_tws(
    stream: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """D1/D2 latest-value table via ``transformWithStateInPandas`` —
    the modern stateful-operator API (SURVEY §2.3's target mapping).

    Keeps one ValueState row per key holding the current winner by
    ``order_cols`` (lexicographic, e.g. ``["ts", "event_id"]``) and
    emits the new winner whenever it changes. Versus the max_by
    aggregation form (``streaming_latest``): state is an explicit,
    TTL-evictable single row per key (``state_ttl_ms``), and arbitrary
    update logic can ride along — this is the shape the reference's
    Redis HSET 'latest' sink (redis.py:36-38) takes on Spark when
    update-mode aggregation semantics aren't enough.

    Works identically over a batch DataFrame (Spark runs the processor
    once per key), which is what the equivalence test exploits.

    NOTE: the transformWithState Python worker protocol requires
    ``google.protobuf``, absent from this test container — the
    operator is exercised where protobuf exists (the equivalence test
    importorskips), and ``streaming_latest`` /
    ``operators/dedup.keep_last`` provide the same semantics on the
    aggregation path everywhere.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    schema = stream.schema
    key_list = list(keys)
    order_list = list(order_cols)
    state_schema = T.StructType(
        [f for f in schema.fields if f.name not in key_list]
    )
    value_cols = [f.name for f in state_schema.fields]

    class LatestProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._latest = handle.getValueState(
                "latest", state_schema, ttlDurationMs=state_ttl_ms
            )

        def handleInputRows(self, key, rows, timer_values):
            best = None  # tuple of order values
            best_row = None
            if self._latest.exists():
                cur = self._latest.get()
                cur_d = dict(zip(value_cols, cur))
                best = tuple(cur_d[c] for c in order_list)
                best_row = cur_d
            changed = False
            for pdf in rows:
                for rec in pdf.to_dict("records"):
                    cand = tuple(rec[c] for c in order_list)
                    if best is None or cand > best:
                        best = cand
                        best_row = {c: rec[c] for c in value_cols}
                        changed = True
            if changed:
                self._latest.update(tuple(best_row[c] for c in value_cols))
                keyed = dict(zip(key_list, key))
                yield pd.DataFrame(
                    {
                        f.name: [keyed[f.name] if f.name in keyed else best_row[f.name]]
                        for f in schema.fields
                    }
                )

        def close(self) -> None:
            pass

    return stream.groupBy(*key_list).transformWithStateInPandas(
        statefulProcessor=LatestProcessor(),
        outputStructType=schema,
        outputMode="Update",
        # TTL state REQUIRES ProcessingTime mode — Spark raises
        # STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL if a
        # ttlDurationMs state is registered under timeMode="None"
        timeMode="ProcessingTime" if state_ttl_ms else "None",
    )


def streaming_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    point_time: str = "ts",
    start_col: str = "win_start",
    window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join (the streaming twin of
    operators/rangejoin.range_join_binned): points matched to interval
    starts within ``window`` after them, both sides watermarked so the
    join state is bounded.

    Structured Streaming requires the time-range predicate in the join
    condition to bound state retention: each side's buffered rows are
    dropped once the other side's watermark passes the range. Same
    semantics as the batch binned range join with
    end = start + window — asserted equal in tests.
    """
    p = points.withWatermark(point_time, watermark).alias("p")
    iv = intervals.withWatermark(start_col, watermark).alias("i")
    cond = (
        (F.col(f"p.{on}") == F.col(f"i.{on}"))
        & (F.col(f"p.{point_time}") >= F.col(f"i.{start_col}"))
        & (
            F.col(f"p.{point_time}")
            < F.col(f"i.{start_col}") + F.expr(f"INTERVAL {window}")
        )
    )
    return p.join(iv, cond, "inner")


def streaming_dedup_within_watermark(
    stream: DataFrame,
    key_cols: Sequence[str],
    time_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming fill-id dedup (K3/D3) with BOUNDED state: first
    arrival per key wins, and a key's dedup state is dropped once the
    watermark passes it — the streaming-native form of the reference's
    fill-log 'seen id' set (processors/default.py keyed replay guard),
    which in the reference grows without bound within a session.

    Uses dropDuplicatesWithinWatermark so re-deliveries arriving inside
    the watermark window are absorbed even when their event time
    differs slightly (at-least-once transports re-stamp retries); exact
    replays beyond the watermark are the upsert sink's job (ST7).
    """
    return stream.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def streaming_session_activity(
    stream: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows on a live stream (the gap-merged window type
    the batch [Q] session_window_activity oracles via the islands
    rewrite): Spark's native session_window merges state per key until
    ``gap`` passes with no event, and the watermark both bounds the
    state AND finalizes sessions (append mode emits a session only
    once it can no longer extend). Same aggregate shape as the batch
    twin so streaming==batch equivalence is testable row-for-row."""
    agg = (
        stream.withWatermark(time_col, watermark)
        .groupBy(
            F.session_window(F.col(time_col), gap).alias("w"),
            F.col(key_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("total_value"),
        )
    )
    return agg.select(
        key_col,
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "total_value",
    )
