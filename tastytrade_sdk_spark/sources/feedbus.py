"""Kafka-shaped feed-bus source adapter (SURVEY S1/S4/ST7).

The reference ingests via a DXLink websocket: channels demux event
types, `subscribe`/`unsubscribe` edit the symbol set per channel
(reference src/tastytrade/connections/sockets.py:366-448), candle
subscriptions carry a `fromTime`/`toTime` backfill range whose initial
snapshot precedes live data (sockets.py:452-531), and reconnects
re-subscribe from the last seen position. Spark has no websocket
source; the *idiomatic* carrier for that contract is a partitioned,
offset-addressed log — i.e. the Kafka source shape. This module
provides that shape behind one façade:

- every backend yields the same ENVELOPE schema
  ``(channel, symbol, offset, ts, payload)`` — Kafka's
  (topic, key, offset, timestamp, value) renamed to feed terms;
- ``starting_offsets`` reproduces the reconnect contract: "earliest"
  replays the log, "latest" takes only new arrivals, a per-channel
  dict resumes from recorded positions (checkpoint-external resume,
  the `fromTime` re-subscription backfill in offset space);
- ``from_time``/``to_time`` reproduce the candle backfill range in
  event-time space;
- subscription add/remove is a stream-static semi-join against a
  subscriptions table re-read every micro-batch — the Spark-native
  form of FEED_SUBSCRIPTION add/remove (restarting the query is NOT
  required to change the symbol set, matching the reference's
  runtime re-subscription);
- at-least-once re-deliveries are absorbed with
  ``dropDuplicatesWithinWatermark`` on (channel, symbol, offset).

Backends: ``file`` (a growing directory of parquet envelope batches —
the test double, also the shape of a raw-bytes landing zone), and
``kafka`` (real connector options mapped but not started here; the
sandbox has no broker, so `kafka_reader_options` is unit-tested and
the returned option dict feeds ``spark.readStream.format("kafka")``
verbatim on a cluster).
"""

from __future__ import annotations

import json
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ENVELOPE_SCHEMA = (
    "channel string, symbol string, offset long, ts timestamp, "
    "payload string"
)

ENVELOPE_COLS = ["channel", "symbol", "offset", "ts", "payload"]


def kafka_reader_options(
    bootstrap_servers: str,
    channels: Sequence[str],
    starting_offsets: str | dict[str, dict[str, int]] = "latest",
    from_time_ms: int | None = None,
) -> dict[str, str]:
    """Map the feed-bus contract onto the real Kafka source options.

    ``channels`` become the subscribed topics. ``starting_offsets``
    follows the same forms as :func:`feed_bus_stream`; ``from_time_ms``
    (the candle `fromTime` backfill) maps to ``startingTimestamp``
    (Spark 3.3+), which Kafka resolves per partition to the first
    offset at-or-after the timestamp — exactly the snapshot-then-live
    backfill position. (``startingOffsetsByTimestamp`` would need the
    explicit per-partition map — its keys must be integer partition
    ids, there is no wildcard form.)"""
    opts: dict[str, str] = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": ",".join(channels),
        # at-least-once with downstream absorb, per the replay contract
        "failOnDataLoss": "false",
    }
    if from_time_ms is not None:
        opts["startingTimestamp"] = str(from_time_ms)
    elif isinstance(starting_offsets, dict):
        opts["startingOffsets"] = json.dumps(starting_offsets)
    else:
        opts["startingOffsets"] = starting_offsets
    return opts


def kafka_envelope(raw: DataFrame) -> DataFrame:
    """Project a real Kafka source DataFrame (key/value binary,
    topic/partition/offset/timestamp) onto the envelope schema.

    The envelope ``offset`` is partition-qualified
    (``partition * 2^40 + offset``): a bare Kafka offset is only
    unique per (topic, partition), so deduping on (channel, symbol,
    offset) would silently merge distinct messages from different
    partitions of the same topic (e.g. null-keyed round-robin
    producers). 2^40 offsets/partition (~1.1e12) keeps the composite
    inside a long for any realistic retention."""
    return raw.select(
        F.col("topic").alias("channel"),
        F.col("key").cast("string").alias("symbol"),
        (
            F.col("partition").cast("long") * F.lit(1 << 40)
            + F.col("offset").cast("long")
        ).alias("offset"),
        F.col("timestamp").alias("ts"),
        F.col("value").cast("string").alias("payload"),
    )


def _latest_offsets(spark: SparkSession, path: str) -> dict[str, int]:
    """Max committed offset per channel in a file-backend log
    (empty dict when the log doesn't exist yet)."""
    try:
        batch = spark.read.schema(ENVELOPE_SCHEMA).parquet(path)
    except Exception:
        return {}
    rows = batch.groupBy("channel").agg(F.max("offset").alias("m")).collect()
    return {r["channel"]: r["m"] for r in rows}


def feed_bus_stream(
    spark: SparkSession,
    path: str,
    channels: Sequence[str] | None = None,
    starting_offsets: str | dict[str, int] = "earliest",
    from_time=None,
    to_time=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Open the file-backend feed bus as a streaming envelope frame.

    ``starting_offsets``: "earliest" replays everything; "latest"
    starts past the offsets present when the query is BUILT (the
    live-only subscription); a ``{channel: offset}`` dict resumes
    strictly after the given positions (the reconnect re-subscription
    with a recorded position — offsets at or below it are dropped,
    exactly Kafka's per-partition resume).

    ``from_time``/``to_time`` bound event time (candle ``fromTime`` /
    ``toTime`` backfill): both filters are on the envelope's event
    timestamp and push into the scan."""
    reader = spark.readStream.schema(ENVELOPE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(path)
    if channels:
        stream = stream.filter(F.col("channel").isin(*list(channels)))
    if starting_offsets == "latest":
        start = _latest_offsets(spark, path)
    elif isinstance(starting_offsets, dict):
        start = dict(starting_offsets)
    else:
        start = {}
    if start:
        pairs = F.create_map(
            *[x for k, v in start.items() for x in (F.lit(k), F.lit(int(v)))]
        )
        stream = stream.filter(
            F.col("offset")
            > F.coalesce(pairs[F.col("channel")], F.lit(-1))
        )
    if from_time is not None:
        stream = stream.filter(F.col("ts") >= F.lit(from_time))
    if to_time is not None:
        stream = stream.filter(F.col("ts") < F.lit(to_time))
    return stream


def write_feed_batch(
    spark: SparkSession,
    path: str,
    rows: Sequence[tuple[Any, ...]],
) -> None:
    """Append one batch of (channel, symbol, offset, ts, payload) rows
    to a file-backend bus — the test double's producer side."""
    spark.createDataFrame(list(rows), ENVELOPE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def subscribed(
    stream: DataFrame,
    subscriptions: DataFrame | Sequence[str],
    symbol_col: str = "symbol",
) -> DataFrame:
    """FEED_SUBSCRIPTION as a filter: the symbol set for this query
    run (a list, or a small frame broadcast-semi-joined).

    Changing the set at runtime = restarting the query against the
    SAME checkpoint: the committed source offsets make the restart
    exactly-once, so an added symbol backfills from the restart
    offset and a removed one stops — the Spark-native form of the
    reference's reconnect/re-subscription flow (sockets.py:366-448;
    the `fromTime` backfill position is the checkpoint's offset).
    For event-time-correct REPLAY of a subscription changelog, use
    :func:`subscribed_asof` instead (plain parquet static sides cache
    their file listing at plan time, so in-flight edits to a
    subscriptions table are NOT visible to a running query)."""
    if isinstance(subscriptions, DataFrame):
        # pick the symbol column by NAME when present; only fall back
        # to positional for an unambiguous single-column frame —
        # silently semi-joining against whatever happens to be first
        # would drop every event without an error
        if symbol_col in subscriptions.columns:
            src = symbol_col
        elif len(subscriptions.columns) == 1:
            src = subscriptions.columns[0]
        else:
            raise ValueError(
                f"subscriptions frame has no '{symbol_col}' column and "
                f"is not single-column: {subscriptions.columns}"
            )
        subs = subscriptions.select(F.col(src).alias(symbol_col)).distinct()
        return stream.join(F.broadcast(subs), symbol_col, "left_semi")
    return stream.filter(F.col(symbol_col).isin(*list(subscriptions)))


def subscribed_asof(
    events: DataFrame,
    changelog: DataFrame,
    symbol_col: str = "symbol",
    time_col: str = "ts",
) -> DataFrame:
    """Replay-time subscription semantics over an add/remove changelog:
    an event survives iff the LAST subscription op for its symbol
    at-or-before the event's timestamp is an ``add``.

    ``changelog`` columns: (symbol, op in {'add','remove'}, ts, seq) —
    the FEED_SUBSCRIPTION message log. This is the as-of join form
    (operators/asof.py): one union-tag window pass, O((E+C)log),
    exactly the engine's backtest-replay machinery reused for the
    subscription dimension."""
    from tastytrade_sdk_spark.operators.asof import asof_join

    enriched = asof_join(
        events,
        changelog.select(
            F.col(symbol_col),
            F.col(time_col),
            F.col("seq"),
            F.col("op").alias("__sub_op"),
        ),
        on=[symbol_col],
        left_time=time_col,
        right_time=time_col,
        value_cols=["__sub_op"],
        right_order="seq",
    )
    return enriched.filter(F.col("__sub_op") == "add").drop("__sub_op")


def absorb_redelivery(
    stream: DataFrame,
    watermark: str = "10 minutes",
) -> DataFrame:
    """At-least-once absorb: exactly-once per (channel, symbol, offset)
    within the watermark horizon (ack/replay contract, ST7). Beyond the
    horizon, idempotent upsert sinks own the guarantee.

    The watermark is on ``ts`` and survives an alias, so
    ``streaming.streams.streaming_ohlcv`` / ``streaming_latest``
    downstream keep it rather than declaring their own."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["channel", "symbol", "offset"]
    )
