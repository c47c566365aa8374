"""Kafka-shaped feed-bus source adapter (S1/S4/ST7): envelope schema,
startingOffsets resume, fromTime backfill, runtime subscription
add/remove via stream-static join, re-delivery absorb, and the same
downstream pipeline driven from either the plain file source or the
feed bus (source-parameterized equivalence)."""

import datetime as dt
import json
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tastytrade_sdk_spark.sources.feedbus import (
    absorb_redelivery,
    feed_bus_stream,
    kafka_reader_options,
    subscribed,
    write_feed_batch,
)
from tastytrade_sdk_spark.streaming.streams import streaming_ohlcv

T0 = dt.datetime(2024, 3, 1, 14, 0, 0)


def _rows(channel, symbol, start_offset, n, price=100.0):
    return [
        (
            channel,
            symbol,
            start_offset + i,
            T0 + dt.timedelta(minutes=i),
            json.dumps({"price": price + i}),
        )
        for i in range(n)
    ]


def _drain(stream, name):
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    return q


class TestFeedBus:
    def test_starting_offsets_latest_skips_history(self, spark):
        src = tempfile.mkdtemp(prefix="bus_")
        try:
            write_feed_batch(spark, src, _rows("quote", "SPY", 0, 5))
            stream = feed_bus_stream(spark, src, starting_offsets="latest")
            q = _drain(stream, "bus_latest")
            write_feed_batch(spark, src, _rows("quote", "SPY", 5, 3))
            q.processAllAvailable()
            q.stop()
            got = sorted(
                r["offset"] for r in spark.sql("select * from bus_latest").collect()
            )
            assert got == [5, 6, 7]  # history before query build skipped
        finally:
            shutil.rmtree(src, ignore_errors=True)

    def test_starting_offsets_dict_resumes_per_channel(self, spark):
        src = tempfile.mkdtemp(prefix="bus_")
        try:
            write_feed_batch(spark, src, _rows("quote", "SPY", 0, 5))
            write_feed_batch(spark, src, _rows("trade", "SPY", 0, 5))
            stream = feed_bus_stream(
                spark, src, starting_offsets={"quote": 2}
            )
            q = _drain(stream, "bus_resume")
            q.stop()
            got = sorted(
                (r["channel"], r["offset"])
                for r in spark.sql("select * from bus_resume").collect()
            )
            # quote resumes AFTER offset 2; trade (no position) replays all
            assert got == [
                ("quote", 3), ("quote", 4),
                ("trade", 0), ("trade", 1), ("trade", 2),
                ("trade", 3), ("trade", 4),
            ]
        finally:
            shutil.rmtree(src, ignore_errors=True)

    def test_from_time_backfill_bounds_event_time(self, spark):
        src = tempfile.mkdtemp(prefix="bus_")
        try:
            write_feed_batch(spark, src, _rows("candle", "SPY", 0, 10))
            stream = feed_bus_stream(
                spark,
                src,
                from_time=T0 + dt.timedelta(minutes=4),
                to_time=T0 + dt.timedelta(minutes=8),
            )
            q = _drain(stream, "bus_time")
            q.stop()
            got = sorted(
                r["offset"] for r in spark.sql("select * from bus_time").collect()
            )
            assert got == [4, 5, 6, 7]  # [fromTime, toTime)
        finally:
            shutil.rmtree(src, ignore_errors=True)

    def test_subscription_change_via_checkpoint_restart(self, spark):
        """S4/ST7: changing the symbol set = restart against the SAME
        checkpoint — committed offsets make it exactly-once, so the
        added symbol starts at the restart position, the removed one
        stops, and nothing re-delivers (the reference's reconnect +
        re-subscription flow, sockets.py:366-448)."""
        src = tempfile.mkdtemp(prefix="bus_")
        ckpt = tempfile.mkdtemp(prefix="bus_ckpt_")
        out = tempfile.mkdtemp(prefix="bus_out_")
        try:
            write_feed_batch(
                spark, src,
                _rows("quote", "SPY", 0, 2) + _rows("quote", "QQQ", 0, 2),
            )

            def run_until_drained(symbols):
                stream = subscribed(feed_bus_stream(spark, src), symbols)
                q = (
                    stream.writeStream.outputMode("append")
                    .format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .start()
                )
                q.processAllAvailable()
                q.stop()

            run_until_drained(["SPY"])
            # FEED_SUBSCRIPTION: add QQQ, remove SPY; restart, same ckpt
            write_feed_batch(
                spark, src,
                _rows("quote", "SPY", 2, 2) + _rows("quote", "QQQ", 2, 2),
            )
            run_until_drained(["QQQ"])
            got = sorted(
                (r["symbol"], r["offset"])
                for r in spark.read.parquet(out).collect()
            )
            # run 1 delivered SPY's first batch; run 2 delivered only
            # the post-restart batch of the newly-added symbol — the
            # first batch's QQQ offsets were committed, not re-delivered
            assert got == [
                ("QQQ", 2), ("QQQ", 3),
                ("SPY", 0), ("SPY", 1),
            ]
        finally:
            shutil.rmtree(src, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)
            shutil.rmtree(out, ignore_errors=True)

    def test_subscribed_asof_changelog_replay(self, spark):
        """Event-time-correct replay of a FEED_SUBSCRIPTION changelog:
        an event survives iff the last op for its symbol at-or-before
        its timestamp is an add."""
        from tastytrade_sdk_spark.sources.feedbus import subscribed_asof

        ev = spark.createDataFrame(
            [("SPY", T0 + dt.timedelta(minutes=m)) for m in range(6)]
            + [("QQQ", T0 + dt.timedelta(minutes=m)) for m in range(6)],
            "symbol string, ts timestamp",
        )
        log = spark.createDataFrame(
            [
                ("SPY", "add", T0, 1),
                ("SPY", "remove", T0 + dt.timedelta(minutes=3), 2),
                ("QQQ", "add", T0 + dt.timedelta(minutes=2), 3),
            ],
            "symbol string, op string, ts timestamp, seq int",
        )
        got = sorted(
            (r["symbol"], r["ts"].minute)
            for r in subscribed_asof(ev, log).collect()
        )
        # SPY subscribed [0,3), QQQ from minute 2 on; never-subscribed
        # minutes (QQQ 0-1) and post-remove (SPY 3+) are dropped
        assert got == [
            ("QQQ", 2), ("QQQ", 3), ("QQQ", 4), ("QQQ", 5),
            ("SPY", 0), ("SPY", 1), ("SPY", 2),
        ]

    def test_redelivery_absorbed(self, spark):
        src = tempfile.mkdtemp(prefix="bus_")
        try:
            write_feed_batch(spark, src, _rows("trade", "SPY", 0, 3))
            # at-least-once transport re-delivers offsets 1-2
            write_feed_batch(spark, src, _rows("trade", "SPY", 1, 2))
            stream = absorb_redelivery(feed_bus_stream(spark, src))
            q = _drain(stream, "bus_dedup")
            q.stop()
            got = sorted(
                r["offset"] for r in spark.sql("select * from bus_dedup").collect()
            )
            assert got == [0, 1, 2]
        finally:
            shutil.rmtree(src, ignore_errors=True)

    def test_kafka_reader_option_mapping(self):
        opts = kafka_reader_options(
            "broker:9092", ["quote", "trade"], starting_offsets="earliest"
        )
        assert opts["subscribe"] == "quote,trade"
        assert opts["startingOffsets"] == "earliest"
        assert opts["failOnDataLoss"] == "false"

        by_pos = kafka_reader_options(
            "broker:9092", ["quote"],
            starting_offsets={"quote": {"0": 7}},
        )
        assert json.loads(by_pos["startingOffsets"]) == {"quote": {"0": 7}}

        by_time = kafka_reader_options(
            "broker:9092", ["candle"], from_time_ms=1_700_000_000_000
        )
        # all-partition timestamp start uses startingTimestamp —
        # startingOffsetsByTimestamp has no wildcard partition form
        # (its keys must be integer partition ids)
        assert by_time["startingTimestamp"] == "1700000000000"
        assert "startingOffsets" not in by_time
        assert "startingOffsetsByTimestamp" not in by_time


@pytest.mark.parametrize("source", ["plain_file", "feed_bus"])
def test_streaming_ohlcv_same_from_either_source(spark, source):
    """The same candle pipeline produces identical bars whether fed
    from the plain file source or through the feed-bus envelope —
    the adapter is a drop-in in front of existing operators."""
    src = tempfile.mkdtemp(prefix=f"ohlcv_{source}_")
    try:
        rows = _rows("quote", "SPY", 0, 12, price=50.0)
        if source == "plain_file":
            spark.createDataFrame(
                [(r[1], r[3], 50.0 + i) for i, r in enumerate(rows)],
                "symbol string, ts timestamp, price double",
            ).coalesce(1).write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                "symbol string, ts timestamp, price double"
            ).parquet(src)
        else:
            write_feed_batch(spark, src, rows)
            env = feed_bus_stream(spark, src)
            stream = env.select(
                "symbol",
                "ts",
                F.get_json_object("payload", "$.price")
                .cast("double")
                .alias("price"),
            )
        candles = streaming_ohlcv(
            stream, symbol_col="symbol", time_col="ts", price_col="price",
            interval="5 minutes", watermark="30 minutes",
        )
        q = (
            candles.writeStream.outputMode("update")
            .format("memory")
            .queryName(f"ohlcv_{source}")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["symbol"], r["time"]): (r["open"], r["high"], r["low"], r["close"])
            for r in spark.sql(f"select * from ohlcv_{source}").collect()
        }
        # 12 one-minute ticks -> three 5-minute bars, identical from
        # either source
        assert got == {
            ("SPY", T0): (50.0, 54.0, 50.0, 54.0),
            ("SPY", T0 + dt.timedelta(minutes=5)): (55.0, 59.0, 55.0, 59.0),
            ("SPY", T0 + dt.timedelta(minutes=10)): (60.0, 61.0, 60.0, 61.0),
        }
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_absorbed_redelivery_feeds_streaming_candles(spark):
    """absorb_redelivery composes with streaming_ohlcv: the candle
    aggregation keeps the absorb's watermark (carried through the
    ts -> time alias) instead of declaring a second one, which Spark
    rejects, and a redelivered envelope leaves the candles as they
    are without it."""
    rows = [
        (c, sym, off, ts, json.dumps({"price": 50.0 + off, "size": 10 + off}))
        for c, sym, off, ts, _ in _rows("trade", "SPY", 0, 12)
    ]

    def candles(name: str, batches) -> list:
        src = tempfile.mkdtemp(prefix="bus_candles_")
        try:
            for batch in batches:
                write_feed_batch(spark, src, batch)
            env = absorb_redelivery(
                feed_bus_stream(spark, src, max_files_per_trigger=1)
            )
            ticks = env.select(
                "symbol",
                F.col("ts").alias("time"),
                F.from_json("payload", "price double, size long").alias("p"),
            ).select("symbol", "time", "p.price", "p.size")
            q = (
                streaming_ohlcv(ticks, price_col="price", size_col="size")
                .writeStream.outputMode("complete")
                .format("memory")
                .queryName(name)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            return sorted(spark.sql(f"select * from {name}").collect())
        finally:
            shutil.rmtree(src, ignore_errors=True)

    once = candles("bus_candles_once", [rows])
    redelivered = candles("bus_candles_redelivered", [rows, rows[3:4]])
    assert [r["count"] for r in once] == [5, 5, 2]
    assert redelivered == once


def test_kafka_envelope_partition_qualified_offsets(spark):
    """Two partitions of one topic can carry the same bare offset; the
    envelope offset must stay distinct (partition-qualified) so the
    redelivery absorb's dedup key is a real message identity."""
    import datetime as dt

    from tastytrade_sdk_spark.sources.feedbus import kafka_envelope

    ts = dt.datetime(2026, 1, 2, 9, 30)
    raw = spark.createDataFrame(
        [
            ("quote", bytearray(b"SPY"), bytearray(b"p1"), 0, 5, ts),
            ("quote", bytearray(b"SPY"), bytearray(b"p2"), 1, 5, ts),
        ],
        "topic string, key binary, value binary, partition int, offset long, timestamp timestamp",
    )
    env = kafka_envelope(raw).collect()
    assert [r["channel"] for r in env] == ["quote", "quote"]
    assert [r["symbol"] for r in env] == ["SPY", "SPY"]
    assert [r["payload"] for r in env] == ["p1", "p2"]
    offs = {r["offset"] for r in env}
    assert len(offs) == 2  # distinct despite equal bare offsets
    assert min(offs) == 5 and max(offs) == (1 << 40) + 5


class TestReconnectionWorkflow:
    """Live-path mirror of the reference's reconnection workflow
    (unit_tests/connections/test_reconnection_workflow.py): signal
    primitives, injected drops on a RUNNING streaming query, offset
    resume from checkpoint AND from sink-recovered positions, with
    at-least-once redeliveries absorbed across the reconnect."""

    def test_signal_trigger_wait_reset_cycles(self):
        from tastytrade_sdk_spark.streaming.connection import (
            AUTH_EXPIRED,
            CONNECTION_DROPPED,
            MANUAL_TRIGGER,
            TIMEOUT,
            ReconnectSignal,
        )

        sig = ReconnectSignal()
        sig.trigger(AUTH_EXPIRED)
        assert sig.event.is_set() and sig.reason == AUTH_EXPIRED
        # wait returns the reason and clears the latch
        assert sig.wait(timeout=0) == AUTH_EXPIRED
        assert not sig.event.is_set()
        # sequential trigger/wait cycles compose
        for reason in (CONNECTION_DROPPED, TIMEOUT):
            sig.trigger(reason)
            assert sig.wait(timeout=0) == reason
        # an un-triggered wait times out instead of hanging
        with pytest.raises(TimeoutError):
            sig.wait(timeout=0.01)
        # a bare event.set() with no recorded reason reports
        # MANUAL_TRIGGER — wait() must have consumed the prior reason
        # along with the latch, not leak it into this cycle
        sig.event.set()
        assert sig.wait(timeout=0) == MANUAL_TRIGGER
        # reset clears both latch and reason
        sig.trigger(TIMEOUT)
        sig.reset()
        assert not sig.event.is_set() and sig.reason is None

    def test_drop_and_reconnect_live_stream_absorbs_redelivery(self, spark):
        from tastytrade_sdk_spark.streaming.connection import (
            CONNECTED,
            CONNECTION_DROPPED,
            ERROR,
            TIMEOUT,
            FeedBusConnection,
        )

        tmp = tempfile.mkdtemp()
        bus, sink, ckpt = f"{tmp}/bus", f"{tmp}/sink", f"{tmp}/ckpt"
        conn = FeedBusConnection(spark, bus, sink, ckpt, channels=["quotes"])
        try:
            write_feed_batch(spark, bus, _rows("quotes", "AAPL", 0, 10))
            conn.connect(starting_offsets="earliest")
            assert conn.state == CONNECTED
            conn.process_available()

            # injected drop: state machine + signal, query torn down
            conn.inject_connection_dropped(CONNECTION_DROPPED)
            assert conn.state == ERROR
            assert conn.last_error == CONNECTION_DROPPED
            assert conn.query is None

            # while disconnected the producer redelivers 5..9 (ack was
            # lost in the drop) and appends new offsets 10..19
            write_feed_batch(
                spark, bus, _rows("quotes", "AAPL", 5, 5)
            )
            write_feed_batch(spark, bus, _rows("quotes", "AAPL", 10, 10))

            # reconnect on the SAME checkpoint: exactly-once continuation
            assert conn.reconnect(resume="checkpoint") == CONNECTION_DROPPED
            assert conn.state == CONNECTED and conn.last_error is None
            conn.process_available()
            got = spark.read.parquet(sink)
            assert got.count() == 20
            assert got.select("offset").distinct().count() == 20

            # second drop; checkpoint is LOST; positions recovered from
            # the sink; redelivery of 15..19 races the reconnect
            conn.inject_connection_dropped(TIMEOUT)
            write_feed_batch(spark, bus, _rows("quotes", "AAPL", 15, 5))
            write_feed_batch(spark, bus, _rows("quotes", "AAPL", 20, 5))
            assert conn.reconnect(resume="sink") == TIMEOUT
            conn.process_available()
            got = spark.read.parquet(sink).select("offset").collect()
            offs = sorted(r["offset"] for r in got)
            assert offs == list(range(25)), offs
        finally:
            conn.close()
            shutil.rmtree(tmp, ignore_errors=True)

    def test_from_time_backfill_survives_reconnect(self, spark):
        from tastytrade_sdk_spark.streaming.connection import (
            FeedBusConnection,
        )

        tmp = tempfile.mkdtemp()
        bus, sink, ckpt = f"{tmp}/bus", f"{tmp}/sink", f"{tmp}/ckpt"
        # fromTime admits only events at/after T0+5min (candle backfill
        # contract, sockets.py:452-531): rows 0..4 are too old
        conn = FeedBusConnection(
            spark, bus, sink, ckpt,
            channels=["candles"],
            from_time=T0 + dt.timedelta(minutes=5),
        )
        def rows_at(start, n):
            # ts tracks the OFFSET (one minute per offset) so later
            # appends are genuinely later in event time
            return [
                (
                    "candles",
                    "SPX",
                    start + i,
                    T0 + dt.timedelta(minutes=start + i),
                    json.dumps({"price": 100.0}),
                )
                for i in range(n)
            ]

        try:
            write_feed_batch(spark, bus, rows_at(0, 10))
            conn.connect()
            conn.process_available()
            conn.inject_connection_dropped()
            write_feed_batch(spark, bus, rows_at(10, 5))
            conn.reconnect(resume="sink")
            conn.process_available()
            offs = sorted(
                r["offset"]
                for r in spark.read.parquet(sink).select("offset").collect()
            )
            # 0..4 excluded by fromTime on BOTH connection attempts
            assert offs == list(range(5, 15)), offs
        finally:
            conn.close()
            shutil.rmtree(tmp, ignore_errors=True)


def test_reconnect_preserves_subscription_position(spark):
    """Advisor r4: a connection opened at a non-earliest position
    (dict or 'latest') must KEEP that position across a
    checkpoint-resume reconnect — sub-position redeliveries arriving
    in new bus files during the outage must stay excluded, and a
    'latest' position must be frozen at connect time (not re-resolved
    at reconnect, which would skip the outage window)."""
    import tempfile

    from tastytrade_sdk_spark.streaming.connection import (
        FeedBusConnection,
    )

    tmp = tempfile.mkdtemp()
    bus, sink, ckpt = f"{tmp}/bus", f"{tmp}/sink", f"{tmp}/ckpt"
    # offsets 0..9 exist BEFORE the connection opens
    write_feed_batch(spark, bus, _rows("quotes", "AAPL", 0, 10))
    conn = FeedBusConnection(spark, bus, sink, ckpt, channels=["quotes"])
    try:
        conn.connect(starting_offsets="latest")  # live-only: skip 0..9
        conn.process_available()
        # arrivals while connected
        write_feed_batch(spark, bus, _rows("quotes", "AAPL", 10, 5))
        conn.process_available()
        conn.inject_connection_dropped()
        # during the outage: redelivery of PRE-subscription offsets
        # 0..4 in a brand-new file, plus genuinely new 15..19
        write_feed_batch(spark, bus, _rows("quotes", "AAPL", 0, 5))
        write_feed_batch(spark, bus, _rows("quotes", "AAPL", 15, 5))
        conn.reconnect(resume="checkpoint")
        conn.process_available()
        import os

        offs = sorted(
            r["offset"]
            for r in spark.read.parquet(sink).select("offset").collect()
        ) if os.path.exists(sink) else []
        # 0..9 never admitted (live-only position held across the
        # reconnect); outage arrivals 15..19 and live 10..14 are in
        assert offs == list(range(10, 20)), offs
    finally:
        conn.close()
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


class TestLoopbackSocketIngest:
    """S1 live-socket path: a stdlib-TCP loopback server speaking the
    DXLink JSON frame protocol (reference sockets.py:150-312 —
    handshake order, channel demux, COMPACT FEED_DATA, queue-full
    drop-with-warning), a client that drains into the file-backend
    feed bus, and the existing Spark pipeline consuming live-socket
    data end-to-end."""

    SCRIPT = [
        ("Quote", "Quote", ["AAPL", 1000, 189.5, 189.6, 100, 200]),
        ("Quote", "Quote", ["MSFT", 1000, 400.1, 400.3, 50, 75]),
        ("Trade", "Trade", ["AAPL", 1001, 189.55, 1_000_000, 10]),
        # candle fields: symbol, epoch-ms time, flags, o, h, l, c, v
        ("Candle", "Candle", ["SPX{=5m}", 1_000_000, 0, 1.0, 2.0, 0.5, 1.5, 10]),
        ("Candle", "Candle", ["SPX{=5m}", 2_000_000, 0, 1.5, 2.5, 1.0, 2.0, 20]),
        ("Candle", "Candle", ["SPX{=5m}", 3_000_000, 0, 2.0, 3.0, 1.5, 2.5, 30]),
    ]

    def _connect(self, server, bus, **kw):
        from tastytrade_sdk_spark.sources.socket_source import (
            DXLinkSocketClient,
        )

        client = DXLinkSocketClient(
            "127.0.0.1", server.port, token="tok", bus_path=bus, **kw
        )
        client.connect(timeout=5.0)
        return client

    def test_handshake_acks_in_reference_order(self):
        import tempfile

        from tastytrade_sdk_spark.sources.socket_source import (
            LoopbackFeedServer,
        )

        server = LoopbackFeedServer(self.SCRIPT)
        bus = tempfile.mkdtemp(prefix="sockbus_")
        try:
            client = self._connect(server, bus)
            types = [m["type"] for m in client.control_acks]
            # SETUP ack, then AUTH_STATE, then one CHANNEL_OPENED per
            # requested channel (the handshake gates on each in order)
            assert types[0] == "SETUP"
            assert types[1] == "AUTH_STATE"
            assert types.count("CHANNEL_OPENED") == 4
            client.close()
        finally:
            server.close()
            shutil.rmtree(bus, ignore_errors=True)

    def test_unauthorized_token_fails_handshake(self):
        import tempfile

        from tastytrade_sdk_spark.sources.socket_source import (
            DXLinkSocketClient,
            LoopbackFeedServer,
        )

        server = LoopbackFeedServer(self.SCRIPT)
        bus = tempfile.mkdtemp(prefix="sockbus_")
        try:
            client = DXLinkSocketClient(
                "127.0.0.1", server.port, token="", bus_path=bus
            )
            with pytest.raises(TimeoutError, match="AUTH_STATE"):
                client.connect(timeout=0.5)
            client.close()
        finally:
            server.close()
            shutil.rmtree(bus, ignore_errors=True)

    def test_socket_to_spark_pipeline_end_to_end(self, spark):
        """Subscribed symbols' COMPACT frames land on the bus with
        per-channel offsets, and decode_compact over feed_bus_stream
        yields the typed rows — the full S1+S2 path on live-socket
        data. Unsubscribed symbols (MSFT) never arrive."""
        import tempfile

        from pyspark.sql import types as T

        from tastytrade_sdk_spark.sources.compact import decode_compact
        from tastytrade_sdk_spark.sources.socket_source import (
            LoopbackFeedServer,
        )

        server = LoopbackFeedServer(self.SCRIPT)
        bus = tempfile.mkdtemp(prefix="sockbus_")
        try:
            client = self._connect(server, bus)
            client.subscribe("Quote", add=["AAPL"])
            client.subscribe("Trade", add=["AAPL"])
            n = client.drain_to_bus(min_events=2, timeout=5.0)
            assert n == 2  # AAPL quote + trade; MSFT filtered server-side

            stream = feed_bus_stream(spark, bus, channels=["Quote"])
            quote_schema = T.StructType([
                T.StructField("eventSymbol", T.StringType()),
                T.StructField("time", T.LongType()),
                T.StructField("bidPrice", T.DoubleType()),
                T.StructField("askPrice", T.DoubleType()),
                T.StructField("bidSize", T.DoubleType()),
                T.StructField("askSize", T.DoubleType()),
            ])
            decoded = decode_compact(
                stream.withColumn(
                    "arr",
                    F.slice(
                        F.from_json("payload", "array<string>"), 2, 1000000
                    ),
                ),
                "arr",
                quote_schema,
                keep_cols=["channel", "offset"],
            )
            q = _drain(decoded, "sock_quotes")
            q.stop()
            rows = spark.sql(
                "select * from sock_quotes where not _corrupt"
            ).collect()
            assert len(rows) == 1
            r = rows[0]
            assert (r["eventSymbol"], r["bidPrice"], r["askPrice"]) == (
                "AAPL", 189.5, 189.6,
            )
            assert r["channel"] == "Quote" and r["offset"] == 0
        finally:
            client.close()
            server.close()
            shutil.rmtree(bus, ignore_errors=True)

    def test_candle_fromtime_backfill_cut(self):
        """A candle subscription with fromTime replays only the
        snapshot at/after the cut (sockets.py:452-531 semantics)."""
        import tempfile

        from tastytrade_sdk_spark.sources.socket_source import (
            LoopbackFeedServer,
        )

        server = LoopbackFeedServer(self.SCRIPT)
        bus = tempfile.mkdtemp(prefix="sockbus_")
        try:
            client = self._connect(server, bus)
            client.subscribe(
                "Candle",
                add=[{"symbol": "SPX{=5m}", "fromTime": 2_000_000}],
            )
            n = client.drain_to_bus(min_events=2, timeout=5.0)
            assert n == 2  # candle at 1_000_000 cut by fromTime
            import pyarrow.dataset as ds

            tbl = ds.dataset(bus, format="parquet").to_table()
            payloads = [json.loads(p) for p in tbl.column("payload").to_pylist()]
            # payload is the flat COMPACT array: [type, symbol, time, ...]
            times = sorted(int(p[2]) for p in payloads)
            assert times == [2_000_000, 3_000_000]
        finally:
            client.close()
            server.close()
            shutil.rmtree(bus, ignore_errors=True)

    def test_queue_full_drops_with_warning_not_crash(self, caplog):
        """The reference's QueueFull policy (sockets.py:211-217): a
        full channel queue drops the frame with a warning; the
        listener and the other channels keep going."""
        import logging
        import tempfile
        import time as _time

        from tastytrade_sdk_spark.sources.socket_source import (
            LoopbackFeedServer,
        )

        server = LoopbackFeedServer(self.SCRIPT)
        bus = tempfile.mkdtemp(prefix="sockbus_")
        try:
            client = self._connect(server, bus, queue_maxsize=1)
            with caplog.at_level(
                logging.WARNING,
                logger="tastytrade_sdk_spark.sources.socket_source",
            ):
                # 3 candles into a 1-slot queue: 2 dropped
                client.subscribe("Candle", add=["SPX{=5m}"])
                deadline = _time.monotonic() + 5.0
                while (
                    client.dropped_counts.get(9, 0) < 2
                    and _time.monotonic() < deadline
                ):
                    _time.sleep(0.02)
            assert client.dropped_counts.get(9, 0) == 2
            assert any(
                "dropping message" in r.message for r in caplog.records
            )
            # the surviving frame still drains
            assert client.drain_to_bus(min_events=1, timeout=2.0) == 1
        finally:
            client.close()
            server.close()
            shutil.rmtree(bus, ignore_errors=True)

    def test_drop_reconnect_resumes_offsets_from_bus(self):
        """An injected socket drop sets the client's drop latch (the
        ReconnectSignal seam); a new connect re-handshakes and the
        next drained batch CONTINUES each channel's offset sequence
        past the bus's committed maxima — the resume='sink' contract
        on live-socket data."""
        import tempfile

        from tastytrade_sdk_spark.sources.socket_source import (
            LoopbackFeedServer,
        )

        server = LoopbackFeedServer(self.SCRIPT)
        bus = tempfile.mkdtemp(prefix="sockbus_")
        try:
            client = self._connect(server, bus)
            client.subscribe("Quote", add=["AAPL", "MSFT"])
            assert client.drain_to_bus(min_events=2, timeout=5.0) == 2
            server.inject_drop()
            assert client.connection_dropped.wait(5.0)
            # reconnect: fresh socket, same bus -> offsets resume
            client.connect(timeout=5.0)
            client.subscribe("Quote", add=["AAPL", "MSFT"])
            assert client.drain_to_bus(min_events=2, timeout=5.0) == 2
            import pyarrow.dataset as ds

            tbl = ds.dataset(bus, format="parquet").to_table()
            offs = sorted(tbl.column("offset").to_pylist())
            # 4 quote envelopes, offsets 0..3 with NO restart to 0
            assert offs == [0, 1, 2, 3]
        finally:
            client.close()
            server.close()
            shutil.rmtree(bus, ignore_errors=True)

    def test_multi_event_compact_frame_chunks_through_decode(self, spark):
        """The reference feed packs N events of one type back-to-back
        in a single FEED_DATA flat array (handlers.py:156-203 chunks
        by field count). batch=True serves that framing; the transport
        splits it into ONE ENVELOPE PER EVENT (r9 advisor: a frame-
        sized envelope stamped symbol=flat[0] misattributes every
        other event's symbol in the feedbus semi-join and the
        exactly-once key), and each envelope decodes cleanly via
        decode_compact."""
        import tempfile

        from pyspark.sql import types as T

        from tastytrade_sdk_spark.sources.compact import decode_compact
        from tastytrade_sdk_spark.sources.socket_source import (
            LoopbackFeedServer,
        )

        server = LoopbackFeedServer(self.SCRIPT, batch=True)
        bus = tempfile.mkdtemp(prefix="sockbus_")
        try:
            client = self._connect(server, bus)
            client.subscribe("Candle", add=["SPX{=5m}"])
            # 3 candles, ONE frame -> split into 3 per-event envelopes
            assert client.drain_to_bus(min_events=3, timeout=5.0) == 3
            candle_schema = T.StructType([
                T.StructField("eventSymbol", T.StringType()),
                T.StructField("time", T.LongType()),
                T.StructField("eventFlags", T.IntegerType()),
                T.StructField("open", T.DoubleType()),
                T.StructField("high", T.DoubleType()),
                T.StructField("low", T.DoubleType()),
                T.StructField("close", T.DoubleType()),
                T.StructField("volume", T.DoubleType()),
            ])
            stream = feed_bus_stream(spark, bus, channels=["Candle"])
            decoded = decode_compact(
                stream.withColumn(
                    "arr",
                    F.slice(
                        F.from_json("payload", "array<string>"), 2, 1000000
                    ),
                ),
                "arr",
                candle_schema,
                keep_cols=["offset"],
            )
            q = _drain(decoded, "sock_candles_batched")
            q.stop()
            rows = spark.sql(
                "select * from sock_candles_batched where not _corrupt "
                "order by time"
            ).collect()
            assert [r["time"] for r in rows] == [1_000_000, 2_000_000, 3_000_000]
            assert [r["close"] for r in rows] == [1.5, 2.0, 2.5]
            # one envelope per event, per-channel monotonic offsets
            assert sorted(r["offset"] for r in rows) == [0, 1, 2]
        finally:
            client.close()
            server.close()
            shutil.rmtree(bus, ignore_errors=True)

    def test_multi_symbol_batched_frame_splits_per_event(self):
        """The server batches per (channel, type) across ALL subscribed
        symbols; the transport must stamp each event with ITS OWN
        symbol — the old frame-sized envelope labeled a [AAPL, MSFT]
        quote batch entirely 'AAPL', silently dropping/keeping whole
        frames by the wrong key in the subscribed_stream semi-join
        (r9 advisor, the medium finding)."""
        import tempfile

        import pyarrow.dataset as ds

        from tastytrade_sdk_spark.sources.socket_source import (
            LoopbackFeedServer,
        )

        server = LoopbackFeedServer(self.SCRIPT, batch=True)
        bus = tempfile.mkdtemp(prefix="sockbus_")
        try:
            client = self._connect(server, bus)
            client.subscribe("Quote", add=["AAPL", "MSFT"])
            # 2 quotes batched into ONE 12-field frame -> 2 envelopes
            assert client.drain_to_bus(min_events=2, timeout=5.0) == 2
            tbl = ds.dataset(bus, format="parquet").to_table()
            by_symbol = dict(
                zip(
                    tbl.column("symbol").to_pylist(),
                    tbl.column("payload").to_pylist(),
                )
            )
            assert set(by_symbol) == {"AAPL", "MSFT"}
            import json as _json

            aapl = _json.loads(by_symbol["AAPL"])
            msft = _json.loads(by_symbol["MSFT"])
            # each payload = [eventType, *ONE event's fields]
            assert aapl == ["Quote", "AAPL", "1000", "189.5", "189.6",
                            "100", "200"]
            assert msft == ["Quote", "MSFT", "1000", "400.1", "400.3",
                            "50", "75"]
            offs = sorted(tbl.column("offset").to_pylist())
            assert offs == [0, 1]
        finally:
            client.close()
            server.close()
            shutil.rmtree(bus, ignore_errors=True)

    def test_idle_connection_does_not_trip_drop_latch(self):
        """A recv timeout on a healthy-but-quiet connection is a
        liveness poll, not a drop: the listener must keep running and
        the connection must still serve subscriptions after an idle
        period longer than the socket timeout."""
        import tempfile
        import time as _time

        from tastytrade_sdk_spark.sources.socket_source import (
            LoopbackFeedServer,
        )

        server = LoopbackFeedServer(self.SCRIPT)
        bus = tempfile.mkdtemp(prefix="sockbus_")
        try:
            client = self._connect(server, bus)
            client._sock.settimeout(0.5)
            _time.sleep(1.5)  # several recv timeouts fire
            assert not client.connection_dropped.is_set()
            client.subscribe("Quote", add=["AAPL"])
            assert client.drain_to_bus(min_events=1, timeout=5.0) == 1
        finally:
            client.close()
            server.close()
            shutil.rmtree(bus, ignore_errors=True)

    def test_full_stack_live_stream_across_socket_drop(self, spark):
        """Capstone S1 flow: a RUNNING Spark streaming query consumes
        the bus while the socket drops and reconnects underneath it.
        The reconnect re-subscription redelivers the snapshot (fresh
        offsets — the reference's at-least-once re-handshake), the
        stream absorbs it, and the decoded frame converges to exactly
        the scripted events under the (symbol, time) upsert key."""
        import tempfile

        from pyspark.sql import types as T

        from tastytrade_sdk_spark.sources.compact import decode_compact
        from tastytrade_sdk_spark.sources.socket_source import (
            LoopbackFeedServer,
        )

        server = LoopbackFeedServer(self.SCRIPT)
        bus = tempfile.mkdtemp(prefix="sockbus_")
        client = None
        q = None
        try:
            client = self._connect(server, bus)
            client.subscribe("Quote", add=["AAPL"])
            assert client.drain_to_bus(min_events=1, timeout=5.0) == 1

            quote_schema = T.StructType([
                T.StructField("eventSymbol", T.StringType()),
                T.StructField("time", T.LongType()),
                T.StructField("bidPrice", T.DoubleType()),
                T.StructField("askPrice", T.DoubleType()),
                T.StructField("bidSize", T.DoubleType()),
                T.StructField("askSize", T.DoubleType()),
            ])
            decoded = decode_compact(
                feed_bus_stream(spark, bus, channels=["Quote"]).withColumn(
                    "arr",
                    F.slice(
                        F.from_json("payload", "array<string>"), 2, 1000000
                    ),
                ),
                "arr",
                quote_schema,
                keep_cols=["offset"],
            )
            q = _drain(decoded, "sock_fullstack")
            assert spark.sql(
                "select count(*) c from sock_fullstack where not _corrupt"
            ).collect()[0]["c"] == 1

            # drop the socket under the RUNNING query, reconnect,
            # re-subscribe: the snapshot redelivers at a fresh offset
            server.inject_drop()
            assert client.connection_dropped.wait(5.0)
            client.connect(timeout=5.0)
            client.subscribe("Quote", add=["AAPL"])
            assert client.drain_to_bus(min_events=1, timeout=5.0) == 1
            q.processAllAvailable()

            rows = spark.sql(
                "select offset, eventSymbol, time, bidPrice "
                "from sock_fullstack where not _corrupt"
            ).collect()
            # at-least-once on the wire: two envelopes, contiguous
            # offsets, no restart to 0
            assert sorted(r["offset"] for r in rows) == [0, 1]
            # exactly-once semantics under the upsert key
            assert {
                (r["eventSymbol"], r["time"], r["bidPrice"]) for r in rows
            } == {("AAPL", 1000, 189.5)}
        finally:
            if q is not None:
                q.stop()
            if client is not None:
                client.close()
            server.close()
            shutil.rmtree(bus, ignore_errors=True)


def test_drain_splits_trailing_partial_chunk_and_unknown_type(tmp_path):
    """Unit-level contract of the r10 per-event split, without a
    socket: a frame whose flat array is not a multiple of the type's
    field count ships the full chunks as their own envelopes PLUS the
    trailing partial as one envelope (decode_compact routes it to the
    corrupt column downstream); an unknown event type (no field list)
    ships unsplit with symbol NULL — never misattributed."""
    import json as _json

    import pyarrow.dataset as ds

    from tastytrade_sdk_spark.sources.socket_source import (
        CHANNELS,
        DXLinkSocketClient,
    )

    client = DXLinkSocketClient(
        "127.0.0.1", 1, token="tok", bus_path=str(tmp_path / "bus")
    )
    ch = CHANNELS["Trade"]  # Trade has 5 fields
    import queue as _q

    client.queues = {ch: _q.Queue()}
    # 1 full Trade (5 fields) + a 3-field partial tail
    client.queues[ch].put(
        {"type": "FEED_DATA", "channel": ch,
         "data": ["Trade", ["AAPL", 1, 2.0, 3, 4, "MSFT", 9, 9.5]]}
    )
    # unknown type: no field list registered
    client.queues[ch].put(
        {"type": "FEED_DATA", "channel": ch,
         "data": ["Mystery", ["X", 1, 2]]}
    )
    assert client.drain_to_bus(min_events=3, timeout=1.0) == 3
    tbl = ds.dataset(str(tmp_path / "bus"), format="parquet").to_table()
    rows = sorted(
        zip(
            tbl.column("offset").to_pylist(),
            tbl.column("symbol").to_pylist(),
            tbl.column("payload").to_pylist(),
        )
    )
    assert [r[0] for r in rows] == [0, 1, 2]
    assert rows[0][1] == "AAPL"
    assert _json.loads(rows[0][2]) == ["Trade", "AAPL", "1", "2.0", "3", "4"]
    # trailing partial: its own envelope, symbol = its first field
    assert rows[1][1] == "MSFT"
    assert _json.loads(rows[1][2]) == ["Trade", "MSFT", "9", "9.5"]
    # unknown type: unsplit, symbol NULL
    assert rows[2][1] is None
    assert _json.loads(rows[2][2]) == ["Mystery", "X", "1", "2"]


def test_unknown_type_null_symbol_contract(spark, tmp_path):
    """Pins the r10-advisor-adjudicated contract for unknown-type
    envelopes (symbol NULL): they SURVIVE on the raw bus — the audit
    surface, where decode_compact's corrupt-column path sees them —
    but are DROPPED by subscribed()'s symbol semi-join, because a
    NULL symbol matches no subscription. Subscription filtering is BY
    SYMBOL; an event that cannot be attributed to a symbol belongs to
    no subscription, so the drop is semantics, not an accident."""
    from tastytrade_sdk_spark.sources.feedbus import subscribed

    bus = spark.createDataFrame(
        [("AAPL", "known"), (None, "mystery"), ("MSFT", "known")],
        "symbol string, kind string",
    )
    subs = spark.createDataFrame([("AAPL",), (None,)], "symbol string")

    kept = subscribed(bus, subs).collect()
    assert [r["symbol"] for r in kept] == ["AAPL"], (
        "NULL symbol must match no subscription — even a NULL row in "
        "the subscriptions frame"
    )
    # the raw (pre-filter) bus is where unknown types remain auditable
    assert bus.filter("symbol IS NULL").count() == 1
