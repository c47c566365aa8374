"""``live_feed``: feed-bus envelopes -> payload parse -> streaming
candles -> ``foreachBatch`` keep-last upserts (a candle table and a
latest-quote table).

Live phase (open loop): a generator thread drops one envelope file
every ``live_period_s`` on a fixed schedule that does not slow when the
engine slows; each tick carries the time its file was due. Latency of
a tick = commit time of the micro-batch sink that contains it - due
time. Which ticks a batch holds comes from a stream ``observe`` of the
batch's sequence range (no extra job), delivered through
``streaming.observe.ProgressCapture``.

Drain phase (closed): a fixed backfill burst (the reconnect ``fromTime``
replay) is renamed onto the bus at once; ``wall_s`` is the time from
the burst being on disk to the commit that completes it.

The default traffic (2 000 ticks/s from 20 symbols, one file per 0.1 s)
is the reference's sustained ingest: at most 10 events/s per symbol and
channel at 0.1 s aggregation with 20 symbols, ~1-2 k events/s
(SURVEY.md, "derived throughput floor"; BASELINE.md).

``sources.feedbus.absorb_redelivery`` is deliberately not in the
pipeline: composed with ``streaming_ohlcv`` it fails with
``AnalysisException: Redefining watermark is disallowed``.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen
from tastytrade_sdk_spark.streaming.observe import ProgressCapture

PAYLOAD = "price double, size long, seq long, created_ms double"
BURST_SEQ0 = 1_000_000_000  # burst ticks are numbered apart from live ones
INTERVAL = "1 minute"
WATERMARK = "10 minutes"
# backfill event times sit this far before the burst was generated: old,
# but inside the watermark when the burst is drained
BURST_SPAN_S = (300, 60)
MAX_GEN_LATE_S = 0.5


@dataclass
class FeedCapture(ProgressCapture):
    """ProgressCapture plus the per-trigger details the benchmark needs:
    durationMs parts, state rows/memory and the observed tick range."""

    details: dict = field(default_factory=dict)

    def make_listener(self):
        base = super().make_listener()
        details = self.details

        class _L(type(base)):
            def onQueryProgress(self, event):
                super().onQueryProgress(event)
                p = event.progress
                feed = p.observedMetrics.get("feed")
                details[p.batchId] = {
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                    "feed": feed.asDict() if feed is not None else None,
                }

        return _L()


def _feed_metrics():
    from pyspark.sql import functions as F

    live = F.col("seq") < BURST_SEQ0
    return [
        F.min(F.when(live, F.col("seq"))).alias("live_lo"),
        F.max(F.when(live, F.col("seq"))).alias("live_hi"),
        F.count(F.when(live, 1)).alias("live_n"),
        F.count(F.when(~live, 1)).alias("burst_n"),
    ]


class LiveFeed:
    name = "live_feed"

    def __init__(self, spark, params):
        self.spark = spark
        self.p = params
        self.result: dict = {}

    # -- inputs -------------------------------------------------------------

    def generate(self, root: str, seed: int) -> dict:
        """Stage the backfill burst (not yet on the bus)."""
        p = self.p
        staged = os.path.join(root, "burst")
        os.makedirs(staged, exist_ok=True)
        src = gen.TickSource(seed + 1, p)
        src.seq = BURST_SEQ0
        now_us = int(time.time() * 1e6)
        lo, hi = (now_us - s * 1_000_000 for s in BURST_SPAN_S)
        per_file = p["burst"] // p["burst_files"]
        rng = np.random.default_rng(seed)
        files = []
        for i in range(p["burst_files"]):
            ev = np.sort(rng.integers(lo, hi, size=per_file))
            name = f"burst-{i:04d}.parquet"
            gen.publish(src.batch(per_file, ev, now_us / 1000.0), staged, name)
            files.append(os.path.join(staged, name))
        return {"seed": seed, "burst": files, "burst_n": per_file * len(files)}

    # -- the query ------------------------------------------------------------

    def _start(self, bus: str, out: str, tr, commits: dict, capture: FeedCapture):
        from pyspark.sql import functions as F

        from tastytrade_sdk_spark.sources.feedbus import feed_bus_stream
        from tastytrade_sdk_spark.streaming.sinks import upsert_parquet_batch
        from tastytrade_sdk_spark.streaming.streams import streaming_ohlcv

        spark = self.spark
        os.makedirs(bus, exist_ok=True)
        stream = tr.call("sources.feedbus.feed_bus_stream",
                         lambda: feed_bus_stream(spark, bus, channels=["Trade"]))
        ticks = stream.select(
            "symbol", F.col("ts").alias("time"),
            F.from_json("payload", PAYLOAD).alias("p"),
        ).select("symbol", "time", "p.*").observe("feed", *_feed_metrics())
        candles = tr.call(
            "streaming.streams.streaming_ohlcv",
            lambda: streaming_ohlcv(ticks, time_col="time", price_col="price",
                                    size_col="size", interval=INTERVAL,
                                    watermark=WATERMARK, order_col="seq"),
        )
        candle_path, quote_path = os.path.join(out, "candles"), os.path.join(out, "quotes")
        trace = tr.enabled

        def sink(batch_df, epoch):
            # traced runs alternate traced / untraced triggers, so the
            # tracing overhead is an interleaved comparison
            tr.unit, tr.enabled = epoch, trace and epoch % 2 == 1
            start = time.time()
            df = batch_df.withColumn("epoch", F.lit(epoch)).persist()
            try:
                tr.call("streaming.streams.streaming_ohlcv", execute=df.count)
                t_sink = time.time()
                tr.call("streaming.sinks.upsert_parquet_batch", execute=lambda: (
                    upsert_parquet_batch(df, candle_path, ["symbol", "time"], ["epoch"])))
                tr.call("streaming.sinks.upsert_parquet_batch", execute=lambda: (
                    upsert_parquet_batch(
                        df.select("symbol", F.col("time").alias("bar_time"), "close", "epoch"),
                        quote_path, ["symbol"], ["bar_time", "epoch"])))
            finally:
                df.unpersist()
            end = time.time()
            commits[epoch] = {"start": start, "commit": end, "sink_s": end - t_sink,
                              "traced": tr.enabled}

        listener = capture.make_listener()
        spark.streams.addListener(listener)
        q = (candles.writeStream.outputMode("update")
             .option("checkpointLocation", os.path.join(out, "checkpoint"))
             .foreachBatch(sink).start())
        return q, listener

    def _stop(self, q, listener):
        q.stop()
        self.spark.streams.removeListener(listener)

    @staticmethod
    def _wait(cond, deadline: float, what: str):
        while not cond():
            if time.time() > deadline:
                raise TimeoutError(f"live_feed: timed out waiting for {what}")
            time.sleep(0.02)

    @staticmethod
    def _wait_quiet(capture: FeedCapture, deadline: float, quiet_s: float = 2.0):
        """Until no micro-batch has completed for ``quiet_s``: longer than
        the no-data batch that follows the last live one takes. (The
        query's ``isTriggerActive`` is no use here: it is also true
        while an idle query lists the bus for new files.)"""
        seen, since = len(capture.details), time.time()
        while time.time() - since < quiet_s:
            if time.time() > deadline:
                raise TimeoutError("live_feed: timed out waiting for a quiet query")
            time.sleep(0.05)
            if len(capture.details) != seen:
                seen, since = len(capture.details), time.time()

    def warm(self, inputs: dict, out: str, tr) -> None:
        """Run the same query over a few small files, then stop it."""
        commits, capture = {}, FeedCapture()
        bus = os.path.join(out, "bus")
        src = gen.TickSource(inputs["seed"] + 2, self.p)
        q, listener = self._start(bus, out, tr, commits, capture)
        try:
            now = time.time()
            n = max(1, int(self.p["live_rate"] * self.p["live_period_s"]))
            for i in range(3):
                gen.publish(src.batch(n, np.full(n, int(now * 1e6)), now * 1000),
                            bus, f"warm-{i}.parquet")
            q.processAllAvailable()
        finally:
            self._stop(q, listener)

    # -- the measured run ---------------------------------------------------------

    def measure(self, inputs: dict, out: str, seconds: float, tr, cpu) -> dict:
        """The live phase then the drain. ``cpu()`` reads the Python
        workers' CPU seconds so far; the window ``start``..``end`` covers
        both phases."""
        p = self.p
        deadline = time.time() + seconds + 90
        commits, capture = {}, FeedCapture()
        bus = os.path.join(out, "bus")
        tr.unit = -1
        q, listener = self._start(bus, out, tr, commits, capture)
        src = gen.TickSource(inputs["seed"], p)
        period = p["live_period_s"]
        per_file = max(1, int(p["live_rate"] * period))
        n_files = max(1, int(seconds / period))
        due = np.zeros(n_files)
        late = np.zeros(n_files)
        written = np.zeros(n_files)
        t0 = time.time() + 0.2

        def produce():
            for i in range(n_files):
                due[i] = t0 + i * period
                wait = due[i] - time.time()
                if wait > 0:
                    time.sleep(wait)
                now = time.time()
                late[i] = now - due[i]
                ev = (due[i] - period + period * np.arange(1, per_file + 1) / per_file) * 1e6
                gen.publish(src.batch(per_file, ev.astype(np.int64), due[i] * 1000.0),
                            bus, f"live-{i:06d}.parquet")
                written[i] = time.time()

        def fed(key):
            # the listener thread adds entries meanwhile: iterate a copy
            return sum((d["feed"] or {}).get(key) or 0 for d in list(capture.details.values()))

        try:
            producer = threading.Thread(target=produce, daemon=True)
            cpu0, start = cpu(), time.time()
            producer.start()
            producer.join(timeout=seconds + 30)
            live_total = n_files * per_file
            self._wait(lambda: fed("live_n") >= live_total, deadline, "the live backlog")
            # start the drain from a settled query, not behind the no-data
            # batch that follows the last live one
            self._wait_quiet(capture, deadline)
            for f in inputs["burst"]:
                os.rename(f, os.path.join(bus, os.path.basename(f)))
            t_burst = time.time()
            self._wait(lambda: fed("burst_n") >= inputs["burst_n"], deadline, "the burst")
            python_cpu_s, end = cpu() - cpu0, time.time()
        finally:
            self._stop(q, listener)

        # per-tick latency: commit of the batch holding the tick - its due time
        created = np.repeat(due, per_file)
        lat, backlog, drain_end = [], [], None
        contiguous = True
        burst_seen = 0
        for epoch in sorted(capture.details):
            d = capture.details[epoch]["feed"] or {}
            c = commits.get(epoch)
            if c is None:
                continue
            if d.get("live_n"):
                lo, hi = d["live_lo"], d["live_hi"]
                contiguous &= (hi - lo + 1) == d["live_n"]
                lat.append((c["commit"] - created[lo:hi + 1]) * 1000.0)
                # ticks written but not yet committed when this batch committed
                backlog.append(int((written <= c["commit"]).sum()) * per_file - (hi + 1))
            burst_seen += d.get("burst_n") or 0
            if drain_end is None and burst_seen >= inputs["burst_n"]:
                drain_end = c["commit"]
        lat = np.concatenate(lat) if lat else np.array([])
        third = max(1, len(backlog) // 3)
        grew = bool(backlog) and (
            np.mean(backlog[-third:]) > 1.5 * np.mean(backlog[:third]) + per_file)
        self.result = {
            "start": start, "end": end, "python_cpu_s": python_cpu_s,
            "latency_ms": lat,
            "contiguous": contiguous,
            "gen_late_max_s": float(late.max()),
            "backlog": backlog,
            "backlog_grew": grew,
            "live_total": n_files * per_file,
            "drain_s": (drain_end - t_burst) if drain_end else float("nan"),
            "commits": commits,
            "triggers": capture.details,
        }
        return self.result

    def valid(self) -> list:
        r = self.result
        return [
            ("live: generator on schedule", r["gen_late_max_s"] <= MAX_GEN_LATE_S,
             f"max lateness {r['gen_late_max_s'] * 1000:.1f} ms"),
            ("live: backlog did not grow", not r["backlog_grew"],
             f"backlog {r['backlog'][:3]}..{r['backlog'][-3:]}"),
            ("live: batches hold contiguous tick ranges", r["contiguous"], ""),
            ("live: every tick committed", len(r["latency_ms"]) == r["live_total"],
             f"{len(r['latency_ms'])} of {r['live_total']}"),
        ]

    def check(self, inputs: dict, out: str, seed: int):
        from perfbench import checks

        return self.valid() + checks.live_feed(out, INTERVAL)
