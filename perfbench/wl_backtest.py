"""``backtest``: the paper's batch path over seeded ticks, fills and legs.

One pass (closed loop, one caller): candles -> indicators -> signals ->
backtest with as-of entry pricing -> gap-fill, plus the two account
kernels. Every step writes its result to parquet, so a pass runs from
inputs on disk to the last result written.

Input sizes (120 k ticks, 24 symbols, 5 sessions) are scaled down so a
pass takes a few seconds on a 4-core host: at this size the stages'
fixed costs (jobs, shuffles, Python-worker round trips) dominate, as
they do per partition at larger scale.
"""

from __future__ import annotations

import datetime as dt
import os

from perfbench import gen

SIGNAL_INTERVAL = "5m"
HULL_LENGTH = 20


def window(p) -> tuple[dt.datetime, dt.datetime]:
    """The replay window: the last two sessions (run_backtest prepends
    its own 3-day warm-up for 5-minute signals)."""
    days = gen.trading_days(p)
    return days[-2], days[-1] + dt.timedelta(days=1)


class Backtest:
    name = "backtest"
    pass_s = 8.0  # nominal pass time on a 4-core host; sets the pass count

    def __init__(self, spark, params):
        self.spark = spark
        self.p = params

    def generate(self, root: str, seed: int) -> dict:
        return gen.write_backtest_inputs(root, seed, self.p)

    @staticmethod
    def latencies_ms(tr) -> list[float]:
        """One request = one package call (build + action + result
        written): the nine calls of a pass are the request mix a
        notebook user sends."""
        return [(end - start) * 1000.0 for _, _, start, end in tr.calls]

    def warm(self, inputs: dict, out: str, tr) -> None:
        self.run_pass(inputs, out, tr)

    def run_pass(self, inputs: dict, out: str, tr) -> None:
        from tastytrade_sdk_spark.kernels.classifier import classify_strategies
        from tastytrade_sdk_spark.kernels.lifo import lifo_entry_credits
        from tastytrade_sdk_spark.operators.candles import ohlcv
        from tastytrade_sdk_spark.operators.gapfill import gap_fill
        from tastytrade_sdk_spark.operators.indicators import hull, macd
        from tastytrade_sdk_spark.streaming.replay import run_backtest
        from tastytrade_sdk_spark.streaming.signal_engine import detect_signals_batch

        read = self.spark.read.parquet

        def sink(name):
            return lambda df: df.write.mode("overwrite").parquet(os.path.join(out, name))

        ticks, legs, fills, positions = tr.glue(lambda: [
            read(inputs[k]) for k in ("ticks", "legs", "fills", "positions")])
        for name, interval in (("candles_5m", "5 minutes"), ("candles_1m", "1 minute")):
            tr.call(
                "operators.candles.ohlcv",
                lambda i=interval: ohlcv(
                    ticks, symbol_col="symbol", time_col="time", price_col="price",
                    size_col="size", interval=i, order_col="seq",
                ),
                sink(name),
            )
        c5, c1 = tr.glue(lambda: [
            read(os.path.join(out, k)).select("symbol", "time", "close")
            for k in ("candles_5m", "candles_1m")])
        start, end = window(self.p)
        calls = [
            ("operators.indicators.hull", lambda: hull(c5, length=HULL_LENGTH), "hull"),
            ("operators.indicators.macd", lambda: macd(c5), "macd"),
            ("streaming.signal_engine.detect_signals_batch",
             lambda: detect_signals_batch(c5, hull_length=HULL_LENGTH), "signals"),
            ("streaming.replay.run_backtest",
             lambda: run_backtest(c5, c1, start, end, signal_interval=SIGNAL_INTERVAL,
                                  hull_length=HULL_LENGTH), "backtest"),
            ("operators.gapfill.gap_fill",
             lambda: gap_fill(c5, key_cols=["symbol"], time_col="time",
                              interval="5 minutes", value_cols=["close"]), "gapfill"),
            ("kernels.classifier.classify_strategies",
             lambda: classify_strategies(legs), "strategies"),
            ("kernels.lifo.lifo_entry_credits",
             lambda: lifo_entry_credits(fills, positions), "lifo"),
        ]
        for name, build, target in calls:
            tr.call(name, build, sink(target))

    def check(self, inputs: dict, out: str, seed: int):
        from perfbench import checks

        return checks.backtest(inputs, out, self.p, seed, window(self.p), HULL_LENGTH)
