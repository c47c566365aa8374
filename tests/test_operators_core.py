"""Core relational operators: keep-last dedup, as-of join, gap fill,
OHLCV candles, retention caps."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tastytrade_sdk_spark.operators.asof import asof_join
from tastytrade_sdk_spark.operators.candles import ohlcv
from tastytrade_sdk_spark.operators.dedup import (
    keep_last,
    merge_prefer_non_null,
    retention_cap,
)
from tastytrade_sdk_spark.operators.gapfill import find_gaps, forward_fill, gap_fill

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def test_keep_last_takes_max_order(spark):
    df = spark.createDataFrame(
        [
            ("A", ts(0), 1, 10.0),
            ("A", ts(5), 2, 11.0),
            ("A", ts(5), 3, 12.0),  # same ts, later seq wins
            ("B", ts(1), 4, 20.0),
        ],
        "sym string, time timestamp, seq long, px double",
    )
    out = {r["sym"]: r for r in keep_last(df, ["sym"], ["time", "seq"]).collect()}
    assert out["A"]["px"] == 12.0 and out["A"]["seq"] == 3
    assert out["B"]["px"] == 20.0


def test_candle_upsert_late_tick_updates_open_bar(spark):
    # D2: late re-delivery of the same (sym,time) bar replaces it
    df = spark.createDataFrame(
        [
            ("SPX", ts(0), 1, 100.0),
            ("SPX", ts(5), 2, 101.0),
            ("SPX", ts(0), 3, 99.5),  # late update of the first bar
        ],
        "sym string, time timestamp, arrival_seq long, close double",
    )
    out = keep_last(df, ["sym", "time"], ["arrival_seq"]).orderBy("time").collect()
    assert [r["close"] for r in out] == [99.5, 101.0]


def test_retention_cap(spark):
    df = spark.createDataFrame(
        [("A", i, float(i)) for i in range(10)], "sym string, seq int, v double"
    )
    out = retention_cap(df, ["sym"], ["seq"], 3).collect()
    assert sorted(r["seq"] for r in out) == [7, 8, 9]


def test_merge_prefer_non_null(spark):
    df = spark.createDataFrame(
        [("SPY", None, 1), ("SPY", ".SPY240101C", 2), ("QQQ", None, 3)],
        "symbol string, streamer_symbol string, seq int",
    )
    out = {r["symbol"]: r for r in merge_prefer_non_null(df, ["symbol"], "streamer_symbol").collect()}
    assert out["SPY"]["streamer_symbol"] == ".SPY240101C"
    assert out["QQQ"]["streamer_symbol"] is None


def test_asof_join_backward(spark):
    signals = spark.createDataFrame(
        [("A", ts(10), 1), ("A", ts(3), 2), ("A", ts(0), 3), ("B", ts(10), 4)],
        "sym string, time timestamp, sid int",
    )
    quotes = spark.createDataFrame(
        [("A", ts(1), 101.0, 1), ("A", ts(5), 105.0, 2), ("A", ts(10), 110.0, 3)],
        "sym string, time timestamp, px double, seq long",
    )
    out = asof_join(
        signals, quotes, on=["sym"], left_time="time", right_time="time",
        value_cols=["px"], right_order="seq",
    )
    got = {r["sid"]: r["px"] for r in out.collect()}
    assert got[1] == 110.0  # exact match inclusive
    assert got[2] == 101.0
    assert got[3] is None  # nothing at or before t0
    assert got[4] is None  # no quotes for B


def test_asof_join_skips_null_values(spark):
    # reference walks back over null closes (publisher.py:117-124)
    signals = spark.createDataFrame(
        [("A", ts(10), 1)], "sym string, time timestamp, sid int"
    )
    quotes = spark.createDataFrame(
        [("A", ts(1), 101.0, 1), ("A", ts(5), None, 2)],
        "sym string, time timestamp, px double, seq long",
    )
    out = asof_join(
        signals, quotes, on=["sym"], left_time="time", right_time="time",
        value_cols=["px"], right_order="seq",
    ).collect()
    assert out[0]["px"] == 101.0


def test_asof_same_ts_last_right_wins(spark):
    signals = spark.createDataFrame(
        [("A", ts(5), 1)], "sym string, time timestamp, sid int"
    )
    quotes = spark.createDataFrame(
        [("A", ts(5), 100.0, 1), ("A", ts(5), 200.0, 2)],
        "sym string, time timestamp, px double, seq long",
    )
    out = asof_join(
        signals, quotes, on=["sym"], left_time="time", right_time="time",
        value_cols=["px"], right_order="seq",
    ).collect()
    assert out[0]["px"] == 200.0


def test_asof_join_forward(spark):
    signals = spark.createDataFrame(
        [("A", ts(10), 1), ("A", ts(3), 2), ("A", ts(11), 3), ("B", ts(0), 4)],
        "sym string, time timestamp, sid int",
    )
    quotes = spark.createDataFrame(
        [("A", ts(1), 101.0, 1), ("A", ts(5), 105.0, 2), ("A", ts(10), 110.0, 3)],
        "sym string, time timestamp, px double, seq long",
    )
    out = asof_join(
        signals, quotes, on=["sym"], left_time="time", right_time="time",
        value_cols=["px"], right_order="seq", direction="forward",
    )
    got = {r["sid"]: r["px"] for r in out.collect()}
    assert got[1] == 110.0  # exact match inclusive
    assert got[2] == 105.0  # next quote after t3
    assert got[3] is None  # nothing at or after t11
    assert got[4] is None  # no quotes for B


def test_asof_forward_same_ts_first_right_wins_and_tolerance(spark):
    signals = spark.createDataFrame(
        [("A", ts(5), 1), ("A", ts(0), 2)],
        "sym string, time timestamp, sid int",
    )
    quotes = spark.createDataFrame(
        [("A", ts(5), 100.0, 1), ("A", ts(5), 200.0, 2)],
        "sym string, time timestamp, px double, seq long",
    )
    out = asof_join(
        signals, quotes, on=["sym"], left_time="time", right_time="time",
        value_cols=["px"], right_order="seq", direction="forward",
    ).collect()
    got = {r["sid"]: r["px"] for r in out}
    assert got[1] == 100.0  # FIRST arrival wins forward
    assert got[2] == 100.0
    from pyspark.sql import functions as F

    bounded = asof_join(
        signals, quotes, on=["sym"], left_time="time", right_time="time",
        value_cols=["px"], right_order="seq", direction="forward",
        tolerance=F.expr("INTERVAL 2 SECONDS"),
    ).collect()
    gotb = {r["sid"]: r["px"] for r in bounded}
    assert gotb[1] == 100.0
    assert gotb[2] is None  # t5 quote is outside t0+2s


def test_ohlcv(spark):
    df = spark.createDataFrame(
        [
            ("SPX", ts(0), 100.0, 10.0, 1),
            ("SPX", ts(10), 105.0, 5.0, 2),
            ("SPX", ts(20), 95.0, 20.0, 3),
            ("SPX", ts(59), 99.0, 1.0, 4),
            ("SPX", ts(61), 50.0, 2.0, 5),
        ],
        "eventSymbol string, time timestamp, price double, size double, seq long",
    )
    out = {
        r["time"]: r
        for r in ohlcv(df, "eventSymbol", "time", "price", "size", "1 hour", "seq").collect()
    }
    bar = out[T0]
    assert (bar["open"], bar["high"], bar["low"], bar["close"]) == (100.0, 105.0, 95.0, 99.0)
    assert bar["volume"] == 36.0
    vwap = (100 * 10 + 105 * 5 + 95 * 20 + 99 * 1) / 36.0
    assert bar["vwap"] == pytest.approx(vwap)
    assert out[T0 + dt.timedelta(hours=1)]["open"] == 50.0


def test_gap_fill(spark):
    df = spark.createDataFrame(
        [("A", ts(0), 1.0), ("A", ts(60), 2.0), ("A", ts(240), 5.0)],
        "sym string, time timestamp, v double",
    )
    gaps = find_gaps(df, ["sym"], "time", "1 hour").collect()
    assert sorted(r["time"] for r in gaps) == [ts(120), ts(180)]
    filled = gap_fill(df, ["sym"], "time", "1 hour", ["v"]).orderBy("time").collect()
    assert [r["v"] for r in filled] == [1.0, 2.0, 2.0, 2.0, 5.0]
    assert [r["is_synthetic"] for r in filled] == [False, False, True, True, False]


def test_forward_fill(spark):
    df = spark.createDataFrame(
        [("A", 1, 1.0), ("A", 2, None), ("A", 3, None), ("A", 4, 4.0), ("B", 1, None)],
        "sym string, t int, v double",
    )
    out = forward_fill(df, ["v"], ["sym"], ["t"]).orderBy("sym", "t").collect()
    assert [r["v"] for r in out] == [1.0, 1.0, 1.0, 4.0, None]


def test_gap_fill_keeps_unaligned_real_rows(spark):
    """A real row off the min(t)-anchored grid (e.g. 00:45 on a 30m
    grid) must survive gap-fill, not vanish into the scaffold join."""
    import datetime as dt

    from tastytrade_sdk_spark.operators.gapfill import gap_fill

    t0 = dt.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [
            ("A", t0, 1.0),
            ("A", t0 + dt.timedelta(minutes=45), 9.0),
            ("A", t0 + dt.timedelta(minutes=60), 2.0),
        ],
        "k string, t timestamp, v double",
    )
    out = {
        (r["t"].hour * 60 + r["t"].minute, r["is_synthetic"]): r["v"]
        for r in gap_fill(df, ["k"], "t", "30 minutes", ["v"]).collect()
    }
    # grid rows 00:00/00:30/01:00 plus the real off-grid 00:45 row
    assert out[(0, False)] == 1.0
    assert out[(30, True)] == 1.0   # filled from 00:00
    assert out[(45, False)] == 9.0  # REAL row preserved
    assert out[(60, False)] == 2.0


def test_interpolate_linear_values_and_edges(spark):
    """W6+ linear interpolation: gap buckets get the time-weighted
    value between real neighbors; real rows pass through; grid points
    with only one-sided neighbors fall back to that neighbor."""
    import datetime as dt

    from tastytrade_sdk_spark.operators.gapfill import interpolate_linear

    t0 = dt.datetime(2024, 1, 1, 0, 0)
    h = dt.timedelta(hours=1)
    rows = [
        ("A", t0, 10.0),
        # hours 1,2 missing -> 20.0, 30.0 (linear to hour 3's 40)
        ("A", t0 + 3 * h, 40.0),
        ("A", t0 + 4 * h, None),  # real bucket, null value
        ("A", t0 + 5 * h, 50.0),
        ("B", t0, 7.0),
    ]
    df = spark.createDataFrame(rows, "sym string, t timestamp, v double")
    out = {
        (r["sym"], r["t"]): r
        for r in interpolate_linear(
            df, ["sym"], "t", "1 hour", ["v"]
        ).collect()
    }
    assert out[("A", t0 + h)]["v"] == 20.0
    assert out[("A", t0 + 2 * h)]["v"] == 30.0
    assert out[("A", t0 + h)]["is_synthetic"]
    assert not out[("A", t0 + 3 * h)]["is_synthetic"]
    # the real-but-null hour 4 is NOT synthetic, and interpolates
    assert not out[("A", t0 + 4 * h)]["is_synthetic"]
    assert out[("A", t0 + 4 * h)]["v"] == 45.0
    assert out[("B", t0)]["v"] == 7.0


def test_interpolate_linear_keeps_unaligned_rows(spark):
    """Review r4: a real observation OFF the min(t)-anchored grid must
    stay in the output and participate in its neighbors'
    interpolation (full join, not left-from-calendar)."""
    import datetime as dt

    from tastytrade_sdk_spark.operators.gapfill import interpolate_linear

    t0 = dt.datetime(2024, 1, 1, 0, 0)
    rows = [
        ("A", t0, 10.0),
        ("A", t0 + dt.timedelta(minutes=45), 99.0),  # unaligned
        ("A", t0 + dt.timedelta(hours=2), 30.0),
    ]
    df = spark.createDataFrame(rows, "sym string, t timestamp, v double")
    out = {
        r["t"]: r
        for r in interpolate_linear(df, ["sym"], "t", "1 hour", ["v"]).collect()
    }
    assert t0 + dt.timedelta(minutes=45) in out          # row retained
    assert not out[t0 + dt.timedelta(minutes=45)]["is_synthetic"]
    # the 01:00 synthetic interpolates from 00:45 (99.0) to 02:00
    # (30.0): 99 + (30-99) * (15/75) = 85.2
    assert abs(out[t0 + dt.timedelta(hours=1)]["v"] - 85.2) < 1e-9


def test_interpolate_linear_subsecond_grid(spark):
    """Review r4: microsecond epoch stamps — a sub-second grid must
    not collapse neighbor timestamps to the same whole second."""
    import datetime as dt

    from tastytrade_sdk_spark.operators.gapfill import interpolate_linear

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 0)
    ms = dt.timedelta(milliseconds=200)
    rows = [("A", t0, 0.0), ("A", t0 + 3 * ms, 6.0)]
    df = spark.createDataFrame(rows, "sym string, t timestamp, v double")
    out = {
        r["t"]: r["v"]
        for r in interpolate_linear(
            df, ["sym"], "t", "0.2 seconds", ["v"]
        ).collect()
    }
    assert abs(out[t0 + ms] - 2.0) < 1e-9
    assert abs(out[t0 + 2 * ms] - 4.0) < 1e-9


class TestTpchEdgeContracts:
    """Contract pins for the TPC-H-shape adaptations on hand-built
    fixtures (the oracle gate runs on real data where ties and empty
    groups may never occur — these pin the declared edge semantics)."""

    def _write(self, spark, tmp_path, name, rows, schema):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"{name}.parquet")
        )

    def test_top_supplier_tie_keeps_both(self, spark, tmp_path):
        import datetime as dt

        from tastytrade_sdk_spark.plans.queries import top_supplier_quarter

        ts = dt.datetime(1997, 2, 1)
        li = [
            # suppliers 1 and 2 tie exactly (same price/discount)
            (1, 1, 100.0, 0.0, ts),
            (2, 2, 100.0, 0.0, ts),
            (3, 3, 50.0, 0.0, ts),
            # outside the quarter: must not count
            (4, 1, 999.0, 0.0, dt.datetime(1998, 1, 1)),
        ]
        self._write(
            spark, tmp_path, "lineitem",
            [(o, s, p, d, t) for o, s, p, d, t in li],
            "l_orderkey long, l_suppkey long, l_extendedprice double, "
            "l_discount double, l_shipdate timestamp",
        )
        self._write(
            spark, tmp_path, "supplier",
            [(1, "S1"), (2, "S2"), (3, "S3")],
            "s_suppkey long, s_name string",
        )
        out = {
            r["s_suppkey"]: r["total_rev"]
            for r in top_supplier_quarter(spark, str(tmp_path)).collect()
        }
        assert out == {1: 100.0, 2: 100.0}

    def test_order_distribution_preserves_zero_bucket(self, spark, tmp_path):
        import datetime as dt

        from tastytrade_sdk_spark.plans.queries import (
            customer_order_distribution,
        )

        ts = dt.datetime(1997, 1, 1)
        self._write(
            spark, tmp_path, "customer",
            [(1,), (2,), (3,)], "c_custkey long",
        )
        # cust 1: two counted orders; cust 2: only an URGENT order
        # (excluded by the join predicate -> lands in the 0 bucket);
        # cust 3: no orders at all
        self._write(
            spark, tmp_path, "orders",
            [
                (10, 1, "3-MEDIUM", ts),
                (11, 1, "5-LOW", ts),
                (12, 2, "1-URGENT", ts),
            ],
            "o_orderkey long, o_custkey long, o_orderpriority string, "
            "o_orderdate timestamp",
        )
        out = {
            r["n_orders"]: r["n_customers"]
            for r in customer_order_distribution(spark, str(tmp_path)).collect()
        }
        assert out == {2: 1, 0: 2}

    def test_min_cost_supplier_tie_keeps_both(self, spark, tmp_path):
        from tastytrade_sdk_spark.plans.queries import (
            min_cost_supplier_per_part,
        )

        self._write(
            spark, tmp_path, "lineitem",
            # part 1: suppliers 1,2 tie at unit cost 5.0; supplier 3 higher
            [(1, 1, 10.0, 2.0), (1, 2, 5.0, 1.0), (1, 3, 12.0, 2.0)],
            "l_partkey long, l_suppkey long, l_extendedprice double, "
            "l_quantity double",
        )
        self._write(
            spark, tmp_path, "part",
            [(1, "Brand#1", 15)],
            "p_partkey long, p_brand string, p_size int",
        )
        self._write(
            spark, tmp_path, "supplier",
            [(1, "S1", 0), (2, "S2", 0), (3, "S3", 1)],
            "s_suppkey long, s_name string, s_nationkey int",
        )
        self._write(
            spark, tmp_path, "nation",
            [(0, "N0"), (1, "N1")],
            "n_nationkey int, n_name string",
        )
        got = {
            r["s_name"]
            for r in min_cost_supplier_per_part(spark, str(tmp_path)).collect()
        }
        assert got == {"S1", "S2"}


class TestRollingBetaProperties:
    def test_exact_linear_relation(self, spark, tmp_path):
        """Two users in an exact linear relation (B = 2·A, one event
        per day so day_value == value): the market is 3·A, so every
        window must give corr == 1.0 exactly and betas 1/3 and 2/3
        (cov/var are exact integers; round(1/3, 6) = 0.333333)."""
        import datetime as dt

        from tastytrade_sdk_spark.plans.queries import rolling_beta_daily

        rows = []
        for d in range(30):
            ts = dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
            va = 100.0 + d * 0.5
            rows.append((1, ts, va, d * 2))
            rows.append((2, ts, 2 * va, d * 2 + 1))
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double, event_id long"
        ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
        out = rolling_beta_daily(spark, str(tmp_path)).collect()
        assert len(out) == 60
        for r in out:
            if r["n_win"] == 1:
                assert r["beta_20"] is None and r["corr_20"] is None
                continue
            assert r["corr_20"] == 1.0
            want = 0.333333 if r["user_id"] == 1 else 0.666667
            assert r["beta_20"] == want


class TestAutocorrProperties:
    def test_linear_series_acf_one_flat_null(self, spark, tmp_path):
        """A strictly linear daily series satisfies x_{t-k} = x_t − bk
        (an exact affine relation), so both lags must give exactly 1.0;
        a flat series has zero variance → NULL by contract."""
        import datetime as dt

        from tastytrade_sdk_spark.plans.queries import autocorr_daily

        rows = []
        for d in range(30):
            ts = dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
            rows.append((1, ts, 100.0 + 0.25 * d, d))   # linear
            rows.append((2, ts, 42.0, 1000 + d))         # flat
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, value double, event_id long"
        ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
        out = {r["user_id"]: r for r in autocorr_daily(spark, str(tmp_path)).collect()}
        assert out[1]["acf_lag1"] == 1.0 and out[1]["acf_lag5"] == 1.0
        assert out[1]["n_pairs_1"] == 29 and out[1]["n_pairs_5"] == 25
        assert out[2]["acf_lag1"] is None and out[2]["acf_lag5"] is None


class TestR6cInvariants:
    """Cheap cross-query invariants on real sf0.001 data — the class
    of check that caught the rolling-beta denominator bug (oracle
    parity alone can't catch a bug mirrored into the oracle)."""

    SF = "/root/testdata/sf0.001"

    def test_channel_orderings_and_signs(self, spark):
        from tastytrade_sdk_spark.plans.queries import (
            atr_daily,
            donchian_daily,
            keltner_daily,
        )

        for r in keltner_daily(spark, self.SF).collect():
            assert r["lower_band"] <= r["mid_line"] <= r["upper_band"]
        for r in donchian_daily(spark, self.SF).collect():
            if r["upper_chan"] is not None:
                assert r["lower_chan"] <= r["upper_chan"]
                assert not (r["breakout_up"] and r["breakout_down"])
        for r in atr_daily(spark, self.SF).collect():
            assert r["tr"] >= 0.0 and r["atr"] >= 0.0

    def test_market_share_sums_to_one_per_year(self, spark):
        from pyspark.sql import functions as F

        from tastytrade_sdk_spark.plans.queries import nation_market_share

        out = (
            nation_market_share(spark, self.SF)
            .groupBy("order_year")
            .agg(F.sum("market_share").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        assert out
        for r in out:
            # each share rounds at 6dp -> the sum may drift n*5e-7
            assert abs(r["s"] - 1.0) <= r["n"] * 5e-7 + 1e-9

    def test_bounded_ranges(self, spark):
        from tastytrade_sdk_spark.plans.llm_ann_queries import dim_truncation_recall
        from tastytrade_sdk_spark.plans.llm_retrieval_queries import mmr_rerank_topk
        from tastytrade_sdk_spark.plans.queries import (
            promo_revenue_monthly,
            rolling_beta_daily,
        )

        for r in promo_revenue_monthly(spark, self.SF).collect():
            assert 0.0 <= r["promo_share"] <= 100.0
        for r in dim_truncation_recall(spark, self.SF).collect():
            assert 0 <= r["n_overlap"] <= 10
            assert r["recall_at_10"] == r["n_overlap"] / 10.0
        for r in rolling_beta_daily(spark, self.SF).collect():
            if r["corr_20"] is not None:
                assert -1.0 <= r["corr_20"] <= 1.0
        mmr = mmr_rerank_topk(spark, self.SF).collect()
        per_q = {}
        for r in mmr:
            per_q.setdefault(r["query_id"], []).append(r)
        for qid, rows in per_q.items():
            ids = [r["vec_id"] for r in rows]
            assert len(ids) == len(set(ids)), "no repeat selections"
            ranks = sorted(r["mmr_rank"] for r in rows)
            assert ranks == list(range(1, len(rows) + 1))
            # rank 1 is the relevance argmax: its rel8 is the max
            r1 = next(r for r in rows if r["mmr_rank"] == 1)
            assert r1["rel8"] == max(r["rel8"] for r in rows)
