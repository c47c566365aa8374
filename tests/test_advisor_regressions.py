"""Regression pins for edge cases the oracle gate cannot reach
(fixture synthesis never produces them): empty COMPACT payloads,
NULL-input P&L ladders, right/full salted joins, None-strike condor
wings, and genuinely-NULL real buckets in gap_fill."""

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tastytrade_sdk_spark.functions.strategy_pnl import max_profit_col
from tastytrade_sdk_spark.kernels.classifier import Leg, classify_group
from tastytrade_sdk_spark.operators.gapfill import gap_fill
from tastytrade_sdk_spark.operators.scale import salted_join
from tastytrade_sdk_spark.sources.compact import decode_compact

SF_DIR = "/root/testdata/sf0.001"

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ]
)


def test_decode_compact_empty_payload_yields_zero_rows(spark):
    df = spark.createDataFrame(
        [(1, ["A", "1.5", "B", "2.5"]), (2, [])],
        "msg_id int, payload array<string>",
    )
    out = decode_compact(df, "payload", EVENT_SCHEMA, keep_cols=["msg_id"])
    rows = out.collect()
    # the empty payload decodes ZERO events — no phantom corrupt rows
    assert [r["msg_id"] for r in rows] == [1, 1]
    assert not any(r["_corrupt"] for r in rows)


def test_max_profit_null_credit_stays_null(spark):
    df = spark.createDataFrame(
        [("Iron Condor", None, 5.0), ("Iron Condor", 120.0, 5.0)],
        "stype string, credit double, width double",
    )
    out = df.select(
        max_profit_col(
            F.col("stype"), F.col("credit"), F.col("width"),
            F.col("width"), F.lit(100), F.lit(1),
        ).alias("mp")
    ).collect()
    assert out[0]["mp"] is None  # not coerced to 0 by greatest()
    assert out[1]["mp"] == 120.0


def test_salted_join_rejects_right_and_full(spark):
    fact = spark.createDataFrame([(1, "x")], "k int, v string")
    dim = spark.createDataFrame([(1, "d")], "k int, d string")
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError):
            salted_join(fact, dim, "k", n_salts=4, how=how)
    # inner/left still fine
    assert salted_join(fact, dim, "k", n_salts=4, how="left").count() == 1


def _leg(sym, qty, ot, strike):
    return Leg(
        symbol=sym, underlying="U", instrument_type="Equity Option",
        signed_quantity=qty, option_type=ot,
        strike=Decimal(strike) if strike is not None else None,
        expiration=dt.date(2024, 6, 21),
    )


def test_iron_condor_with_none_outer_wing_classifies():
    legs = [
        _leg("L1", 1, "P", None),      # long put, UNKNOWN outer strike
        _leg("L2", -1, "P", "95"),     # short put (inner)
        _leg("L3", -1, "C", "105"),    # short call (inner)
        _leg("L4", 1, "C", "110"),     # long call
    ]
    out = classify_group(legs)
    assert out[0][0] == "Iron Condor"
    assert len(out[0][1]) == 4


def test_gap_fill_real_bucket_with_null_value_not_synthetic(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0)
    rows = [
        ("A", t0, 1.0),
        ("A", t0 + dt.timedelta(hours=1), None),  # REAL bucket, null value
        ("A", t0 + dt.timedelta(hours=3), 4.0),   # hour 2 missing
    ]
    df = spark.createDataFrame(rows, "sym string, t timestamp, v double")
    out = {
        r["t"]: r
        for r in gap_fill(df, ["sym"], "t", "1 hour", ["v"]).collect()
    }
    assert not out[t0 + dt.timedelta(hours=1)]["is_synthetic"]
    assert out[t0 + dt.timedelta(hours=2)]["is_synthetic"]
    # and only the manufactured hour-2 row lands in the writeback
    synth = gap_fill(
        df, ["sym"], "t", "1 hour", ["v"], only_synthetic=True
    ).collect()
    assert [r["t"] for r in synth] == [t0 + dt.timedelta(hours=2)]


def test_cdc_apply_null_op_is_upsert_not_dropped(spark):
    from tastytrade_sdk_spark.operators.dedup import cdc_apply

    rows = [
        ("k1", 1, "upsert", 10.0),
        ("k1", 2, "delete", None),
        ("k2", 1, None, 20.0),     # NULL op: must survive as an upsert
        ("k3", 1, "delete", None),
        ("k3", 2, None, 30.0),     # delete then NULL-op change resurrects
    ]
    df = spark.createDataFrame(rows, "k string, seq int, op string, v double")
    out = {r["k"]: r for r in cdc_apply(df, ["k"], ["seq"]).collect()}
    assert "k1" not in out          # last op delete
    assert out["k2"]["v"] == 20.0   # NULL op kept
    assert out["k3"]["v"] == 30.0   # resurrection via NULL-op row


def test_additive_agg_epoch_regression_raises(spark, tmp_path):
    from tastytrade_sdk_spark.streaming.sinks import additive_agg_batch

    path = str(tmp_path / "agg")
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    additive_agg_batch(df, path, ["k"], ["v"], epoch_id=5)
    # same epoch replayed: silently absorbed (idempotent)
    additive_agg_batch(df, path, ["k"], ["v"], epoch_id=5)
    assert spark.read.parquet(path).collect()[0]["v"] == 1.0
    # REGRESSED epoch (checkpoint deleted, ids restarted): loud failure
    with pytest.raises(ValueError, match="epoch regression"):
        additive_agg_batch(df, path, ["k"], ["v"], epoch_id=0)


def test_range_join_inverted_interval_emits_nothing(spark):
    from tastytrade_sdk_spark.operators.rangejoin import range_join_binned

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    pts = spark.createDataFrame([("A", t0)], "k string, pt timestamp")
    ivs = spark.createDataFrame(
        [("A", t0 + dt.timedelta(hours=1), t0 - dt.timedelta(hours=1), "inv")],
        "k string, s timestamp, e timestamp, tag string",
    )
    out = range_join_binned(
        pts, ivs, ["k"], "pt", "s", "e", bin_width_ms=60_000
    )
    assert out.collect() == []  # no spurious descending-sequence bins


def _augmented_gate(spark, tmp_path, table: str, extra, only: set[str]):
    """Run the real gate harness (tools/check_oracle.run_gate) for
    ``only`` on sf0.001 with ``extra`` rows appended to ``table`` — the
    shipped fixtures lack these edge cases. Returns (failing, sf_dir)."""
    import os
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(
        0, os.path.join(os.path.dirname(__file__), "..", "tools")
    )
    from check_oracle import run_gate

    from tastytrade_sdk_spark.sources.tables import TABLE_NAMES

    aug = tmp_path / "sf_aug"
    aug.mkdir()
    for t in TABLE_NAMES:
        if t != table:
            os.symlink(f"{SF_DIR}/{t}.parquet", aug / f"{t}.parquet")
    base = pq.read_table(f"{SF_DIR}/{table}.parquet")
    pq.write_table(
        pa.concat_tables([base, extra.cast(base.schema)]),
        aug / f"{table}.parquet",
    )
    return run_gate(spark, str(aug), only=only, verbose=False), str(aug)


def test_null_text_doc_parity_vocab_and_batching(spark, tmp_path):
    """A NULL-text document must flow identically through operator and
    oracle (advisor r3): vocab_oov_rate keeps it as an n_tokens=0 row
    on BOTH sides; length_bucketed_batches drops it on BOTH sides. The
    shipped fixtures have no NULL texts, so this builds an augmented
    sf_dir and re-runs the real gate harness on it."""
    import pyarrow as pa

    extra = pa.table(
        {
            "doc_id": pa.array([900001, 900002], type=pa.int64()),
            "text": pa.array([None, ""], type=pa.string()),
            "lang": pa.array(["en", "en"], type=pa.string()),
            "source": pa.array(["synthetic", "synthetic"], type=pa.string()),
            "n_chars": pa.array([0, 0], type=pa.int64()),
        }
    )
    failing, _ = _augmented_gate(
        spark, tmp_path, "documents", extra,
        {"vocab_oov_rate", "length_bucketed_batches"},
    )
    assert not failing, failing


def test_range_join_runaway_interval_raises(spark):
    from tastytrade_sdk_spark.operators.rangejoin import range_join_binned

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    pts = spark.createDataFrame([("A", t0)], "k string, pt timestamp")
    ivs = spark.createDataFrame(
        [("A", t0, dt.datetime(2224, 1, 1), "runaway")],  # 200-year interval
        "k string, s timestamp, e timestamp, tag string",
    )
    out = range_join_binned(
        pts, ivs, ["k"], "pt", "s", "e", bin_width_ms=60_000,
        max_bins_per_interval=1000,
    )
    with pytest.raises(Exception, match="spans more than"):
        out.collect()


def test_quantize_int8_null_component_visible_on_both_engines(spark, tmp_path):
    """A NULL vector component must survive into embedding_quantize_int8's
    qvec digest at its position on BOTH engines (ADVICE r12): Spark's
    array_join and DuckDB's array_to_string both skip nulls unless
    given a replacement, which silently shortened the digest."""
    import pyarrow as pa

    import __spark_entry__ as entrymod

    vec = [float(i % 7) - 3.0 for i in range(64)]
    vec[3] = None
    extra = pa.table(
        {
            "vec_id": pa.array([900001], type=pa.int64()),
            "embedding": pa.array([vec], type=pa.list_(pa.float32())),
            "label": pa.array([0], type=pa.int32()),
        }
    )
    failing, aug = _augmented_gate(
        spark, tmp_path, "embeddings", extra, {"embedding_quantize_int8"}
    )
    assert not failing, failing
    row = (
        entrymod.queries()["embedding_quantize_int8"](spark, aug)
        .filter(F.col("vec_id") == 900001)
        .collect()[0]
    )
    parts = row["qvec"].split(",")
    assert len(parts) == len(vec)
    assert parts[3] == "null"
