"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline smoke check at sf0.001.
``queries()`` — every implemented SURVEY §2 operator as a
(spark, sf_dir) -> DataFrame program.
``oracle_sql()`` — DuckDB-runnable ANSI SQL twins for the correctness
gate. Every declared query has one (the greedy classifier is oracled
via unique-outcome fixtures, the ANN searches via spliced-literal /
fixed-quantizer replays — see plans/kernel_queries.py and
plans/llm_ann_queries.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tastytrade_sdk_spark.plans import (
    ORACLE_BENCH_SPLIT,
    ORACLE_SQL,
    QUERIES,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: event stream -> hourly OHLCV candles -> Hull MA +
    MACD indicator columns (the reference's core signal pipeline,
    SURVEY §3.2) at sf0.001."""
    from pyspark.sql import functions as F

    from tastytrade_sdk_spark.operators.candles import ohlcv
    from tastytrade_sdk_spark.operators.indicators import hull, macd
    from tastytrade_sdk_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, "events", sf_dir)
    candles = ohlcv(
        ev,
        symbol_col="event_type",
        time_col="ts",
        price_col="value",
        size_col="value",
        interval="1 hour",
        order_col="event_id",
    )
    with_hull = hull(
        candles, price_col="close", length=20,
        partition_by=["symbol"], order_by=["time"],
    )
    with_macd = macd(
        with_hull, price_col="close",
        partition_by=["symbol"], order_by=["time"],
    )
    return with_macd.select(
        "symbol", "time", "close", "HMA", "HMA_color",
        F.col("Value").alias("macd_value"),
        F.col("avg").alias("macd_avg"),
        F.col("diff").alias("macd_diff"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)


def oracle_bench_split() -> dict[str, dict]:
    """Optional bench-harness contract (NOT part of the driver's
    correctness gate, which always runs oracle_sql()): per-query
    {"setup": [sql...], "timed": sql} overrides for search-only [Q]s
    whose Spark side runs over a pre-built index fixture — the setup
    materializes the index-equivalent into DuckDB temp tables untimed
    so both engines are charged only the search tail (r10 advisor).
    Equivalence of setup+timed vs the full oracle is pinned by
    tests/test_full_gate.py::test_bench_split_oracles_match_full."""
    return dict(ORACLE_BENCH_SPLIT)
