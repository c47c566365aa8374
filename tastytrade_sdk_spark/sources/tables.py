"""Batch table loaders for the synthetic star schema + stream tables.

The scan layer is deliberately thin: plain ``spark.read.parquet`` so
Catalyst owns predicate pushdown, column pruning and partition pruning
(the reference does this by hand inside Flux query strings,
src/tastytrade/providers/market.py:119-185 — on Spark it is free).

At 100 TB the same loaders point at a partitioned lake layout
(``.../events/date=.../symbol_bucket=...``); nothing downstream
changes because every operator takes a DataFrame, never a path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark rejects them
    unless read as long (spark.sql.legacy.parquet.nanosAsLong)."""
    import pyarrow.parquet as pq

    try:
        if os.path.isdir(path):
            # directory-shaped table (partitioned layout): read the
            # schema off the first part file — pq.read_schema only
            # accepts a single file and would silently return [] here,
            # leaving NANOS columns undetected and the Spark read to
            # fail on them
            parts = sorted(
                f for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
            if not parts:
                return []
            fpath = os.path.join(path, parts[0])
        else:
            fpath = path
        schema = pq.read_schema(fpath)
    except Exception:
        return []
    # INT96 timestamps (Spark's own default writer type) ALSO surface
    # as timestamp[ns] in the Arrow schema, but Spark reads them
    # natively as TIMESTAMP — flagging them would bolt a `div 1000`
    # onto a timestamp column and break the read. Only true
    # TIMESTAMP(NANOS) (physical INT64) needs the nanosAsLong path.
    int96: set[str] = set()
    try:
        ps = pq.ParquetFile(fpath).schema
        for i in range(len(ps)):
            col = ps.column(i)
            if col.physical_type == "INT96":
                int96.add(col.name)
    except Exception:
        pass
    out = []
    for field in schema:
        t = field.type
        if str(t) == "timestamp[ns]" and field.name not in int96:
            out.append(field.name)
    return out


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one table; accepts either ``dir/name.parquet`` or a directory.

    Nanosecond-precision timestamp columns (which Spark's vectorized
    parquet reader rejects) are read as long and truncated to
    microseconds — matching DuckDB's µs timestamp semantics.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Pin UTC even on a caller-provided session: naive-UTC storage is
    # part of the data contract (FIXTURES.md), and bucket/window
    # results must not depend on the host timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Naive-UTC parquet timestamps must surface as TIMESTAMP (LTZ@UTC),
    # not TIMESTAMP_NTZ — epoch functions reject NTZ and the whole query
    # surface assumes epoch-comparable timestamps.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    ns_cols = _nanos_ts_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        # integer div — double division loses precision past 2^53 ns
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}
