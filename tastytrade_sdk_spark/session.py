"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use local[N] (single JVM); the config below is chosen so the
same code deploys unchanged to a multi-executor cluster:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuned partition counts
  at 100 TB scale.
- shuffle.partitions is a *hint* only; AQE coalesces. On a real
  cluster this would be set to ~2-3x total cores by the submitter.
- Arrow enabled: every applyInPandas / mapInPandas kernel moves data
  in columnar batches, not pickled rows.
- Session timezone pinned to UTC: the reference stores naive-UTC
  timestamps (charting/server.py:50-60); pinning makes Spark results
  comparable to DuckDB/parquet epoch values.

``overlap`` is the one way the package runs independent driver jobs
concurrently on the shared session.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "tastytrade_sdk_spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults."""
    n = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        # Naive parquet timestamps (isAdjustedToUTC=false) must read as
        # TIMESTAMP (LTZ, pinned UTC above), not TIMESTAMP_NTZ: the
        # epoch functions (unix_micros/unix_millis) reject NTZ, and the
        # data contract (FIXTURES.md) is naive-UTC storage.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # NOTE: a 48g heap measured 3-30x SLOWER on allocation-heavy
        # stages here (GC over a huge young gen); 16g is the sweet spot
        # for local[32] at these scale factors
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def overlap(*fns: Callable[[], Any]) -> list:
    """Run lineage-independent driver work concurrently and return each
    callable's result, in argument order.

    ``fns[0]`` runs on the calling thread; the rest run on
    ``pyspark.InheritableThread``, which copies the caller's Spark
    local properties (job group, description, scheduler pool, ...)
    into the helper, so its jobs stay attributable to the caller.
    Every helper is joined before this returns OR raises — a failure
    never leaves a writer thread submitting jobs into the shared
    session. The first error (in argument order) is re-raised; any
    others are attached to it as notes.
    """
    from pyspark import InheritableThread

    results: list = [None] * len(fns)
    errors: list[BaseException | None] = [None] * len(fns)

    def _run(i: int) -> None:
        try:
            results[i] = fns[i]()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors[i] = e

    threads = []
    try:
        for i in range(1, len(fns)):
            t = InheritableThread(_run, args=(i,))
            t.start()
            threads.append(t)
        _run(0)
    finally:
        for t in threads:
            t.join()
    raised = [e for e in errors if e is not None]
    if raised:
        for other in raised[1:]:
            raised[0].add_note(f"overlap: concurrent failure: {other!r}")
        raise raised[0]
    return results
