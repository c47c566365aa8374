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
- Codegen cache sized to the working set (2000 generated classes).
  A session re-runs a fixed mix of queries, so each generated class
  should compile once. Spark's default of 100 entries is a Guava LRU
  split into 4 segments of ~25, so eviction starts well below 100.
  With the class naming below, the perfbench workloads compile 171
  (index_lifecycle), 114 (backtest) and 67 (live_feed) classes in
  set-up (input generation and the warm-up pass) and 0, 7 and 13 in
  the timed pass (seed 1, 4-core host). Before that naming, the
  timed pass recompiled 238, 98 and 25 at the default size. It is a
  static conf, so it is set here, before the session exists;
  ``codegen_compiles`` reads the churn.
- Whole-stage classes are named without their codegen stage id. With
  AQE, ids follow the order in which query stages are planned, and
  that order changes with which concurrent shuffle stage finishes
  first. The id is part of the class name and so of the cache key: a
  repeated BM25 index search recompiled 4 identical classes in about
  half its runs because two of its stages swapped ids. Identical
  classes of different stages now share one compile: backtest's and
  live_feed's set-up compiles fell from 130 and 80 to 114 and 67
  (seed 1, 4-core host).
- Python workers fork from ``worker_daemon`` (the
  ``spark.python.daemon.module``), so every applyInPandas /
  mapInPandas / pandas_udf / applyInPandasWithState task runs with it.
  Each task starts with ``importlib.invalidate_caches()``, and on
  CPython 3.11 that made every ``zipimporter`` re-parse its whole
  archive. Workers import pyspark from ``pyspark.zip``, which leaves
  16 importers (on it, the spark-core jar and py4j's zip), so that
  cost ~215 ms of CPU per task: 1.3 s of the 2.8 s of Python-worker
  CPU in a backtest pass (seed 1, 4-core host). The daemon's
  importers re-read an archive only when its stat changed. A path new
  to ``sys.path`` gets a new importer and a rewritten archive a new
  stat, so imports resolve as before. ``python_worker_cpu`` reads the
  workers' CPU.
- The workers' PYTHONPATH holds the directory this package sits in.
  The JVM starts the daemon with ``python -m`` in the driver's working
  directory and adds only pyspark.zip, py4j and the spark-core jar, so
  otherwise Python tasks failed outside the repository root.

``overlap`` is the one way the package runs independent driver jobs
concurrently on the shared session.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.python.daemon.module", "tastytrade_sdk_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, seconds compiling) by this JVM's code
    generator so far: one compile per codegen cache miss. The count is
    ``CodegenMetrics.METRIC_COMPILATION_TIME``'s; the seconds come from
    the nanosecond total Spark adds up beside it, because that
    histogram keeps only a sample of truncated milliseconds. Both are
    cumulative and JVM-wide (in local mode that includes the
    executors); diff two readings to attribute compiles to a span."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), nanos / 1e9


def python_worker_cpu(spark: SparkSession) -> float:
    """CPU seconds used so far by the processes below this session's
    JVM: its Python daemon and workers, including workers that already
    exited (their time moved into the parent that reaped them). Read
    from /proc as utime + stime + cutime + cstime of each descendant;
    0.0 when this Python process did not launch the JVM. Cumulative;
    diff two readings to attribute Python-worker CPU to a span."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while listing
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, list(children.get(proc.pid, []))
    while todo:
        pid = todo.pop()
        total += ticks[pid]
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


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
