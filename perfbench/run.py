"""spark-tick benchmark: one command per workload run.

    python3 perfbench/run.py --workload backtest --seed 1 --seconds 4 --trace 0

Run from the repository root (the directory holding
``tastytrade_sdk_spark/``). Prints one line per metric (name, value,
unit) and, last, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Traced runs also write their
per-span records to ``.perfbench/out/``. Everything the run writes
stays under ``.perfbench/`` in the repository root.

See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tastytrade_sdk_spark"
HEAP = "2g"  # driver heap; the box has 15 GB shared with other work

END_TO_END = (
    ("setup_s", "s"), ("wall_s", "s"), ("exec_cpu_s", "s"),
    ("peak_rss_mb", "MB"), ("latency_p50_ms", "ms"),
)
# the name a bounded metric goes by on one workload
ALIASES = {("index_lifecycle", "latency_p50_ms"): "search_p50_ms"}
TRIGGER_PARTS = (
    ("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms"),
    ("queryPlanning", "query_planning_ms"), ("addBatch", "add_batch_ms"),
    ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"),
    ("triggerExecution", "trigger_ms"),
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("backtest", "live_feed", "index_lifecycle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Pin the timezone, keep every temp file in the work dir and put
    the repository on the driver's and the Python workers' path."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM (Spark's launcher and the driver): no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # glibc's per-thread malloc arenas make the JVM's resident size
    # depend on thread scheduling; two arenas keep peak_rss_mb steady
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def spark_session(work: str):
    from tastytrade_sdk_spark.session import get_spark

    retain = "1000000"
    conf = {
        # session.py defaults to local[32] and a 16g heap
        "spark.driver.memory": HEAP,
        # a fully committed heap: G1 otherwise grows it by run-to-run timing
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # status-store retention: every job of the run must stay readable
        "spark.ui.retainedJobs": retain,
        "spark.ui.retainedStages": retain,
        "spark.ui.retainedTasks": retain,
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    }
    return get_spark("perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)


def make_workload(name: str, spark, params):
    from perfbench.wl_backtest import Backtest
    from perfbench.wl_index import IndexLifecycle
    from perfbench.wl_live_feed import LiveFeed

    return {"backtest": Backtest, "live_feed": LiveFeed,
            "index_lifecycle": IndexLifecycle}[name](spark, params)


# ---------------------------------------------------------------------------
# phases
# ---------------------------------------------------------------------------


def setup(args, work: str, params):
    """Session start (JVM launch) + input generation + warm-up (an
    untimed pass, which pays JIT, code generation and Python-worker
    start). Returns the session, the workload, its inputs and the
    seconds taken."""
    from perfbench.trace import Tracer

    t0 = time.perf_counter()
    spark = spark_session(work)
    wl = make_workload(args.workload, spark, params)
    inputs = wl.generate(os.path.join(work, "inputs"), args.seed)
    wl.warm(inputs, os.path.join(work, "warm"), Tracer(spark.sparkContext))
    return spark, wl, inputs, time.perf_counter() - t0


def closed_loop(wl, inputs, out: str, seconds: float, tr, trace: bool, cpu):
    """Back-to-back passes, as many as fit ``seconds`` at the
    workload's nominal pass time (at least one). The count depends on
    ``seconds`` only, so every run measures the same work. Traced runs
    make at least three and trace every other pass (untraced, traced,
    untraced, ...), so the tracing overhead is an interleaved
    comparison that a warm-up trend does not bias. ``cpu()`` reads the
    Python workers' CPU seconds so far."""
    n = max(3 if trace else 1, int(seconds // wl.pass_s))
    passes = []
    for i in range(n):
        tr.unit, tr.enabled = i, trace and i % 2 == 1
        a, c = time.time(), cpu()
        wl.run_pass(inputs, out, tr)
        passes.append({"unit": i, "start": a, "end": time.time(),
                       "python_cpu_s": cpu() - c, "traced": tr.enabled})
    return passes


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(name, wl, tr, units, live, cpu_s) -> tuple[dict, dict]:
    """(bounded end-to-end metrics, the workload's own extra metrics)."""
    from perfbench.trace import median, percentile

    extra = {}
    if name == "live_feed":
        lat = list(live["latency_ms"])
        wall = live["drain_s"]
        extra["latency_samples"] = (len(lat), "count")
        # a percentile is reported only with >= 10 samples beyond it
        if len(lat) * 0.1 >= 10:
            extra["latency_p90_ms"] = (percentile(lat, 90), "ms")
        extra["drain_events_per_s"] = (wl.p["burst"] / wall, "events/s")
        return {"wall_s": wall, "exec_cpu_s": cpu_s[0],
                "latency_p50_ms": percentile(lat, 50)}, extra
    if name == "index_lifecycle":
        from perfbench.wl_index import WRITES

        per_pass = {}
        for n, unit, s, e in tr.calls:
            if n in WRITES:
                per_pass[unit] = per_pass.get(unit, 0.0) + (e - s)
        extra["write_s"] = (median(list(per_pass.values())), "s")
    return {"wall_s": median([u["end"] - u["start"] for u in units]),
            "exec_cpu_s": median(cpu_s),
            "latency_p50_ms": median(wl.latencies_ms(tr))}, extra


def per_layer(records, ungrouped, units, live) -> dict:
    """Per-module figures per traced unit (pass, or trigger for
    live_feed), plus run-level tracing figures."""
    from perfbench.trace import COUNTERS, MODULES, median

    traced = [u for u in units if u["traced"]]
    n = max(1, len(traced))
    # unit -1: one-off construction before the first unit (the streaming query)
    traced_ids = {u["unit"] for u in traced} | {-1}
    recs = [r for r in records if r["unit"] in traced_ids]
    out = {}
    for m in MODULES:
        mine = [r for r in recs if r["module"] == m]
        out[f"{m}.span_s"] = sum(r["duration_s"] for r in mine) / n
        out[f"{m}.build_s"] = sum(r["duration_s"] for r in mine if r["phase"] == "build") / n
        out[f"{m}.exec_s"] = sum(r["duration_s"] for r in mine if r["phase"] == "execute") / n
        for c in COUNTERS:
            out[f"{m}.{c}"] = sum(r[c] for r in mine) / n
        out[f"{m}.task_skew"] = max((r["task_skew"] for r in mine), default=0.0)
    in_traced = [
        j for j in ungrouped
        if any(u["start"] <= j.submitted <= u["end"] for u in traced)
    ]
    out["ungrouped_jobs"] = len(in_traced) / n
    span_total = sum(r["duration_s"] for r in recs if r["unit"] >= 0)
    out["span_coverage"] = span_total / max(1e-9, sum(u["end"] - u["start"] for u in traced))
    walls = {t: [u["end"] - u["start"] for u in units if u["traced"] == t] for t in (True, False)}
    out["tracing_overhead_s"] = (
        median(walls[True]) - median(walls[False]) if walls[True] and walls[False] else 0.0)
    trig = [d for d in (live or {}).get("triggers", {}).values() if d.get("feed")]
    for part, key in TRIGGER_PARTS:
        out[f"trigger.{key}"] = median([d["duration_ms"].get(part, 0) for d in trig]) if trig else 0.0
    out["trigger.state_rows"] = median([d["state_rows"] for d in trig]) if trig else 0.0
    out["trigger.state_memory_mb"] = (
        median([d["state_bytes"] for d in trig]) / 2**20 if trig else 0.0)
    sinks = [c["sink_s"] * 1000 for c in (live or {}).get("commits", {}).values()]
    out["trigger.sink_upsert_ms"] = median(sinks) if sinks else 0.0
    return out


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def run(args, work: str) -> dict:
    from perfbench import gen
    from perfbench.trace import (
        RssSampler, StatusReader, Tracer, cpu_in_windows, evicted_jobs, python_cpu_s,
        span_records,
    )

    params = gen.SCALES[args.scale]
    spark, wl, inputs, setup_s = setup(args, work, params)
    out = os.path.join(work, "out")
    tr = Tracer(spark.sparkContext, enabled=bool(args.trace))
    jvm = spark.sparkContext._gateway.proc.pid

    def cpu():
        return python_cpu_s(jvm)

    t_start = time.time()
    live = None
    with RssSampler(jvm) as rss:
        if args.workload == "live_feed":
            live = wl.measure(inputs, out, args.seconds, tr, cpu)
            units = [{"unit": e, "start": c["start"], "end": c["commit"], "traced": c["traced"]}
                     for e, c in sorted(live["commits"].items())]
            windows = [(live["start"], live["end"])]
            python = [live["python_cpu_s"]]
        else:
            units = closed_loop(wl, inputs, out, args.seconds, tr, bool(args.trace), cpu)
            windows = [(u["start"], u["end"]) for u in units]
            python = [u["python_cpu_s"] for u in units]
    reader = StatusReader(spark)
    all_jobs = reader.jobs()
    jobs = [j for j in all_jobs if j.submitted >= t_start - 0.5]
    # the tasks' CPU: JVM task threads + the Python workers running their UDFs
    cpu_s = [a + b for a, b in zip(cpu_in_windows(reader, jobs, windows), python)]
    evicted = evicted_jobs(all_jobs)
    checks = [("status store kept every job", evicted == 0, f"{evicted} jobs evicted")]
    checks += wl.check(inputs, out, args.seed)

    bounded, extra = end_to_end(args.workload, wl, tr, units, live, cpu_s)
    bounded["setup_s"] = setup_s
    bounded["peak_rss_mb"] = rss.peak_mb
    res = {"checks": checks, "calls": len(tr.calls), "bounded": bounded, "extra": extra}
    if args.trace:
        records, ungrouped = span_records(reader, tr.spans, jobs,
                                          reader.python_s_by_job(spark))
        res["layers"] = per_layer(records, ungrouped, units, live)
        dump = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "units": units, "spans": records,
                "ungrouped_jobs": [vars(j) for j in ungrouped],
                "triggers": (live or {}).get("triggers", {})}
        dest = os.path.join(ROOT, ".perfbench", "out")
        os.makedirs(dest, exist_ok=True)
        path = os.path.join(dest, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(dump, fh, indent=1, default=str)
        res["trace_file"] = path
    return res


def shutdown() -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    for the Python workers it started."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    prepare_env(work)
    res, code = None, 0
    try:
        res = run(args, work)
    except Exception:  # noqa: BLE001 — report the failed run, then exit non-zero
        traceback.print_exc()
        code = 1
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return code

    failed = sum(1 for _, ok, _ in res["checks"] if not ok)
    attempted = res["calls"] + len(res["checks"])
    for name, ok, detail in res["checks"]:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    units = dict(END_TO_END)
    for k, u in END_TO_END:
        alias = ALIASES.get((args.workload, k))
        print(f"{k} {res['bounded'][k]:.6g} {u}" + (f" (= {alias})" if alias else ""))
    for k, (v, u) in res["extra"].items():
        print(f"{k} {v:.6g} {u}")
    print(f"failed_ratio {failed / attempted:.6g} 1")
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
        print(f"trace records: {res['trace_file']}")
    else:
        metrics = {k: {"value": res["bounded"][k], "unit": units[k]} for k, _ in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    tail = name.rsplit(".", 1)[-1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_ms"):
        return "ms"
    if tail.endswith("_mb"):
        return "MB"
    if tail.endswith("_bytes"):
        return "bytes"
    if tail in ("task_skew", "span_coverage"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
