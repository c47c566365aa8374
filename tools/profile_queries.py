"""Focused per-query profiler for optimization rounds.

Times named queries with the noop sink (min-of-N, same methodology as
bench.py) and/or dumps `.explain("formatted")` to plans/rNN/. Each
timing line also gives the codegen compiles (classes, seconds) over
its N timed runs: after the warm-up these should be near 0, so a
large count means the query's generated code does not stay cached.
``python_cpu_s`` is the CPU the Python daemon and workers used over
the same runs (0 for a query with no Python kernel).

Usage:
  python tools/profile_queries.py time  [--n 3] [--sf DIR] name [name ...]
  python tools/profile_queries.py plan  [--tag before|after] [--round 11] name...
  python tools/profile_queries.py both  [...]

`name` may be `topN` to expand to the N slowest queries from
BENCH_LOCAL.json.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tastytrade_sdk_spark.session import codegen_compiles, get_spark, python_worker_cpu


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["time", "plan", "both"])
    ap.add_argument("names", nargs="+")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--tag", default="before")
    ap.add_argument("--round", default="11")
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    names: list[str] = []
    for n in args.names:
        if n.startswith("top") and n[3:].isdigit():
            with open(f"{ROOT}/BENCH_LOCAL.json") as f:
                q = json.load(f)["queries"]
            names += [k for k, _ in sorted(
                q.items(), key=lambda kv: -kv[1])[: int(n[3:])]]
        else:
            names.append(n)
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark("profile")

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    if args.mode in ("plan", "both"):
        outdir = f"{ROOT}/plans/r{args.round}"
        os.makedirs(outdir, exist_ok=True)
        for name in names:
            df = queries[name](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(f"{outdir}/{name}_{args.tag}.txt", "w") as f:
                f.write(buf.getvalue())
            print(f"plan -> {outdir}/{name}_{args.tag}.txt")

    if args.mode in ("time", "both"):
        # warm-up on the smallest SF so codegen/JVM spin-up stays out
        warm = args.sf.replace("sf0.1", "sf0.001")
        for name in names:
            spark.sparkContext.setJobDescription(f"warm:{name}")
            try:
                run(queries[name](spark, warm))
            except Exception as e:  # warm-up failure is not fatal
                print(f"warm {name}: {e}")
        results = {}
        for name in names:
            best, runs = None, []
            c0, s0 = codegen_compiles(spark)
            p0 = python_worker_cpu(spark)
            for _ in range(args.n):
                spark.sparkContext.setJobDescription(f"time:{name}")
                t0 = time.perf_counter()
                run(queries[name](spark, args.sf))
                dt = time.perf_counter() - t0
                runs.append(round(dt, 3))
                best = dt if best is None else min(best, dt)
            c1, s1 = codegen_compiles(spark)
            p1 = python_worker_cpu(spark)
            results[name] = round(best, 3)
            print(f"{name}: min={best:.3f} runs={runs} "
                  f"compiles={c1 - c0} compile_s={s1 - s0:.3f} "
                  f"python_cpu_s={p1 - p0:.3f}", flush=True)
        print(json.dumps(results))


if __name__ == "__main__":
    main()
