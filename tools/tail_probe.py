"""Diagnose the per-query constant of the fast tail: for a few
representative mid-band queries, split wall time into (a) DataFrame
construction (Python/py4j/analysis), (b) first noop execution, (c)
repeat noop execution on the SAME DataFrame object (pure execution,
plan already analyzed), and count Spark jobs per execution.

Usage: python tools/tail_probe.py name [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tastytrade_sdk_spark.session import get_spark


def main() -> None:
    names = sys.argv[1:]
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    spark = get_spark("tail_probe")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    st = spark.sparkContext.statusTracker()

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    # warm
    warm = sf.replace("sf0.1", "sf0.001")
    for n in names:
        run(queries[n](spark, warm))

    for n in names:
        # build
        t0 = time.perf_counter()
        df = queries[n](spark, sf)
        t_build = time.perf_counter() - t0
        j0 = len(st.getJobIdsForGroup(None) or [])
        t0 = time.perf_counter()
        run(df)
        t_first = time.perf_counter() - t0
        t0 = time.perf_counter()
        run(df)
        t_rep = time.perf_counter() - t0
        # rebuild + run (bench methodology)
        t0 = time.perf_counter()
        df2 = queries[n](spark, sf)
        run(df2)
        t_full = time.perf_counter() - t0
        print(
            f"{n}: build={t_build:.3f} first={t_first:.3f} "
            f"repeat={t_rep:.3f} full={t_full:.3f}"
        )


if __name__ == "__main__":
    main()
