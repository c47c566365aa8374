"""Phase breakdown of the IVF index lifecycle [Q]s at sf0.1: time
each stream batch fold, the compact, the append, and the search
separately (noop on the search result) so the optimization targets
the right phase. Usage: python tools/ivf_phases.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tastytrade_sdk_spark.session import get_spark
from tastytrade_sdk_spark.sources.tables import load_table


def main() -> None:
    spark = get_spark("ivf_phases")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from tastytrade_sdk_spark.llmops.similarity import (
        axis_centroids,
        ivf_index_append,
        ivf_index_compact,
        ivf_index_stream_batch,
        ivf_index_topk,
        ivf_index_write,
    )

    emb = load_table(spark, "embeddings", sf)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cent = axis_centroids(16, 64)

    def t(label, fn):
        t0 = time.perf_counter()
        out = fn()
        print(f"  {label}: {time.perf_counter() - t0:.3f}s", flush=True)
        return out

    # warm once at sf0.001
    warm = sf.replace("sf0.1", "sf0.001")
    embw = load_table(spark, "embeddings", warm)
    qw = embw.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    tmpw = tempfile.mkdtemp(prefix="ivfw_")
    try:
        ivf_index_write(embw, f"{tmpw}/i", cent)
        ivf_index_topk(spark, f"{tmpw}/i", qw, cent, k=5, nprobe=4).write.format(
            "noop"
        ).mode("overwrite").save()
    finally:
        shutil.rmtree(tmpw, ignore_errors=True)

    for rep in range(2):
        print(f"— stream lifecycle rep {rep} —", flush=True)
        tmp = tempfile.mkdtemp(prefix="ivf_ph_")
        try:
            for ep in range(3):
                t(
                    f"stream_batch {ep}",
                    lambda ep=ep: ivf_index_stream_batch(
                        emb.filter(F.col("vec_id") % 3 == ep),
                        f"{tmp}/index",
                        ep,
                        cent,
                    ),
                )
            t(
                "replay ep1",
                lambda: ivf_index_stream_batch(
                    emb.filter(F.col("vec_id") % 3 == 1), f"{tmp}/index", 1, cent
                ),
            )
            t("compact", lambda: ivf_index_compact(spark, f"{tmp}/index", cent))
            t(
                "append third",
                lambda: ivf_index_append(
                    emb.filter(F.col("vec_id") % 3 == 2).limit(0),
                    f"{tmp}/index",
                    cent,
                ),
            )
            t(
                "search",
                lambda: ivf_index_topk(
                    spark, f"{tmp}/index", queries, cent, k=5, nprobe=4
                )
                .write.format("noop")
                .mode("overwrite")
                .save(),
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
