"""The session's codegen cache holds a repeated query mix's working set.

A long-lived session re-runs the same queries, so every generated
class should compile once. Spark's default cache of 100 entries is a
4-segment LRU that starts evicting near 25 entries a segment, and a
mix of index writes and searches compiles well over 100 classes: at
that size every pass recompiles. ``get_spark`` sizes the cache to 2000.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tastytrade_sdk_spark.llmops.retrieval import bm25_index_topk, bm25_index_write
from tastytrade_sdk_spark.llmops.similarity import (
    axis_centroids,
    ivf_index_write,
    knn_graph_index_search,
    knn_graph_index_write,
)
from tastytrade_sdk_spark.session import codegen_compiles
from tastytrade_sdk_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_session_pins_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"


def test_repeated_index_mix_compiles_nothing_new(spark, tmp_path):
    emb = load_table(spark, "embeddings", SF_DIR)
    docs = load_table(spark, "documents", SF_DIR)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cent = axis_centroids(16, 64)

    def mix(out) -> None:
        ivf_index_write(emb, f"{out}/ivf", cent)
        knn_graph_index_write(emb, f"{out}/graph", cent, k=4, rounds=2, rev_cap=4)
        knn_graph_index_search(spark, f"{out}/graph", queries, cent, k=5, hops=2).collect()
        bm25_index_write(docs, f"{out}/bm25", n_buckets=8)
        bm25_index_topk(spark, f"{out}/bm25", docs.filter(F.col("doc_id") < 5), k=5).collect()

    before, _ = codegen_compiles(spark)
    mix(tmp_path / "a")
    first, _ = codegen_compiles(spark)
    mix(tmp_path / "b")
    second, _ = codegen_compiles(spark)
    assert second - first == 0, (
        f"second pass recompiled {second - first} of the first pass's "
        f"{first - before} classes"
    )
