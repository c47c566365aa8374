"""``index_lifecycle``: build, append and search the three persisted
indexes (IVF, k-NN graph, BM25) over seeded clustered vectors and
Zipf-text documents.

One pass (closed loop, one caller): train the IVF quantizer, write +
append the IVF index, write the graph index, write + append the BM25
index, then one search batch (the query set against each index).
Writes and searches are timed separately: ``write_s`` and the search
batch latency.

The graph search seeds each query at its list's entry node and expands
``GRAPH_HOPS`` hops; with ``GRAPH_K`` = 12 neighbours after
``GRAPH_ROUNDS`` = 2 NN-descent rounds it reaches much of the query's
cluster and finds about a fifth of the true top 5. Its recall floor is
checked against what a random answer from the query's own cluster
would score.
"""

from __future__ import annotations

import os
import time

from perfbench import gen

N_LISTS = 8
NPROBE = 4
GRAPH_K = 12
GRAPH_ROUNDS = 2
GRAPH_HOPS = 3
TOPK = 5
BM25_BUCKETS = 4
SEARCHES = (
    "llmops.similarity.ivf_index_topk",
    "llmops.similarity.knn_graph_index_search",
    "llmops.retrieval.bm25_index_topk",
)
WRITES = (
    "llmops.similarity.ivf_centroids",
    "llmops.similarity.ivf_index_write",
    "llmops.similarity.ivf_index_append",
    "llmops.similarity.knn_graph_index_write",
    "llmops.retrieval.bm25_index_write",
    "llmops.retrieval.bm25_index_append",
)
IVF_FLOOR = 0.9
# the graph must reach this recall and beat a random same-cluster answer
# by GRAPH_MARGIN times
GRAPH_FLOOR = 0.1
GRAPH_MARGIN = 3.0


class IndexLifecycle:
    name = "index_lifecycle"
    pass_s = 12.0  # nominal pass time on a 4-core host; sets the pass count

    def __init__(self, spark, params):
        self.spark = spark
        self.p = params
        self.last: dict = {}
        self.batches: list[float] = []

    def latencies_ms(self, tr) -> list[float]:
        """One request = one search batch over the three indexes."""
        return [b * 1000.0 for b in self.batches]

    def warm(self, inputs: dict, out: str, tr) -> None:
        self.run_pass(inputs, out, tr)
        self.batches.clear()  # warm-up batches are no samples

    def generate(self, root: str, seed: int) -> dict:
        return gen.write_index_inputs(root, seed, self.p)

    def run_pass(self, inputs: dict, out: str, tr) -> None:
        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_append, bm25_index_topk, bm25_index_write,
        )
        from tastytrade_sdk_spark.llmops.similarity import (
            ivf_centroids, ivf_index_append, ivf_index_topk, ivf_index_write,
            knn_graph_index_search, knn_graph_index_write,
        )

        spark = self.spark
        vb, va, vq, db, da, dq = tr.glue(lambda: [spark.read.parquet(inputs[k]) for k in (
            "vec_base", "vec_append", "vec_queries", "doc_base", "doc_append", "doc_queries")])
        ivf, graph, bm25 = (os.path.join(out, k) for k in ("ivf", "graph", "bm25"))

        cent = tr.call(WRITES[0], execute=lambda: ivf_centroids(vb, n_lists=N_LISTS))
        tr.call(WRITES[1], execute=lambda: ivf_index_write(vb, ivf, cent))
        tr.call(WRITES[2], execute=lambda: ivf_index_append(va, ivf, cent))
        tr.call(WRITES[3], execute=lambda: knn_graph_index_write(
            vb.unionByName(va), graph, cent, k=GRAPH_K, rounds=GRAPH_ROUNDS))
        tr.call(WRITES[4], execute=lambda: bm25_index_write(db, bm25, n_buckets=BM25_BUCKETS))
        tr.call(WRITES[5], execute=lambda: bm25_index_append(da, bm25))

        builds = {
            SEARCHES[0]: lambda: ivf_index_topk(spark, ivf, vq, cent, k=TOPK, nprobe=NPROBE),
            SEARCHES[1]: lambda: knn_graph_index_search(spark, graph, vq, cent, k=TOPK, hops=GRAPH_HOPS),
            SEARCHES[2]: lambda: bm25_index_topk(spark, bm25, dq, k=TOPK),
        }
        start = time.time()
        for name, build in builds.items():
            self.last[name] = tr.call(name, build, lambda df: df.collect())
        self.batches.append(time.time() - start)

    def check(self, inputs: dict, out: str, seed: int):
        import numpy as np
        import pyarrow.parquet as pq

        from perfbench import checks
        from tastytrade_sdk_spark.llmops.retrieval import bm25_topk

        ids, m, lab = gen.vectors(seed, self.p)  # base + append, as written
        qids = pq.read_table(inputs["vec_queries"])["query_id"].to_pylist()
        truth = checks.brute_force_topk(ids, m, qids, TOPK)
        # expected recall of TOPK random members of the query's own cluster
        pos = {int(i): n for n, i in enumerate(ids)}
        size = np.bincount(lab)
        rand = float(np.mean([
            sum(lab[pos[t]] == lab[pos[q]] for t in ts) / (size[lab[pos[q]]] - 1)
            for q, ts in truth.items()]))
        graph_floor = max(GRAPH_FLOOR, GRAPH_MARGIN * rand)
        res = []
        for name, floor in ((SEARCHES[0], IVF_FLOOR), (SEARCHES[1], graph_floor)):
            r = checks.recall(self.last[name], truth, TOPK)
            res.append((f"recall@{TOPK} {name.rsplit('.', 1)[1]} >= {floor:.3f}", r >= floor,
                        f"recall {r:.3f}; random same-cluster answer {rand:.3f}"))

        read = self.spark.read.parquet
        ref = bm25_topk(read(inputs["doc_base"]).unionByName(read(inputs["doc_append"])),
                        read(inputs["doc_queries"]), k=TOPK).collect()
        key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
        got = sorted(self.last[SEARCHES[2]], key=key)
        ok = [tuple(r) for r in got] == [tuple(r) for r in sorted(ref, key=key)]
        res.append(("bm25_index_topk == in-memory bm25_topk", ok and len(got) > 0,
                    f"{len(got)} vs {len(ref)} rows"))
        return res
