"""Persisted-index searches as one lazy plan.

``ivf_index_topk``, ``knn_graph_index_search`` and ``bm25_index_topk``
(batch and streamed layouts) read every index table with the schema
in its own parquet footer and prune partition directories by dynamic
partition pruning when the plan executes. Building a search starts no
Spark job while no directory of an index table holds more than 32
partition directories; above that, Spark's parallel partition
discovery lists the table with a job at build time (the default
``n_buckets=64`` BM25 index is tested for exactly that). What pruning
read is taken from the scans' "number of partitions read" metric in
the SQL status store, not from plan text;
the footer schemas equal what inference reads; and the graph walk over
the cumulative node set returns what ``graph_expand_topk``'s union of
per-hop layers returns."""

import os

import pytest
from pyspark.sql import functions as F

from tastytrade_sdk_spark.llmops import retrieval, similarity
from tastytrade_sdk_spark.sources.tables import load_table
from tastytrade_sdk_spark.streaming.sinks import _footer_schema

DOCS = [
    (0, "spark query engine with fast joins"),
    (1, "spark query engine with fast scans and fast joins"),
    (2, "slow table scans and window functions"),
    (3, "the lazy dog sleeps"),
    (4, "query planning for spark joins"),
    (5, "window functions over sorted partitions"),
    (6, "a dog and a cat share the table"),
    (7, "fast scans prune partitions early"),
]
# one list/bucket layout per index, each above the handful a small
# query set probes, and within the 32 directories per level up to
# which a search builds without a job (the default 64 BM25 buckets are
# tested on their own below)
N_LISTS, NPROBE = 16, 4
GRAPH_BUCKETS = 16
BM25_BUCKETS = 8


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", "/root/testdata/sf0.001")


def _queries(emb, n):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


@pytest.fixture(scope="module")
def indexes(spark, emb, tmp_path_factory):
    root = tmp_path_factory.mktemp("lazy_index")
    cent = similarity.axis_centroids(N_LISTS, 64)
    ivf, graph = str(root / "ivf"), str(root / "graph")
    similarity.ivf_index_write(emb, ivf, cent)
    similarity.knn_graph_index_write(
        emb, graph, cent, k=4, rounds=2, rev_cap=4, n_buckets=GRAPH_BUCKETS
    )
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    bm25, stream = str(root / "bm25"), str(root / "bm25s")
    retrieval.bm25_index_write(docs, bm25, n_buckets=BM25_BUCKETS)
    for epoch, (lo, hi) in enumerate(((0, 4), (4, 8))):
        retrieval.bm25_index_stream_batch(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            stream, epoch, n_buckets=BM25_BUCKETS,
        )
    return {
        "cent": cent, "ivf": ivf, "graph": graph, "bm25": bm25,
        "stream": stream, "docs": docs,
    }


def _searches(spark, emb, ix):
    """name -> (build, partitioned index table the search prunes)."""
    cent, q3 = ix["cent"], ix["docs"].filter(F.col("doc_id") == 3)
    return {
        "ivf": (
            lambda: similarity.ivf_index_topk(
                spark, ix["ivf"], _queries(emb, 1), cent, k=5, nprobe=NPROBE
            ),
            ix["ivf"],
        ),
        "graph": (
            lambda: similarity.knn_graph_index_search(
                spark, ix["graph"], _queries(emb, 1), cent, k=5, hops=1
            ),
            os.path.join(ix["graph"], "units"),
        ),
        "bm25": (
            lambda: retrieval.bm25_index_topk(spark, ix["bm25"], q3, k=4),
            os.path.join(ix["bm25"], "postings"),
        ),
        "bm25_stream": (
            lambda: retrieval.bm25_index_topk(spark, ix["stream"], q3, k=4),
            os.path.join(ix["stream"], "postings"),
        ),
    }


@pytest.mark.parametrize("name", ["ivf", "graph", "bm25", "bm25_stream"])
def test_building_a_search_starts_no_job(spark, emb, indexes, name):
    build, _ = _searches(spark, emb, indexes)[name]
    sc = spark.sparkContext
    group = f"build-{name}"
    sc.setJobGroup(group, group)
    try:
        df = build()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    assert jobs == [], f"{name}: building ran jobs {jobs}"
    assert df.count() > 0


def test_over_32_bucket_directories_are_listed_by_one_job(spark, tmp_path):
    """bm25_index_write's default 64 buckets: building the search runs
    exactly one job, Spark's listing of postings/'s bucket
    directories (its parallel partition discovery above 32 paths)."""
    # 400 distinct terms fill every one of the 64 term buckets
    docs = spark.createDataFrame(
        [(d, " ".join(f"w{d * 10 + i}" for i in range(10))) for d in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bm25_default")
    retrieval.bm25_index_write(docs, path)
    n_dirs = _leaf_partitions(os.path.join(path, "postings"))
    assert n_dirs > 32
    q = docs.filter(F.col("doc_id") == 3)
    sc = spark.sparkContext
    sc.setJobGroup("build-bm25-64", "build-bm25-64")
    try:
        df = retrieval.bm25_index_topk(spark, path, q, k=4)
        jobs = list(sc.statusTracker().getJobIdsForGroup("build-bm25-64"))
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 1, jobs
    desc = sc._jsc.sc().statusStore().job(jobs[0]).description()
    assert desc.isDefined() and desc.get().startswith(
        f"Listing leaf files and directories for {n_dirs} paths"
    ), desc
    want = retrieval.bm25_topk(docs, q, k=4).collect()
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, want))


def _leaf_partitions(table_dir: str) -> int:
    """Leaf partition directories on disk (hidden names skipped)."""
    n = 0
    for base, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        if base != table_dir and any(f.endswith(".parquet") for f in files):
            n += 1
    return n


def _partitions_read(spark, table_dir: str, since: int) -> list[int]:
    """'number of partitions read' of every scan of ``table_dir`` in
    the SQL executions after execution id ``since``."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.executionId() <= since:
            continue
        values = store.executionMetrics(e.executionId())
        nodes = store.planGraph(e.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not node.name().startswith("Scan parquet"):
                continue
            # the scan's description names its location; a trailing
            # "]" or "," keeps one directory from matching a longer name
            if not any(f"{table_dir}{end}" in node.desc() for end in "],"):
                continue
            mi = node.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                if m.name() == "number of partitions read" and values.contains(
                    m.accumulatorId()
                ):
                    out.append(int(values.apply(m.accumulatorId())))
    return out


def _last_execution(spark) -> int:
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    last = -1
    while it.hasNext():
        last = max(last, it.next().executionId())
    return last


@pytest.mark.parametrize("name", ["ivf", "graph", "bm25", "bm25_stream"])
def test_scan_reads_fewer_partitions_than_the_index_holds(
    spark, emb, indexes, name
):
    build, table_dir = _searches(spark, emb, indexes)[name]
    on_disk = _leaf_partitions(table_dir)
    since = _last_execution(spark)
    assert build().collect()
    read = _partitions_read(spark, table_dir, since)
    assert read, f"{name}: no scan of {table_dir} recorded"
    assert max(read) < on_disk, f"{name}: read {read} of {on_disk}"


@pytest.mark.parametrize(
    "table",
    ["ivf", "graph/edges", "graph/units", "graph/entry", "bm25/postings",
     "bm25/doclen", "stream/postings", "stream/doclen", "stream/stats"],
)
def test_footer_schema_equals_inferred_schema(spark, indexes, table):
    """The footer keeps the writer's nullability (a count is NOT NULL)
    and a file scan reads every column as nullable, so the witness is
    the schema a read with the footer schema has."""
    base, _, rest = table.partition("/")
    d = os.path.join(indexes[base], rest) if rest else indexes[base]
    footer = _footer_schema(d)
    inferred = spark.read.parquet(d).schema
    assert [(f.name, f.dataType) for f in footer] == [
        (f.name, f.dataType) for f in inferred
    ]
    assert spark.read.schema(footer).parquet(d).schema == inferred


@pytest.mark.parametrize(
    "hops,exclude_self", [(0, True), (1, True), (3, True), (2, False)]
)
def test_graph_walk_equals_graph_expand_topk(
    spark, emb, indexes, hops, exclude_self
):
    """C_{h+1} = distinct(C_h ∪ N(C_h)) over the index equals the union
    of per-hop layers over the same edges."""
    q = _queries(emb, 8)
    edges = spark.read.parquet(os.path.join(indexes["graph"], "edges"))
    want = similarity.graph_expand_topk(
        emb, edges.select("src", "dst"), q, indexes["cent"], k=5,
        hops=hops, exclude_self=exclude_self,
    )
    got = similarity.knn_graph_index_search(
        spark, indexes["graph"], q, indexes["cent"], k=5, hops=hops,
        exclude_self=exclude_self,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
