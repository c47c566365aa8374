"""Near-duplicate CLUSTER assignment: connected components over the
LSH candidate-pair graph.

Pair lists (llmops/dedup.py) answer "which docs look alike"; a
training-data pipeline needs the transitive closure — one canonical id
per near-dup cluster so the dedup policy ("keep canonical, drop rest")
is a plain filter. This is the standard MinHash-LSH -> components ->
keep-one recipe used by large-scale corpus dedup.

Spark form, three paths behind one entry point
(``connected_components``): (1) graphs under a bounded probe run as a
driver union-find over the Arrow-fetched edge list — one job, exact;
(2) the distributed default is alternating large-star/small-star
contraction (Kiveris et al., "Connected Components in MapReduce and
Beyond"), O(log n) rounds regardless of component diameter, each round
two groupBy+join phases shuffle-keyed on node id over the EDGE LIST
only (the corpus never enters the loop); (3) ``algorithm="minlabel"``
keeps the legacy min-label propagation (one join + min-agg per round,
O(diameter) rounds, strict non-convergence raise) for star-shaped
graphs and as the equivalence twin. Lineage is cut per round (the
loops would otherwise stack O(iters) shuffle stages into one plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    nodes: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iters: int = 25,
    strict: bool = True,
    small_graph_edges: int = 1_000_000,
    algorithm: str = "auto",
) -> DataFrame:
    """Per-node component label = MIN node id reachable from it.

    ``nodes`` (optional) supplies isolated vertices — rows never seen
    in ``edges`` come back as their own singleton component. Output:
    (id_col, component).

    ``algorithm`` picks the DISTRIBUTED path (the under-bound driver
    union-find below is exact and always used regardless): ``"auto"``
    (default, r10 verdict item 3) runs large-star/small-star
    contraction — O(log n) rounds regardless of component diameter, so
    the round count can never be the scale driver — reusing the
    already-checkpointed edge list (the upstream LSH plan is never
    re-executed per round). ``"minlabel"`` forces the legacy min-label
    propagation loop, kept for its equivalence tests and for graphs
    known to be star-shaped already (diameter ≤ 2 converges in 2
    rounds, one fewer shuffle per round than a contraction round).

    Min-label convergence is O(component diameter) rounds; if labels
    are still moving after ``max_iters`` the result would be silently
    WRONG (one real cluster split across labels), so ``strict`` raises
    instead — raise max_iters, or use the (default) star contraction
    for pathological chain graphs.

    Runtime adaptivity (the AQE pattern, decided from a materialized
    probe, never a guess): the edge list is probed with ONE bounded
    job — ``limit(small_graph_edges + 1).toPandas()`` — so the driver
    transfer can never exceed the bound + 1 rows. If the probe came
    back under the bound it IS the complete edge list (a limit larger
    than the input returns everything), and the component labeling
    runs as a driver union-find over it — one job total, replacing the
    former count()-then-fetch pair of jobs, which doubled the fixed
    scheduling overhead precisely on the micro-graphs where overhead
    dominates. The transfer is Arrow/pandas (two flat columns, ~16 B/
    edge, ~16 MB at the 1M default bound), NOT ``collect()`` — a
    million Python Row objects would cost hundreds of MB of driver
    heap. Above the bound the probe is discarded and the distributed
    min-label loop runs unchanged (its first action materializes the
    lazy checkpoint); LSH near-dup graphs at lake scale land there
    only when the candidate graph itself is lake-sized.
    """
    from tastytrade_sdk_spark.llmops.dedup import symmetrize_pairs

    sym = symmetrize_pairs(edges, src, dst, "__n", "__m")
    # checkpoint the edge list ONCE (lazily — the probe below, or the
    # first propagation round on the big-graph path, materializes it):
    # every propagation round joins against it, and without the
    # barrier the upstream pair-generation pipeline (e.g. the whole
    # MinHash-LSH plan) would re-execute per round
    sym = sym.localCheckpoint(eager=False)
    spark = sym.sparkSession
    probe = sym.limit(small_graph_edges + 1).toPandas()
    if len(probe) <= small_graph_edges:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        pdf = probe
        for a, b in zip(pdf["__n"].tolist(), pdf["__m"].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # second pass: path-compress to the MIN root (union-by-min
        # above keeps roots minimal per component)
        out = [(n, find(n)) for n in parent]
        id_type = dict(sym.dtypes)["__n"]
        touched = spark.createDataFrame(
            out, f"`{id_col}` {id_type}, component {id_type}"
        )
        return _with_isolated(touched, nodes, id_col)
    if algorithm == "auto" or algorithm == "star":
        # big-graph default: star contraction off the SAME checkpointed
        # symmetric edge list (canonicalizing one direction of ``sym``
        # reads the checkpoint, not the upstream pair plan)
        e = (
            sym.filter(F.col("__n") > F.col("__m"))
            .select(F.col("__n").alias("__u"), F.col("__m").alias("__v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        touched = _star_contract(e, max_iters=max(max_iters, 50))
        touched = touched.select(
            F.col("__n").alias(id_col), F.col("__lbl").alias("component")
        )
        return _with_isolated(touched, nodes, id_col)
    if algorithm != "minlabel":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # propagate over EDGE-TOUCHED nodes only: an isolated node can
    # never change label, so iterating it is pure waste — at lake
    # scale this is the difference between shuffling the whole corpus
    # per round and shuffling just the near-dup subgraph (typically
    # orders of magnitude smaller). Isolated vertices from ``nodes``
    # rejoin as singletons AFTER convergence, in one pass.
    labels = sym.select("__n").distinct().withColumn("__lbl", F.col("__n"))

    changed = False
    for _ in range(max_iters):
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("__n").alias("__m"), F.col("__lbl").alias("__mlbl")
                ),
                "__m",
            )
            .groupBy("__n")
            .agg(F.min("__mlbl").alias("__nbr"))
        )
        stepped = labels.join(nbr_min, "__n", "left").select(
            "__n",
            F.col("__lbl"),
            F.least(F.col("__lbl"), F.coalesce("__nbr", F.col("__lbl"))).alias(
                "__new"
            ),
        )
        stepped = stepped.localCheckpoint(eager=True)
        changed = not stepped.filter(F.col("__new") < F.col("__lbl")).isEmpty()
        labels = stepped.select("__n", F.col("__new").alias("__lbl"))
        if not changed:
            break
    if changed and strict:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(a component's diameter exceeds max_iters); labels would be "
            "silently split — raise max_iters or use "
            "connected_components_star (O(log n) rounds regardless of "
            "diameter) for chain-shaped graphs"
        )
    touched = labels.select(
        F.col("__n").alias(id_col), F.col("__lbl").alias("component")
    )
    return _with_isolated(touched, nodes, id_col)


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    nodes: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — converges in O(log n) rounds regardless of
    component DIAMETER, which is exactly the regime where the
    min-label loop (connected_components) needs O(diameter) rounds and
    raises on chain-shaped graphs.

    Each round is two phases over the edge list only (the corpus never
    enters): large-star hangs every larger neighbor of u off
    min(Γ(u) ∪ {u}); small-star re-hangs u and its smaller neighbors
    off their minimum. Both are one groupBy + one join, shuffle-keyed
    on node id. At the fixpoint every component is a star rooted at
    its minimum id — the label IS the remaining edge. Convergence is
    detected by an (order-insensitive) xxhash checksum + count of the
    canonical edge set; a stable checksum means the transformation
    mapped the set to itself, which only the fixpoint does.

    Same output contract as connected_components: (id_col, component),
    isolated ``nodes`` as own-id singletons. Equivalence-tested against
    the union-find/min-label paths."""
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("__u"),
            F.least(F.col(src), F.col(dst)).alias("__v"),
        )
        .filter(F.col("__u") != F.col("__v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    touched = _star_contract(e, max_iters=max_iters)
    touched = touched.select(
        F.col("__n").alias(id_col), F.col("__lbl").alias("component")
    )
    return _with_isolated(touched, nodes, id_col)


def _star_contract(e: DataFrame, max_iters: int = 50) -> DataFrame:
    """The alternating large-star/small-star fixpoint loop, shared by
    connected_components (big-graph ``algorithm='auto'`` path) and
    connected_components_star. ``e`` must be the canonical edge frame
    — columns (__u, __v) with __u > __v, distinct, lineage-cut by the
    caller. Returns edge-touched labels (__n, __lbl)."""

    def checksum(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes
            # overflows under ANSI mode
            F.coalesce(
                F.sum(F.xxhash64("__u", "__v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = checksum(e)
    for _ in range(max_iters):
        if prev[0] == 0:
            break
        # large-star over the symmetric adjacency
        sym = e.unionByName(
            e.select(F.col("__v").alias("__u"), F.col("__u").alias("__v"))
        )
        m = sym.groupBy("__u").agg(F.min("__v").alias("__mn"))
        m = m.select(
            "__u", F.least(F.col("__mn"), F.col("__u")).alias("__m")
        )
        large = (
            sym.join(m, "__u")
            .filter(F.col("__v") > F.col("__u"))
            .select(F.col("__v").alias("__a"), F.col("__m").alias("__b"))
        )
        e1 = (
            large.filter(F.col("__a") != F.col("__b"))
            .select(
                F.greatest("__a", "__b").alias("__u"),
                F.least("__a", "__b").alias("__v"),
            )
            .distinct()
        )
        # small-star on the canonical (larger -> smaller) direction
        m2 = e1.groupBy("__u").agg(F.min("__v").alias("__m"))
        small = (
            e1.join(m2, "__u")
            .filter(F.col("__v") != F.col("__m"))
            .select(F.col("__v").alias("__a"), F.col("__m").alias("__b"))
            .unionByName(
                m2.select(
                    F.col("__u").alias("__a"), F.col("__m").alias("__b")
                )
            )
        )
        e2 = (
            small.filter(F.col("__a") != F.col("__b"))
            .select(
                F.greatest("__a", "__b").alias("__u"),
                F.least("__a", "__b").alias("__v"),
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        cur = checksum(e2)
        e = e2
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iters} "
            "rounds — O(log n) expected; this indicates a bug, not a "
            "data shape"
        )
    roots = e.select(F.col("__v").alias("__n")).distinct()
    return (
        e.select(F.col("__u").alias("__n"), F.col("__v").alias("__lbl"))
        .unionByName(roots.select("__n", F.col("__n").alias("__lbl")))
        .distinct()
    )


def _with_isolated(
    touched: DataFrame, nodes: DataFrame | None, id_col: str
) -> DataFrame:
    """Re-attach isolated vertices as own-id singleton components."""
    if nodes is None:
        return touched
    return (
        nodes.select(id_col)
        .distinct()
        .join(touched, id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Cluster assignment for every document: cluster id = min doc id
    in the component (docs with no near-dup are their own singleton),
    plus cluster_size and the keep-canonical flag the dedup filter
    uses.

    Output is DOCS-BOUNDED: exactly one row per distinct docs id. Ids
    appearing in ``pairs`` but absent from ``docs`` (a caller passing
    a stale or wider candidate graph) are dropped before sizing, and
    cluster_id/cluster_size/is_canonical are recomputed over the doc
    members only — so every cluster has exactly one canonical row and
    sizes count documents, not phantom edge endpoints.

    Every shuffle here is bounded by the EDGE SUBGRAPH, not the
    corpus: propagation, the member filter, the canonical agg, and
    the size join all touch only edge-touched nodes; the corpus-sized
    work is ONE id-distinct pass (the distinct is lineage-cut lazily
    so its two consumers — the member semi-join and the singleton
    anti-join — share one execution; AQE exchange reuse is not
    guaranteed, per the kmeans note below) plus the anti-join itself
    (broadcast when the subgraph is small, as LSH graphs are) and a
    narrow singleton projection. ``comp_t`` is likewise cut: it feeds
    the canonical agg, the size join and the anti-join's build side,
    and is bounded by the edge subgraph."""
    doc_ids = docs.select(id_col).distinct().localCheckpoint(eager=False)
    comp_t = connected_components(pairs, src=src, dst=dst, id_col=id_col).join(
        doc_ids, id_col, "left_semi"
    ).localCheckpoint(eager=False)
    canon = comp_t.groupBy("component").agg(
        F.min(id_col).alias("cluster_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    touched = comp_t.join(canon, "component").select(
        id_col,
        "cluster_id",
        "cluster_size",
        (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
    )
    singletons = (
        doc_ids
        .join(comp_t.select(id_col), id_col, "left_anti")
        .select(
            id_col,
            F.col(id_col).alias("cluster_id"),
            F.lit(1).cast("long").alias("cluster_size"),
            F.lit(True).alias("is_canonical"),
        )
    )
    return touched.unionByName(singletons)


def kmeans_assign(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    round_dp: int = 8,
    keep_sim: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment against a FIXED centroid matrix
    (spherical k-means: rows are L2-normalized, similarity = dot).

    Scored by ``similarity.centroid_argmax`` over the unit vector:
    left-associative folds over spliced centroid literals — no
    shuffle, no UDF, bit-reproducible — up to CENTROID_EXPR_MAX k·d,
    an Arrow matmul above it (the k ∝ n scale path). Dots are ROUNDED
    before the argmax (fold order is part of the contract; unrounded
    1e-16 noise must not flip an assignment). Ties take the FIRST
    maximal centroid (np.argmax rule).

    Adds ``__unit`` (the normalized vector) and ``__cluster`` (int);
    with ``keep_sim`` also ``__sim`` — the (rounded) similarity to the
    assigned centroid, i.e. the prototypicality score.
    """
    from tastytrade_sdk_spark.llmops.similarity import (
        centroid_argmax,
        with_unit_vector,
    )

    out = with_unit_vector(df, vec_col).withColumn(
        "__best", centroid_argmax(F.col("__unit"), centroids, round_dp)
    )
    out = out.withColumn("__cluster", F.col("__best.i"))
    if keep_sim:
        out = out.withColumn("__sim", F.col("__best.v"))
    return out.drop("__best")


def kmeans_lloyd_step(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """One distributed Lloyd iteration of spherical k-means: assign
    every vector to its nearest centroid, then recompute each centroid
    as the L2-normalized mean of its members. The scale path that the
    driver-side bounded-sample trainer (ivf_centroids) approximates:
    this form touches EVERY row, so repeated calls train the real
    quantizer on the full corpus.

    Plan: assignment is a narrow projection (centroid literals, no
    shuffle); recompute explodes to (cluster, dim, component) and
    aggregates — ONE shuffle keyed by (cluster, dim) with map-side
    partial sums, k*dim result rows regardless of corpus size. The
    per-cluster norm is a second tiny agg over k*dim rows.

    Returns long form: (cluster_id, dim, centroid, n_members) —
    empty clusters yield no rows. Components are rounded to
    ``round_dp`` (cross-row float-sum order costs ~1e-13 across
    engines; the quantum is far above it).
    """
    assigned = kmeans_assign(df, centroids, vec_col)
    # projection barrier before the explode (same hazard as
    # _tokenized_docs): without it the Generate re-evaluates the k*dim
    # fold expressions behind __cluster per OUTPUT row — measured ~25x
    # on the bench — and one extra row-shaped shuffle is far cheaper
    # than dim-times recomputing the assignment at any scale.
    #
    # The explode runs over the RAW vector with the norm carried as a
    # scalar column, NOT over __unit: posexplode's inferred non-empty
    # filter (size(e) > 0 AND isnotnull(e)) is pushed through the
    # barrier down to the scan with the generator input SUBSTITUTED by
    # its defining expression — over __unit that re-evaluated the full
    # normalization fold twice more per corpus row at the scan
    # (plan-verified, r11); over the raw column it is a cheap
    # size()/isnotnull() pushdown. val = raw/norm is element-for-
    # element the same double op __unit held, so sums are bit-equal.
    norm = F.sqrt(
        F.aggregate(
            F.transform(
                F.col(vec_col), lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    assigned = assigned.select(
        F.col("__cluster").alias("cluster_id"),
        norm.alias("__n"),
        F.col(vec_col).alias("__v"),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    exploded = assigned.select(
        "cluster_id",
        "__n",
        F.posexplode(F.col("__v")).alias("dim", "__raw"),
    ).select(
        "cluster_id",
        "dim",
        (F.col("__raw").cast("double") / F.col("__n")).alias("val"),
    )
    sums = exploded.groupBy("cluster_id", "dim").agg(
        F.sum("val").alias("s"), F.count(F.lit(1)).alias("n_members")
    )
    # per-cluster norm as a window over the k*dim summary rows: a
    # self-join here re-executes the whole corpus-wide upstream for the
    # second branch (exchange reuse is not guaranteed under AQE —
    # measured 14s vs 2s on the bench); the window is one tiny
    # post-shuffle pass over 1024 rows
    from pyspark.sql import Window

    wc = Window.partitionBy("cluster_id")
    norm = F.sqrt(F.sum(F.col("s") * F.col("s")).over(wc))
    return sums.select(
        "cluster_id",
        "dim",
        F.round(F.col("s") / norm, round_dp).alias("centroid"),
        "n_members",
    )


def semdedup_prune(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_dp: int = 6,
) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the
    embeddings, then inside each cluster drop every item that has a
    LOWER-id neighbor with cosine >= threshold (deterministic stand-in
    for the paper's keep-one-per-duplicate-set choice).

    The clusters are the scale lever: the quadratic pair scan runs per
    cluster — shuffle keyed on cluster_id, cost k * (n/k)^2 instead of
    n^2 — which is the entire point of the recipe at corpus scale.
    Returns (id_col, cluster_id, keep).
    """
    assigned = kmeans_assign(df, centroids, vec_col)
    # projection barrier: same Generate/CollapseProject hazard as the
    # Lloyd step — the pair join must not re-evaluate the assignment
    # folds per joined pair
    slim = assigned.select(
        F.col(id_col), F.col("__cluster").alias("cluster_id"), "__unit"
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    return semdedup_prune_assigned(slim, id_col, threshold, round_dp)


def semdedup_prune_assigned(
    slim: DataFrame,
    id_col: str = "vec_id",
    threshold: float = 0.4,
    round_dp: int = 6,
    checkpoint: bool = True,
) -> DataFrame:
    """The within-cluster prune half of SemDeDup, over a prepared
    (id, cluster_id, __unit) frame — shared by the trained-centroid
    path (semdedup_prune) and the sign-LSH bucket path
    (semdedup_prune_scaled), so the two scale regimes cannot drift
    semantically. Pass ``checkpoint=False`` when
    ``slim`` is ALREADY pinned (a caller-side localCheckpoint feeding
    other branches too, e.g. d4_curation) — a second checkpoint would
    duplicate the widest column into block storage for nothing."""
    # materialize the assignment ONCE: it feeds three plan branches
    # (both pair-join sides + the final anti-join base), and exchange
    # reuse across them is not guaranteed under AQE. Linear state —
    # exactly what a SemDeDup pipeline checkpoints at corpus scale.
    if checkpoint:
        slim = slim.localCheckpoint(eager=True)
    a, b = slim.alias("a"), slim.alias("b")
    cos = F.round(
        F.aggregate(
            F.zip_with(F.col("a.__unit"), F.col("b.__unit"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        round_dp,
    )
    dropped = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(cos >= F.lit(threshold))
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        slim.select(id_col, "cluster_id")
        .join(dropped, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
        )
    )


def lsh_bucket_bits(
    n: int, target_bucket: int = 64, b_min: int = 3, b_max: int = 12
) -> int:
    """Number of sign-LSH hyperplanes b so that 2^b buckets hold
    ~target_bucket items each: the smallest b with target*2^b >= n,
    clamped to [b_min, b_max]. Pure INTEGER arithmetic (count of i
    with 2^i < ceil(n/target)) so the DuckDB oracle computes the
    identical b from count(*) — a float log2 could flip at exact
    power-of-two boundaries."""
    m = max(1, -(-n // target_bucket))
    b = sum(1 for i in range(b_max) if (1 << i) < m)
    return min(b_max, max(b_min, b))


def semdedup_prune_scaled(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 64,
    threshold: float = 0.4,
    seed: int = 11,
    round_dp: int = 6,
    b_min: int = 3,
    b_max: int = 12,
) -> DataFrame:
    """SemDeDup with the paper's k ∝ n scale lever (constant cluster
    size), using sign-LSH buckets as the cluster assignment: b =
    O(log n) hyperplanes split the corpus into 2^b ∝ n buckets of
    ~target_bucket vectors, so the within-bucket pair scan is linear
    in n overall AND the assignment itself is n*b dot products — the
    fixed-k trained-centroid form (semdedup_prune) assigns in n*k
    flops, which turns quadratic the moment k grows with n. At 100 TB
    this is the recipe: hash-route to constant-size buckets (one
    cluster_id-keyed shuffle), prune within buckets; trained-centroid
    assignment (kmeans_assign, an Arrow matmul at large k) stays the
    production choice when a quantizer is available, but its
    assignment cost is why real deployments route hierarchically or
    by hash. Like any LSH scheme, pairs straddling a hyperplane land
    in different buckets (recall < exhaustive) — the same bounded
    approximation the fixed-k form makes for cross-cluster pairs.

    b is derived from a count(*) of the input (parquet footer-only at
    rest — no data scan) with pure integer arithmetic shared with the
    oracle (lsh_bucket_bits). The prune half is the shared
    semdedup_prune_assigned, so the two scale regimes cannot drift.
    Returns (id_col, cluster_id, keep)."""
    from tastytrade_sdk_spark.llmops.similarity import (
        _vec_dim,
        centroid_scores,
        hyperplanes,
        with_unit_vector,
    )

    n = df.count()
    b = lsh_bucket_bits(n, target_bucket, b_min, b_max)
    dim = _vec_dim(df, vec_col)
    planes = hyperplanes(b_max, dim, seed)[:b]
    out = with_unit_vector(df, vec_col)
    # sign bits over ROUNDED dots (8dp, same grid as kmeans_assign):
    # the fold order is part of the cross-engine contract, and the
    # rounding keeps 1e-16 fold noise from flipping a sign at the
    # hyperplane boundary
    # hyperplane i sets bit i: Horner over the reversed scores
    cluster = F.aggregate(
        F.reverse(centroid_scores(F.col("__unit"), planes, 8)),
        F.lit(0),
        lambda a, x: a * 2 + F.when(x >= 0, 1).otherwise(0),
    )
    slim = out.select(
        F.col(id_col), cluster.alias("cluster_id"), "__unit"
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    return semdedup_prune_assigned(slim, id_col, threshold, round_dp)


def prototypes_prune(
    df: DataFrame,
    centroids,
    drop_num: int = 1,
    drop_den: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 8,
) -> DataFrame:
    """SSL-prototypes pruning (Sorscher et al.; the second stage of
    D4, Tirumala et al.): within each k-means cluster, the examples
    MOST similar to their centroid are the most prototypical — the
    redundant, easy examples a training run learns from least — so the
    top ``drop_num/drop_den`` fraction per cluster is marked dropped.
    Composed with SemDeDup (semdedup_prune removes near-exact copies,
    this removes the dense core) it is the full D4 recipe.

    The drop boundary is INTEGER arithmetic — rank <= (n * drop_num)
    div drop_den — never a float multiply, so both engines cut at the
    identical member (house decision-boundary rule). Prototypicality
    ties are broken by id ascending, making the kept set deterministic.

    Plan: narrow kmeans_assign projection (no shuffle; spliced-literal
    folds up to CENTROID_EXPR_MAX k·d, an Arrow matmul above it, same
    contract), then ONE window shuffle keyed on cluster_id for the
    rank and member count — linear in vectors, independent of corpus
    pair structure. Skew-wise a cluster's window partition is bounded
    by the largest cluster, which the k ∝ n rule keeps at a constant
    expected size.

    Output: (id_col, cluster_id, proto_sim, proto_rank, n_members,
    is_dropped).
    """
    from pyspark.sql import Window

    assigned = kmeans_assign(df, centroids, vec_col, round_dp, keep_sim=True)
    w = Window.partitionBy("__cluster").orderBy(
        F.col("__sim").desc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("__cluster")
    return assigned.select(
        F.col(id_col),
        F.col("__cluster").alias("cluster_id"),
        F.col("__sim").alias("proto_sim"),
        F.row_number().over(w).alias("proto_rank"),
        F.count(F.lit(1)).over(wc).alias("n_members"),
    ).withColumn(
        "is_dropped",
        F.col("proto_rank")
        <= F.expr(f"(n_members * {drop_num}) div {drop_den}"),
    )


PAGERANK_SCALE = 10**12


def pagerank_scaled(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    n_iters: int = 3,
    scale: int = PAGERANK_SCALE,
    damping: "tuple[int, int]" = (17, 20),
) -> DataFrame:
    """Fixed-iteration PageRank in SCALED-INTEGER arithmetic — the
    classic link-graph quality weight for web-corpus curation (rank a
    crawl's pages before sampling), computed so both engines produce
    BIT-IDENTICAL results: ranks are bigints scaled by ``scale``,
    every division is integer floor division (``div`` / ``//``), and
    per-node in-flows are exact bigint sums — no float summation
    order anywhere. damping = (17, 20) is 0.85 as an integer ratio.

    Per iteration: r'(v) = (scale*(den-num)) div (den*N)
    + (num * Σ_{u→v} (r(u) div outdeg(u))) div den.

    Documented deviations from textbook PageRank (deterministic,
    engine-identical): floor division drops up to 1 scaled unit per
    edge, and DANGLING mass (nodes with no out-links) is dropped, not
    redistributed — total mass decays slightly instead of being
    conserved. Rankings are unaffected for curation use.

    Plan shape: the iteration count is FIXED and unrolled into one
    declarative plan (no driver loop, no collect): each iteration is
    one edges-keyed join + one dst-keyed sum + one nodes left-join —
    3 shuffles per iteration, all key-partitioned, linear in |E|.
    Bigint headroom: Σ in-flows ≤ N*scale; keep N*scale < 2^63
    (N < ~9M at the default scale; lower ``scale`` for larger graphs).
    """
    num, den = damping
    glob = nodes.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    base = F.expr(f"({scale} * {den - num}) div ({den} * __n)")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__outdeg"))
    edges_deg = edges.join(deg, "src")
    nodes_n = nodes.select(id_col).crossJoin(F.broadcast(glob))
    ranks = nodes_n.select(
        id_col, F.expr(f"{scale} div __n").alias("__r")
    )
    for _ in range(n_iters):
        contrib = (
            ranks.withColumnRenamed(id_col, "src")
            .join(edges_deg, "src")
            .select(
                F.col("dst").alias(id_col),
                F.expr("__r div __outdeg").alias("__c"),
            )
        )
        sums = contrib.groupBy(id_col).agg(F.sum("__c").alias("__s"))
        ranks = (
            nodes_n.join(sums, id_col, "left")
            .select(
                id_col,
                "__n",
                F.coalesce(F.col("__s"), F.lit(0)).alias("__s"),
            )
            .select(
                id_col,
                (base + F.expr(f"({num} * __s) div {den}"))
                .cast("long")
                .alias("__r"),
            )
        )
    return ranks.select(
        id_col,
        F.col("__r").alias("rank_scaled"),
        F.round(F.col("__r") / F.lit(float(scale)), 6).alias("pagerank"),
    )
