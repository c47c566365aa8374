"""Lexical retrieval over an inverted postings table: BM25 top-k.

The sparse/lexical twin of llmops/similarity.py's dense-ANN paths
(reference parity: the reference has no retrieval engine at all — this
is part of the training-data-pipeline surface, e.g. mining lexical
hard negatives or more-like-this corpus expansion).

Shape at 100 TB:

- ``build_postings`` is the classic inverted-index build — one explode
  + ONE (term, doc)-keyed shuffle with map-side combine. The postings
  table is the scale structure: term-keyed, so every downstream
  retrieval touches only the posting lists of its query terms.
- ``bm25_topk`` broadcasts the (small) query-term set, semi-joins it
  into the postings table (corpus-side postings never shuffle for the
  df/idf pass — document frequency is computed only for the probed
  terms), and aggregates per-(query, doc) partial scores with map-side
  combine. No all-pairs product anywhere; cost is proportional to the
  probed posting lists, exactly like an IVF nprobe search.
- Floats follow the house parity rules (plans/queries.py): idf and the
  tf normalization are rounded to 6dp at the source, the per-term
  score is summed as DECIMAL (order-independent exact sum), and the
  final score is cast to DOUBLE at the result boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tastytrade_sdk_spark.llmops.textops import tokens_expr
from tastytrade_sdk_spark.session import overlap
from tastytrade_sdk_spark.streaming.sinks import atomic_write

BM25_K1 = 1.2
BM25_B = 0.75


def build_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    spread: bool = True,
) -> DataFrame:
    """Inverted postings: one row per (term, doc) with the term
    frequency. One explode + one hash aggregation (map-side combined);
    the output is term-keyed — the natural bucketing/partition column
    for a persisted index table.

    The corpus is _spread first: a single small parquet file arrives
    as one input split locally, which would run the tokenize+explode
    serially in the scan stage (measured: every BM25 build ran its
    tokenize single-task); at lake scale inputs are already wide and
    the spread is a no-op."""
    from tastytrade_sdk_spark.llmops.dedup import _spread

    base = _spread(docs, id_col) if spread else docs
    return (
        base.select(
            id_col, F.explode(tokens_expr(F.col(text_col))).alias("term")
        )
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_lengths(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    spread: bool = True,
) -> DataFrame:
    """Per-doc token counts (the BM25 length normalization input).
    _spread for the same reason as build_postings — the tokenize is a
    separate corpus pass and must not run single-task locally."""
    from tastytrade_sdk_spark.llmops.dedup import _spread

    base = _spread(docs, id_col) if spread else docs
    return base.select(
        id_col, F.size(tokens_expr(F.col(text_col))).cast("long").alias("dl")
    )


def _query_terms(
    query_docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    return query_docs.select(
        F.col(id_col).alias("query_id"),
        F.explode(tokens_expr(F.col(text_col))).alias("term"),
    ).distinct()


def _bm25_score_tail(
    probed: DataFrame,
    qterms: DataFrame,
    dl: DataFrame,
    glob: DataFrame,
    k: int,
    k1: float,
    b: float,
    id_col: str,
) -> DataFrame:
    """Shared BM25 scoring tail (in-memory and persisted-index paths):
    df over the probed posting lists only, per-term partial scores
    rounded at 6dp then summed as DECIMAL (order-independent), DOUBLE
    at the result boundary, (score desc, id asc) top-k."""
    dfreq = probed.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    # per-(query, doc, term) partial score; constants inlined so the
    # DuckDB oracle can replay the exact float expression order
    cand = (
        F.broadcast(qterms)
        .join(probed, "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(glob))
        .filter(F.col(id_col) != F.col("query_id"))
    )
    idf = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ),
        6,
    )
    tfnorm = F.round(
        F.col("tf") * (k1 + 1.0)
        / (
            F.col("tf")
            + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        ),
        6,
    )
    scored = cand.select(
        "query_id",
        id_col,
        F.round(idf * tfnorm, 6).cast("decimal(20,6)").alias("s"),
    )
    summed = scored.groupBy("query_id", id_col).agg(F.sum("s").alias("sd"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sd").desc(), F.col(id_col)
    )
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            id_col,
            F.col("sd").cast("double").alias("bm25"),
        )
    )


def bm25_topk(
    corpus: DataFrame,
    query_docs: DataFrame,
    k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 more-like-this: for each query doc, the top-k corpus docs
    by BM25 score over the query's distinct terms (self-matches
    excluded). Robertson/Sparck-Jones BM25 with the standard
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf.

    Plan: query terms are broadcast (queries are few); postings are
    filtered to probed terms BEFORE the df aggregation, so document
    frequency costs one agg over the probed posting lists only; the
    per-(query, doc) sum is a map-side-combinable decimal aggregation;
    top-k is a per-query window over candidates only.
    """
    postings = build_postings(corpus, text_col, id_col)
    # dl feeds the global stats agg AND the score tail's length join;
    # qterms feeds the probe broadcast AND the tail. Checkpoint both
    # (lazily) so each corpus tokenize / query explode runs once
    # instead of per reference — dl is (id, long) metadata, tiny
    # relative to the corpus at any scale; qterms is query-bounded.
    dl = doc_lengths(corpus, text_col, id_col).localCheckpoint(
        eager=False
    )
    glob = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )
    qterms = _query_terms(query_docs, text_col, id_col).localCheckpoint(
        eager=False
    )
    # probed (the query-relevant posting slice) feeds BOTH the df
    # aggregate and the candidate join inside the score tail; without
    # the barrier the postings build runs twice per search
    probed = postings.join(
        F.broadcast(qterms.select("term").distinct()), "term"
    ).localCheckpoint(eager=False)
    return _bm25_score_tail(probed, qterms, dl, glob, k, k1, b, id_col)


def bm25_rm3_topk(
    corpus: DataFrame,
    query_docs: DataFrame,
    k: int = 5,
    fb_k: int = 10,
    n_exp: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 with RM3-style pseudo-relevance feedback (Lavrenko &
    Croft relevance models, the Anserini RM3 default): retrieve
    ``fb_k`` feedback docs per query with plain BM25, pick the
    ``n_exp`` heaviest NEW terms from the feedback set (total term
    frequency across feedback docs; deterministic (weight desc, term)
    tie-break — an integer-exact stand-in for the relevance-model
    term weights), append them to the query's term set, and rescore.

    Plan shape: stage 1 is bm25_topk's plan; the expansion join
    touches only |queries| * fb_k feedback rows against the postings
    (doc-keyed hash join, feedback side broadcast); stage 2 re-probes
    the postings with the expanded term set — the same
    probed-lists-only df aggregation, so total cost is two bounded
    probe passes, never corpus-squared. Both stages share one
    postings/doc-length build.
    """
    # the docstring's "both stages share one postings/doc-length
    # build" must hold in the PHYSICAL plan, not just the code: the
    # postings subtree is referenced by stage 1's probe, the expansion
    # join and stage 2's probe (3x), dl by both tails + glob (3x), and
    # the whole stage-1 scoring pipeline rides under the expansion →
    # qt2 → stage-2 lineage — ~2300 plan lines with zero guaranteed
    # exchange reuse under AQE. Checkpoint the shared builds (corpus
    # pays tokenize+aggregate once; postings/dl materialize instead of
    # recompute — the build-once/probe-twice economics the operator
    # declares) and the bounded frames (qterms, qt2: query-sized).
    postings = build_postings(corpus, text_col, id_col).localCheckpoint(
        eager=False
    )
    dl = doc_lengths(corpus, text_col, id_col).localCheckpoint(
        eager=False
    )
    glob = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )
    qterms = _query_terms(query_docs, text_col, id_col).localCheckpoint(
        eager=False
    )
    probed = postings.join(
        F.broadcast(qterms.select("term").distinct()), "term"
    ).localCheckpoint(eager=False)
    fb = _bm25_score_tail(
        probed, qterms, dl, glob, fb_k, k1, b, id_col
    ).select("query_id", id_col)

    exp_w = (
        F.broadcast(fb)
        .join(postings, id_col)
        .join(qterms, ["query_id", "term"], "left_anti")
        .groupBy("query_id", "term")
        .agg(F.sum("tf").alias("w"))
    )
    wexp = Window.partitionBy("query_id").orderBy(
        F.col("w").desc(), F.col("term").asc()
    )
    expansion = (
        exp_w.withColumn("er", F.row_number().over(wexp))
        .filter(F.col("er") <= n_exp)
        .select("query_id", "term")
    )
    # qt2 is query-bounded (|q| terms + n_exp expansions) but its
    # lineage contains the whole stage-1 scoring pipeline; the
    # checkpoint stops stage 2 from replaying stage 1 per reference
    qt2 = (
        qterms.unionByName(expansion)
        .distinct()
        .localCheckpoint(eager=False)
    )
    probed2 = postings.join(
        F.broadcast(qt2.select("term").distinct()), "term"
    ).localCheckpoint(eager=False)
    return _bm25_score_tail(probed2, qt2, dl, glob, k, k1, b, id_col)


def rrf_fuse(
    sides: "dict[str, DataFrame]",
    k_rrf: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    topk: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR'09)
    of N retriever rankings — the standard hybrid-search combiner
    (BM25 ⊕ dense ANN in a RAG stack): score(d) = Σ_sides
    1/(k_rrf + rank_side(d)), docs missing from a side contribute 0.

    Each side is a top-N-per-query frame (query_col, id_col, rank) —
    already bounded, so fusion is one union + one (query, doc)-keyed
    aggregation over ≤ N·|sides| rows per query; the expensive work
    stays inside the retrievers. Per-side RRF terms are rounded then
    summed as DECIMAL(20,6) (order-independent across any number of
    sides — the bm25 partial-score recipe), double at the boundary.
    Output: (query, doc, rrf_score, fused_rank, <side>_rank...), ties
    broken by ascending doc id."""
    names = sorted(sides)
    tagged = None
    for n in names:
        part = sides[n].select(
            query_col,
            id_col,
            F.lit(n).alias("__side"),
            F.col("rank").cast("long").alias("__rank"),
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    term = F.round(
        F.lit(1.0) / (F.lit(k_rrf) + F.col("__rank")), round_dp
    ).cast("decimal(20,6)")
    fused = tagged.groupBy(query_col, id_col).agg(
        F.sum(term).alias("__s"),
        *[
            F.max(
                F.when(F.col("__side") == n, F.col("__rank"))
            ).alias(f"{n}_rank")
            for n in names
        ],
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("__s").desc(), F.col(id_col).asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= topk)
        .select(
            query_col,
            id_col,
            F.col("__s").cast("double").alias("rrf_score"),
            F.col("fused_rank").cast("long").alias("fused_rank"),
            *[f"{n}_rank" for n in names],
        )
    )


# ---------------- persisted BM25 index (index-as-table) ----------------

_BM25_STATS = "_stats.json"


def _bucket_col(n_buckets: int) -> Column:
    return F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")


def bm25_index_write(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Persist the inverted index as a term-bucket-PARTITIONED parquet
    table — the lexical twin of similarity.ivf_index_write: one
    directory per term bucket, so a search reads only the buckets its
    query terms hash into (directory-level elimination at planning
    time). Layout:

    - ``<path>/postings/bucket=<b>/`` — (term, doc_id, tf), bucket =
      xxhash64(term) mod n_buckets (engine-internal routing only —
      never part of the cross-engine contract),
    - ``<path>/doclen/`` — (doc_id, dl),
    - ``<path>/_stats.json`` — exact integer corpus stats (n_docs,
      sum_dl) + n_buckets, committed atomically (tmp + rename) and
      LAST, so readers never pair new postings with missing stats.

    The repartition spreads hot buckets (stopword terms) over
    (bucket, term) so no single task serializes a heavy bucket —
    same skew story as the IVF clustered writes.
    """
    # spread=False: the write path repartitions by (bucket, term)
    # immediately and streamed triggers call this per micro-batch —
    # the extra exchange plus the _spread partition-count probe
    # measured ~3 s across a 4-trigger lifecycle (r11 session 2)
    postings = build_postings(docs, text_col, id_col, spread=False)
    dl = doc_lengths(docs, text_col, id_col, spread=False)
    return _write_batch_layout(postings, dl, n_buckets, path)


def _write_batch_layout(
    postings: DataFrame, dl: DataFrame, n_buckets: int, path: str
) -> dict:
    """The ONE batch-layout writer (bm25_index_write and
    bm25_index_compact share it, so the written and compacted layouts
    cannot drift): bucket-partitioned skew-spread postings, flat
    doclen, exact integer _stats.json committed atomically and LAST.

    ``dl`` may arrive LAZY: it is checkpointed HERE, after the
    postings write has been submitted, so the doc-length
    materialization (one corpus tokenize) runs concurrently with the
    postings write instead of serializing ahead of it (guide §2.6);
    the one materialization still feeds the doclen write AND the
    stats aggregate."""
    import json
    import os

    def _doclen_write() -> DataFrame:
        out = dl.localCheckpoint(eager=True)
        out.write.mode("overwrite").parquet(os.path.join(path, "doclen"))
        return out

    # postings and doclen writes are lineage-disjoint — overlap them;
    # _stats.json still commits atomically and LAST
    dl_done, _ = overlap(
        _doclen_write,
        lambda: postings.withColumn("bucket", _bucket_col(n_buckets))
        .repartition(n_buckets, "bucket", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(path, "postings")),
    )
    row = dl_done.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    stats = {
        "n_docs": int(row["n"]),
        "sum_dl": int(row["s"] or 0),
        "n_buckets": n_buckets,
    }
    atomic_write(os.path.join(path, _BM25_STATS), json.dumps(stats))
    return stats


def bm25_index_append(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Incremental maintenance: append postings + doc lengths for NEW
    documents (ids disjoint from the indexed corpus — re-appending an
    indexed doc would double its term frequencies) without rebuilding.
    Document frequency is always computed live from the probed
    posting lists, so appended docs participate in idf/df exactly as
    if indexed at build time — append-then-search equals
    one-shot-build-then-search (equivalence-tested). Stats commit
    LAST (atomic replace); a crash mid-append leaves the index
    searchable but the batch half-applied. The postings and doclen
    appends run CONCURRENTLY, so a failed append can leave them
    diverged in EITHER direction (postings without their doc lengths,
    or doc lengths without their postings) under the old stats —
    repair with a rebuild (bm25_index_write) or bm25_index_compact;
    same single-writer/quiesce contract as ivf_index_append and
    compact_parquet_table."""
    import json
    import os

    with open(os.path.join(path, _BM25_STATS)) as fh:
        stats = json.load(fh)
    n_buckets = stats["n_buckets"]
    postings = build_postings(
        new_docs, text_col, id_col, spread=False
    ).withColumn("bucket", _bucket_col(n_buckets))

    def _doclen_append() -> DataFrame:
        # one materialization feeds both the append and the stats delta
        dl = doc_lengths(
            new_docs, text_col, id_col, spread=False
        ).localCheckpoint(eager=True)
        dl.write.mode("append").parquet(os.path.join(path, "doclen"))
        return dl

    # postings and doclen appends are lineage-disjoint and land in
    # disjoint dirs — overlap them (the _write_batch_layout /
    # stream-batch pattern); stats still commits atomically and LAST
    dl, _ = overlap(
        _doclen_append,
        lambda: postings.repartition(n_buckets, "bucket", "term")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(os.path.join(path, "postings")),
    )
    row = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    stats["n_docs"] += int(row["n"])
    stats["sum_dl"] += int(row["s"] or 0)
    atomic_write(os.path.join(path, _BM25_STATS), json.dumps(stats))
    return stats


def _probe_postings(
    spark, path: str, qterms: DataFrame, n_buckets: int, id_col: str
) -> DataFrame:
    """The probed-buckets-only postings read: query terms' bucket ids
    are computed first (one tiny bounded job), ONLY those bucket
    directories are scanned (directory-level elimination — the
    PartitionFilters the pruning tests assert on this frame's plan),
    and the slice is narrowed to the query's exact terms."""
    import os

    buckets = sorted(
        r["b"]
        for r in qterms.select(_bucket_col(n_buckets).alias("b"))
        .distinct()
        .collect()
    )
    return (
        spark.read.parquet(os.path.join(path, "postings"))
        .filter(F.col("bucket").isin(buckets))
        .select("term", id_col, "tf")
        .join(F.broadcast(qterms.select("term").distinct()), "term")
    )


def bm25_index_topk(
    spark,
    path: str,
    query_docs: DataFrame,
    k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Search the persisted index: the query terms' bucket ids are
    computed first (one tiny bounded job — same pattern as
    ivf_index_topk's probed lists) and ONLY those bucket directories
    are read; scoring is the exact shared tail, so results are
    identical to the in-memory bm25_topk (equivalence-tested, and the
    [Q] shares bm25_more_like_this's oracle). avgdl/n_docs come from
    the exact integer stats sidecar — bit-identical to the in-memory
    aggregate because both divide the same exact integers as doubles.
    """
    import json
    import os

    from tastytrade_sdk_spark.streaming.sinks import readable_store_path

    # a compactor mid-swap leaves the index under .__old for a moment;
    # read-only consumers fall back to that snapshot instead of
    # crashing (the sketch-store reader precedent) — the compactor's
    # next call performs the actual restore
    resolved = readable_store_path(path)
    if resolved is None:
        raise FileNotFoundError(f"no BM25 index at {path}")
    path = resolved
    stats_file = os.path.join(path, _BM25_STATS)
    empty = False
    if os.path.exists(stats_file):
        # batch layout: exact integer sidecar committed by write/append
        with open(stats_file) as fh:
            stats = json.load(fh)
        n_buckets = stats["n_buckets"]
        empty = stats["n_docs"] == 0
        # avgdl rounds ENGINE-side (F.round is HALF_UP; Python's round
        # is half-even — a silent parity break at the 6dp boundary).
        # The division itself is exact-int-over-exact-int in double,
        # identical to the in-memory F.avg of longs.
        glob = spark.range(1).select(
            F.lit(stats["n_docs"]).cast("long").alias("n_docs"),
            F.round(
                F.lit(stats["sum_dl"]).cast("double")
                / F.lit(stats["n_docs"] or 1).cast("double"),
                6,
            ).alias("avgdl"),
        )
    else:
        # streamed layout (bm25_index_sink): one exact stats row per
        # epoch partition. The sum stays IN-PLAN (a 1-row no-key
        # aggregate crossJoined into the tail like the in-memory
        # path's dl agg) instead of collecting to literals — one
        # fewer driver job per search; same exact integer sums, same
        # JVM HALF_UP rounding, so bit-identical avgdl.
        n_buckets = json.load(
            open(os.path.join(path, "_layout.json"))
        )["n_buckets"]
        # all-empty streamed index: stats rows land even for empty
        # epochs but postings/doclen have no data files — reading
        # them would fail. Detect via the filesystem (no Spark job).
        empty = not any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(os.path.join(path, "postings"))
            for f in fs
        )
        glob = spark.read.parquet(os.path.join(path, "stats")).agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.round(
                F.coalesce(F.sum("sum_dl"), F.lit(0)).cast("double")
                / F.sum("n_docs").cast("double"),
                6,
            ).alias("avgdl"),
        )
    if empty:
        from pyspark.sql import types as T

        idt = query_docs.schema[id_col].dataType
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("query_id", idt),
                    T.StructField("rank", T.LongType()),
                    T.StructField(id_col, idt),
                    T.StructField("bm25", T.DoubleType()),
                ]
            ),
        )
    # used three times (bucket collect, probe broadcast, score tail);
    # LAZY checkpoint — the bucket collect inside _probe_postings is
    # the first consumer and materializes it as part of its own job,
    # so the eager variant's extra driver job is pure overhead
    qterms = _query_terms(query_docs, text_col, id_col).localCheckpoint(
        eager=False
    )
    # the fetched posting slice feeds both the df aggregate and the
    # candidate join in the tail — checkpoint it so the index is read
    # once per search, not once per tail consumer. The bucket-pruned
    # scan itself is built by _probe_postings (the pruning witness the
    # tests assert PartitionFilters on, since this checkpoint hides
    # the scan from the result's plan).
    probed = _probe_postings(
        spark, path, qterms, n_buckets, id_col
    ).localCheckpoint(eager=False)
    dl = spark.read.parquet(os.path.join(path, "doclen")).select(
        id_col, "dl"
    )
    return _bm25_score_tail(probed, qterms, dl, glob, k, k1, b, id_col)


# ---------------- streaming index maintenance ----------------


def bm25_index_stream_batch(
    batch_df: DataFrame,
    path: str,
    epoch_id: int,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Fold one micro-batch of new documents into a streamed BM25
    index. Unlike bm25_index_append (whose crash contract is
    quiesce-and-rebuild), every write here is an EPOCH-partitioned
    dynamic overwrite — postings land under
    ``postings/epoch=<N>/bucket=<b>/``, doc lengths under
    ``doclen/epoch=<N>/``, and the batch's exact integer stats row
    under ``stats/epoch=<N>/`` — so a REPLAYED epoch overwrites
    exactly its own partitions and converges (foreachBatch
    exactly-once via idempotence, the same story as the keep-last
    sinks; no epoch sidecar needed because the epoch IS the partition
    key). A crash between the three writes is likewise healed by the
    replay. Search-side bucket pruning is unaffected: bucket stays a
    partition column one level down. ``_layout.json`` (n_buckets) is
    committed atomically BEFORE the first batch's data writes and
    verified (refuse on mismatch) on every batch thereafter — a sink
    restarted with a different n_buckets must not split the index
    across two moduli. Stamping before the data (not after) matters:
    were the commit deferred, a crash mid-first-epoch followed by a
    restart with a different n_buckets would pass the guard and
    replay the epoch under the new modulus, while dynamic partition
    overwrite only replaces the (epoch, bucket) partitions the replay
    produces — old-modulus bucket dirs from the crashed attempt would
    survive as ghosts and double-count df/scores at search time. The
    dense twin ivf_index_stream_batch stamps its centroid sidecar
    first for the same reason."""
    import json
    import os

    dyn = {"partitionOverwriteMode": "dynamic"}
    # layout guard FIRST — before any data lands: a sink restarted
    # with a different n_buckets would route new epochs under a
    # different modulus than the old ones while search prunes with
    # only one — silently wrong results (the same bug class the IVF
    # index's _centroids_md5 sidecar catches). Refuse on mismatch.
    if os.path.exists(os.path.join(path, _BM25_STATS)):
        # a _stats.json marks the BATCH layout (bm25_index_write or a
        # bm25_index_compact result): streaming epoch partitions into
        # it would mix two partition layouts under postings/ and break
        # every read — grow it with bm25_index_append, or point the
        # sink at a fresh path
        raise ValueError(
            f"bm25_index_stream_batch: {path} holds a batch-layout "
            "index (compacted or bm25_index_write-built) — use "
            "bm25_index_append, or stream into a fresh path"
        )
    layout_path = os.path.join(path, "_layout.json")
    if os.path.exists(layout_path):
        with open(layout_path) as fh:
            committed = json.load(fh)["n_buckets"]
        if committed != n_buckets:
            raise ValueError(
                f"bm25_index_stream_batch: index at {path} was built "
                f"with n_buckets={committed} but this sink was started "
                f"with n_buckets={n_buckets} — restart the sink with "
                f"the committed value or rebuild the index"
            )
    else:
        # commit the layout BEFORE any data write (see docstring: a
        # crash after data but before the stamp would let a restart
        # with a different modulus leave ghost old-modulus buckets)
        os.makedirs(path, exist_ok=True)
        atomic_write(layout_path, json.dumps({"n_buckets": n_buckets}))
    # spread=False: per-trigger index builds amortize nothing — the
    # (bucket, term) repartition follows immediately, so the _spread
    # partition-count probe plus its extra exchange would be paid on
    # EVERY trigger (the bm25_index_write/append rationale, commit
    # 2225984, applied to the streaming sink it missed)
    postings = build_postings(
        batch_df, text_col, id_col, spread=False
    ).withColumn("bucket", _bucket_col(n_buckets))

    def _doclen_write() -> DataFrame:
        # one materialization feeds the doclen write AND the stats row
        dl = doc_lengths(
            batch_df, text_col, id_col, spread=False
        ).localCheckpoint(eager=True)
        (
            dl.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .options(**dyn)
            .partitionBy("epoch")
            .parquet(f"{path}/doclen")
        )
        return dl

    # the postings and doclen pipelines share no lineage and land in
    # disjoint directories — overlap them so the per-trigger wall is
    # max(postings, doclen), not their sum (the near_dup_filter_batch
    # admit pattern). The stats row still commits LAST, preserving the
    # existing reader window (a reader could always observe postings
    # before their epoch's stats row; replay convergence covers the
    # crash case either way).
    dl, _ = overlap(
        _doclen_write,
        lambda: postings.withColumn("epoch", F.lit(epoch_id))
        .repartition(n_buckets, "bucket", "term")
        .write.mode("overwrite")
        .options(**dyn)
        .partitionBy("epoch", "bucket")
        .parquet(f"{path}/postings"),
    )
    (
        dl.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
        )
        .withColumn("epoch", F.lit(epoch_id))
        .write.mode("overwrite")
        .options(**dyn)
        .partitionBy("epoch")
        .parquet(f"{path}/stats")
    )


def bm25_index_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """writeStream wrapper: maintain a searchable BM25 index directly
    from a document stream (new-docs-only contract, as everywhere in
    the index lifecycle)."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda df, epoch: bm25_index_stream_batch(
                df, path, epoch, n_buckets, text_col, id_col
            )
        )
    )


def bm25_index_compact(spark, path: str, id_col: str = "doc_id") -> dict:
    """OPTIMIZE for a STREAMED index: rewrite the epoch-partitioned
    layout (one directory tree per micro-batch — file count grows
    with stream lifetime) into the compact batch layout
    bm25_index_write produces (bucket-partitioned postings, flat
    doclen, exact _stats.json), after which bm25_index_topk takes the
    batch read path and bm25_index_append works again. Term
    frequencies are re-aggregated across epochs per (term, doc) —
    identical search results by construction (equivalence-tested).

    WRITER MUST BE QUIESCED (same directory-swap contract as
    compact_parquet_table): the rewrite lands in a sibling tmp dir
    and swaps in with restore-before-delete crash recovery — a crash
    between the two renames is healed on the next call, and the only
    copy is never deleted before the replacement is complete."""
    import json
    import os
    import shutil

    tmp, old = path + ".__tmp", path + ".__old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    for d in (tmp, old):
        if os.path.exists(d):
            shutil.rmtree(d)
    # n_buckets: streamed layout carries _layout.json; an already-
    # compacted index carries it in _stats.json (re-compaction is a
    # valid no-op-shaped rewrite)
    layout_path = os.path.join(path, "_layout.json")
    stats_path = os.path.join(path, _BM25_STATS)
    if os.path.exists(layout_path):
        with open(layout_path) as fh:
            n_buckets = json.load(fh)["n_buckets"]
    else:
        with open(stats_path) as fh:
            n_buckets = json.load(fh)["n_buckets"]

    def _listing() -> "list[str]":
        files = []
        for base, _, names in os.walk(path):
            rel = os.path.relpath(base, path)
            files.extend(
                os.path.join(rel, f) for f in names if f.endswith(".parquet")
            )
        return sorted(files)

    before = _listing()
    # all-empty streamed index (only empty epochs ever ran): postings/
    # doclen have no data files (the per-epoch stats rows do exist) —
    # nothing to rewrite, and reading postings would fail (same state
    # bm25_index_topk short-circuits)
    if not any(f.startswith("postings") for f in before):
        return {"n_docs": 0, "sum_dl": 0, "n_buckets": n_buckets}
    postings = (
        spark.read.parquet(os.path.join(path, "postings"))
        .groupBy("term", id_col)
        .agg(F.sum("tf").alias("tf"))
    )
    # dl stays lazy — _write_batch_layout checkpoints it after the
    # postings write is submitted (overlap)
    dl = spark.read.parquet(os.path.join(path, "doclen")).select(
        id_col, "dl"
    )
    stats = _write_batch_layout(postings, dl, n_buckets, tmp)
    # keep _layout.json so a RE-compaction and the stream-batch guard
    # both keep working on the compacted index
    atomic_write(
        os.path.join(tmp, "_layout.json"), json.dumps({"n_buckets": n_buckets})
    )
    # concurrent-writer detection (same contract as
    # compact_parquet_table): a micro-batch that landed during the
    # rewrite would ride into .__old and be deleted with it — re-check
    # the listing immediately before the swap and ABORT untouched
    if _listing() != before:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"bm25_index_compact: {path} changed during compaction "
            "(concurrent writer?) — aborted, index untouched; quiesce "
            "the sink and retry"
        )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return stats
