"""Document deduplication operators: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design (the whole point of these on Spark):

- **exact**: hash-groupBy on md5(text) — one shuffle keyed by a
  16-byte digest; no text comparison ever crosses the wire.
- **MinHash + LSH**: per-doc signature (narrow projection, no
  shuffle), band the signature, shuffle once on (band_id, band_hash),
  and only docs sharing a band bucket are ever paired. Candidate
  verification re-joins on doc_id. This is the O(n) path to near-dup
  detection at 100 TB; brute-force pairing is O(n^2) and never runs.
- **n-gram Jaccard**: exact verification join — explode distinct
  shingles, self-join on shingle, count common / union. Used standalone
  for small corpora or as the LSH verify stage.
- **SimHash**: 32-bit fingerprint; near-dups = small Hamming distance,
  found by exact-match on rotated/banded pieces or by distance filter
  within LSH buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tastytrade_sdk_spark.llmops.textops import (
    minhash_signature,
    shingles_expr,
    simhash32,
    tokens_expr,
)

def _spread(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition up to default parallelism when the source arrives in
    fewer partitions (typical for one small parquet file locally; at
    lake scale inputs are already wide and this is a no-op). The heavy
    per-doc hashing work must not run single-task."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df


def _exploded_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    out: str,
    tokens_col: str | None = None,
) -> DataFrame:
    """(id, shingle) rows with tokenization materialized ONCE per doc.

    The tokens array must be produced by its own Project under the
    Generate: shingles_expr's per-element lambda references the token
    array 3x per shingle, and inlining tokens_expr there re-runs the
    regex split ~3*n_shingles times per doc (the dominant cost of the
    whole MinHash pipeline). Catalyst never collapses a Project into a
    Generate, so this two-step is a stable barrier.

    ``tokens_col`` lets a composed pipeline hand in an ALREADY
    tokenized (and already spread/cached) array column so the regex
    pass and the repartition are not repeated per consumer.
    """
    if tokens_col is not None:
        toks = df.select(F.col(id_col), F.col(tokens_col).alias("__toks"))
    else:
        toks = _spread(df, id_col).select(
            F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks")
        )
    return toks.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_expr(F.col("__toks"), shingle_n))
        ).alias(out),
    )


# Deterministic MinHash coefficients (seeded LCG; a < 2^30, odd).
_A0, _B0 = 1103515245, 12345


def default_coeffs(k: int = 16) -> list[tuple[int, int]]:
    coeffs = []
    a, b = _A0, _B0
    for _ in range(k):
        a = (a * 1103515245 + 12345) % (1 << 30) | 1
        b = (b * 69069 + 1) % (1 << 30)
        coeffs.append((a, b))
    return coeffs


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via content digest: one row per distinct text with
    the canonical (min) id and the duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    shingle_n: int = 3,
    tokens_col: str | None = None,
    include_missing: bool = True,
) -> DataFrame:
    """Per-doc MinHash signature as k flat columns sig_0..sig_{k-1}.

    Plan shape: explode distinct shingles -> md5 ONCE per shingle ->
    one hash-aggregate with k min()s (map-side partial agg). The naive
    array-expression form (array_min(transform(...)) x k) gets inlined
    k times by project-collapse and recomputes tokenization + md5 per
    hash function — ~30x slower at sf0.1.

    ``include_missing``: keep shingle-less docs as all-NULL-signature
    rows via a left join back to ``df``. The LSH-band path DROPS those
    rows immediately (no shingles => no band keys), so it passes False
    and skips the join — one fewer shuffle stage on the pair-generation
    critical path.
    """
    from tastytrade_sdk_spark.llmops.textops import h32

    sh = _exploded_shingles(
        df, text_col, id_col, shingle_n, "__sh", tokens_col
    ).withColumn("__h", h32(F.col("__sh")))
    from tastytrade_sdk_spark.llmops.textops import MERSENNE_PRIME

    # one parsed SQL expression per hash function instead of composing
    # ~8 Column operators apiece: the k-expression agg list is built
    # per caller (3x per streaming micro-batch), and each Column
    # operator is a py4j round-trip — measured ~0.2 s of pure driver
    # chatter per call at k=16. Integer-literal parsing promotes
    # exactly like F.lit (a, b < 2^30 -> INT, prime > 2^31 -> BIGINT;
    # a*__h < 2^62 stays in BIGINT), so the plan is value-identical.
    aggs = [
        F.expr(
            f"min(({a} * __h + {b}) % {MERSENNE_PRIME})"
        ).alias(f"sig_{i}")
        for i, (a, b) in enumerate(default_coeffs(k))
    ]
    sigs = sh.groupBy(id_col).agg(*aggs)
    if not include_missing:
        return sigs
    # left join keeps shingle-less docs (NULL signature)
    return df.select(id_col).join(sigs, id_col, "left")


def band_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-doc LSH band keys: (id_col, band_id, band_hash) with
    band_hash = md5 over the band's signature rows. The join key for
    every LSH consumer (pair generation, streaming dedup store)."""
    assert k % bands == 0
    rows = k // bands
    # shingle-less docs (fewer than shingle_n tokens) must NOT reach
    # the band hash: concat_ws skips NULLs, so an all-NULL signature
    # would share the md5("") band hash in every band — a full
    # candidate-pair CLIQUE of unrelated short docs (quadratic blowup
    # + bogus near-dups). A doc with no shingles has no similarity
    # evidence: it gets no band keys and so no candidate pairs.
    # include_missing=False means such docs never gain a row at all
    # (the shingle agg only emits docs WITH shingles), skipping the
    # keep-missing join on this critical path.
    sigs = minhash_signatures(
        df, text_col, id_col, k, shingle_n, tokens_col,
        include_missing=False,
    )
    return band_hashes_from_sigs(sigs, id_col, k, bands)


def band_hashes_from_sigs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Band keys derived from an EXISTING signature frame
    (id_col, sig_0..sig_{k-1}) — split out so a caller that needs the
    signatures for its own scoring (minhash_estimate_error) can run
    the corpus tokenize+MinHash pass ONCE and derive both the band
    keys and the signature joins from the same checkpointed frame.
    The frame must exclude shingle-less docs (all-NULL signatures
    would clique on md5(\"\") — see band_hashes)."""
    assert k % bands == 0
    rows = k // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("-", *parts)).alias("band_hash"),
            )
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")


def band_pairs(banded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, from a band-key frame
    (id_col, band_id, band_hash) — the pair-generation half of the LSH
    recipe, split out so callers that ALREADY hold band keys (the
    streaming band store, the banded SA router) don't recompute the
    MinHash pass just to pair them."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    tokens_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing >=1 signature band.

    k/bands rows per band; band key = md5 of the joined row values.
    Returns distinct (doc_a, doc_b) with doc_a < doc_b.
    """
    banded = band_hashes(df, text_col, id_col, k, bands, shingle_n, tokens_col)
    return band_pairs(banded, id_col)


def winnowing_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
    with_containment: bool = True,
) -> DataFrame:
    """Document pairs sharing winnowed fingerprints — the MOSS overlap
    detector (Schleimer et al. 2003) on top of
    ``textops.winnow_selections``: two docs pair when >= ``min_shared``
    of their winnowed k-gram hashes coincide; ``containment`` is the
    shared count over the smaller doc's fingerprint-set size.

    Scale shape: fingerprints are a per-row expression (no shuffle);
    the pair join is keyed on the 8-byte fingerprint hash, and
    ``max_df`` drops fingerprints present in more docs than that
    BEFORE the self-join — the boilerplate/hot-key guard that bounds
    the join to O(true candidate pairs), the same guard
    lsh_candidate_pairs gets from banding. Set sizes (n_a/n_b) are
    measured over the capped fingerprint sets so the containment
    denominator matches the join's candidate universe. The per-doc
    fingerprint frame is lineage-cut with an eager localCheckpoint
    because FOUR consumers need it (df-cap build, both join sides,
    set sizes) — the dsir_importance_weights rule; without it each
    consumer re-runs the md5 + window scan.
    """
    from tastytrade_sdk_spark.llmops.textops import (
        gram_hashes,
        tokens_expr,
        winnow_from_hashes,
    )

    target = df.sparkSession.sparkContext.defaultParallelism
    # spread FIRST so the md5 pass runs wide, then the repartition
    # AFTER the hash projection is the barrier that stops
    # CollapseProject inlining __g into the winnow lambda
    hashed = _spread(df, id_col).select(
        F.col(id_col), gram_hashes(tokens_expr(F.col(text_col)), k).alias("__g")
    ).repartition(target)
    fps = (
        hashed.select(
            F.col(id_col),
            F.explode(winnow_from_hashes(F.col("__g"), w)).alias("__s"),
        )
        .select(F.col(id_col), F.col("__s.fp").alias("__fp"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rare = (
        fps.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("__fp")
    )
    # NOT checkpointed: kept has three consumers (set sizes + both
    # self-join sides), but its recompute is one exchange + join over
    # the already-checkpointed fps blocks — materializing it measured
    # SLOWER end to end (r11; the shingle-frame rule)
    kept = fps.join(rare, "__fp")
    a = kept.select(F.col(id_col).alias("doc_a"), "__fp")
    b = kept.select(F.col(id_col).alias("doc_b"), "__fp")
    shared = (
        a.join(b, "__fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    if not with_containment:
        # graph consumers (winnowing_dedup_clusters) only need the
        # pair edges; the containment denominators would ride along as
        # two un-prunable inner joins against the sizes aggregate
        return shared
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    return (
        shared.join(
            sizes.select(F.col(id_col).alias("doc_a"), F.col("__n").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("doc_b"), F.col("__n").alias("n_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared") / F.least("n_a", "n_b"), 6
            ).alias("containment"),
        )
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Explode tokens -> md5 once per token -> 32 conditional-sum
    aggregates -> fingerprint. Same rationale as minhash_signatures:
    the pure-expression form (simhash32) recomputes the token hash 32x
    under project-collapse; the agg form hashes once per token."""
    from tastytrade_sdk_spark.llmops.textops import h32

    toks = _spread(df, id_col).select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("__tok")
    ).withColumn("__h", h32(F.col("__tok")))
    bit_aggs = [
        F.sum(
            F.when(F.col("__h").bitwiseAND(F.lit(1 << j)) > 0, 1).otherwise(-1)
        ).alias(f"__b{j}")
        for j in range(32)
    ]
    sums = toks.groupBy(id_col).agg(*bit_aggs)
    fp = F.lit(0).cast("long")
    for j in range(32):
        fp = fp + F.when(F.col(f"__b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    with_fp = sums.select(F.col(id_col), fp.alias("simhash"))
    # empty-token docs never explode a row: simhash 0, matching the
    # expression form (all bit sums 0 -> no bit set)
    return (
        df.select(id_col)
        .join(with_fp, id_col, "left")
        .select(id_col, F.coalesce("simhash", F.lit(0)).alias("simhash"))
    )


def dup_shingle_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-document duplicated-n-gram fraction per doc: of a doc's
    distinct shingles, what share also appears in at least one OTHER
    document. The scalable proxy for substring-level dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): a high
    fraction marks boilerplate/templated docs that exact- and
    MinHash-dedup both miss because no single pair crosses a
    similarity threshold.

    Plan shape (all linear in corpus size): explode distinct shingles
    -> h32 each ONCE -> groupBy shingle-hash with map-side partial
    counts (the only wide shuffle, keyed by a 8-byte hash, never the
    shingle text) -> semi-join-shaped re-join on the hash -> per-doc
    ratio agg. At 100 TB the shared-shingle side can additionally be
    bloom-filtered before the join; the exact form here is already
    O(total shingles).
    """
    from tastytrade_sdk_spark.llmops.textops import h32

    sh = _exploded_shingles(df, text_col, id_col, shingle_n, "__sh").select(
        F.col(id_col), h32(F.col("__sh")).alias("__h")
    )
    # docs-per-shingle: input rows are (doc, shingle)-distinct already,
    # so count(*) == count of distinct docs containing the shingle
    shared = (
        sh.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n_docs"))
        .select("__h", (F.col("__n_docs") > 1).alias("__shared"))
    )
    per_doc = (
        sh.join(shared, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("__shared").cast("int")).alias("n_shared"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.round(
                F.coalesce("n_shared", F.lit(0))
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Broder CONTAINMENT near-dup join: pairs where one doc's
    distinct-shingle set is mostly inside the other's —
    ``|A ∩ B| / min(|A|, |B|)`` >= threshold. The asymmetric
    complement of ngram_jaccard_pairs: a short excerpt quoted inside a
    long article scores near-1 containment but low Jaccard (the union
    is dominated by the long doc), so symmetric dedup misses exactly
    the quote/excerpt/wrapper duplicates this catches.

    Same plan as the Jaccard join (shingle-keyed self-join is the only
    shuffle); cost tracks true overlap EXCEPT when a boilerplate
    shingle is shared by m docs — that key alone contributes O(m²)
    join rows. ``max_df`` drops shingles whose document frequency
    exceeds it before the self-join (the same hot-key cap
    winnowing_overlap_pairs applies): docs sharing only boilerplate
    that common are not near-dups, and at lake scale the cap is what
    keeps the join linear in true overlap. None (the default, and the
    declared-[Q] form so the oracle SQL stays a plain self-join)
    means uncapped — small-corpus exact semantics.
    """
    sh = _exploded_shingles(df, text_col, id_col, shingle_n, "shingle")
    if max_df is not None:
        # cap first, THEN size: containment ratios stay internally
        # consistent within the capped shingle universe (the winnowing
        # cap computes its sizes the same way)
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    cont = F.round(
        F.col("n_common") / F.least("size_a", "size_b"), 6
    )
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "size_a",
            "size_b",
            F.round(F.col("n_common") / F.col("size_a"), 6).alias(
                "containment_a"
            ),
            F.round(F.col("n_common") / F.col("size_b"), 6).alias(
                "containment_b"
            ),
            cont.alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs with
    |A ∩ B| / |A ∪ B| >= threshold (distinct shingles).

    Plan: explode distinct shingles -> self-join on shingle (the only
    shuffle, keyed by shingle) -> pair-count agg -> jaccard filter.
    Docs sharing no shingle never meet, so cost tracks true overlap,
    not n^2.
    """
    sh = _exploded_shingles(df, text_col, id_col, shingle_n, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def pair_exact_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact distinct-shingle Jaccard for an EXPLICIT pair set
    (columns ``doc_a``, ``doc_b``) — the bounded-by-construction form
    of the exact-similarity audit.

    Unlike ngram_jaccard_pairs' shingle self-join (quadratic in
    duplicate-CLASS size: a class of m near-identical docs probes m²
    combinations per shared shingle), this joins the shingle table
    once per pair END — pairs ⋈ shingles(doc_a), then an equi-join on
    (doc_b, shingle) — so total work is O(|pairs| · shingles_per_doc)
    no matter how large any duplicate class is. The intended caller
    feeds a deterministic hash-sample of candidate pairs, making the
    exact audit O(sample) at any corpus scale.

    Returns one row per input pair that shares ≥1 shingle
    (``doc_a, doc_b, n_common, jaccard``); pairs sharing no shingle
    are absent, matching ngram_jaccard_pairs(threshold→0) semantics.
    """
    sh = _exploded_shingles(df, text_col, id_col, shingle_n, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def frequent_span_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_doc_frac: float = 0.01,
) -> DataFrame:
    """Cross-document boilerplate scrub with TEXT RECONSTRUCTION — the
    exact-substring-dedup idea of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") at word-n-gram
    granularity: any n-gram span appearing in >= min_doc_frac of all
    documents is boilerplate; every token covered by such a span is
    cut, and the document is re-assembled from the survivors.

    Output: (id, n_removed, clean_text).

    Plan shape (100 TB): one corpus-sized explode of (doc, pos,
    shingle) feeding [a] the doc-frequency count — shuffle on the
    shingle key with partial aggregation, output bounded by distinct
    n-gram growth, [b] a shuffle join back against the frequent set
    (tiny by construction — AQE turns it into a broadcast join when it
    fits), then one groupBy(doc) to collect covered starts. The
    rebuild itself is a narrow per-row array expression: token j
    survives iff no frequent span starts in [j-n+1, j]. The doc-frac
    threshold (not an absolute count) keeps the operator's meaning
    stable as the corpus grows.
    """
    toks = tokens_expr(text_col)
    base = df.select(F.col(id_col), toks.alias("__t"))
    sh = base.select(
        F.col(id_col),
        F.posexplode(shingles_expr(F.col("__t"), shingle_n)).alias("pos0", "shingle"),
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "shingle")
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    freq = (
        sh.groupBy("shingle")
        .agg(F.count_distinct(F.col(id_col)).alias("nd_sh"))
        .crossJoin(F.broadcast(n_docs))
        # absolute >=2-docs floor: "cross-document" needs at least two
        # documents by definition — on a corpus smaller than
        # 1/min_doc_frac docs the bare fraction would let a shingle
        # seen in ONE doc qualify, and every document's entire text
        # would be scrubbed to '' (silent total data loss)
        .filter(
            F.col("nd_sh")
            >= F.greatest(F.lit(2.0), F.lit(min_doc_frac) * F.col("n_docs"))
        )
        .select("shingle")
    )
    cov = (
        sh.join(freq, "shingle")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
    )
    joined = base.join(cov, id_col, "left").withColumn(
        "starts", F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    )
    idx = F.when(
        F.size("__t") > 0, F.sequence(F.lit(1), F.size("__t"))
    ).otherwise(F.array().cast("array<int>"))
    span = shingle_n - 1
    keep = F.filter(
        idx,
        lambda j: ~F.exists(
            F.col("starts"), lambda s: (j >= s) & (j <= s + span)
        ),
    )
    return joined.select(
        F.col(id_col),
        (F.size("__t") - F.size(keep)).alias("n_removed"),
        F.array_join(
            F.transform(keep, lambda j: F.element_at(F.col("__t"), j)), " "
        ).alias("clean_text"),
    )


def symmetrize_pairs(
    pairs: DataFrame,
    a: str,
    b: str,
    out_a: str,
    out_b: str,
    carry: list[str] | None = None,
) -> DataFrame:
    """Emit each (a, b) pair in both directions with ONE explode.

    The naive form — unionByName of two selects of the same DataFrame
    — duplicates the upstream plan subtree, so an expensive
    pair-generation pipeline (shingle join, LSH banding) executes
    twice. A single explode over [struct(a,b), struct(b,a)] keeps one
    copy of the subtree and is a narrow op. ``carry`` columns ride
    along unchanged."""
    carry = carry or []
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias(out_a), F.col(b).alias(out_b)),
                F.struct(F.col(b).alias(out_a), F.col(a).alias(out_b)),
            )
        ).alias("__sym"),
        *carry,
    )
    return sym.select(f"__sym.{out_a}", f"__sym.{out_b}", *carry)


def corpus_dedup_state(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistent dedup state for a corpus snapshot: the
    distinct text-md5 set and the distinct (band_id, band_hash) LSH
    band set. This is the ONE full-corpus pass; a continuous-ingestion
    pipeline writes both to the lake and, after accepting a batch,
    unions the batch's own hashes/bands in — the corpus raw text is
    never re-tokenized per arriving batch."""
    text_hashes = corpus.select(
        F.md5(F.col(text_col)).alias("text_md5")
    ).distinct()
    band_set = (
        band_hashes(corpus, text_col, id_col, k, bands, shingle_n)
        .select("band_id", "band_hash")
        .distinct()
    )
    return text_hashes, band_set


def cross_snapshot_dedup(
    new_docs: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    corpus_state: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental (cross-snapshot) dedup: classify each NEW document
    against an EXISTING corpus as ``exact_dup`` (byte-identical text
    already present), ``near_dup`` (shares >=1 MinHash-LSH band with a
    corpus doc), or ``new`` (keep) — the continuous-ingestion gate a
    growing training corpus applies to every arriving batch instead of
    re-deduplicating the whole lake.

    Pass ``corpus_state`` (the persisted output of
    :func:`corpus_dedup_state`, incrementally unioned with each
    accepted batch) on the steady-state path; passing ``corpus`` raw
    instead recomputes that state from the corpus text — correct, but
    a full-lake MinHash pass per batch, so it is the bootstrap/test
    path only.

    Exact-dup wins when both hold (it is the stronger claim and the
    cheaper re-check).

    Scale shape: the state is touched by exactly two hash-keyed
    semi-joins — distinct text-md5 set and distinct (band_id,
    band_hash) set — both already near-distinct volume and keyed on
    uniform hashes (no skew). The new batch (typically orders of
    magnitude smaller than the lake) is scanned twice; nothing is
    ever joined |new| x |corpus|, and AQE broadcast-promotes the
    batch side when it fits. Band keys reuse the same md5-derived
    MinHash as the batch dedup operators, so the verdicts are
    consistent with what a full-corpus LSH pass would produce.
    """
    if corpus_state is None:
        if corpus is None:
            raise ValueError("pass either corpus or corpus_state")
        corpus_state = corpus_dedup_state(
            corpus, text_col, id_col, k, bands, shingle_n
        )
    corpus_h, corpus_bands = corpus_state
    new_h = new_docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("text_md5")
    )
    exact = (
        new_h.join(corpus_h, "text_md5", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__exact", F.lit(True))
    )
    near = (
        band_hashes(new_docs, text_col, id_col, k, bands, shingle_n)
        .join(corpus_bands, ["band_id", "band_hash"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    verdict = (
        F.when(F.col("__exact"), F.lit("exact_dup"))
        .when(F.col("__near"), F.lit("near_dup"))
        .otherwise(F.lit("new"))
    )
    return (
        new_docs.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            F.col(id_col),
            verdict.alias("verdict"),
            (F.col("__exact").isNull() & F.col("__near").isNull()).alias(
                "keep"
            ),
        )
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_len: int = 12,
) -> DataFrame:
    """Segment-level dedup with text rebuild — the CCNet/RefinedWeb
    paragraph/line-dedup recipe (Wenzek et al., CCNet; Penedo et al.,
    RefinedWeb): hash each segment, keep only the FIRST occurrence of
    each distinct segment corpus-wide (ordered by (id, position)), and
    rebuild every document from its surviving segments. Catches the
    boilerplate the document-level dedups can't: headers, navbars and
    license blocks repeated across otherwise-distinct pages.

    The reference corpora split on newline paragraphs; this corpus has
    no newline structure, so the segment boundary RULE is fixed
    ``seg_len``-token windows — the boundary rule is corpus-specific
    plumbing, the dedup machinery (hash -> first-occurrence ->
    rebuild) is the paper's.

    Plan shape (linear): the segment array builds NARROW (transform
    over a sequence of slice offsets — no explode until the segments
    exist), then one posexplode, a digest-keyed MIN-AGGREGATE for the
    first occurrence, a digest-keyed join-back, and ONE doc-keyed
    rebuild agg. The winner is min(struct(id, seg_idx)) per digest —
    NOT a row_number window: the boilerplate segments this operator
    exists to catch (a navbar repeated 10^8 times) are exactly the
    hot keys a window cannot split, while the min-agg collapses them
    map-side to one row per digest per task and the join-back probe
    is AQE-skew-splittable.

    Output: one row per input doc — (id, n_segments, n_kept,
    text_rebuilt); a doc whose every segment was already seen rebuilds
    to '' (dropping such docs is the caller's one-line filter), and a
    doc with NO tokens at all still gets its row (n_segments = 0,
    rebuilt ''), honoring the per-doc contract.
    """
    toks = tokens_expr(F.col(text_col))
    n_segs = F.ceil(F.size(toks) / F.lit(seg_len)).cast("int")
    segs = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.array_join(
                F.slice(toks, i * seg_len + 1, seg_len), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # _spread: the tokenize + segment build + md5 all run upstream of
    # the first exchange, i.e. inside the scan stage — serial for a
    # one-file corpus locally, and this subtree executes once per
    # consumer (winners agg + join-back). No-op at lake scale.
    exploded = _spread(df, id_col).select(
        F.col(id_col), F.posexplode(segs).alias("seg_idx", "seg")
    ).withColumn("__dig", F.md5(F.col("seg")))
    winners = exploded.groupBy("__dig").agg(
        F.min(
            F.struct(
                F.col(id_col).alias("i"), F.col("seg_idx").alias("s")
            )
        ).alias("__w")
    )
    marked = exploded.join(winners, "__dig").withColumn(
        "__keep",
        (F.col(id_col) == F.col("__w.i"))
        & (F.col("seg_idx") == F.col("__w.s")),
    )
    agg = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("__keep").cast("int")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct(F.col("seg_idx"), F.col("seg")),
                        )
                    )
                ),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("text_rebuilt"),
    )
    # zero-token docs produced no exploded rows; restore them so the
    # output keeps its one-row-per-input-doc contract
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_rebuilt", F.lit("")).alias("text_rebuilt"),
        )
    )


def near_dup_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """NEAR-duplicate benchmark contamination: corpus docs sharing at
    least one MinHash-LSH band with any eval/benchmark doc. The exact
    n-gram audit (plans/llm_dedup_queries.contamination_check) misses
    rephrased or lightly-edited benchmark leakage; band collision at
    the LSH operating point is the standard recall net for that
    (the same dedup threshold GPT-3's and Gopher's decontamination
    used fuzzy variants of).

    Plan shape: ONE MinHash pass per side (the corpus side is the
    expensive one and is computed exactly once), then an equi-join on
    (band_id, band_hash) with the EVAL side broadcast — benchmarks are
    tiny by definition, so the corpus never shuffles; the per-corpus-
    doc rollup keys on the corpus doc id. Linear in corpus bands.

    Output: (id, n_eval_partners, n_shared_bands) — one row per
    FLAGGED corpus doc (unflagged docs absent; contamination lists are
    sparse by construction).
    """
    co = band_hashes(corpus, text_col, id_col, k, bands, shingle_n)
    ev = band_hashes(eval_set, text_col, id_col, k, bands, shingle_n).select(
        F.col("band_id"),
        F.col("band_hash"),
        F.col(id_col).alias("__eval_id"),
    )
    return (
        co.join(F.broadcast(ev), ["band_id", "band_hash"])
        .groupBy(id_col)
        .agg(
            F.countDistinct("__eval_id").alias("n_eval_partners"),
            F.count(F.lit(1)).alias("n_shared_bands"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus delta report between two snapshots: per document id,
    'added' (only in new), 'removed' (only in old), 'modified' (same
    id, different content hash) or 'unchanged'. The driving question
    of every incremental pipeline run — which docs need re-processing
    (re-chunk, re-embed, re-dedup) and which downstream artifacts to
    invalidate — answered as ONE id-keyed full outer hash join over
    (id, md5(text)) projections; content never shuffles, only ids and
    32-char digests. At lake scale both sides prune to two columns at
    the scan, and the join co-partitions on the id (bucket both
    snapshots on id to make it exchange-free — operators/scale).

    Output: (id_col, status, old_hash, new_hash); hashes NULL on the
    side the doc is absent from.
    """
    o = old.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("old_hash")
    )
    n = new.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("new_hash")
    )
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col(id_col), status.alias("status"),
                    "old_hash", "new_hash")


def soft_dedup_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """SoftDedup (He et al. 2024): DOWNWEIGHT duplicated content for
    training-time resampling instead of dropping it — hard dedup
    discards the informative first copy along with the redundancy;
    soft dedup keeps every doc but makes its sampling weight inversely
    proportional to its "commonness" (how widely its n-grams are
    duplicated across the corpus).

    Commonness here = mean docs-per-shingle over the doc's distinct
    shingles, kept as an exact integer pair (sum, count); the sampling
    weight is weight_ppm = (n_shingles * 1e6) DIV sum(docs-per-
    shingle) — 1,000,000 for an all-unique doc, ~1e6/k for a doc whose
    shingles live in ~k documents. ALL-INTEGER, so the weights are
    bit-stable across engines and feed pipeline.priority_sample's
    integer priorities directly (weight_col="weight_ppm").

    Plan shape: identical to dup_shingle_fraction — ONE h32-keyed
    shuffle for corpus shingle frequencies, one hash re-join, one
    per-doc agg; linear in total shingles, the shingle text never
    shuffles.
    """
    from tastytrade_sdk_spark.llmops.textops import h32

    sh = _exploded_shingles(df, text_col, id_col, shingle_n, "__sh").select(
        F.col(id_col), h32(F.col("__sh")).alias("__h")
    )
    freq = sh.groupBy("__h").agg(F.count(F.lit(1)).alias("__n_docs"))
    per_doc = (
        sh.join(freq, "__h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("__n_docs").alias("commonness_sum"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("commonness_sum", F.lit(0)).alias("commonness_sum"),
            # a doc too short to shingle has no duplication evidence:
            # full weight, not zero (it would otherwise never sample)
            F.expr(
                "CASE WHEN coalesce(n_shingles, 0) = 0 THEN CAST(1000000 AS BIGINT) "
                "ELSE CAST(n_shingles * 1000000 AS BIGINT) DIV commonness_sum END"
            ).alias("weight_ppm"),
        )
    )


def best_copy_canonical(
    df: DataFrame,
    score_col,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: within each exact-duplicate
    group keep the HIGHEST-scoring copy (tiebreak min id) instead of
    the min-id copy — the RefinedWeb/CCNet-style policy when duplicate
    copies differ in surrounding metadata quality (source, extraction
    cleanliness) and dropping the "first" one would discard the best
    extraction.

    ALL-in-one-aggregate: the winner is a min() over a
    (negated-score, id) struct — one content-hash-keyed shuffle with
    map-side partials, no window, no join; identical cost to
    exact_duplicates. ``score_col`` may be any numeric column or
    expression (quality score, recency, source rank); ``id_col`` stays
    fully type-generic (string/UUID ids compare fine under min —
    negating the id for a max-struct would crash or silently invert
    the tiebreak on non-numeric ids).

    Output: content_hash, canonical_id, best_score, n_docs.
    """
    score = (
        F.col(score_col) if isinstance(score_col, str) else score_col
    ).cast("double")
    pick = F.struct(
        (-score).alias("neg_s"),
        F.col(id_col).alias("id"),
    )
    return (
        df.select(
            F.md5(F.col(text_col)).alias("content_hash"),
            F.col(id_col),
            pick.alias("__pick"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("__pick").getField("id").alias("canonical_id"),
            (-F.min("__pick").getField("neg_s")).alias("best_score"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
