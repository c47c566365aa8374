"""Corpus-preparation operators: connected-components clustering,
dataset splitting, sequence packing, tf-idf."""

import math

import pytest
from pyspark.sql import functions as F

from tastytrade_sdk_spark.llmops.cluster import (
    connected_components,
    near_dup_clusters,
)
from tastytrade_sdk_spark.llmops.pipeline import (
    pack_sequences,
    split_assignment,
    tfidf_top_terms,
)


def test_connected_components_chain_and_isolated(spark):
    # chain 1-2-3-4 (diameter 3 > 1 round), pair 10-11, isolated 20
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a int, doc_b int"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]],
                                  "doc_id int")
    out = {
        r["doc_id"]: r["component"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_near_dup_clusters_sizes_and_canonicals(spark):
    edges = spark.createDataFrame([(5, 7), (7, 9)], "doc_a int, doc_b int")
    docs = spark.createDataFrame([(i,) for i in [5, 7, 9, 42]], "doc_id int")
    rows = {r["doc_id"]: r for r in near_dup_clusters(docs, edges).collect()}
    assert rows[5]["cluster_id"] == 5 and rows[5]["is_canonical"]
    assert rows[7]["cluster_id"] == 5 and not rows[7]["is_canonical"]
    assert rows[9]["cluster_size"] == 3
    assert rows[42]["cluster_size"] == 1 and rows[42]["is_canonical"]
    # keep-canonical policy drops exactly the non-canonical members
    kept = near_dup_clusters(docs, edges).filter("is_canonical").count()
    assert kept == 2


def test_near_dup_clusters_output_is_docs_bounded(spark):
    """Ids in the pairs graph but absent from docs (stale/wider
    candidate graph) must not gain output rows, and cluster_id/
    cluster_size/is_canonical are computed over doc members only —
    here phantom id 1 is the component min, so the canonical must
    fall to the smallest DOC member (5), and size counts docs (2),
    not edge endpoints (3)."""
    edges = spark.createDataFrame(
        [(1, 5), (5, 7), (30, 31)], "doc_a int, doc_b int"
    )
    docs = spark.createDataFrame([(i,) for i in [5, 7, 42]], "doc_id int")
    rows = {r["doc_id"]: r for r in near_dup_clusters(docs, edges).collect()}
    assert set(rows) == {5, 7, 42}
    assert rows[5]["cluster_id"] == 5 and rows[5]["is_canonical"]
    assert rows[7]["cluster_id"] == 5 and not rows[7]["is_canonical"]
    assert rows[5]["cluster_size"] == 2 and rows[7]["cluster_size"] == 2
    assert rows[42]["cluster_size"] == 1 and rows[42]["is_canonical"]


def test_split_assignment_deterministic_and_partitioned(spark):
    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id int")
    a = {r["doc_id"]: (r["bucket"], r["split"]) for r in
         split_assignment(docs).collect()}
    b = {r["doc_id"]: (r["bucket"], r["split"]) for r in
         split_assignment(docs).collect()}
    assert a == b  # stable across runs
    for doc_id, (bucket, split) in a.items():
        expected = "train" if bucket < 80 else ("val" if bucket < 90 else "test")
        assert split == expected
    # growing the corpus never moves an existing doc between splits
    bigger = split_assignment(
        spark.createDataFrame([(i,) for i in range(400)], "doc_id int")
    )
    c = {r["doc_id"]: (r["bucket"], r["split"]) for r in bigger.collect()}
    assert all(c[k] == v for k, v in a.items())


def test_pack_sequences_offsets_and_boundaries(spark):
    # single shard for a deterministic walk: budget 10
    docs = spark.createDataFrame(
        [(1, 4), (2, 4), (3, 4), (4, 10), (5, 1)], "doc_id int, n int"
    )
    out = {
        r["doc_id"]: r
        for r in pack_sequences(
            docs, "n", budget=10, n_shards=1
        ).collect()
    }
    # concat order = id order: offsets 0,4,8,12,22
    assert [out[i]["start_offset"] for i in [1, 2, 3, 4, 5]] == [0, 4, 8, 12, 22]
    assert [out[i]["pack_id"] for i in [1, 2, 3, 4, 5]] == [0, 0, 0, 1, 2]
    # doc 3 spans tokens 8..11 -> crosses the 10-token boundary
    assert out[3]["crosses_boundary"] and not out[1]["crosses_boundary"]
    # doc 4 spans 12..21 -> ends exactly at 21, within pack 1? 21//10=2
    assert out[4]["crosses_boundary"]


def test_tfidf_ranks_rare_terms_highest(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark unique"),
            (2, "spark common words"),
            (3, "spark common other"),
        ],
        "doc_id int, text string",
    )
    out = tfidf_top_terms(docs, top_k=2).collect()
    d1 = sorted((r for r in out if r["doc_id"] == 1), key=lambda r: r["rnk"])
    # 'spark' appears in every doc -> idf 0 -> tfidf 0; 'unique' wins
    assert d1[0]["term"] == "unique"
    assert d1[0]["tfidf"] == pytest.approx(round(1 * math.log(3 / 1), 6))
    spark_row = [r for r in out if r["term"] == "spark" and r["doc_id"] == 1][0]
    assert spark_row["tfidf"] == 0.0


def test_zorder_key_bit_interleave(spark):
    from tastytrade_sdk_spark.operators.scale import zorder_key

    df = spark.createDataFrame([(3, 5)], "a int, b int")
    key = df.select(
        zorder_key([F.col("a"), F.col("b")], bits=8).alias("z")
    ).first()["z"]
    # a=0b011, b=0b101 -> interleave (a bit i at 2i, b bit i at 2i+1):
    # positions 0(a0),1(b0),2(a1),5(b2) -> 1+2+4+32
    assert key == 39
    # locality: adjacent cells differ in low bits only
    grid = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], "a int, b int"
    )
    keys = {
        (r["a"], r["b"]): r["z"]
        for r in grid.select(
            "a", "b", zorder_key([F.col("a"), F.col("b")], bits=2).alias("z")
        ).collect()
    }
    assert len(set(keys.values())) == 16  # bijective on the grid
    assert keys[(0, 0)] == 0 and keys[(3, 3)] == 15


def test_bpe_ish_segmentation(spark):
    from tastytrade_sdk_spark.llmops.textops import bpe_ish_tokens

    df = spark.createDataFrame(
        [(1, "It's 2024, don't panic!  end")], "doc_id int, text string"
    )
    toks = df.select(bpe_ish_tokens(F.col("text")).alias("t")).first()["t"]
    assert toks == [
        "It", "'s", " 2024", ",", " don", "'t", " panic", "!", "  ", "end"
    ]


def test_quality_percentile_filter_threshold_and_ties(spark):
    from tastytrade_sdk_spark.llmops.pipeline import quality_percentile_filter

    # 8 docs: 2 junk (high punct, no stopwords), 6 decent -> pct=0.25
    # threshold = 2nd smallest score; ties at the threshold are KEPT
    junk = "!!! ??? ### $$$ %%%"
    good = "the quick brown fox jumps over the lazy dog and runs on"
    docs = spark.createDataFrame(
        [(i, junk) for i in range(2)] + [(i, good) for i in range(2, 8)],
        "doc_id int, text string",
    )
    out = quality_percentile_filter(docs, pct=0.25).collect()
    kept = {r["doc_id"] for r in out}
    # k = ceil(0.25*8) = 2 -> threshold = the junk score; both junk
    # docs tie at the threshold and stay, so everything is kept
    assert kept == set(range(8))
    # a stricter cut drops the junk tier entirely
    out2 = quality_percentile_filter(docs, pct=0.3).collect()
    assert {r["doc_id"] for r in out2} == set(range(2, 8))
    assert all(r["quality"] >= r["threshold"] for r in out2)


def test_macd_kernel_prior_seed_matches_expression(spark):
    """The Arrow MACD kernel and the JVM expression form must agree on
    prior-session seeding (same recurrence, different execution)."""
    from tastytrade_sdk_spark.operators.indicators import macd, macd_expr

    rows = [
        ("A", i, 100.0 + ((i * 37) % 11) - 5.0, 97.5) for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "symbol string, t int, close double, prior double"
    )
    kern = {
        r["t"]: (r["Value"], r["avg"])
        for r in macd(
            df, price_col="close", partition_by=["symbol"], order_by=["t"],
            prior_close_col="prior",
        ).collect()
    }
    expr = {
        r["t"]: (r["Value"], r["avg"])
        for r in macd_expr(
            df, price_col="close", partition_by=["symbol"], order_by=["t"],
            prior_close_col="prior",
        ).collect()
    }
    assert kern.keys() == expr.keys()
    for t in kern:
        assert kern[t][0] == pytest.approx(expr[t][0], abs=1e-9)
        assert kern[t][1] == pytest.approx(expr[t][1], abs=1e-9)


def test_training_shuffle_is_exact_permutation(spark):
    from tastytrade_sdk_spark.llmops.pipeline import training_shuffle

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = training_shuffle(df, id_col="doc_id", n_shards=8).collect()
    assert len(out) == 500
    # global_pos is exactly 0..n-1 (a permutation, no gaps/dups)
    assert sorted(r["global_pos"] for r in out) == list(range(500))
    # global order == ORDER BY (shard, shuffle_key, doc_id)
    by_pos = sorted(out, key=lambda r: r["global_pos"])
    by_key = sorted(out, key=lambda r: (r["shard"], r["shuffle_key"], r["doc_id"]))
    assert [r["doc_id"] for r in by_pos] == [r["doc_id"] for r in by_key]
    # deterministic across runs
    again = training_shuffle(df, id_col="doc_id", n_shards=8).collect()
    assert {r["doc_id"]: r["global_pos"] for r in again} == {
        r["doc_id"]: r["global_pos"] for r in out
    }
    # different shard counts permute differently but stay permutations
    other = training_shuffle(df, id_col="doc_id", n_shards=4).collect()
    assert sorted(r["global_pos"] for r in other) == list(range(500))


def test_source_rollup_flags_low_quality_sources(spark):
    from pyspark.sql import functions as F

    from tastytrade_sdk_spark.llmops.pipeline import source_rollup

    rows = (
        # src_good: 4 distinct quality docs
        [("src_good", "en", f"the quick brown fox {i}", 0.9) for i in range(4)]
        # src_dupes: 6 docs, only 2 distinct texts -> dup_rate 2/3
        + [("src_dupes", "en", f"copy {i % 2}", 0.8) for i in range(6)]
        # src_junk: quality below the floor
        + [("src_junk", "de", f"junk {i}", 0.05) for i in range(3)]
    )
    docs = spark.createDataFrame(
        rows, "source string, lang string, text string, q double"
    )
    out = {
        r["source"]: r
        for r in source_rollup(docs, F.col("q")).collect()
    }
    g, d, j = out["src_good"], out["src_dupes"], out["src_junk"]
    assert g["keep"] and g["dup_rate"] == 0.0 and g["n_docs"] == 4
    assert not d["keep"] and d["n_distinct_texts"] == 2
    assert abs(d["dup_rate"] - (1 - 2 / 6)) < 1e-6  # rounded to 6 dp
    assert not j["keep"] and j["avg_quality"] == 0.05
    assert j["n_langs"] == 1


def test_chunk_documents_offsets_and_coverage(spark):
    from tastytrade_sdk_spark.llmops.pipeline import chunk_documents

    # 10 tokens, chunk 4 / stride 3 -> starts 0,3,6,9; last chunk short
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "only two"), (3, "")],
        "doc_id int, text string",
    )
    out = chunk_documents(docs, chunk_size=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # zero-token doc emits nothing
    assert 3 not in by_doc
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    # stops at the first chunk whose end reaches n: a 4th chunk (9,10)
    # would be a strict suffix of (6,10) — pure duplicate content
    assert [(r["start_tok"], r["end_tok"]) for r in c1] == [
        (0, 4), (3, 7), (6, 10)
    ]
    assert [r["chunk_tokens"] for r in c1] == [4, 4, 4]
    # full token coverage: union of [start, end) == [0, 10)
    covered = set()
    for r in c1:
        covered.update(range(r["start_tok"], r["end_tok"]))
    assert covered == set(range(10))
    # short doc: single chunk, correct hash of its token join
    import hashlib

    (c2,) = by_doc[2]
    assert (c2["start_tok"], c2["end_tok"]) == (0, 2)
    assert c2["chunk_hash"] == hashlib.md5(b"only two").hexdigest()
    # no overlap when stride == chunk_size
    flat = chunk_documents(docs, chunk_size=5, stride=5).collect()
    starts = sorted(
        r["start_tok"] for r in flat if r["doc_id"] == 1
    )
    assert starts == [0, 5]
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_size=4, stride=5)


def test_ngram_topk_deterministic_tiebreak(spark):
    from tastytrade_sdk_spark.llmops.pipeline import ngram_topk_per_group

    docs = spark.createDataFrame(
        [
            ("en", "a b c a b c a b c"),   # 'a b c' x3, 'b c a' x2, 'c a b' x2
            ("en", "z z z z"),             # 'z z z' x2
            ("de", "x y z"),               # single shingle
        ],
        "lang string, text string",
    )
    out = ngram_topk_per_group(docs, group_col="lang", n=3, k=2).collect()
    en = sorted(
        [r for r in out if r["lang"] == "en"], key=lambda r: r["rank"]
    )
    assert [(r["ngram"], r["freq"], r["rank"]) for r in en] == [
        ("a b c", 3, 1),
        ("b c a", 2, 2),  # freq-2 tie ('b c a','c a b','z z z') -> asc
    ]
    de = [r for r in out if r["lang"] == "de"]
    assert [(r["ngram"], r["freq"], r["rank"]) for r in de] == [
        ("x y z", 1, 1)
    ]


def test_cross_snapshot_dedup_verdicts(spark):
    from tastytrade_sdk_spark.llmops.dedup import cross_snapshot_dedup

    long_text = " ".join(f"w{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [(1, long_text), (2, "some other corpus document entirely"),
         (3, "tiny doc")],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [
            # byte-identical -> exact_dup (wins even though bands collide)
            (10, long_text),
            # same tokens, different bytes (punctuation/case) -> same
            # shingles/bands but different md5 -> near_dup
            (11, long_text.upper() + "!"),
            # genuinely new content
            (12, "completely fresh unseen material never stored before"),
            # short doc (< 3 tokens): no bands, not exact -> new
            (13, "tiny doc!!"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in cross_snapshot_dedup(new, corpus).collect()}
    assert out[10]["verdict"] == "exact_dup" and not out[10]["keep"]
    assert out[11]["verdict"] == "near_dup" and not out[11]["keep"]
    assert out[12]["verdict"] == "new" and out[12]["keep"]
    assert out[13]["verdict"] == "new" and out[13]["keep"]
    # steady-state path: precomputed (persisted) state gives identical
    # verdicts without touching the corpus text again
    from tastytrade_sdk_spark.llmops.dedup import corpus_dedup_state

    state = corpus_dedup_state(corpus)
    out2 = {
        r["doc_id"]: r["verdict"]
        for r in cross_snapshot_dedup(new, corpus_state=state).collect()
    }
    assert out2 == {k: v["verdict"] for k, v in out.items()}


def test_temperature_resample_upsamples_rare_groups(spark):
    from tastytrade_sdk_spark.llmops.pipeline import temperature_resample

    rows = [(i, "big") for i in range(900)] + [
        (1000 + i, "rare") for i in range(9)
    ]
    df = spark.createDataFrame(rows, "doc_id int, lang string")
    out = temperature_resample(df, group_col="lang").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["lang"], []).append(r)
    # integer targets: w = (isqrt(900), isqrt(9)) = (30, 3); budget 909
    # -> target_big = 909*30//33 = 826, target_rare = 909*3//33 = 82
    big, rare = by_g["big"], by_g["rare"]
    assert big[0]["target_g"] == 826 and rare[0]["target_g"] == 82
    # rare docs repeat (82 // 9 = 9 whole copies each, +1 for some);
    # big docs subsample (0 or 1 copies)
    assert all(r["n_copies"] in (9, 10) for r in rare)
    assert all(r["n_copies"] in (0, 1) for r in big)
    # group totals: replicate the md5 lottery exactly in Python — the
    # big group's total is floor-repeats (0) plus exactly the docs
    # whose hash lands under the remainder threshold
    import hashlib

    def lottery(doc_id: int, n_g: int) -> int:
        h = int(hashlib.md5(f"tsamp:{doc_id}".encode()).hexdigest()[:8], 16)
        return h % n_g

    exp_big = sum(1 for i in range(900) if lottery(i, 900) < 826 % 900)
    assert sum(r["n_copies"] for r in big) == exp_big
    exp_rare = sum(
        9 + (1 if lottery(1000 + i, 9) < 82 % 9 else 0) for i in range(9)
    )
    assert sum(r["n_copies"] for r in rare) == exp_rare
    # deterministic
    again = temperature_resample(df, group_col="lang").collect()
    assert sorted((r["doc_id"], r["n_copies"]) for r in again) == sorted(
        (r["doc_id"], r["n_copies"]) for r in out
    )


def test_vocab_oov_stats_small_vocab(spark):
    from tastytrade_sdk_spark.llmops.pipeline import vocab_oov_stats

    docs = spark.createDataFrame(
        [
            (1, "aa aa aa bb bb cc"),   # freq: aa 3, bb 2+1, cc 1+1
            (2, "bb cc dd"),            # dd is rare -> OOV at V=3
            (3, ""),                    # zero tokens
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in vocab_oov_stats(docs, vocab_size=3).collect()}
    # vocab = top-3 by (freq desc, token asc): aa(3), bb(3), cc(2)
    assert (out[1]["n_tokens"], out[1]["n_oov"]) == (6, 0)
    assert (out[2]["n_tokens"], out[2]["n_oov"]) == (3, 1)  # dd
    assert out[2]["oov_rate"] == round(1 / 3, 6)
    assert (out[3]["n_tokens"], out[3]["n_oov"]) == (0, 0)
    assert out[3]["oov_rate"] is None


def test_length_bucketed_batches_assignment(spark):
    from tastytrade_sdk_spark.llmops.pipeline import length_bucketed_batches

    rows = [(i, n) for i, n in enumerate(
        [10, 20, 64, 65, 100, 128, 129, 600, 2000, 12, 70]
    )]
    df = spark.createDataFrame(rows, "doc_id int, nt int")
    out = {
        r["doc_id"]: r
        for r in length_bucketed_batches(df, "nt", batch_size=2).collect()
    }
    # bucket boundaries: <=64 -> 0, <=128 -> 1, <=256 -> 2, ... >1024 -> 5
    assert [out[i]["bucket"] for i in range(11)] == [
        0, 0, 0, 1, 1, 1, 2, 4, 5, 0, 1
    ]
    # bucket 0 members ordered (nt, id): 10,12,20,64 -> batches [0,0,1,1]
    b0 = sorted(
        (r for r in out.values() if r["bucket"] == 0),
        key=lambda r: r["pos_in_bucket"],
    )
    assert [r["doc_id"] for r in b0] == [0, 9, 1, 2]
    assert [r["batch_id"] for r in b0] == [0, 0, 1, 1]
    # batch stats: first bucket-0 batch holds {10, 12} -> max 12, rows 2
    assert (b0[0]["batch_max_tokens"], b0[0]["batch_rows"]) == (12, 2)
    assert (b0[2]["batch_max_tokens"], b0[2]["batch_rows"]) == (64, 2)
    # singleton batch in the open-ended tail bucket
    assert (out[8]["bucket"], out[8]["batch_rows"]) == (5, 1)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        length_bucketed_batches(df, "nt", batch_size=0)


def test_connected_components_paths_agree(spark):
    """Driver union-find (small graphs) and distributed min-label
    propagation are two implementations of the same contract — they
    must label identically, including isolated vertices."""
    import random

    rng = random.Random(3)
    edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(80)]
    edf = spark.createDataFrame(edges, "doc_a int, doc_b int")
    nodes = spark.createDataFrame([(i,) for i in range(80)], "doc_id int")
    fast = {
        r["doc_id"]: r["component"]
        for r in connected_components(edf, nodes=nodes).collect()
    }
    dist = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            edf, nodes=nodes, small_graph_edges=0
        ).collect()
    }
    assert fast == dist


def test_near_dup_clusters_dedups_duplicate_doc_ids(spark):
    """Advisor r4: duplicate ids in the docs frame must not produce
    duplicate singleton rows (the old path applied distinct() to the
    node base; the subgraph-bounded path must too)."""
    edges = spark.createDataFrame([(1, 2)], "doc_a int, doc_b int")
    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 9, 9, 9]], "doc_id int"
    )
    out = near_dup_clusters(docs, edges).collect()
    assert len(out) == 3
    assert sorted(r["doc_id"] for r in out) == [1, 2, 9]


def test_star_contraction_matches_union_find_on_random_graphs(spark):
    """Large-star/small-star CC must label identically to the
    union-find path on arbitrary random graphs (including isolated
    vertices)."""
    import random

    from tastytrade_sdk_spark.llmops.cluster import (
        connected_components_star,
    )

    for seed in (1, 7):
        rng = random.Random(seed)
        edges = [
            (rng.randint(0, 50), rng.randint(0, 50)) for _ in range(60)
        ]
        edf = spark.createDataFrame(edges, "doc_a int, doc_b int")
        nodes = spark.createDataFrame(
            [(i,) for i in range(70)], "doc_id int"
        )
        uf = {
            r["doc_id"]: r["component"]
            for r in connected_components(edf, nodes=nodes).collect()
        }
        star = {
            r["doc_id"]: r["component"]
            for r in connected_components_star(edf, nodes=nodes).collect()
        }
        assert uf == star
        # the r11 default DISTRIBUTED path (auto → star contraction
        # above the probe bound) must agree too — force it by zeroing
        # the union-find bound
        auto_big = {
            r["doc_id"]: r["component"]
            for r in connected_components(
                edf, nodes=nodes, small_graph_edges=0
            ).collect()
        }
        assert uf == auto_big


def test_star_contraction_converges_on_long_chain(spark):
    """The O(log n) property: a 200-node chain (diameter 199) — where
    the min-label loop at max_iters=25 would raise — converges and
    labels the whole chain with its minimum."""
    from tastytrade_sdk_spark.llmops.cluster import (
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc_a int, doc_b int"
    )
    out = connected_components_star(chain)
    comps = {r["component"] for r in out.collect()}
    assert comps == {0}
    assert out.count() == 200


def test_prototypes_prune_drops_exact_fraction_per_cluster(spark):
    """Per cluster of size n, exactly n // 5 members are dropped (the
    integer drop boundary), and the dropped set is the top of the
    prototypicality ranking."""
    import numpy as np

    from tastytrade_sdk_spark.llmops.cluster import prototypes_prune
    from tastytrade_sdk_spark.llmops.similarity import hyperplanes

    m = hyperplanes(4, 8, seed=7)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = prototypes_prune(df, m, drop_num=1, drop_den=5).collect()
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert sum(len(v) for v in by_cluster.values()) == 200
    for cid, members in by_cluster.items():
        n = len(members)
        assert all(r["n_members"] == n for r in members)
        dropped = [r for r in members if r["is_dropped"]]
        assert len(dropped) == n // 5
        # dropped = highest-similarity prefix of the rank order
        assert {r["proto_rank"] for r in dropped} == set(
            range(1, n // 5 + 1)
        )
        min_kept_sim = min(
            (r["proto_sim"] for r in members if not r["is_dropped"]),
            default=None,
        )
        if dropped and min_kept_sim is not None:
            assert min(r["proto_sim"] for r in dropped) >= min_kept_sim


def test_prototypes_prune_tiny_clusters_drop_nothing(spark):
    """Clusters with fewer than drop_den members have n // den == 0 —
    nothing dropped, no div-by-zero/edge crash."""
    import numpy as np

    from tastytrade_sdk_spark.llmops.cluster import prototypes_prune
    from tastytrade_sdk_spark.llmops.similarity import hyperplanes

    m = hyperplanes(3, 4, seed=9)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    # 3 vectors, each exactly on one centroid -> three 1-member clusters
    rows = [(i, [float(x) for x in m[i]]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = prototypes_prune(df, m, drop_num=1, drop_den=5).collect()
    assert len(out) == 3
    assert not any(r["is_dropped"] for r in out)


class TestPrioritySample:
    def _docs(self, spark):
        return spark.createDataFrame(
            [(i, "en" if i % 2 == 0 else "fr", 10 + 37 * (i % 13))
             for i in range(200)],
            "doc_id long, lang string, n_chars long",
        )

    def test_k_per_group_and_determinism(self, spark):
        from tastytrade_sdk_spark.llmops.pipeline import priority_sample

        out = priority_sample(
            self._docs(spark), ["lang"], "doc_id", "n_chars", k=5
        )
        rows = out.collect()
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r["lang"], []).append(r)
        assert set(by_lang) == {"en", "fr"}
        for lang, rs in by_lang.items():
            assert sorted(r["sample_rank"] for r in rs) == [1, 2, 3, 4, 5]
        again = priority_sample(
            self._docs(spark), ["lang"], "doc_id", "n_chars", k=5
        ).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    def test_matches_bruteforce_formula(self, spark):
        import hashlib

        from tastytrade_sdk_spark.llmops.pipeline import priority_sample

        docs = self._docs(spark)
        out = priority_sample(docs, ["lang"], "doc_id", "n_chars", k=5)
        got = {(r["lang"], r["doc_id"]) for r in out.collect()}
        prios = []
        for r in docs.collect():
            u = int(
                hashlib.md5(f"prio-v1:{r['doc_id']}".encode()).hexdigest()[:15],
                16,
            )
            prios.append((r["lang"], u // max(r["n_chars"], 1), r["doc_id"]))
        want = set()
        for lang in ("en", "fr"):
            top = sorted(p for p in prios if p[0] == lang)[:5]
            want |= {(lang, p[2]) for p in top}
        assert got == want

    def test_zero_weight_clamps(self, spark):
        from tastytrade_sdk_spark.llmops.pipeline import priority_sample

        docs = spark.createDataFrame(
            [(1, 0), (2, -3), (3, 5)], "doc_id long, w long"
        )
        rows = priority_sample(docs, [], "doc_id", "w", k=3).collect()
        used = {r["doc_id"]: r["weight_used"] for r in rows}
        assert used == {1: 1, 2: 1, 3: 5}

    def test_heavier_rows_oversampled(self, spark):
        from tastytrade_sdk_spark.llmops.pipeline import priority_sample

        # 500 light (w=1) vs 500 heavy (w=100) rows: the 100-row sample
        # should be overwhelmingly heavy rows
        docs = spark.createDataFrame(
            [(i, 1 if i < 500 else 100) for i in range(1000)],
            "doc_id long, w long",
        )
        rows = priority_sample(docs, [], "doc_id", "w", k=100).collect()
        heavy = sum(1 for r in rows if r["doc_id"] >= 500)
        assert heavy > 85


class TestUnimaxAllocation:
    def test_known_waterfill(self, spark):
        from tastytrade_sdk_spark.llmops.pipeline import unimax_allocation

        # capacities (epoch_cap=1): a=10, b=40, c=100; budget 60 ->
        # a capped at 10, remaining 50 split 25/25
        docs = spark.createDataFrame(
            [("a", 10), ("b", 40), ("c", 100)], "lang string, w long"
        )
        rows = {
            r["lang"]: r
            for r in unimax_allocation(
                docs, "lang", "w", total_budget=60, epoch_cap=1
            ).collect()
        }
        assert rows["a"]["allocated"] == 10 and rows["a"]["capped"]
        assert rows["b"]["allocated"] == 25 and not rows["b"]["capped"]
        assert rows["c"]["allocated"] == 25 and not rows["c"]["capped"]

    def test_remainder_distributed_exactly(self, spark):
        from tastytrade_sdk_spark.llmops.pipeline import unimax_allocation

        docs = spark.createDataFrame(
            [("a", 100), ("b", 100), ("c", 100)], "lang string, w long"
        )
        rows = unimax_allocation(
            docs, "lang", "w", total_budget=50, epoch_cap=1
        ).collect()
        allocs = sorted(r["allocated"] for r in rows)
        assert sum(allocs) == 50
        assert allocs == [16, 17, 17]

    def test_budget_exceeds_capacity(self, spark):
        from tastytrade_sdk_spark.llmops.pipeline import unimax_allocation

        docs = spark.createDataFrame(
            [("a", 5), ("b", 7)], "lang string, w long"
        )
        rows = {
            r["lang"]: r
            for r in unimax_allocation(
                docs, "lang", "w", total_budget=1000, epoch_cap=2
            ).collect()
        }
        assert rows["a"]["allocated"] == 10 and rows["a"]["capped"]
        assert rows["b"]["allocated"] == 14 and rows["b"]["capped"]


class TestSpanCorruptionPlan:
    def _plan(self, spark, texts):
        from tastytrade_sdk_spark.llmops.pipeline import span_corruption_plan

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        return span_corruption_plan(docs).collect()

    def test_spans_nonoverlapping_and_in_bounds(self, spark):
        words = " ".join(f"w{i}" for i in range(200))
        rows = sorted(
            self._plan(spark, [words]), key=lambda r: r["span_idx"]
        )
        # 200 tokens * 15% / 3 = 10 spans
        assert len(rows) == 10
        prev_end = 0
        for r in rows:
            assert r["start_tok"] >= prev_end
            assert r["len_tok"] == 3
            assert r["start_tok"] + r["len_tok"] <= 200
            prev_end = r["start_tok"] + r["len_tok"]

    def test_short_doc_no_rows(self, spark):
        # 19 tokens * 150 // 3000 = 0 spans
        rows = self._plan(spark, [" ".join(f"w{i}" for i in range(19))])
        assert rows == []

    def test_density_tracks_target(self, spark):
        words = " ".join(f"w{i}" for i in range(1000))
        rows = self._plan(spark, [words])
        covered = sum(r["len_tok"] for r in rows)
        assert covered == 150  # 1000 * 15% exactly, spans of 3


class TestHashedLinearScores:
    def test_score_matches_python_replication(self, spark):
        import hashlib

        from tastytrade_sdk_spark.llmops.pipeline import hashed_linear_scores

        texts = ["the quick brown fox", "one", ""]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_feats"], r["clf_score"], r["keep"])
            for r in hashed_linear_scores(docs).collect()
        }

        def h32(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

        for i, t in enumerate(texts):
            toks = [w for w in t.lower().split() if w]
            feats = toks + [
                f"{a} {b}" for a, b in zip(toks, toks[1:])
            ]
            score = sum(
                h32(f"qw-v1:w:{h32('qw-v1:' + x) % 1024}") % 16 - 8
                for x in feats
            )
            assert got[i] == (len(feats), score, score > 0)


class TestRendezvousShard:
    def test_minimal_movement_and_balance(self, spark):
        from tastytrade_sdk_spark.llmops.pipeline import rendezvous_shard

        docs = spark.createDataFrame(
            [(i,) for i in range(2000)], "doc_id long"
        )
        out = rendezvous_shard(docs, n_shards=8, out_col="s8")
        out = rendezvous_shard(out, n_shards=9, out_col="s9").collect()
        moved = sum(1 for r in out if r["s8"] != r["s9"])
        # HRW: expected 1/9 (~222 of 2000); hash-mod would move ~8/9
        assert moved < 2000 * 0.2
        # rows that move, move TO the new shard only
        for r in out:
            if r["s8"] != r["s9"]:
                assert r["s9"] == 8
        # rough balance at n=8: each shard within 2x of fair share
        from collections import Counter

        c = Counter(r["s8"] for r in out)
        assert set(c) == set(range(8))
        assert max(c.values()) < 2 * 2000 / 8

    def test_deterministic(self, spark):
        from tastytrade_sdk_spark.llmops.pipeline import rendezvous_shard

        docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
        a = rendezvous_shard(docs, n_shards=5).collect()
        b = rendezvous_shard(docs, n_shards=5).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_null_ids_get_null_shard(self, spark):
        from tastytrade_sdk_spark.llmops.pipeline import rendezvous_shard

        docs = spark.createDataFrame(
            [(1,), (None,), (2,)], "doc_id long"
        )
        rows = {r["doc_id"]: r["shard"] for r in
                rendezvous_shard(docs, n_shards=4).collect()}
        assert rows[None] is None
        assert rows[1] is not None and rows[2] is not None


class TestHashEmbedding:
    def test_matches_python_reference_and_is_order_free(self, spark):
        import hashlib

        from pyspark.sql import functions as F

        from tastytrade_sdk_spark.llmops.pipeline import hash_embedding

        words = ["spark", "query", "engine", "spark"]
        df = spark.createDataFrame([(words,), (list(reversed(words)),)], ["t"])
        got = [
            r.e for r in df.select(hash_embedding(F.col("t"), 4).alias("e")).collect()
        ]

        def comp(ws, j):
            return sum(
                int(hashlib.md5(f"{w}#{j}".encode()).hexdigest()[:8], 16)
                % 1000
                - 500
                for w in ws
            )

        want = [comp(words, j) for j in range(4)]
        assert got[0] == want
        assert got[1] == want  # integer sums: order-free

    def test_empty_tokens_is_zero_vector(self, spark):
        from pyspark.sql import functions as F

        from tastytrade_sdk_spark.llmops.pipeline import hash_embedding

        df = spark.createDataFrame([([],)], "t: array<string>")
        assert df.select(
            hash_embedding(F.col("t"), 3).alias("e")
        ).collect()[0].e == [0, 0, 0]


class TestScaleSafeRanking:
    """r10: the quality-gate family's single-partition windows were
    replaced by a two-level binned prefix (quality_threshold) and a
    distributed global row number + ntile closed form (quality_deciles).
    These tests pin the replacements to the exact semantics of the
    global-window forms they replaced."""

    def test_global_row_number_matches_global_window(self, spark):
        import random

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from tastytrade_sdk_spark.operators.scale import global_row_number

        rng = random.Random(7)
        # heavy ties: only 5 distinct values over 400 rows, so the
        # range partitioner must split same-value runs by the id
        # tiebreaker to stay balanced
        rows = [(i, rng.choice([0.1, 0.2, 0.2, 0.3, 0.9])) for i in range(400)]
        df = spark.createDataFrame(rows, "doc_id long, quality double")
        got = {
            r.doc_id: r["__rn"]
            for r in global_row_number(
                df, ["quality", "doc_id"], num_partitions=7
            ).collect()
        }
        w = Window.orderBy("quality", "doc_id")
        want = {
            r.doc_id: r.rn
            for r in df.select(
                "doc_id", F.row_number().over(w).alias("rn")
            ).collect()
        }
        assert got == want

    def test_decile_closed_form_matches_ntile(self, spark):
        """Every n in 1..25 plus a ragged 97: the closed form must
        reproduce F.ntile(10)'s first-(n%10)-tiles-are-bigger split
        exactly, including the n<10 degenerate tiles."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        for n in [*range(1, 26), 97]:
            df = spark.createDataFrame(
                [(i, float(i % 7)) for i in range(n)],
                "doc_id long, quality double",
            )
            w = Window.orderBy("quality", "doc_id")
            want = {
                r.doc_id: r.d
                for r in df.select(
                    "doc_id", F.ntile(10).over(w).alias("d")
                ).collect()
            }
            rn = df.select(
                "doc_id",
                F.row_number().over(w).cast("long").alias("__r"),
                F.lit(n).cast("long").alias("__n"),
            )
            got = {
                r.doc_id: r.d
                for r in rn.withColumn("__base", F.expr("__n div 10"))
                .withColumn("__rem", F.col("__n") % 10)
                .withColumn("__big", F.col("__base") + F.lit(1))
                .withColumn(
                    "d",
                    F.when(
                        F.col("__r") <= F.col("__rem") * F.col("__big"),
                        F.expr("(__r + __big - 1) div __big"),
                    )
                    .otherwise(
                        F.col("__rem")
                        + F.expr(
                            "(__r - __rem * __big + greatest(__base, 1) - 1)"
                            " div greatest(__base, 1)"
                        )
                    )
                    .cast("int"),
                )
                .collect()
            }
            assert got == want, f"n={n}"

    def test_quality_threshold_two_level_matches_bruteforce(self, spark):
        import math
        import random

        from pyspark.sql import functions as F

        from tastytrade_sdk_spark.llmops.pipeline import quality_threshold

        rng = random.Random(11)
        # scores clustered inside ONE coarse 3-dp bin (the skew case
        # the level-2 resolve exists for) plus a spread tail
        vals = [round(0.123 + rng.random() * 0.001, 6) for _ in range(300)]
        vals += [round(rng.random(), 6) for _ in range(200)]
        df = spark.createDataFrame([(v,) for v in vals], "quality double")
        for pct in (0.1, 0.25, 0.5, 0.9):
            got = quality_threshold(df, pct).collect()[0].threshold
            k = math.ceil(pct * len(vals))
            want = sorted(vals)[k - 1]
            assert got == want, f"pct={pct}: {got} != {want}"

    def test_quality_threshold_empty_is_null_row(self, spark):
        from tastytrade_sdk_spark.llmops.pipeline import quality_threshold

        df = spark.createDataFrame([], "quality double")
        rows = quality_threshold(df, 0.25).collect()
        assert len(rows) == 1 and rows[0].threshold is None
