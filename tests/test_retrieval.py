"""Lexical retrieval (BM25 inverted index) + C4 line filters."""

import math

import pytest
from pyspark.sql import functions as F

from tastytrade_sdk_spark.llmops.retrieval import (
    bm25_topk,
    build_postings,
    doc_lengths,
)
from tastytrade_sdk_spark.llmops.textops import c4_line_flags

CORPUS = [
    (0, "spark query engine with fast joins"),
    (1, "spark query engine with fast scans and fast joins"),
    (2, "slow table scans and window functions"),
    (3, "the lazy dog sleeps"),
    (4, "query planning for spark joins"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


class TestPostings:
    def test_postings_tf(self, corpus):
        rows = {
            (r.term, r.doc_id): r.tf
            for r in build_postings(corpus).collect()
        }
        assert rows[("fast", 1)] == 2
        assert rows[("spark", 0)] == 1
        assert ("dog", 3) in rows

    def test_doc_lengths(self, corpus):
        dl = {r.doc_id: r.dl for r in doc_lengths(corpus).collect()}
        assert dl[0] == 6 and dl[3] == 4


def _bm25_brute(query_terms, corpus, k1=1.2, b=0.75):
    """Plain-Python BM25 replay (same rounding discipline)."""
    toks = {d: t.lower().split() for d, t in corpus}
    n = len(toks)
    avgdl = round(sum(len(v) for v in toks.values()) / n, 6)
    scores = {}
    for term in set(query_terms):
        df = sum(1 for t in toks.values() if term in t)
        if df == 0:
            continue
        idf = round(math.log((n - df + 0.5) / (df + 0.5) + 1.0), 6)
        for d, t in toks.items():
            tf = t.count(term)
            if tf == 0:
                continue
            tfn = round(
                tf * (k1 + 1.0)
                / (tf + k1 * (1.0 - b + b * len(t) / avgdl)),
                6,
            )
            scores[d] = scores.get(d, 0.0) + round(idf * tfn, 6)
    return scores


class TestBM25:
    def test_matches_brute_force(self, corpus):
        out = bm25_topk(
            corpus, corpus.filter(F.col("doc_id") == 0), k=10
        ).collect()
        expected = _bm25_brute(CORPUS[0][1].split(), CORPUS)
        expected.pop(0, None)  # self excluded
        got = {r.doc_id: r.bm25 for r in out}
        assert set(got) == set(expected)
        for d, s in expected.items():
            assert got[d] == pytest.approx(s, abs=1e-9)

    def test_ranks_are_dense_and_ordered(self, corpus):
        out = bm25_topk(corpus, corpus.filter(F.col("doc_id") < 2), k=3)
        rows = sorted(
            out.collect(), key=lambda r: (r.query_id, r.rank)
        )
        for q in {r.query_id for r in rows}:
            qr = [r for r in rows if r.query_id == q]
            assert [r.rank for r in qr] == list(range(1, len(qr) + 1))
            scores = [r.bm25 for r in qr]
            assert scores == sorted(scores, reverse=True)

    def test_self_match_excluded(self, corpus):
        out = bm25_topk(corpus, corpus, k=10).collect()
        assert all(r.query_id != r.doc_id for r in out)


C4_DOCS = [
    # 0: clean page — 3 good lines
    (0, "The first line has enough words here.\n"
        "Another line with plenty of words too!\n"
        "A third good line ends with a question mark?"),
    # 1: only 2 lines survive -> page dropped by the 3-line floor
    (1, "The first line has enough words here.\n"
        "short line.\n"
        "no terminal punctuation on this long line\n"
        "Another line with plenty of words too."),
    # 2: javascript line removed, page keeps 3 others
    (2, "Please enable JavaScript to view comments.\n"
        "The first line has enough words here.\n"
        "Another line with plenty of words too!\n"
        "A third good line ends with a period."),
    # 3: curly brace -> page dropped outright
    (3, "The first line has enough words here.\n"
        "function f() { return 1; }\n"
        "Another line with plenty of words too.\n"
        "A third good line ends with a period."),
    # 4: lorem ipsum -> dropped
    (4, "Lorem ipsum dolor sit amet something.\n"
        "Another line with plenty of words too.\n"
        "A third good line ends with a period."),
    # 5: whitespace-padded lines are trimmed before the rules
    (5, "   The first line has enough words here.   \n"
        "\tAnother line with plenty of words too!\t\n"
        "A third good line ends with a period."),
]


class TestC4LineFlags:
    @pytest.fixture(scope="class")
    def flagged(self, spark):
        df = spark.createDataFrame(C4_DOCS, ["doc_id", "text"])
        flags = c4_line_flags(F.col("text"))
        return {
            r.doc_id: r
            for r in df.select(
                "doc_id", *[v.alias(n) for n, v in flags.items()]
            ).collect()
        }

    def test_clean_page_kept(self, flagged):
        r = flagged[0]
        assert r.keep and r.n_kept_lines == 3 and r.n_lines == 3
        assert r.cleaned_text.count("\n") == 2

    def test_three_line_floor(self, flagged):
        r = flagged[1]
        assert not r.keep and r.n_kept_lines == 2
        assert r.cleaned_text is None

    def test_javascript_line_removed(self, flagged):
        r = flagged[2]
        assert r.keep and r.n_kept_lines == 3
        assert "javascript" not in r.cleaned_text.lower()

    def test_brace_page_dropped(self, flagged):
        r = flagged[3]
        assert r.drop_brace and not r.keep
        # line rules still counted even though the page is dropped
        assert r.n_kept_lines >= 3

    def test_lorem_page_dropped(self, flagged):
        assert flagged[4].drop_lorem and not flagged[4].keep

    def test_lines_trimmed(self, flagged):
        r = flagged[5]
        assert r.keep and r.n_kept_lines == 3
        for line in r.cleaned_text.split("\n"):
            assert line == line.strip()


class TestPersistedIndex:
    """Index-as-table lifecycle: write, pruned search, append."""

    @pytest.fixture(scope="class")
    def indexed(self, spark, tmp_path_factory):
        from tastytrade_sdk_spark.llmops.retrieval import bm25_index_write

        corpus = spark.createDataFrame(CORPUS, ["doc_id", "text"])
        path = str(tmp_path_factory.mktemp("bm25") / "idx")
        stats = bm25_index_write(corpus, path, n_buckets=8)
        return corpus, path, stats

    def test_stats_exact(self, indexed):
        corpus, path, stats = indexed
        assert stats["n_docs"] == len(CORPUS)
        assert stats["sum_dl"] == sum(len(t.split()) for _, t in CORPUS)

    def test_search_equals_in_memory(self, spark, indexed):
        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_topk,
            bm25_topk,
        )

        corpus, path, _ = indexed
        q = corpus.filter(F.col("doc_id") < 2)
        a = bm25_index_topk(spark, path, q, k=4).collect()
        b = bm25_topk(corpus, q, k=4).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_search_reads_only_probed_buckets(self, spark, indexed):
        """The postings scan must carry a dynamic PARTITION filter on
        bucket (directory-level elimination — inputFiles() reports the
        unpruned relation listing, so the executed plan is the right
        witness; same idiom as the IVF index pruning test). DPP always
        adds isnotnull(bucket), and a pruning filter it dropped reads
        dynamicpruningexpression(true). The search is one lazy plan, so
        the scan sits in the result's own plan;
        tests/test_lazy_index_search.py checks what it read."""
        import re

        from tastytrade_sdk_spark.llmops.retrieval import bm25_index_topk

        corpus, path, _ = indexed
        q = corpus.filter(F.col("doc_id") == 3)  # "the lazy dog sleeps"
        got = bm25_index_topk(spark, path, q, k=4)
        got.collect()
        plan = got._jdf.queryExecution().executedPlan().toString()
        pf = [f for f in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
              if "bucket" in f]
        assert pf, plan[:2000]
        for f in pf:
            assert "dynamicpruningexpression(" in f, f
            assert "dynamicpruningexpression(true)" not in f, f

    def test_append_equals_one_shot_build(self, spark, tmp_path):
        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_append,
            bm25_index_topk,
            bm25_index_write,
        )

        full = spark.createDataFrame(CORPUS, ["doc_id", "text"])
        q = full.filter(F.col("doc_id") < 2)

        one_shot = str(tmp_path / "one")
        bm25_index_write(full, one_shot, n_buckets=8)
        a = bm25_index_topk(spark, one_shot, q, k=4).collect()

        grown = str(tmp_path / "grown")
        bm25_index_write(
            full.filter(F.col("doc_id") < 3), grown, n_buckets=8
        )
        stats = bm25_index_append(
            full.filter(F.col("doc_id") >= 3), grown
        )
        b = bm25_index_topk(spark, grown, q, k=4).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert stats["n_docs"] == len(CORPUS)


class TestStreamedIndex:
    """bm25_index_sink: epoch-partitioned, replay-idempotent index
    maintenance from a document stream."""

    def _schema(self):
        return "doc_id long, text string"

    def test_streamed_index_equals_in_memory(self, spark, tmp_path):
        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_sink,
            bm25_index_topk,
            bm25_topk,
        )

        src = str(tmp_path / "src")
        idx = str(tmp_path / "idx")
        half = [r for r in CORPUS if r[0] % 2 == 0]
        rest = [r for r in CORPUS if r[0] % 2 == 1]
        spark.createDataFrame(half, self._schema()).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema(self._schema()).parquet(src)
        q = bm25_index_sink(
            stream, idx, str(tmp_path / "ckpt"), n_buckets=8
        ).trigger(availableNow=True).start()
        q.awaitTermination()
        spark.createDataFrame(rest, self._schema()).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = bm25_index_sink(
            spark.readStream.schema(self._schema()).parquet(src),
            idx,
            str(tmp_path / "ckpt"),
            n_buckets=8,
        ).trigger(availableNow=True).start()
        q.awaitTermination()

        full = spark.createDataFrame(CORPUS, self._schema())
        queries = full.filter(F.col("doc_id") < 2)
        a = bm25_index_topk(spark, idx, queries, k=4).collect()
        b = bm25_topk(full, queries, k=4).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_replayed_epoch_converges(self, spark, tmp_path):
        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_stream_batch,
            bm25_index_topk,
        )

        idx = str(tmp_path / "idx")
        full = spark.createDataFrame(CORPUS, self._schema())
        bm25_index_stream_batch(full, idx, epoch_id=0, n_buckets=8)
        queries = full.filter(F.col("doc_id") < 2)
        once = bm25_index_topk(spark, idx, queries, k=4).collect()
        # crash/replay: the SAME epoch folds in again
        bm25_index_stream_batch(full, idx, epoch_id=0, n_buckets=8)
        twice = bm25_index_topk(spark, idx, queries, k=4).collect()
        assert sorted(map(tuple, once)) == sorted(map(tuple, twice))

    def test_empty_batch_keeps_index_searchable(self, spark, tmp_path):
        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_stream_batch,
            bm25_index_topk,
        )

        idx = str(tmp_path / "idx")
        full = spark.createDataFrame(CORPUS, self._schema())
        bm25_index_stream_batch(full, idx, epoch_id=0, n_buckets=8)
        empty = spark.createDataFrame([], self._schema())
        bm25_index_stream_batch(empty, idx, epoch_id=1, n_buckets=8)
        queries = full.filter(F.col("doc_id") < 2)
        out = bm25_index_topk(spark, idx, queries, k=4).collect()
        assert len(out) > 0

    def test_n_buckets_mismatch_refused_before_any_write(
        self, spark, tmp_path
    ):
        import os

        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_stream_batch,
        )

        idx = str(tmp_path / "idx")
        full = spark.createDataFrame(CORPUS, self._schema())
        bm25_index_stream_batch(full, idx, epoch_id=0, n_buckets=8)
        before = sorted(os.listdir(os.path.join(idx, "postings")))
        with pytest.raises(ValueError, match="n_buckets=8"):
            bm25_index_stream_batch(full, idx, epoch_id=1, n_buckets=16)
        # nothing landed under the wrong modulus
        assert sorted(os.listdir(os.path.join(idx, "postings"))) == before

    def test_layout_committed_before_first_data_write(
        self, spark, tmp_path, monkeypatch
    ):
        """A crash DURING the first epoch's data writes must still
        leave _layout.json committed, so a sink restart with a
        DIFFERENT n_buckets refuses instead of replaying the epoch
        under a new modulus (which would leave ghost old-modulus
        bucket dirs that double-count df/scores at search time)."""
        import os

        from tastytrade_sdk_spark.llmops import retrieval

        idx = str(tmp_path / "idx")
        full = spark.createDataFrame(CORPUS, self._schema())

        def boom(*a, **kw):
            raise RuntimeError("simulated crash before any data write")

        monkeypatch.setattr(retrieval, "build_postings", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            retrieval.bm25_index_stream_batch(full, idx, 0, n_buckets=8)
        # the layout stamp survived the crash...
        assert os.path.exists(os.path.join(idx, "_layout.json"))
        monkeypatch.undo()
        # ...so a restart with a different modulus refuses outright
        with pytest.raises(ValueError, match="n_buckets=8"):
            retrieval.bm25_index_stream_batch(full, idx, 0, n_buckets=16)
        # and the replay with the COMMITTED modulus heals the index
        retrieval.bm25_index_stream_batch(full, idx, 0, n_buckets=8)
        q = full.filter(F.col("doc_id") < 2)
        out = retrieval.bm25_index_topk(spark, idx, q, k=4).collect()
        assert len(out) > 0

    def test_all_empty_index_returns_empty_result(self, spark, tmp_path):
        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_stream_batch,
            bm25_index_topk,
        )

        idx = str(tmp_path / "idx")
        empty = spark.createDataFrame([], self._schema())
        bm25_index_stream_batch(empty, idx, epoch_id=0, n_buckets=8)
        queries = spark.createDataFrame(CORPUS[:2], self._schema())
        out = bm25_index_topk(spark, idx, queries, k=4)
        assert out.collect() == []
        assert out.columns == ["query_id", "rank", "doc_id", "bm25"]

    def test_compact_streamed_index_to_batch_layout(self, spark, tmp_path):
        """OPTIMIZE: epoch layout -> batch layout; identical search
        results, append works again afterwards."""
        import os

        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_append,
            bm25_index_compact,
            bm25_index_stream_batch,
            bm25_index_topk,
            bm25_topk,
        )

        idx = str(tmp_path / "idx")
        full = spark.createDataFrame(CORPUS, self._schema())
        bm25_index_stream_batch(
            full.filter(F.col("doc_id") < 2), idx, 0, n_buckets=8
        )
        bm25_index_stream_batch(
            full.filter((F.col("doc_id") >= 2) & (F.col("doc_id") < 4)),
            idx,
            1,
            n_buckets=8,
        )
        q = full.filter(F.col("doc_id") < 2)
        before = sorted(
            map(tuple, bm25_index_topk(spark, idx, q, k=4).collect())
        )
        stats = bm25_index_compact(spark, idx)
        assert stats["n_docs"] == 4
        assert os.path.exists(os.path.join(idx, "_stats.json"))
        assert not os.path.exists(idx + ".__old")
        after = sorted(
            map(tuple, bm25_index_topk(spark, idx, q, k=4).collect())
        )
        assert after == before
        # batch append path works on the compacted index
        bm25_index_append(full.filter(F.col("doc_id") == 4), idx)
        grown = bm25_index_topk(spark, idx, q, k=5)
        ref = bm25_topk(full, q, k=5)
        assert sorted(map(tuple, grown.collect())) == sorted(
            map(tuple, ref.collect())
        )

    def test_stream_into_batch_layout_refused(self, spark, tmp_path):
        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_stream_batch,
            bm25_index_write,
        )

        idx = str(tmp_path / "idx")
        full = spark.createDataFrame(CORPUS, self._schema())
        bm25_index_write(full, idx, n_buckets=8)
        with pytest.raises(ValueError, match="batch-layout"):
            bm25_index_stream_batch(full, idx, epoch_id=0, n_buckets=8)

    def test_compact_all_empty_index_is_noop(self, spark, tmp_path):
        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_compact,
            bm25_index_stream_batch,
        )

        idx = str(tmp_path / "idx")
        empty = spark.createDataFrame([], self._schema())
        bm25_index_stream_batch(empty, idx, epoch_id=0, n_buckets=8)
        assert bm25_index_compact(spark, idx)["n_docs"] == 0

    def test_search_falls_back_to_old_during_swap(self, spark, tmp_path):
        import os

        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_topk,
            bm25_index_write,
        )

        idx = str(tmp_path / "idx")
        full = spark.createDataFrame(CORPUS, self._schema())
        bm25_index_write(full, idx, n_buckets=8)
        q = full.filter(F.col("doc_id") < 2)
        want = sorted(map(tuple, bm25_index_topk(spark, idx, q, k=4).collect()))
        os.rename(idx, idx + ".__old")  # compactor crashed mid-swap
        got = sorted(map(tuple, bm25_index_topk(spark, idx, q, k=4).collect()))
        assert got == want

    def test_recompaction_of_batch_layout_works(self, spark, tmp_path):
        from tastytrade_sdk_spark.llmops.retrieval import (
            bm25_index_compact,
            bm25_index_stream_batch,
            bm25_index_topk,
        )

        idx = str(tmp_path / "idx")
        full = spark.createDataFrame(CORPUS, self._schema())
        bm25_index_stream_batch(full, idx, epoch_id=0, n_buckets=8)
        bm25_index_compact(spark, idx)
        stats = bm25_index_compact(spark, idx)  # idempotent re-run
        assert stats["n_docs"] == len(CORPUS)
        q = full.filter(F.col("doc_id") < 2)
        assert len(bm25_index_topk(spark, idx, q, k=4).collect()) > 0


class TestRRFFusion:
    def test_known_fusion(self, spark):
        """Hand-computed RRF on two 3-doc rankings."""
        from tastytrade_sdk_spark.llmops.retrieval import rrf_fuse

        lex = spark.createDataFrame(
            [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
            "query_id long, doc_id long, rank long",
        )
        dense = spark.createDataFrame(
            [(0, 11, 1), (0, 13, 2), (0, 10, 3)],
            "query_id long, doc_id long, rank long",
        )
        out = {
            r["doc_id"]: r
            for r in rrf_fuse(
                {"lex": lex, "dense": dense}, k_rrf=60, topk=4
            ).collect()
        }
        # doc 11: 1/62 + 1/61; doc 10: 1/61 + 1/63; doc 12: 1/63; doc 13: 1/62
        assert out[11]["rrf_score"] == round(
            round(1 / 62, 6) + round(1 / 61, 6), 6
        )
        assert out[11]["fused_rank"] == 1
        assert out[10]["fused_rank"] == 2
        assert out[12]["lex_rank"] == 3 and out[12]["dense_rank"] is None
        assert out[13]["dense_rank"] == 2 and out[13]["lex_rank"] is None

    def test_single_side_passthrough_and_ties(self, spark):
        """One retriever only: fused order == its order; equal scores
        tie-break by ascending doc id."""
        from tastytrade_sdk_spark.llmops.retrieval import rrf_fuse

        lex = spark.createDataFrame(
            [(0, 7, 1), (0, 3, 2), (1, 9, 1), (1, 2, 1)],
            "query_id long, doc_id long, rank long",
        )
        rows = rrf_fuse({"lex": lex}, topk=5).collect()
        q0 = sorted(
            [r for r in rows if r["query_id"] == 0],
            key=lambda r: r["fused_rank"],
        )
        assert [r["doc_id"] for r in q0] == [7, 3]
        q1 = sorted(
            [r for r in rows if r["query_id"] == 1],
            key=lambda r: r["fused_rank"],
        )
        # same rank => same score => id tiebreak
        assert [r["doc_id"] for r in q1] == [2, 9]

    def test_rrf_single_empty_side(self, spark):
        """An empty retriever contributes nothing but breaks nothing."""
        from tastytrade_sdk_spark.llmops.retrieval import rrf_fuse

        lex = spark.createDataFrame(
            [(0, 7, 1)], "query_id long, doc_id long, rank long"
        )
        dense = lex.filter("1 = 0")
        rows = rrf_fuse({"lex": lex, "dense": dense}, topk=5).collect()
        assert len(rows) == 1
        assert rows[0]["doc_id"] == 7 and rows[0]["dense_rank"] is None
