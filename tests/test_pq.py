"""Product quantization: encode parity, ADC search, training."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tastytrade_sdk_spark.llmops.similarity import (
    _adc_score_topk,
    pq_adc_topk,
    pq_codebooks,
    pq_dist_sql,
    pq_encode_expr,
    pq_encode_kernel,
    pq_train_codebooks,
)

DIM = 64


def _emb_df(spark, mat):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(mat)]
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def clustered(spark):
    """3 tight gaussian clusters — ANN ground truth is unambiguous."""
    rng = np.random.default_rng(11)
    centers = rng.normal(0, 2.0, size=(3, DIM))
    mat = np.vstack(
        [c + rng.normal(0, 0.05, size=(20, DIM)) for c in centers]
    )
    return _emb_df(spark, mat), mat


def test_kernel_equals_expression(clustered):
    df, _ = clustered
    cb = pq_codebooks()
    e = df.select(
        "vec_id", pq_encode_expr("embedding", cb).alias("c")
    ).collect()
    k = df.select(
        "vec_id", pq_encode_kernel(cb)(F.col("embedding")).alias("c")
    ).collect()
    assert {r.vec_id: r.c for r in e} == {r.vec_id: r.c for r in k}


def test_codes_in_range(clustered):
    df, _ = clustered
    cb = pq_codebooks()
    m, ksub, _ = cb.shape
    for r in df.select(pq_encode_expr("embedding", cb).alias("c")).collect():
        assert len(r.c) == m
        assert all(0 <= x < ksub for x in r.c)


def test_train_codebooks_shape_and_quality(clustered):
    df, mat = clustered
    cb = pq_train_codebooks(df, m=8, ksub=4, sample=100, seed=3)
    assert cb.shape == (8, 4, 8)

    def mse(codebooks):
        total = 0.0
        for j in range(8):
            x = mat[:, j * 8 : (j + 1) * 8]
            d = ((x[:, None, :] - codebooks[j][None]) ** 2).sum(-1)
            total += d.min(axis=1).sum()
        return total / mat.size

    # trained codebooks reconstruct better than seeded random ones
    assert mse(cb) < mse(pq_codebooks(m=8, ksub=4, dsub=8))


def test_adc_top1_is_same_cluster(clustered):
    df, _ = clustered
    cb = pq_train_codebooks(df, m=8, ksub=16, sample=100)
    queries = df.filter(F.col("vec_id").isin(0, 25, 45)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_adc_topk(df, queries, cb, k=1).collect()
    assert len(out) == 3
    for r in out:
        assert r.query_id // 20 == r.vec_id // 20  # same cluster block
        assert r.vec_id != r.query_id


def test_adc_kernel_path_identical(clustered):
    df, _ = clustered
    cb = pq_codebooks()
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = pq_adc_topk(df, q, cb, k=5).collect()
    # the same ADC tail over codes from the expression encode
    codes = df.select("vec_id", pq_encode_expr("embedding", cb).alias("__codes"))
    qt = q.select(
        "query_id",
        *[
            F.expr("array(" + ", ".join(pq_dist_sql("embedding", cb, j, "spark")) + ")")
            .alias(f"__t{j}")
            for j in range(cb.shape[0])
        ],
    )
    b = _adc_score_topk(
        codes.crossJoin(qt), cb.shape[0], 5, "vec_id", "query_id", 6
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestIvfPq:
    def test_full_probe_equals_flat_adc(self, spark, clustered):
        """With nprobe = n_lists the routing excludes nothing, so
        IVF-PQ must equal flat ADC exactly."""
        from tastytrade_sdk_spark.llmops.similarity import (
            axis_centroids,
            ivf_pq_topk,
        )

        df, _ = clustered
        cb = pq_codebooks()
        q = df.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        a = ivf_pq_topk(
            df, q, axis_centroids(8, DIM), cb, k=5, nprobe=8
        ).collect()
        b = pq_adc_topk(df, q, cb, k=5).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_probed_lists_bound_candidates(self, spark, clustered):
        """Results only contain docs from the query's probed lists."""
        from tastytrade_sdk_spark.llmops.similarity import (
            axis_centroids,
            ivf_pq_topk,
        )

        df, mat = clustered
        cent = axis_centroids(8, DIM)
        cb = pq_codebooks()
        q = df.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ivf_pq_topk(df, q, cent, cb, k=50, nprobe=2).collect()
        import numpy as np

        norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        assign = np.argmax(norm @ cent.T, axis=1)
        probed = set(
            np.argsort(-(norm[0] @ cent.T), kind="stable")[:2].tolist()
        )
        for r in out:
            assert assign[r.vec_id] in probed


def test_train_small_sample_has_no_origin_codewords(spark, clustered):
    """Sample smaller than ksub: untrained slots are filled by cycling
    trained centroids, never left at the origin (an all-zero codeword
    would win encoding argmin for near-origin subvectors)."""
    df, _ = clustered
    cb = pq_train_codebooks(
        df.filter(F.col("vec_id") < 6), m=8, ksub=16, sample=6
    )
    assert cb.shape == (8, 16, 8)
    norms = np.linalg.norm(cb, axis=2)  # (m, ksub)
    assert (norms > 0).all()
