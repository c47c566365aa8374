"""The one nearest-centroid scorer (llmops/similarity.py).

``centroid_scores`` splices a literal matrix into the plan;
``centroid_argmax`` picks the JVM expression form up to
``CENTROID_EXPR_MAX`` k·d and the Arrow matmul form above it;
``centroid_top_n`` is the expression form at every k.
IVF routing, the k-NN graph entry, k-means assignment, random
projection and the sign-LSH bucketer all score through it.
"""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

import tastytrade_sdk_spark
from tastytrade_sdk_spark.llmops import similarity as S

D = 16
SMALL_K = 8  # 128 literals: expression form
LARGE_K = S.CENTROID_EXPR_MAX // D + 4  # just past the constant: Arrow form


def _centroids(k: int, seed: int = 3) -> np.ndarray:
    return np.random.default_rng(seed).normal(size=(k, D))


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(150, D))
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )
    return mat, df


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("k", [SMALL_K, LARGE_K], ids=["expression", "arrow"])
def test_trained_routing_matches_numpy(vectors, k):
    mat, df = vectors
    cent = _centroids(k)
    scores = mat @ cent.T
    got = (
        df.select(
            "vec_id",
            S._ivf_assign_col(cent)(F.col("embedding")).alias("a"),
            S._ivf_probe_col(cent, 4)(F.col("embedding")).alias("p"),
        )
        .orderBy("vec_id")
        .collect()
    )
    assert [r["a"] for r in got] == np.argmax(scores, axis=1).tolist()
    want = np.argsort(-scores, axis=1, kind="stable")[:, :4]
    assert [r["p"] for r in got] == want.tolist()


@pytest.mark.parametrize(
    "form", [S._argmax_expr, S._argmax_arrow], ids=["expression", "arrow"]
)
def test_argmax_rejects_dimension_mismatch(spark, form):
    # a null component does not hide the wrong length
    df = spark.createDataFrame(
        [(1, [1.0] * (D - 2) + [None])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match=f"vector length {D - 1} is not the matrix dimension {D}"):
        df.select(form(F.col("embedding"), _centroids(SMALL_K))["i"]).collect()


def test_top_n_rejects_dimension_mismatch(spark):
    df = spark.createDataFrame([(1, [1.0] * (D + 2))], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match=f"vector length {D + 2} is not the matrix dimension {D}"):
        df.select(S.centroid_top_n(F.col("embedding"), _centroids(SMALL_K), 3)).collect()


@pytest.mark.parametrize("bad", [np.nan, np.inf, -np.inf])
@pytest.mark.parametrize(
    "build",
    [
        lambda m: S.centroid_scores(F.col("v"), m),
        lambda m: S._argmax_arrow(F.col("v"), m),
    ],
    ids=["scores", "argmax_arrow"],
)
def test_non_finite_matrix_raises_when_built(spark, build, bad):
    m = _centroids(SMALL_K)
    m[2, 5] = bad
    with pytest.raises(ValueError, match="matrix of finite values"):
        build(m)


def test_nan_and_null_vectors_agree_across_forms(spark):
    nan_vec = [1.0] * D
    nan_vec[3] = float("nan")
    hole_vec = [1.0] * D
    hole_vec[2] = None
    df = spark.createDataFrame(
        [(0, nan_vec), (1, None), (2, hole_vec)],
        "vec_id long, embedding array<double>",
    )
    cent = _centroids(SMALL_K)
    v = F.col("embedding")
    rows = (
        df.select(
            "vec_id",
            S._argmax_expr(v, cent, 8).alias("ae"),
            S._argmax_arrow(v, cent, 8).alias("aa"),
            S.centroid_top_n(v, cent, 3).alias("t"),
        )
        .orderBy(F.col("vec_id"))
        .collect()
    )
    nan_row, null_row, hole_row = rows
    # every dot of a NaN-component vector is NaN: the first row wins
    assert nan_row["ae"]["i"] == nan_row["aa"]["i"] == 0
    assert np.isnan(nan_row["ae"]["v"]) and np.isnan(nan_row["aa"]["v"])
    assert nan_row["t"] == [0, 1, 2]
    # a null vector, or one with a null component, has no nearest row
    for row in (null_row, hole_row):
        assert row["ae"]["i"] is None and row["aa"]["i"] is None
        assert row["ae"]["v"] is None and row["aa"]["v"] is None
        assert row["t"] is None


def test_form_flips_at_the_constant(vectors):
    _, df = vectors
    at = S.CENTROID_EXPR_MAX // D
    for k, arrow in ((at, False), (at + 1, True)):
        out = df.select(S.centroid_argmax(F.col("embedding"), _centroids(k))["i"].alias("c"))
        out.collect()
        assert ("ArrowEvalPython" in _plan(out)) is arrow, (k, D)


def test_top_n_stays_an_expression_above_the_constant(vectors):
    _, df = vectors
    out = df.select(S.centroid_top_n(F.col("embedding"), _centroids(LARGE_K), 2).alias("c"))
    out.collect()
    assert "ArrowEvalPython" not in _plan(out)


@pytest.mark.parametrize("case", ["argmax", "kmeans_assign"])
def test_both_forms_agree_on_shared_small_k(vectors, case):
    """The Arrow matmul form and the spliced-literal expression form
    give the same answers on one shared small k. The kmeans_assign
    case scores the unit vector with rounded dots, as kmeans_assign
    does."""
    _, df = vectors
    cent = _centroids(SMALL_K)
    if case == "kmeans_assign":
        cent = cent / np.linalg.norm(cent, axis=1, keepdims=True)
        df = S.with_unit_vector(df)
        v, expr, arrow = F.col("__unit"), S._argmax_expr, S._argmax_arrow
        args = (8,)
    else:
        v, expr, arrow, args = F.col("embedding"), S._argmax_expr, S._argmax_arrow, ()
    rows = df.select(
        expr(v, cent, *args).alias("e"), arrow(v, cent, *args).alias("a")
    ).collect()
    assert [r["e"]["i"] for r in rows] == [r["a"]["i"] for r in rows]
    np.testing.assert_allclose(
        [r["e"]["v"] for r in rows], [r["a"]["v"] for r in rows], atol=1e-8
    )


def test_kmeans_assign_keeps_its_contract(vectors):
    from tastytrade_sdk_spark.llmops.cluster import kmeans_assign

    mat, df = vectors
    cent = _centroids(SMALL_K)
    cent = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    out = kmeans_assign(df, cent, keep_sim=True)
    assert out.columns == ["vec_id", "embedding", "__unit", "__cluster", "__sim"]
    rows = out.orderBy("vec_id").collect()
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    s = np.round(unit @ cent.T, 8)
    assert [r["__cluster"] for r in rows] == np.argmax(s, axis=1).tolist()
    np.testing.assert_allclose([r["__sim"] for r in rows], s.max(axis=1), atol=1e-8)


def test_plan_holds_each_literal_row_once(vectors):
    _, df = vectors
    cent = _centroids(SMALL_K)
    first = repr(float(cent[0, 0]))
    for out in (
        df.select(S._ivf_assign_col(cent)(F.col("embedding")).alias("a")),
        df.select(S._ivf_probe_col(cent, 3)(F.col("embedding")).alias("p")),
    ):
        out.collect()
        assert _plan(out).count(first) == 1


@pytest.mark.parametrize("search", ["ivf_topk", "ann_recall_curve"])
def test_trained_ivf_assigns_each_corpus_row_once(vectors, search):
    """The list join must not infer a null guard on the corpus-side
    assign fold: pushed to the scan, it evaluated the fold a second
    time per row (Filter beside the Project)."""
    _, df = vectors
    cent = _centroids(SMALL_K)
    queries = df.limit(5).withColumnRenamed("vec_id", "query_id")
    out = getattr(S, search)(df, queries, centroids=cent, k=3)
    out.collect()
    final = _plan(out).split("== Initial Plan ==")[0]
    first = repr(float(cent[0, 0]))
    corpus_side = [
        line for line in final.splitlines()
        if first in line and "(embedding#" in line
    ]
    assert len(corpus_side) == 1, corpus_side


# ---------------- single-scorer source guard ----------------

ROOT = Path(tastytrade_sdk_spark.__file__).resolve().parent.parent
GONE = {"_centroid_dots", "_dot_lit_sql", "kmeans_assign_kernel", "use_kernel"}


def test_one_literal_matrix_splice():
    """``_f64_lit`` is used only inside ``centroid_scores``, and none
    of the retired per-site scorers or options remain."""
    uses, leftovers = [], []

    def visit(node, rel, func):
        for child in ast.iter_child_nodes(node):
            inner = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            # a load of the name, or an import of it
            name = (
                child.id if isinstance(child, ast.Name)
                else child.name if isinstance(child, ast.alias) else None
            )
            if name == "_f64_lit" and func != "centroid_scores":
                uses.append(f"{rel}:{child.lineno} in {func}")
            visit(child, rel, inner)

    for top in ("tastytrade_sdk_spark", "tools"):
        for f in sorted((ROOT / top).rglob("*.py")):
            rel, text = f.relative_to(ROOT).as_posix(), f.read_text()
            visit(ast.parse(text), rel, None)
            leftovers += [f"{rel}: {g}" for g in sorted(GONE) if g in text]
    assert uses == []
    assert leftovers == []
