"""Distance kernels vs numpy ground truth (semantic spec:
reference ``app/core/indexers/indexer.py:89-130``)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import inmem_vector_db_spark.functions.distance as D


def np_metric(metric: str, q: np.ndarray, v: np.ndarray) -> float:
    # Mirrors reference indexer.py:106-130.
    if metric == "euclidean":
        return float(np.linalg.norm(q - v))
    if metric == "cosine":
        nq, nv = np.linalg.norm(q), np.linalg.norm(v)
        if nq == 0 or nv == 0:
            return 1.0
        return float(1.0 - np.dot(q, v) / (nq * nv))
    if metric == "dot_product":
        return float(-np.dot(q, v))
    if metric == "manhattan":
        return float(np.abs(q - v).sum())
    raise ValueError(metric)


@pytest.mark.parametrize("metric", ["euclidean", "cosine", "dot_product", "manhattan"])
def test_metric_matches_numpy(spark, metric):
    rng = np.random.default_rng(42)
    q = rng.normal(size=16)
    vs = rng.normal(size=(20, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vs[i]]) for i in range(len(vs))], "id int, v array<double>"
    )
    qlit = [float(x) for x in q]
    got = {
        r["id"]: r["d"]
        for r in df.select("id", D.distance(metric, qlit, "v").alias("d")).collect()
    }
    for i in range(len(vs)):
        assert got[i] == pytest.approx(np_metric(metric, q, vs[i]), abs=1e-9)
    # the numpy twin agrees with the SQL expression
    row = D.distance_matrix(metric, q[None, :], vs)[0]
    assert row.shape == (len(vs),)
    for i in range(len(vs)):
        assert row[i] == pytest.approx(got[i], abs=1e-12)


def test_cosine_zero_norm_guard(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0]), (2, [1.0, 0.0])], "id int, v array<double>")
    qlit = [1.0, 1.0]
    got = {r["id"]: r["d"] for r in df.select("id", D.distance("cosine", qlit, "v").alias("d")).collect()}
    assert got[1] == 1.0  # zero-norm vector => distance 1.0 (indexer.py:118-120)
    # and zero-norm QUERY => 1.0 for everything
    z = df.select(D.distance("cosine", [0.0, 0.0], "v").alias("d")).collect()
    assert all(r["d"] == 1.0 for r in z)
    # the numpy twin keeps the same rule: zero row, then zero query
    vs = np.array([[0.0, 0.0], [1.0, 0.0]])
    assert D.distance_matrix("cosine", np.array([[1.0, 1.0]]), vs)[0, 0] == 1.0
    assert (D.distance_matrix("cosine", np.zeros((1, 2)), vs) == 1.0).all()
    with pytest.raises(ValueError, match="unknown metric"):
        D.distance_matrix("hamming", vs, vs)


def test_dot_product_is_negated(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0])], "id int, v array<double>")
    d = df.select(D.distance("dot_product", [3.0, 4.0], "v").alias("d")).head()["d"]
    assert d == -11.0


def test_l2_normalize(spark):
    df = spark.createDataFrame([(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id int, v array<double>")
    rows = {r["id"]: r["n"] for r in df.select("id", D.l2_normalize("v").alias("n")).collect()}
    assert rows[1] == pytest.approx([0.6, 0.8])
    assert rows[2] == [0.0, 0.0]  # zero-vector guard


def test_float32_input_upcast(spark):
    df = spark.createDataFrame([(1, [1.5, 2.5])], "id int, v array<float>")
    d = df.select(D.distance("euclidean", [0.0, 0.0], "v").alias("d")).head()["d"]
    assert d == pytest.approx(float(np.hypot(1.5, 2.5)))


# -- the Column expressions the metrics were built from before they became
# SQL text, kept as the reference the renderer must plan identically to

def _ref_d(v):
    return v.cast("array<double>")


def _ref_dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def _ref_l2_norm(v):
    return F.sqrt(F.aggregate(_ref_d(v), F.lit(0.0), lambda s, x: s + x * x))


def _ref_metric(metric, q, v, q_norm=None):
    a, b = _ref_d(q), _ref_d(v)
    if metric == "euclidean":
        return F.sqrt(F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda s, x: s + x))
    if metric == "cosine":
        na = F.lit(q_norm) if q_norm is not None else _ref_l2_norm(a)
        nb = _ref_l2_norm(b)
        return F.when((na == 0.0) | (nb == 0.0), F.lit(1.0)).otherwise(
            F.lit(1.0) - _ref_dot(a, b) / (na * nb))
    if metric == "dot_product":
        return -_ref_dot(a, b)
    return F.aggregate(F.zip_with(a, b, lambda x, y: F.abs(x - y)), F.lit(0.0), lambda s, x: s + x)


def _optimized(df, col):
    return df.select(col.alias("d"))._jdf.queryExecution().optimizedPlan()


@pytest.mark.parametrize("metric", ["euclidean", "cosine", "dot_product", "manhattan"])
def test_sql_distance_plans_like_column_reference(spark, metric):
    """Each rendered metric optimizes to the plan of its Column form, for a
    literal query (knn), a column query (knn_join) and two qualified
    columns of a self-join (dedup)."""
    import math

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [0.5, 0.0, -1.0]), (2, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0])],
        "id int, v array<float>, __qvec array<double>",
    )
    q = [0.3, -1.7, 2.5]
    acc = 0.0
    for x in q:  # the driver-side fold of the query norm
        acc = acc + x * x
    q_norm = math.sqrt(acc) if metric == "cosine" else None
    pairs = [
        (df, D.distance(metric, q, "v"),
         _ref_metric(metric, F.lit(q), F.col("v"), q_norm)),
        (df, D.distance(metric, "__qvec", "v"),
         _ref_metric(metric, F.col("__qvec"), F.col("v"))),
    ]
    a, b = df.alias("a"), df.alias("b")
    pair = a.join(b, F.col("a.id") < F.col("b.id"))
    pairs.append((pair, D.distance(metric, "a.v", "b.v"),
                  _ref_metric(metric, F.col("a.v"), F.col("b.v"))))
    for frame, ours, ref in pairs:
        assert _optimized(frame, ours).sameResult(_optimized(frame, ref))
        assert frame.select(ours).collect() == frame.select(ref).collect()
    # not vacuous: another metric plans differently
    other = "manhattan" if metric == "euclidean" else "euclidean"
    assert not _optimized(df, D.distance(metric, q, "v")).sameResult(
        _optimized(df, D.distance(other, q, "v")))
