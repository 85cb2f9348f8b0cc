"""Property-based tests: the Spark distance expressions must agree with
an independent numpy implementation of the reference kernels
(``app/core/indexers/indexer.py:89-130``) on arbitrary float inputs —
including zero vectors, negatives, and denormal-ish magnitudes."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from inmem_vector_db_spark.functions.distance import distance

DIM = 8
finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=32
)
vec = st.lists(finite, min_size=DIM, max_size=DIM)


def np_reference(metric: str, q, v) -> float:
    q = np.asarray(q, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    if metric == "euclidean":
        return float(np.linalg.norm(q - v))
    if metric == "manhattan":
        return float(np.abs(q - v).sum())
    if metric == "dot_product":
        return float(-(q @ v))
    nq, nv = np.linalg.norm(q), np.linalg.norm(v)
    if nq == 0.0 or nv == 0.0:
        return 1.0
    return float(1.0 - (q @ v) / (nq * nv))


@pytest.mark.parametrize("metric", ["euclidean", "cosine", "dot_product", "manhattan"])
@settings(max_examples=15, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(q=vec, v=vec)
def test_distance_matches_numpy(spark, metric, q, v):
    df = spark.createDataFrame([(v,)], "v array<double>")
    got = df.select(
        distance(metric, q, "v").alias("d")
    ).head()["d"]
    want = np_reference(metric, q, v)
    assert got == pytest.approx(want, rel=1e-9, abs=1e-9) or (
        math.isnan(got) and math.isnan(want)
    )


@settings(max_examples=10, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(q=vec)
def test_zero_vector_cosine_is_one(spark, q):
    df = spark.createDataFrame([([0.0] * DIM,)], "v array<double>")
    got = df.select(
        distance("cosine", q, "v").alias("d")
    ).head()["d"]
    assert got == 1.0
