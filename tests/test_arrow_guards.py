"""Failure contracts of the round-9 mapInArrow vector stages.

Every flat-buffer ingestion stage (the (N, D) matrix reshaped from the
ListArray values buffer) carries two loud guards: NULL embeddings and
ragged/mismatched dimensions must raise, never reshape garbage or rely
on a numpy broadcast accident.  The old pandas paths half-inherited
these from numpy coercion quirks; now that they're explicit they are
pinned per stage, so a future rewrite can't silently drop one.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _collect_err(df):
    with pytest.raises(Exception) as ei:
        df.collect()
    return str(ei.value)


@pytest.fixture(scope="module")
def ragged(spark):
    # one 3-d row in a 2-d corpus
    return spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [5.0, 6.0, 7.0])],
        "vec_id long, embedding array<double>",
    )


@pytest.fixture(scope="module")
def nully(spark):
    return spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None)],
        "vec_id long, embedding array<double>",
    )


def test_knn_join_vectorized_guards(spark, ragged, nully):
    from inmem_vector_db_spark.operators.knn import knn_join_vectorized

    q = spark.createDataFrame(
        [(9, [0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    assert "dimension mismatch" in _collect_err(
        knn_join_vectorized(ragged, q, k=2)
    )
    assert "dimension mismatch" in _collect_err(
        knn_join_vectorized(nully, q, k=2)
    )


def test_knn_int8_guards(spark, nully):
    from inmem_vector_db_spark.operators.quantize import (
        knn_int8,
        with_quantized,
    )

    # with_quantized passes NULL through; the scan must refuse it
    corpus = with_quantized(nully)
    assert "NULL" in _collect_err(knn_int8(corpus, [(0, [0.0, 0.0])], k=1))


def test_ivf_assign_guards(spark, ragged, nully):
    from inmem_vector_db_spark.operators.ann import ivf_assign

    cmat = np.asarray([[0.0, 0.0]], dtype=np.float64)
    assert "dimension mismatch" in _collect_err(
        ivf_assign(ragged, [0], cmat)
    )
    assert "NULL" in _collect_err(ivf_assign(nully, [0], cmat))


def test_pq_encode_guards(spark, ragged):
    from inmem_vector_db_spark.operators.pq import pq_encode

    cb = np.zeros((2, 2, 1), dtype=np.float64)  # m=2, k=2, dsub=1 -> dim 2
    assert "dimension mismatch" in _collect_err(pq_encode(ragged, cb))


def test_project_embeddings_guards(spark, ragged, nully):
    from inmem_vector_db_spark.operators.projection import (
        project_embeddings_int,
    )

    assert "dimension mismatch" in _collect_err(
        project_embeddings_int(ragged, out_dim=2, in_dim=2)
    )
    assert "NULL" in _collect_err(
        project_embeddings_int(nully, out_dim=2, in_dim=2)
    )


def test_gramian_guards(spark, ragged, nully):
    from inmem_vector_db_spark.operators.vectorstats import gramian

    # explicit dim: ragged rows raise regardless of which partition
    # they land in (without dim, a partition whose rows are internally
    # uniform can't see the other partitions' d)
    assert "dimension mismatch" in _collect_err(gramian(ragged, dim=2))
    # intra-partition consistency: one batch holding both dims raises
    assert "dimension mismatch" in _collect_err(gramian(ragged.coalesce(1)))
    assert "NULL" in _collect_err(gramian(nully))


def test_lsh_signatures_guards(spark, ragged, nully):
    from inmem_vector_db_spark.operators.lsh import RandomHyperplaneLSH

    lsh = RandomHyperplaneLSH(dim=2, num_tables=2, hash_size=2)
    assert "dimension mismatch" in _collect_err(lsh.with_signatures(ragged))
    assert "NULL" in _collect_err(lsh.with_signatures(nully))


def test_kmeans_partial_sums_guard(spark, nully):
    from inmem_vector_db_spark.operators.kmeans import _partial_sums

    assigned = nully.withColumn("cluster_id", F.lit(0).cast("long"))
    stage = assigned.select("cluster_id", "embedding").mapInArrow(
        _partial_sums("embedding"),
        schema="cluster_id long, ssum array<long>, cnt long",
    )
    assert "NULL" in _collect_err(stage)


def test_lsh_signature_values_survive_rewrite(spark):
    """The vectorized U{k}-view bit packing equals the per-row join:
    with_signatures output must match signatures_np on the same rows."""
    from inmem_vector_db_spark.operators.lsh import RandomHyperplaneLSH

    rows = [(i, [float(i) - 2.5, float(i % 3) - 1.0, 0.5]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lsh = RandomHyperplaneLSH(dim=3, num_tables=3, hash_size=4)
    got = {
        r["vec_id"]: list(r["sigs"])
        for r in lsh.with_signatures(df).collect()
    }
    mat = np.asarray([v for _, v in rows], dtype=np.float64)
    want = lsh.signatures_np(mat)
    for i, (_vid, _v) in enumerate(rows):
        assert got[i] == want[i]


def test_flat_matrix_is_slice_aware():
    """A sliced RecordBatch whose NULL elements lie OUTSIDE the slice
    must reshape fine (the old check read the UNSLICED ListArray child
    and raised spuriously — advisor r9); NULLs INSIDE the slice still
    raise, and the slice reshapes the right rows."""
    import pyarrow as pa

    from inmem_vector_db_spark.operators.arrowmat import flat_matrix

    arr = pa.array(
        [[None, 1.0], [2.0, 3.0], [4.0, 5.0]], type=pa.list_(pa.float64())
    )
    rb = pa.RecordBatch.from_arrays([arr], names=["embedding"])
    # whole batch: the null element is in range -> raise
    with pytest.raises(ValueError, match="NULL"):
        flat_matrix(rb, "embedding", expected_dim=2)
    # slice past the null row: must NOT raise, and values are the
    # sliced rows (offsets index the unsliced child correctly)
    got = flat_matrix(rb.slice(1), "embedding", expected_dim=2)
    assert got.tolist() == [[2.0, 3.0], [4.0, 5.0]]
    # slice that still covers the null element -> raise
    with pytest.raises(ValueError, match="NULL"):
        flat_matrix(rb.slice(0, 2), "embedding", expected_dim=2)
    # zero-row slice: no raise, (0, d) shape
    assert flat_matrix(rb.slice(3), "embedding", expected_dim=2).shape == (
        0,
        2,
    )


def test_literal_df_rejects_nan(spark):
    """A NaN would cross the Arrow conversion as NULL: ``literal_df``
    raises for one at the top level and inside an array cell."""
    from inmem_vector_db_spark.functions.localframe import literal_df

    with pytest.raises(ValueError, match="nan"):
        literal_df(spark, [(1, float("nan"))], "cid bigint, score double")
    with pytest.raises(ValueError, match="nan"):
        literal_df(
            spark,
            [(0, [0.0, 1.0]), (1, [1.0, float("nan")])],
            "cid bigint, centroid array<double>",
        )
