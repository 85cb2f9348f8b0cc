"""Exact kNN operator vs numpy brute force (reference
``flat_index.py:69-110`` semantics: ascending distance, top-k)."""

from __future__ import annotations

import numpy as np
import pytest

from inmem_vector_db_spark.operators.knn import knn, knn_join_vectorized
from inmem_vector_db_spark.sources.loader import load_table
from tests.test_distance import np_metric

METRICS = ["euclidean", "cosine", "dot_product", "manhattan"]


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = load_table(spark, sf_dir, "embeddings").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return ids, mat


def brute(ids, mat, q, k, metric):
    d = np.array([np_metric(metric, q, v) for v in mat])
    order = np.lexsort((ids, d))
    return [(int(ids[i]), float(d[i])) for i in order[:k]]


@pytest.mark.parametrize("metric", METRICS)
def test_knn_single_query(emb, emb_np, metric):
    ids, mat = emb_np
    q = mat[ids == 0][0]
    got = [(r["vec_id"], r["dist"]) for r in knn(emb, q, k=10, metric=metric).collect()]
    want = brute(ids, mat, q, 10, metric)
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], abs=1e-9)


def test_knn_self_query_returns_self_first(emb, emb_np):
    # flat-index sanity from reference tests (test_library_save_load.py:147-149)
    ids, mat = emb_np
    q = mat[ids == 7][0]
    top = knn(emb, q, k=1, metric="euclidean").head()
    assert top["vec_id"] == 7 and top["dist"] == pytest.approx(0.0)


def test_knn_k_bounds(emb):
    # reference returns < k when corpus smaller (flat_index.py:96-108)
    n = emb.count()
    assert knn(emb, [0.0] * 64, k=n + 50).count() == n
    with pytest.raises(ValueError):
        knn(emb, [0.0] * 64, k=0)


@pytest.mark.parametrize("impl", [knn_join_vectorized])
def test_knn_join_matches_brute(spark, emb, emb_np, impl):
    ids, mat = emb_np
    qids = [0, 1, 2, 3]
    queries = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[ids == i][0]]) for i in qids],
        "query_id long, query_vec array<double>",
    )
    res = impl(emb, queries, k=5, metric="cosine").collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["dist"]))
    assert set(by_q) == set(qids)
    for qid in qids:
        got = sorted(by_q[qid])
        want = brute(ids, mat, mat[ids == qid][0], 5, "cosine")
        assert [g[1] for g in got] == [w[0] for w in want]
        for g, w in zip(got, want):
            assert g[2] == pytest.approx(w[1], abs=1e-9)


def test_knn_empty_corpus_returns_empty(spark):
    from inmem_vector_db_spark.operators.knn import knn

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assert knn(empty, [1.0, 2.0], k=5).collect() == []


def test_store_search_empty_library(spark):
    from inmem_vector_db_spark.store import LibraryStore

    store = LibraryStore(spark)
    lid = store.create_library("empty")
    assert store.search(lid, "anything", k=5).collect() == []


def test_knn_unknown_metric_raises(spark, sf_dir):
    import pytest as _pytest

    from inmem_vector_db_spark.operators.knn import knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with _pytest.raises(ValueError, match="unknown metric"):
        knn(emb, [0.0] * 64, k=5, metric="chebyshev")


def test_knn_join_vectorized_tie_break_duplicate_vectors(spark):
    """Tied distances at the per-batch partial-top-k cut must keep the
    LOWEST ids (the documented (dist, id) order) regardless of partition
    layout — duplicate vectors are common in dedup corpora (advisor
    finding: argpartition on distance alone kept arbitrary ids)."""
    dup = [1.0, 0.0]
    rows = [(i, dup) for i in (0, 10, 20, 30, 40, 50)] + [(99, [0.0, 1.0])]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(4)
    queries = spark.createDataFrame(
        [(0, dup)], "query_id long, query_vec array<double>"
    )
    got = sorted(
        r["vec_id"]
        for r in knn_join_vectorized(corpus, queries, k=3, metric="euclidean").collect()
    )
    single = sorted(
        r["vec_id"] for r in knn(corpus, dup, k=3, metric="euclidean").collect()
    )
    assert got == single == [0, 10, 20]


def test_knn_null_embedding_raises(spark):
    """A NULL embedding must fail loudly, not silently rank first with a
    NULL distance (advisor finding: size(NULL) != dim is NULL, so the
    dim guard fell through)."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="dimension mismatch"):
        knn(corpus, [1.0, 0.0], k=2).collect()
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    with pytest.raises(Exception, match="dimension mismatch"):
        knn_join_vectorized(corpus, queries, k=2).collect()


def test_mmr_rerank_skips_redundant_candidate(spark):
    """Two near-identical high-relevance candidates: plain top-k keeps
    both; MMR must select the diverse lower-relevance item second."""
    from inmem_vector_db_spark.operators.rerank import mmr_rerank

    cand = spark.createDataFrame(
        [
            (1, 10, 0.99, [1.0, 0.0]),
            (1, 11, 0.98, [1.0, 0.001]),   # near-dup of 10
            (1, 12, 0.80, [0.0, 1.0]),     # orthogonal
        ],
        "query_id long, vec_id long, rel double, embedding array<float>",
    )
    rows = {r["rank"]: r for r in mmr_rerank(cand, k=3, lam=0.5).collect()}
    assert rows[1]["vec_id"] == 10          # pure relevance first
    assert rows[2]["vec_id"] == 12          # diversity beats the near-dup
    assert rows[3]["vec_id"] == 11
    assert rows[1]["mmr_score"] == pytest.approx(0.5 * 0.99, abs=1e-6)


def test_mmr_rerank_k_capped_by_candidates(spark):
    from inmem_vector_db_spark.operators.rerank import mmr_rerank

    cand = spark.createDataFrame(
        [(1, 10, 0.9, [1.0, 0.0]), (1, 11, 0.1, [0.0, 1.0])],
        "query_id long, vec_id long, rel double, embedding array<float>",
    )
    assert mmr_rerank(cand, k=5).count() == 2


@pytest.mark.parametrize("metric", ["euclidean", "cosine"])
@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_knn_rejects_non_finite_query(spark, metric, bad):
    """nan/inf have no SQL literal, and a NaN query distance used to rank
    the lowest ids first: the query is rejected, naming the position."""
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="position 0"):
        knn(corpus, [bad, 0.0], k=3, metric=metric)
