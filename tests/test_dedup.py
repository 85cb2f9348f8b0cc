"""Dedup operator tests on synthetic corpora with planted duplicates."""

from __future__ import annotations

import pytest

from inmem_vector_db_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the rain falls "
    "on the quiet town and the river moves slowly past the old mill"
)
# 1 word changed => 3-shingle Jaccard 21/27 = 0.778; with 12 hashes / 4
# bands the banding candidate-probability is ~92% — and since the salted
# md5 scheme is fully deterministic, the outcome is pinned: found.
NEAR = BASE.replace("quiet", "busy")
RANDOM = "entirely different words about spark engines and parquet files here"


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE),        # exact dup of 1
            (3, NEAR),        # near dup of 1
            (4, RANDOM),
            (5, "tiny"),      # below shingle width
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_keeps_min_id(corpus):
    kept = sorted(r["doc_id"] for r in D.exact_dedup(corpus).collect())
    assert kept == [1, 3, 4, 5]


def test_exact_dup_pairs(corpus):
    pairs = [(r["canonical_id"], r["dup_id"]) for r in D.exact_dup_pairs(corpus).collect()]
    assert pairs == [(1, 2)]


def test_minhash_lsh_pairs_finds_near_dup(corpus):
    rows = D.minhash_lsh_pairs(corpus, jaccard_threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] == pytest.approx(21 / 27, abs=1e-4)
    assert all({a, b} <= {1, 2, 3} for a, b in pairs)


def test_ngram_jaccard_pairs(corpus):
    rows = D.ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    assert (1, 2) in pairs
    assert not any({a, b} & {4, 5} for a, b in pairs)


def test_simhash_pairs(corpus):
    rows = D.simhash_pairs(corpus, max_hamming=10).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert pairs.get((1, 2)) == 0  # identical text -> identical signature
    assert (1, 4) not in pairs


def _py_simhash60(text: str, n: int = 2) -> int:
    import hashlib

    t = text.lower().split(" ")
    sh = [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)] if len(t) >= n else []
    if not sh:
        return 0
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh]
    sig = 0
    for b in range(60):
        if 2 * sum((h >> b) & 1 for h in hs) >= len(hs):
            sig |= 1 << b
    return sig


def test_simhash60_matches_python_reference(corpus):
    from pyspark.sql import functions as F

    from inmem_vector_db_spark.functions.text import simhash60

    got = {
        r["doc_id"]: r["sig"]
        for r in corpus.select("doc_id", simhash60("text").alias("sig")).collect()
    }
    exp = {r["doc_id"]: _py_simhash60(r["text"]) for r in corpus.collect()}
    assert got == exp


def test_simhash_pairs_portable_agrees_on_planted_dups(corpus):
    rows = D.simhash_pairs(corpus, max_hamming=10, portable=True).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert pairs.get((1, 2)) == 0
    assert (1, 4) not in pairs


def test_embedding_near_dup_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.04, 0.0]),   # nearly parallel to 1
            (3, [0.0, 1.0, 0.0]),      # orthogonal
        ],
        "vec_id long, embedding array<double>",
    )
    rows = D.embedding_near_dup_pairs(df, max_cosine_dist=0.2).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]


def test_knn_vectorized_dim_mismatch_raises(spark, sf_dir):
    import pytest as _pytest

    from inmem_vector_db_spark.operators.knn import knn_join_vectorized

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "query_id bigint, query_vec array<float>"
    )
    with _pytest.raises(Exception, match="dimension mismatch"):
        knn_join_vectorized(emb, queries, k=3).collect()


def test_embedding_near_dup_block_pair_matches_expression(spark, sf_dir):
    """The distributed block-pair GEMM (no driver collect) must produce
    exactly the expression-path pair set, for any block count."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    want = {
        (r["id_a"], r["id_b"], r["cos_dist"])
        for r in D.embedding_near_dup_pairs(
            emb, max_cosine_dist=0.58, vectorized=False
        ).collect()
    }
    assert want, "fixture should contain near-dup pairs at 0.58"
    for blocks in (1, 3, 8):
        got = {
            (r["id_a"], r["id_b"], r["cos_dist"])
            for r in D.embedding_near_dup_pairs(
                emb, max_cosine_dist=0.58, blocks=blocks
            ).collect()
        }
        assert got == want


def test_semantic_dedup_subset_of_exact(spark, sf_dir):
    """Cluster-scoped pairs must be a subset of the global exact pairs
    (same threshold), and every pair's members share a cluster by
    construction."""
    from inmem_vector_db_spark.sources.loader import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    sem = {
        (r["id_a"], r["id_b"])
        for r in D.semantic_dedup_pairs(emb, stride=11, max_cosine_dist=0.6).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dup_pairs(
            emb, max_cosine_dist=0.6, vectorized=False
        ).collect()
    }
    assert sem <= exact
    assert sem, "planted sf data should produce at least one same-cluster pair"


def test_semantic_dedup_self_pairs_excluded(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.001]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    # stride=3: only vec_id 0 is a centroid => one cluster holds all rows
    rows = D.semantic_dedup_pairs(df, stride=3, max_cosine_dist=0.1).collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(0, 1)}


# ---------------------------------------------------------------------------
# shared signature artifact (operators.signatures): the sig_index path
# must produce byte-identical results to the inline path for every
# consumer, and the parquet round-trip must preserve it


def _with_source(corpus):
    from pyspark.sql import functions as F

    return corpus.withColumn("source", F.lit("s1"))


def test_signature_index_paths_agree(corpus):
    from inmem_vector_db_spark.operators.signatures import text_signature_index

    sig = text_signature_index(_with_source(corpus)).persist()
    try:
        for inline, shared in [
            (D.minhash_lsh_pairs(corpus), D.minhash_lsh_pairs(corpus, sig_index=sig)),
            (
                D.ngram_jaccard_pairs(corpus),
                D.ngram_jaccard_pairs(corpus, sig_index=sig),
            ),
            (
                D.simhash_pairs(corpus, portable=True),
                D.simhash_pairs(corpus, portable=True, sig_index=sig),
            ),
        ]:
            assert sorted(map(tuple, inline.collect())) == sorted(
                map(tuple, shared.collect())
            )
    finally:
        sig.unpersist()


def test_signature_index_roundtrip(corpus, tmp_path):
    from inmem_vector_db_spark.operators.signatures import (
        read_signature_index,
        text_signature_index,
        write_signature_index,
    )

    idx = text_signature_index(_with_source(corpus))
    path = str(tmp_path / "sigidx")
    write_signature_index(idx, path)
    back = read_signature_index(corpus.sparkSession, path)
    assert set(back.columns) == {
        "doc_id", "source", "n_chars", "shset", "shset5", "sim60", "sig", "block",
    }
    pairs = D.minhash_lsh_pairs(corpus, sig_index=back)
    assert sorted(map(tuple, pairs.collect())) == sorted(
        map(tuple, D.minhash_lsh_pairs(corpus).collect())
    )


def test_corpus_signature_index_memoizes(spark, sf_dir):
    from inmem_vector_db_spark.operators import signatures as S
    from inmem_vector_db_spark.session import reset_memos

    a = S.corpus_signature_index(spark, sf_dir)
    b = S.corpus_signature_index(spark, sf_dir)
    assert a is b
    reset_memos(spark)
    c = S.corpus_signature_index(spark, sf_dir)
    assert c is not a
    reset_memos(spark)


def test_containment_pairs_finds_subset_doc(spark):
    """A short doc fully contained in a long doc: Jaccard is diluted
    (|A∩B|/|A∪B| small) but containment = 1.0 — the pair the asymmetric
    measure exists to catch."""
    long_doc = BASE + " and then the story continues with many extra new words appended"
    short_doc = "the rain falls on the quiet town and the river moves slowly"
    df = spark.createDataFrame(
        [(1, long_doc), (2, short_doc), (3, RANDOM)],
        "doc_id long, text string",
    )
    rows = {(r["id_a"], r["id_b"]): r["containment"]
            for r in D.containment_pairs(df, threshold=0.9).collect()}
    assert (1, 2) in rows and rows[(1, 2)] == 1.0
    assert all(3 not in pair for pair in rows)


def test_containment_pairs_df_window_blocks(spark):
    """Shingles with document frequency above max_df are not blocking
    keys: two docs sharing ONLY a ubiquitous shingle produce no pair."""
    common = "alpha beta gamma"
    docs = [(i, f"{common} filler{i} x{i} y{i} z{i} w{i}") for i in range(1, 7)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # the only shared shingle appears in all 6 docs; max_df=3 excludes it
    assert D.containment_pairs(df, threshold=0.1, max_df=3).count() == 0
    # raising max_df readmits it and candidates appear
    assert D.containment_pairs(df, threshold=0.1, max_df=16).count() > 0


def test_containment_sig_index_path_agrees(corpus):
    from inmem_vector_db_spark.operators.signatures import text_signature_index

    idx = text_signature_index(_with_source(corpus))
    a = sorted(map(tuple, D.containment_pairs(corpus, threshold=0.5).collect()))
    b = sorted(map(tuple, D.containment_pairs(
        corpus, threshold=0.5, sig_index=idx).collect()))
    assert a == b and len(a) > 0


def test_probe_index_is_asymmetric_and_complete(spark, sf_dir):
    """Batch-vs-index probe: (1) emits only (batch, corpus) pairs —
    never corpus-internal ones; (2) over the probed direction it finds
    exactly the pairs the symmetric self-dedup finds (same banding,
    same verify), so incremental ingestion loses nothing vs a full
    corpus re-dedup."""
    from pyspark.sql import functions as F

    from inmem_vector_db_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_probe_index,
    )
    from inmem_vector_db_spark.operators.signatures import (
        corpus_signature_index,
    )

    sig = corpus_signature_index(spark, sf_dir)
    is_batch = F.col("doc_id") % 37 == 0
    hits = minhash_probe_index(sig, is_batch).collect()
    assert all(r["batch_id"] % 37 == 0 and r["corpus_id"] % 37 != 0 for r in hits)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = minhash_lsh_pairs(docs, jaccard_threshold=0.0, sig_index=sig)
    cross = {
        (a, b) if a % 37 == 0 else (b, a)
        for a, b in ((r["id_a"], r["id_b"]) for r in full.collect())
        if (a % 37 == 0) != (b % 37 == 0)
    }
    assert {(r["batch_id"], r["corpus_id"]) for r in hits} == cross
