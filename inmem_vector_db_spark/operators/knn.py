"""Exact brute-force kNN (reference J1/T1, SURVEY.md 2.3/2.5).

Reference semantics: ``FlatIndexer.search`` (``app/core/indexers/
flat_index.py:69-110``) loops over every stored embedding, computes the
requested distance, sorts ascending, returns the first k ids; ties are
broken by insertion order, here deterministically by id.

Spark-first design:

* **Single query** — a broadcast scalar: ``corpus.select(dist).orderBy(
  dist).limit(k)``.  Catalyst turns orderBy+limit into
  ``TakeOrderedAndProject``: each partition keeps its local top-k and the
  driver merges N_partitions * k rows — no shuffle of the corpus, linear
  scan exactly like the reference but parallel over partitions.  This is
  the plan that survives a 100 TB corpus.

* **Multi query** (``knn_join_vectorized``) — the (small) query side
  is collected and broadcast; ``mapInArrow`` computes a numpy distance
  matrix per Arrow batch (the (N, D) corpus matrix reshaped straight
  from the ListArray's flat buffer — no per-row cell materialization)
  and emits only the local top-k per query per batch (<= k x |queries|
  rows per partition), then a final tiny window merges.  The shuffle
  carries N_partitions x k x |queries| rows, never |corpus| x
  |queries| candidates, and BLAS matrix math is ~10-100x faster per row
  than per-row expression eval.  One multi-query path: an expression
  cross join + ``row_number`` window would shuffle every candidate pair
  by query id and is wrong at 100 TB.

Both paths compute float64 distances and agree with the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inmem_vector_db_spark.functions.distance import METRICS, distance_sql
from inmem_vector_db_spark.operators.arrowmat import flat_matrix


def _dim_guard(vec_col: str, dim: int, dist: str) -> str:
    """``dist``, failing loudly on NULL or dimension-mismatched embeddings.
    ``zip_with`` pads the shorter array with NULLs, which would otherwise
    propagate to a NULL distance that sorts FIRST ascending — silently
    corrupting top-k.  A NULL embedding is the same hazard: ``size(NULL)
    != dim`` evaluates to NULL, the WHEN falls through, and the NULL
    distance would rank the row first — so NULL is checked explicitly.
    The reference validates at insert (``chunk.py:63-71``,
    ``hnsw.py:553-563``); we validate at query time, JVM-side, with no
    extra pass."""
    return (
        f"CASE WHEN {vec_col} IS NULL OR size({vec_col}) != {dim} THEN raise_error(concat("
        f"'embedding dimension mismatch: query dim={dim}, corpus dim=', "
        f"coalesce(CAST(size({vec_col}) AS STRING), 'NULL'))) ELSE {dist} END"
    )


def knn(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    payload_cols: Sequence[str] = (),
) -> DataFrame:
    """Top-k nearest rows to one query vector (reference default k=5,
    metric validated like ``schemas/search.py:38-43``).

    Returns (id_col, *payload_cols, dist) ascending by (dist, id).
    """
    if k <= 0:
        raise ValueError("k must be > 0")
    # one SQL string, one parse: guard, query literal and metric
    dist = F.expr(_dim_guard(vec_col, len(query_vec), distance_sql(metric, query_vec, vec_col)))
    cols = [F.col(id_col), *[F.col(c) for c in payload_cols], dist.alias("dist")]
    # orderBy + limit => TakeOrderedAndProject (partition-local top-k,
    # driver merge): no corpus shuffle.  asc_nulls_last: belt-and-braces
    # so a NULL distance can never displace a true neighbor even if the
    # guard is bypassed.
    return (
        corpus.select(*cols)
        .orderBy(F.col("dist").asc_nulls_last(), id_col)
        .limit(k)
    )


def knn_join_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """For every query row, the k nearest corpus rows: numpy distance
    matrix per Arrow batch, partial top-k map-side, tiny final merge.

    Output: (query_id, id_col, dist, rank) with rank 1..k per query,
    ordered by (dist, id) like ``knn``.
    """
    import numpy as np

    if k <= 0:
        raise ValueError("k must be > 0")
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}")

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    rows = queries.select(query_id_col, query_vec_col).collect()
    if not rows:
        raise ValueError("queries is empty")
    qids = [r[0] for r in rows]
    qmat = np.asarray([list(r[1]) for r in rows], dtype=np.float64)  # (Q, D)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((qids, qmat))

    out_schema = (
        f"{query_id_col} {queries.schema[query_id_col].dataType.simpleString()}, "
        f"{id_col} {corpus.schema[id_col].dataType.simpleString()}, "
        "dist double"
    )
    # Arrow output types must match the declared schema exactly (ids can
    # be any type — long doc ids, string keys — across the 18 call sites)
    qid_t = to_arrow_type(queries.schema[query_id_col].dataType)
    id_t = to_arrow_type(corpus.schema[id_col].dataType)
    met = metric
    kk = k

    def part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        qids_, qmat_ = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            # (N, D) matrix from the ListArray's FLAT buffer: one slice +
            # reshape instead of materializing N per-row ndarray cells
            # (the per-row stack was the knn_quantized decade bottleneck).
            # NULL/ragged corpora raise the _dim_guard failure contract.
            vmat = flat_matrix(rb, vec_col, expected_dim=qmat_.shape[1])
            if met == "euclidean":
                # |q-v|^2 = |q|^2 + |v|^2 - 2 q.v   (BLAS-backed)
                d2 = (
                    (qmat_ * qmat_).sum(1)[:, None]
                    + (vmat * vmat).sum(1)[None, :]
                    - 2.0 * qmat_ @ vmat.T
                )
                dmat = np.sqrt(np.maximum(d2, 0.0))
            elif met == "manhattan":
                dmat = np.abs(qmat_[:, None, :] - vmat[None, :, :]).sum(-1)
            elif met == "dot_product":
                dmat = -(qmat_ @ vmat.T)
            else:  # cosine
                qn = np.linalg.norm(qmat_, axis=1)
                vn = np.linalg.norm(vmat, axis=1)
                denom = qn[:, None] * vn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = (qmat_ @ vmat.T) / denom
                dmat = np.where(denom == 0.0, 1.0, 1.0 - sim)
            take = min(kk, dmat.shape[1])
            ids = np.asarray(rb.column(names.index(id_col)))
            for qi, qid in enumerate(qids_):
                # lexicographic (dist, id) selection so tied distances at
                # the per-batch cut keep the LOWEST ids — map-side pruning
                # must preserve the documented (dist, id) order or tied
                # duplicate vectors (common in dedup corpora) would make
                # the k-th neighbor partition-layout-dependent.
                idx = np.lexsort((ids, dmat[qi]))[:take]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([qid] * take, type=qid_t),
                        pa.array(ids[idx], type=id_t),
                        pa.array(dmat[qi, idx], type=pa.float64()),
                    ],
                    names=[query_id_col, id_col, "dist"],
                )

    partial = corpus.select(id_col, vec_col).mapInArrow(part, schema=out_schema)
    w = Window.partitionBy(query_id_col).orderBy("dist", id_col)
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
