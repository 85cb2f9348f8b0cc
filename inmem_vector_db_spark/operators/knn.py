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
  is collected and broadcast; ``batched_topk``, one ``mapInArrow``
  stage, computes ``distance_matrix`` per Arrow batch (the (N, D) corpus
  matrix reshaped straight from the ListArray's flat buffer — no
  per-row cell materialization) and emits only the local top-k per
  query per batch (<= k x |queries| rows per partition), then a final
  tiny window merges.  ``quantize.knn_int8`` runs the same stage with a
  reader that dequantizes int8 codes.  The shuffle
  carries N_partitions x k x |queries| rows, never |corpus| x
  |queries| candidates, and BLAS matrix math is ~10-100x faster per row
  than per-row expression eval.  One multi-query path: an expression
  cross join + ``row_number`` window would shuffle every candidate pair
  by query id and is wrong at 100 TB.

Both paths compute float64 distances and agree with the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from inmem_vector_db_spark.functions.distance import METRICS, distance_matrix, distance_sql
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

    rows = queries.select(query_id_col, query_vec_col).collect()
    if not rows:
        raise ValueError("queries is empty")
    qmat = np.asarray([list(r[1]) for r in rows], dtype=np.float64)  # (Q, D)
    dim = qmat.shape[1]
    return batched_topk(
        corpus.select(id_col, vec_col),
        [r[0] for r in rows],
        queries.schema[query_id_col].dataType,
        qmat,
        k,
        metric,
        id_col,
        # NULL/ragged corpora raise the _dim_guard failure contract
        lambda rb: flat_matrix(rb, vec_col, expected_dim=dim),
        query_id_col,
    )


def batched_topk(
    corpus: DataFrame,
    qids: list,
    qid_type: DataType,
    qmat,
    k: int,
    metric: str,
    id_col: str,
    matrix: Callable,
    query_id_col: str = "query_id",
) -> DataFrame:
    """The k nearest ``corpus`` rows to each query row of ``qmat`` (ids
    ``qids`` of Spark type ``qid_type``), as (query_id_col, id_col, dist,
    rank).  ``matrix(record_batch)`` reads a batch's (N, D) float64
    corpus matrix, e.g. from the ListArray's flat buffer: one slice +
    reshape instead of N per-row ndarray cells.  Each Arrow batch emits
    its local top-k per query; one ``row_number`` window merges."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    bc = corpus.sparkSession.sparkContext.broadcast((qids, qmat))
    id_type = corpus.schema[id_col].dataType
    out_schema = (
        f"{query_id_col} {qid_type.simpleString()}, "
        f"{id_col} {id_type.simpleString()}, dist double"
    )
    # Arrow output types must match the declared schema exactly (ids can
    # be any type — long doc ids, string keys — across the call sites)
    qid_t, id_t = to_arrow_type(qid_type), to_arrow_type(id_type)

    def part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        qids_, qmat_ = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            dmat = distance_matrix(metric, qmat_, matrix(rb))
            take = min(k, dmat.shape[1])
            ids = np.asarray(rb.column(rb.schema.names.index(id_col)))
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

    partial = corpus.mapInArrow(part, schema=out_schema)
    w = Window.partitionBy(query_id_col).orderBy("dist", id_col)
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
