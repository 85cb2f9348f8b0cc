"""Scalar quantization for embedding columns (beyond-reference, the
memory/IO lever for similarity search at 100 TB).

float32 embeddings dominate storage and shuffle width.  Per-vector
symmetric int8 quantization (``v_q[i] = round(v[i] / scale)``, ``scale =
max|v| / 127``) shrinks the column ~4x with ~1e-2 relative distance
error — more than enough for a candidate-generation stage that exact
re-ranks on the float column (same pattern as LSH: cheap candidates,
exact verify).

Two implementations of the build:

* ``with_quantized`` — the production path: one Arrow-batched pandas
  UDF computes (codes, scale) for a whole batch in numpy.  Catalyst
  higher-order functions (``transform``/``aggregate``) are interpreted
  per-element, which made the expression build the single hottest step
  of the two-stage search (~5 s at sf0.1 vs ~0.4 s vectorized); the
  numpy pass is the 10x Arrow-vs-interpreted win the module docstring
  of ``operators/knn.py`` describes for distances, applied to codes.
* ``with_quantized_expr`` — the pure-Column reference implementation.
  Kept because any SQL engine can reproduce it (the DuckDB oracle
  mirrors it) and because ``tests/test_quantize.py`` pins the numpy
  path to it code-for-code.

Rounding contract (both paths, and the DuckDB oracle): round half away
from zero — Spark's ``F.round`` HALF_UP on doubles and numpy
``sign * floor(|x| + 0.5)`` agree everywhere except adversarial
exact-tie ulp boundaries that real float data does not hit (pinned by
the equality test at sf0.001).

Pipeline shape at scale:
  1. ingest writes (embedding float32[], emb_q int8[], emb_scale float);
  2. candidate search scans ONLY (id, emb_q, emb_scale) — 4x less IO —
     and dequantizes + partial-top-ks inside one Arrow pass
     (``knn_int8``: the batched top-k stage of ``operators.knn`` with a
     dequantizing reader), no interpreted expressions in the hot loop;
  3. top-(k*oversample) candidates re-rank exactly on the float column
     via an IN-pruned scan (parquet row-group skipping on id).
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from inmem_vector_db_spark.functions.distance import METRICS
from inmem_vector_db_spark.operators.arrowmat import flat_matrix
from inmem_vector_db_spark.operators.knn import batched_topk, knn, knn_join_vectorized


def _round_half_away(r):
    """Vectorized round-half-away-from-zero (matches Spark F.round /
    DuckDB round on doubles for non-boundary values)."""
    import numpy as np

    return np.sign(r) * np.floor(np.abs(r) + 0.5)


def with_quantized(
    df: DataFrame, vec_col: str = "embedding", prefix: str = "emb"
) -> DataFrame:
    """Append ``{prefix}_q array<tinyint>`` and ``{prefix}_scale float``
    via one Arrow-batched numpy pass (the fast build).

    Zero vectors get scale 1.0 (all-zero codes) so dequantization is
    always well-defined.  Bit-compatible with ``with_quantized_expr``:
    same double arithmetic (cast to float64, amax/127.0, half-away
    rounding, scale narrowed to float32) in batch-matrix form.
    """
    import numpy as np

    @F.pandas_udf("struct<q: array<tinyint>, scale: float>")
    def _quant(col: pd.Series) -> pd.DataFrame:
        if col.empty:
            # pin dtypes for the empty batch: unpinned empty columns
            # default to float64, and pandas' concat across batches
            # (inside the pyspark serializer) is deprecating dtype
            # inference over empty/all-NA frames — keep the result
            # dtype independent of pandas' concat rules
            return pd.DataFrame(
                {
                    "q": pd.Series([], dtype=object),
                    "scale": pd.array([], dtype="Float32"),
                }
            )
        vals = [
            None if v is None else np.asarray(v, dtype=np.float64) for v in col
        ]
        dims = {v.shape[0] for v in vals if v is not None}
        qs: list = [None] * len(vals)
        scales: list = [None] * len(vals)
        if (
            len(dims) == 1
            and next(iter(dims)) > 0
            and all(v is not None for v in vals)
        ):
            # rectangular batch: one (N, D) matrix, fully vectorized
            mat = np.stack(vals)
            amax = np.abs(mat).max(axis=1)
            scale = np.where(amax == 0.0, 1.0, amax / 127.0)
            codes = _round_half_away(mat / scale[:, None]).astype(np.int8)
            qs = list(codes)
            scales = list(scale.astype(np.float32))
        else:
            # ragged/degenerate fallback (mixed dims, empty arrays, or
            # NULLs in the batch): per-row numpy, matching the column-
            # expression path — NULL passes through, an empty vector
            # gets scale 1.0 and empty codes
            for i, v in enumerate(vals):
                if v is None:
                    continue
                amax = float(np.abs(v).max()) if v.size else 0.0
                s = 1.0 if amax == 0.0 else amax / 127.0
                qs[i] = _round_half_away(v / s).astype(np.int8)
                scales[i] = np.float32(s)
        return pd.DataFrame(
            {
                # object-pinned: an all-None batch must not let pandas
                # infer float64 and change the struct field dtype under
                # future concat rules
                "q": pd.Series(qs, dtype=object, index=col.index),
                "scale": pd.array(scales, dtype="Float32"),
            },
            index=col.index,
        )

    tmp = df.withColumn("__qs", _quant(F.col(vec_col)))
    return (
        tmp.withColumn(f"{prefix}_q", F.col("__qs.q"))
        .withColumn(f"{prefix}_scale", F.col("__qs.scale"))
        .drop("__qs")
    )


def with_quantized_expr(
    df: DataFrame, vec_col: str = "embedding", prefix: str = "emb"
) -> DataFrame:
    """Pure-Column build (any-engine-reproducible reference semantics;
    the DuckDB oracle mirrors this expression tree)."""
    v = F.col(vec_col).cast("array<double>")
    amax = F.aggregate(v, F.lit(0.0), lambda s, x: F.greatest(s, F.abs(x)))
    scale = F.when(amax == 0.0, F.lit(1.0)).otherwise(amax / F.lit(127.0))
    q = F.transform(v, lambda x: F.round(x / scale).cast("tinyint"))
    return df.withColumn(f"{prefix}_q", q).withColumn(
        f"{prefix}_scale", scale.cast("float")
    )


def dequantize(q_col, scale_col) -> F.Column:
    """array<tinyint> + scale -> array<double> approximation."""
    s = F.col(scale_col) if isinstance(scale_col, str) else scale_col
    qc = F.col(q_col) if isinstance(q_col, str) else q_col
    return F.transform(qc, lambda x: x.cast("double") * s)


def knn_int8(
    corpus_q: DataFrame,
    queries: Sequence[tuple],
    k: int = 10,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    q_col: str = "emb_q",
    scale_col: str = "emb_scale",
) -> DataFrame:
    """Partial top-k over the int8 column for one or many queries in a
    SINGLE Arrow pass: ``knn.batched_topk``, the stage behind
    ``knn_join_vectorized``, with a reader that dequantizes each batch
    (codes * scale) in numpy.  ``queries`` is [(query_id, vector), ...].

    This is the stage-1 scan of the two-stage search: it reads only
    (id, codes, scale) — 4x less IO than float32 at scale — and keeps
    the whole distance computation in BLAS, with zero interpreted
    higher-order functions.  Output: (query_id long, id_col, dist).

    The (N, D) codes matrix comes from the Arrow ListArray's FLAT int8
    buffer in one reshape (the int8 -> float64 conversion is the only
    copy), instead of Arrow->pandas materializing N per-row ndarray
    cells that ``np.stack`` then re-copies.  Profiled at the synthetic
    sf1 decade (round 9): per-row stacking dominated the scan — 0.56 s
    of a 1.06 s scan for 20k rows — and was the suite's worst scaling
    exponent (alpha +0.41).
    """
    import numpy as np

    if k <= 0:
        raise ValueError("k must be > 0")
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}")
    if not queries:
        raise ValueError("queries is empty")
    qmat = np.asarray([list(v) for _, v in queries], dtype=np.float64)
    dim = qmat.shape[1]

    def matrix(rb):
        scales = np.asarray(rb.column(rb.schema.names.index(scale_col))).astype(np.float64)
        return flat_matrix(rb, q_col, expected_dim=dim) * scales[:, None]

    return batched_topk(
        corpus_q.select(id_col, q_col, scale_col),
        [int(qid) for qid, _ in queries],
        LongType(),
        qmat,
        k,
        metric,
        id_col,
        matrix,
    ).drop("rank")


def knn_quantized_rerank(
    corpus_q: DataFrame,
    query_vec,
    k: int = 10,
    oversample: int = 4,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_col: str = "emb_q",
    scale_col: str = "emb_scale",
) -> DataFrame:
    """Two-stage kNN: approximate top-(k*oversample) on the int8 column,
    exact re-rank of those candidates on the float column.

    ``corpus_q`` must carry both the quantized and the float columns
    (from ``with_quantized``).  At scale stage 1 reads 4x less data; the
    stage-2 exact scan touches only k*oversample rows.
    """
    approx = knn_int8(
        corpus_q,
        [(0, query_vec)],
        k=k * oversample,
        metric=metric,
        id_col=id_col,
        q_col=q_col,
        scale_col=scale_col,
    )
    # the candidate set is k*oversample ids BY CONSTRUCTION — small at
    # any corpus scale — so collect it and push an IN filter into the
    # stage-2 scan (parquet row-group skipping on id) instead of paying
    # a broadcast-exchange stage for a join against a tiny list
    cand_ids = [r[id_col] for r in approx.collect()]
    pruned = corpus_q.filter(F.col(id_col).isin(cand_ids)).select(id_col, vec_col)
    return knn(pruned, query_vec, k=k, metric=metric, id_col=id_col, vec_col=vec_col)


def knn_quantized_rerank_multi(
    corpus_q: DataFrame,
    queries: Sequence[tuple],
    k: int = 10,
    oversample: int = 4,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_col: str = "emb_q",
    scale_col: str = "emb_scale",
) -> DataFrame:
    """Batched two-stage search: ONE int8 candidate scan for all
    queries, one IN-pruned exact re-rank — 2 corpus passes total instead
    of 2 per query.  ``queries`` is [(query_id, vector), ...]; output
    (query_id, id_col, dist, rank) with rank 1..k per query.
    """
    approx = knn_int8(
        corpus_q,
        queries,
        k=k * oversample,
        metric=metric,
        id_col=id_col,
        q_col=q_col,
        scale_col=scale_col,
    ).select("query_id", id_col)
    # Q * k * oversample ids by construction — bounded, scale-free
    cand = approx.collect()
    all_ids = sorted({r[id_col] for r in cand})
    per_q: dict[int, set] = {}
    for r in cand:
        per_q.setdefault(r["query_id"], set()).add(r[id_col])
    spark = corpus_q.sparkSession
    if not all_ids:  # empty corpus/stage-1: match the per-query path
        from inmem_vector_db_spark.functions.localframe import literal_df

        # true empty LocalRelation (r14): foldable, zero tasks
        return literal_df(
            spark,
            [],
            f"query_id long, {id_col} "
            f"{corpus_q.schema[id_col].dataType.simpleString()}, "
            "dist double, rank int",
        )
    pruned = corpus_q.filter(F.col(id_col).isin(all_ids)).select(id_col, vec_col)
    from inmem_vector_db_spark.functions.localframe import literal_df

    qdf = literal_df(
        spark,
        [(int(qid), [float(x) for x in v]) for qid, v in queries],
        "query_id long, query_vec array<double>",
    )
    ranked = knn_join_vectorized(
        pruned,
        qdf,
        # rank over the WHOLE candidate union: cutting at the largest
        # per-query set size can evict a query's own stage-1 candidate
        # when other queries' candidates rank closer to it, silently
        # diverging from the single-query path.  |union| is Q*k*
        # oversample-bounded, so the full cut stays scale-free.
        k=len(all_ids),
        metric=metric,
        id_col=id_col,
        vec_col=vec_col,
    )
    # restrict each query to its own candidates, then take top-k
    pairs = literal_df(
        spark,
        [(int(qid), i) for qid, s in per_q.items() for i in s],
        f"query_id long, {id_col} {corpus_q.schema[id_col].dataType.simpleString()}",
    )
    own = ranked.drop("rank").join(F.broadcast(pairs), ["query_id", id_col])
    w = Window.partitionBy("query_id").orderBy("dist", id_col)
    return own.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
