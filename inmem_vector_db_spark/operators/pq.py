"""Product quantization (PQ) for embedding columns.

The reference's only approximate path is LSH (``app/core/indexers/
lsh.py:25-31``); PQ is the beyond-reference memory/IO lever for
similarity search at 100 TB: m sub-codes over k centroids shrink a 64-d
float32 vector (256 B) to m small ints (4 codes here — 64x narrower)
while preserving enough geometry for candidate generation; an exact
re-rank on the float column restores exact ordering within the
candidate set (the same candidates-then-verify shape as LSH, IVF, and
int8 scalar quantization in ``operators.quantize``).

Determinism (what makes this oracle-checkable, unlike k-means-trained
PQ): codebooks are stride-sampled corpus rows, and both encode and the
ADC lookup accumulate squared differences in a FIXED sequential order
over dimensions — bit-identical to the DuckDB oracle's left-fold
``list_sum``, so codes, candidate sets, and final rows all value-hash
match.  A trained codebook (``kmeans.lloyd_iterations`` style) would slot in
without changing the search path.

Scale shape:

* encode: one embarrassingly-parallel ``mapInArrow`` pass, no shuffle;
  at rest the codes table is (id, codes array<int>) — m ints per row;
* search stage 1 scans ONLY (id, codes): ADC distance = m literal-array
  lookups summed JVM-side (whole-stage codegen over ``element_at``),
  then a partition-local TakeOrdered of k*oversample rows;
* stage 2 re-ranks exactly: candidate ids (k*oversample by
  construction) pushed as an IN filter into the float-column scan —
  parquet row-group skipping, no broadcast stage (same pattern as
  ``quantize.knn_quantized_rerank``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inmem_vector_db_spark.functions.distance import vector_sql
from inmem_vector_db_spark.operators.arrowmat import (
    flat_matrix,
    int_list_array,
)
from inmem_vector_db_spark.operators.knn import knn


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    stride: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic codebooks: the first ``k`` stride-sampled vectors
    (id % stride == 0, id order), split into ``m`` contiguous
    subspaces.  Returns (m, k', dsub) float64; k' = min(k, available).
    """
    rows = (
        corpus.filter(F.col(id_col) % stride == 0)
        .orderBy(id_col)
        .select(vec_col)
        .limit(k)
        .collect()
    )
    full = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    dim = full.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return np.stack([full[:, j * dsub : (j + 1) * dsub] for j in range(m)])


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Append ``codes array<int>``: per subspace, the index of the
    nearest codebook entry (ties -> lowest code).  One numpy pass per
    Arrow batch; squared differences accumulate dimension-by-dimension
    (sequential) so the float result is bit-identical to a left-fold
    sum — the property the value oracle depends on.

    ``keep_cols`` passes extra columns through unchanged (e.g. the IVF
    ``cluster_id``, so a corpus-wide codes artifact stays prunable by
    inverted list — at rest the codes table is written partitioned by
    it, co-located with the assignment).

    ``mapInArrow`` ingestion (same flat-buffer pattern as
    ``operators/knn.py``): the (N, D) matrix reshapes from the
    ListArray's values buffer, pass-through columns re-emit the input
    Arrow arrays untouched, and the codes list column is built from the
    flat (N*m) int32 matrix with arithmetic offsets — no per-row Python
    objects anywhere in the corpus-wide encode pass."""
    import pyarrow as pa

    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)
    m, _kk, dsub = codebooks.shape
    dim = m * dsub
    schema = (
        f"{id_col} {corpus.schema[id_col].dataType.simpleString()}, codes array<int>"
    )
    for c in keep_cols:
        schema += f", {c} {corpus.schema[c].dataType.simpleString()}"

    def part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cb = bc.value
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            mat = flat_matrix(rb, vec_col, expected_dim=dim)
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                sub = mat[:, j * dsub : (j + 1) * dsub]
                d = np.zeros((n, cb.shape[1]))
                for i in range(dsub):  # fixed order == SQL left fold
                    diff = sub[:, i, None] - cb[j][None, :, i]
                    d += diff * diff
                codes[:, j] = np.argmin(d, axis=1)
            code_arr = int_list_array(codes)
            cols = [rb.column(names.index(id_col)), code_arr] + [
                rb.column(names.index(c)) for c in keep_cols
            ]
            yield pa.RecordBatch.from_arrays(
                cols, names=[id_col, "codes", *keep_cols]
            )

    return corpus.select(id_col, vec_col, *keep_cols).mapInArrow(part, schema)


def pq_search(
    corpus: DataFrame,
    codes_df: DataFrame,
    query_vec,
    codebooks: np.ndarray,
    k: int = 10,
    oversample: int = 4,
    metric: str = "euclidean",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ kNN: asymmetric-distance (ADC) candidates over the
    codes table, exact re-rank on the float column.

    The per-subspace lookup table (m x k' floats) is computed
    driver-side from the query and pushed as array literals — the ADC
    distance is m ``element_at`` lookups summed left-to-right, a pure
    codegen expression over an m-int row."""
    q = np.asarray(list(query_vec), dtype=np.float64)
    m, kk, dsub = codebooks.shape
    luts = []
    for j in range(m):
        d = np.zeros(kk)
        for i in range(dsub):  # fixed order == SQL left fold
            diff = q[j * dsub + i] - codebooks[j][:, i]
            d += diff * diff
        luts.append(d)

    # one parse: m literal-array lookups, summed left to right
    adc = F.expr(" + ".join(
        f"element_at({vector_sql(luts[j])}, codes[{j}] + 1)" for j in range(m)
    ))

    approx = (
        codes_df.select(id_col, adc.alias("adc_d"))
        .orderBy("adc_d", id_col)
        .limit(k * oversample)
    )
    # k*oversample ids by construction — push as IN filter (row-group
    # skipping), not a join stage
    cand_ids = [r[0] for r in approx.collect()]
    pruned = corpus.filter(F.col(id_col).isin(cand_ids)).select(id_col, vec_col)
    return knn(pruned, query_vec, k=k, metric=metric, id_col=id_col, vec_col=vec_col)
