"""Distributed k-means (Lloyd) over an embedding column.

The missing half of the IVF story: ``operators.ann`` selects coarse
centroids by deterministic stride sampling (reproducible, but list sizes
track data order, not geometry).  Real IVF indexes train centroids with
a few Lloyd iterations — this module is that trainer, built so every
iteration is engine-portable and EXACTLY reproducible:

* **Assignment** is the existing ``ivf_assign`` pass: broadcast centroid
  matrix, one numpy distance argmin per Arrow batch, no shuffle.
* **Update** is an exact integer aggregation: each partition emits
  per-cluster sums of ``floor(component * 1e6)`` int64 (numpy, exact)
  plus counts; the combine shuffles only ``partitions x k`` partial rows
  (never vectors), and the new centroid is ``int_sum / (1e6 * count)``
  — a ratio of exactly-representable integers, so the trained centroids
  are bit-identical regardless of partitioning, input order, or engine
  (the property tests/test_oracle_order_robustness.py pins suite-wide;
  a float64 running mean would be none of those).  Quantizing components
  to 1e-6 before averaging changes a centroid by < 1e-6 per coordinate —
  irrelevant to clustering quality, decisive for reproducibility.
* **Driver state** is bounded at k x dim doubles per iteration (the same
  ``max_centroids``-class bound as ``select_centroids``), never corpus
  rows.

At 100 TB the standard practice is exactly this shape — train on the
corpus (or a uniform sample) with broadcast centroids and partial-sum
combines; k and dim bound all shuffled and collected state.

Reference tie-in: the reference has no trainer (its HNSW/LSH take
vectors as they arrive); this is the beyond-reference scale path that
makes the IVF index (`ann.py`, SURVEY.md 7.2 step 7) a trained index.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inmem_vector_db_spark.operators.ann import ivf_assign, select_centroids
from inmem_vector_db_spark.operators.arrowmat import flat_matrix, int_list_array

SCALE = 1_000_000  # component quantization for exact integer sums


def _partial_sums(vec_col: str):
    """mapInArrow stage: per-(partition-batch, cluster) scaled-int sums.
    ``floor`` (not round/rint) mirrors DuckDB ``floor`` — both engines
    floor the SAME IEEE float64 product, so the int64 operands agree.
    The (N, D) matrix reshapes from the ListArray flat buffer (same
    pattern as operators/knn.py; int64 sums are order-free so the
    emitted partials are unchanged)."""
    import pyarrow as pa

    def part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            mat = flat_matrix(rb, vec_col)
            scaled = np.floor(mat * SCALE).astype(np.int64)
            cl = np.asarray(rb.column(names.index("cluster_id")))
            cids, ssum, cnt = [], [], []
            for cid in np.unique(cl):
                m = scaled[cl == cid]
                cids.append(int(cid))
                ssum.append(m.sum(axis=0, dtype=np.int64))
                cnt.append(m.shape[0])
            sum_arr = int_list_array(np.stack(ssum))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(cids, dtype=np.int64)),
                    sum_arr,
                    pa.array(np.asarray(cnt, dtype=np.int64)),
                ],
                names=["cluster_id", "ssum", "cnt"],
            )

    return part


def lloyd_iterations(
    corpus: DataFrame,
    cids: list,
    cmat: np.ndarray,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list, np.ndarray]:
    """Run ``iters`` exact-integer Lloyd updates from the given
    centroids.  Cluster labels stay the INITIAL centroid ids (stable
    across iterations — an inverted-list directory name that survives
    retraining); a cluster that loses all members keeps its previous
    centroid (it can re-acquire members later).  This is the single
    Lloyd implementation: ``kmeans_fit`` delegates here, and a caller
    refining IVF centroids from ``ann.select_centroids`` calls it
    directly — the ids stay the seeds', so the result plugs into
    ``ivf_assign``/``ivf_search`` unchanged."""
    cmat = np.array(cmat, dtype=np.float64, copy=True)
    for _ in range(iters):
        assigned = ivf_assign(corpus, cids, cmat, id_col=id_col, vec_col=vec_col)
        partials = assigned.select("cluster_id", vec_col).mapInArrow(
            _partial_sums(vec_col),
            schema="cluster_id long, ssum array<long>, cnt long",
        )
        # combine: explode only the PARTIAL rows (partitions x k x dim —
        # thousands, not corpus-sized), one partial-aggregable shuffle
        sums = (
            partials.select(
                "cluster_id",
                "cnt",
                F.posexplode("ssum").alias("dim", "s"),
            )
            .groupBy("cluster_id", "dim")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        by_cid: dict = {}
        for r in sums:
            by_cid.setdefault(r["cluster_id"], {})[r["dim"]] = (r["s"], r["cnt"])
        new = np.array(cmat, copy=True)
        index = {c: i for i, c in enumerate(cids)}
        for cid, dims in by_cid.items():
            i = index[cid]
            for d, (s, cnt) in dims.items():
                new[i, d] = s / (SCALE * cnt)
        cmat = new
    return list(cids), cmat


def kmeans_fit(
    corpus: DataFrame,
    iters: int = 2,
    stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_centroids: int = 4096,
) -> tuple[list, np.ndarray]:
    """Deterministic stride init + ``iters`` Lloyd updates; returns
    ``(cids, cmat)`` in the same shape ``select_centroids`` yields, so
    the trained centroids drop into every existing IVF search/write
    path unchanged."""
    cids, cmat = select_centroids(
        corpus, stride=stride, id_col=id_col, vec_col=vec_col,
        max_centroids=max_centroids,
    )
    return lloyd_iterations(
        corpus, cids, cmat, iters=iters, id_col=id_col, vec_col=vec_col
    )


def kmeans_summary(
    corpus: DataFrame,
    cids: list,
    cmat: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Oracle-checkable view of a trained clustering: per cluster, the
    member count, lowest member id, and the (exact-integer-derived)
    first centroid coordinate.  All columns are deterministic ints or
    ratios of pre-aggregated ints rounded once.

    ``assigned``: pass a (cached) ``ivf_assign(corpus, cids, cmat)``
    result to skip recomputing the corpus-wide assignment pass."""
    if assigned is None:
        assigned = ivf_assign(corpus, cids, cmat, id_col=id_col, vec_col=vec_col)
    # mean of dim 1 over members, from exact scaled-int operands (this is
    # the dim-1 component the NEXT Lloyd update would produce — an
    # oracle-replayable witness that both assignment and update math match)
    s0 = F.sum(
        F.floor(F.element_at(F.col(vec_col), 1).cast("double") * SCALE).cast(
            "long"
        )
    )
    n = F.count(F.lit(1))
    return (
        assigned.groupBy("cluster_id")
        .agg(
            n.alias("n_members"),
            F.min(id_col).alias("min_member"),
            F.round(s0.cast("double") / (F.lit(float(SCALE)) * n), 6).alias(
                "mean_dim1"
            ),
        )
        .select(
            F.col("cluster_id").alias("cid"),
            "n_members",
            "min_member",
            "mean_dim1",
        )
    )
