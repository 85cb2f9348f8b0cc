"""Random-hyperplane LSH approximate kNN (reference J2, SURVEY.md 2.3).

Reference semantics (``app/core/indexers/lsh.py``):

* L hash tables x k sign bits per table; hyperplanes drawn from a seeded
  normal and unit-normalized (``lsh.py:312-327``).
* signature = concatenated sign bits of dot(v, plane) (``lsh.py:329-353``);
  vectors are L2-normalized before hashing (``lsh.py:340``).
* search: union of exact-bucket matches across all tables
  (``lsh.py:189-195``), FULL-SCAN FALLBACK when fewer than k candidates
  (``lsh.py:199-202``), exact re-rank of candidates by the requested
  metric (``lsh.py:205-213``), top-k.
* ``_multi_probe`` exists in the reference but is dead code (never called
  from search) — not reproduced.

Spark-first design:

* **Index build** = one embarrassingly-parallel projection: an Arrow
  stage computes all L signatures per vector with a single numpy matmul
  against the broadcast (L*k, dim) plane matrix, then ``posexplode``
  yields the long-form index ``(id, table_idx, sig)``.  At cluster scale
  this is a written table partitioned by ``(table_idx, sig)`` — the
  "index build job" (reference M10) — so candidate retrieval is a
  partition-pruned scan, not a full shuffle.
* **Search** = equi-join of the (broadcast) query signatures against the
  index on ``(table_idx, sig)`` — the shuffle moves only ids and 8-char
  signatures, never vectors — then a semi-join pulls candidate vectors,
  exact distances re-rank, window top-k.
* **Fallback** is per-query: only queries with < k candidates pay the
  exact scan, via ``knn_join_vectorized`` (partition-local top-k).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inmem_vector_db_spark.functions.distance import distance
from inmem_vector_db_spark.operators.arrowmat import flat_matrix
from inmem_vector_db_spark.operators.knn import knn_join_vectorized


def md5_planes(n_planes: int, dim: int) -> np.ndarray:
    """Engine-portable hyperplane matrix: entry (j, d) is derived from
    ``md5(f"lshplane|{j}|{d}")`` exactly as DuckDB can recompute it —
    ``(('0x'||substr(md5('lshplane|'||j||'|'||d),1,15))::UBIGINT % 2001 -
    1000) / 1000.0`` — i.e. uniform on [-1, 1] in steps of 1e-3.
    Sign-bit LSH only consumes ``sign(dot(v, plane))``, so plane entries
    need symmetry around 0, not Gaussianity; recall vs the seeded-
    Gaussian scheme is measured equal in tests/test_lsh.py.  This is the
    same md5-portability trick as ``functions.text.simhash60`` and makes
    the ENTIRE LSH search pipeline value-hash-oracle-checkable."""
    import hashlib

    out = np.empty((n_planes, dim), dtype=np.float64)
    for j in range(n_planes):
        for d in range(dim):
            h = int(
                hashlib.md5(f"lshplane|{j}|{d}".encode()).hexdigest()[:15], 16
            )
            out[j, d] = (h % 2001 - 1000) / 1000.0
    return out


class RandomHyperplaneLSH:
    """Seeded sign-bit LSH over an embedding column.

    Defaults match the reference hparams: hash_size=8, num_tables=10
    (``app/config/indexer_hparams.py:18-20``); the reference defaults to
    a random seed (``lsh.py:40``) — here the seed is explicit so builds
    are reproducible (SURVEY.md 7.4 determinism requirement).
    """

    def __init__(
        self,
        dim: int,
        num_tables: int = 10,
        hash_size: int = 8,
        seed: int = 42,
        plane_scheme: str = "gaussian",
    ) -> None:
        self.dim = dim
        self.num_tables = num_tables
        self.hash_size = hash_size
        self.seed = seed
        self.plane_scheme = plane_scheme
        if plane_scheme == "gaussian":
            rng = np.random.default_rng(seed)
            planes = rng.standard_normal((num_tables * hash_size, dim))
            planes /= np.linalg.norm(planes, axis=1, keepdims=True)  # lsh.py:325-326
        elif plane_scheme == "md5":
            planes = md5_planes(num_tables * hash_size, dim)
        else:
            raise ValueError(f"unknown plane_scheme {plane_scheme!r}")
        self._planes = planes  # (L*k, dim) float64

    # -- signature computation -------------------------------------------

    def signatures_np(self, mat: np.ndarray) -> list[list[str]]:
        """All L signatures per row of ``mat`` (N, dim) — one matmul."""
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        normed = mat / norms  # lsh.py:340 normalizes before hashing
        bits = (normed @ self._planes.T) >= 0.0  # (N, L*k)
        L, k = self.num_tables, self.hash_size
        out: list[list[str]] = []
        for row in bits:
            out.append(
                ["".join("1" if b else "0" for b in row[t * k : (t + 1) * k]) for t in range(L)]
            )
        return out

    def with_signatures(
        self, df: DataFrame, vec_col: str = "embedding", sig_col: str = "sigs"
    ) -> DataFrame:
        """Append an array<string> column of the L table signatures.

        ``mapInArrow``: the (N, dim) matrix reshapes from the ListArray
        flat buffer, every input column re-emits its Arrow array
        untouched (the old pandas path copied the whole batch per
        yield), and the k-bit signature strings pack VECTORIZED — the
        contiguous (N*L, k) '0'/'1' char matrix viewed as U{k} is
        exactly the per-row ``"".join`` without the Python loop."""
        planes = self._planes
        L, k = self.num_tables, self.hash_size
        dim = planes.shape[1]
        import pyarrow as pa

        def part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for rb in batches:
                n = rb.num_rows
                if n == 0:
                    continue
                names = rb.schema.names
                mat = flat_matrix(rb, vec_col, expected_dim=dim)
                norms = np.linalg.norm(mat, axis=1, keepdims=True)
                norms[norms == 0.0] = 1.0
                bits = ((mat / norms) @ planes.T) >= 0.0
                # bits -> '0'/'1' chars -> one U{k} string per table
                chars = np.where(bits, "1", "0")
                sig_flat = (
                    np.ascontiguousarray(chars.reshape(n * L, k))
                    .view(f"U{k}")
                    .ravel()
                )
                sig_offsets = pa.array(
                    np.arange(0, (n + 1) * L, L, dtype=np.int32)
                )
                sig_arr = pa.ListArray.from_arrays(
                    sig_offsets, pa.array(sig_flat, type=pa.string())
                )
                yield pa.RecordBatch.from_arrays(
                    [rb.column(i) for i in range(rb.num_columns)] + [sig_arr],
                    names=list(names) + [sig_col],
                )

        # programmatic schema (copy + add) — simpleString surgery breaks
        # on nested struct/map columns
        from pyspark.sql.types import ArrayType, StringType, StructType

        schema = StructType(list(df.schema.fields)).add(
            sig_col, ArrayType(StringType())
        )
        return df.mapInArrow(part, schema=schema)

    def build_index(
        self, df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
    ) -> DataFrame:
        """Long-form signature index: (id, table_idx, sig).

        At scale: ``.write.partitionBy("table_idx").bucketBy(...)`` this
        table; the search equi-join then prunes to matching buckets.
        """
        with_sigs = self.with_signatures(
            df.select(id_col, vec_col), vec_col=vec_col
        )
        return with_sigs.select(
            F.col(id_col), F.posexplode("sigs").alias("table_idx", "sig")
        )

    # -- search ----------------------------------------------------------

    def search(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        k: int = 5,
        metric: str = "euclidean",
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
        index: DataFrame | None = None,
        exact_fallback: bool = True,
        probe_radius: int = 0,
    ) -> DataFrame:
        """Approximate top-k with the reference's exact-scan fallback.

        ``probe_radius=1`` enables multi-probe: each query also probes
        every bucket whose signature differs by one bit — the
        recall-vs-tables trade the reference sketched but never wired in
        (its ``_multi_probe``, ``lsh.py:355-376``, is dead code).  Here
        it is live: the probe set is expanded on the (tiny) query side
        before the same equi-join, so the index, the join shape, and the
        scale posture are unchanged — k extra probe rows per (query,
        table), zero extra corpus work.  Candidates are a superset of
        the exact-bucket candidates, so recall is monotonically >= the
        single-probe search (asserted in tests/test_lsh.py).

        Output: (query_id, vec_id, dist, rank) — rank 1..k per query,
        ascending (dist, id), distances exact under ``metric``.
        """
        if probe_radius not in (0, 1):
            raise ValueError("probe_radius supports 0 (off) or 1 (bit flips)")
        if k <= 0:
            raise ValueError("k must be > 0")
        spark = corpus.sparkSession
        if index is None:
            index = self.build_index(corpus, id_col, vec_col)

        qrows = queries.select(query_id_col, query_vec_col).collect()
        if not qrows:
            raise ValueError("queries is empty")
        qids = [r[0] for r in qrows]
        qmat = np.asarray([list(r[1]) for r in qrows], dtype=np.float64)
        qsigs = self.signatures_np(qmat)
        qsig_rows = [
            (qid, t, sig)
            for qid, sigs in zip(qids, qsigs)
            for t, sig in enumerate(sigs)
        ]
        if probe_radius == 1:
            qsig_rows += [
                (qid, t, sig[:i] + ("1" if sig[i] == "0" else "0") + sig[i + 1 :])
                for qid, t, sig in list(qsig_rows)
                for i in range(len(sig))
            ]
        qschema = (
            f"{query_id_col} {queries.schema[query_id_col].dataType.simpleString()}, "
            "table_idx int, sig string"
        )
        from inmem_vector_db_spark.functions.localframe import literal_df

        # literal_df, not createDataFrame: the query-signature table is a
        # bounded driver-side literal set, and the parallelize-backed
        # frame paid a Python-worker evaluation on every search (r13)
        qsig_df = literal_df(spark, qsig_rows, qschema)

        # candidate ids: equi-join on (table_idx, sig), union across
        # tables via distinct — only (id, qid) pairs move.
        # localCheckpoint: both the fallback-count branch and the final
        # re-rank consume it, and without materialization each would
        # re-run the signature build (the expensive mapInArrow over the
        # corpus) from scratch.  Unlike persist(), checkpoint blocks are
        # released when the DataFrame is garbage-collected, so repeated
        # searches in a long-lived session don't accumulate cached
        # partitions.  (On a cluster this is a written signature table —
        # the reference's index artifact, M10 — not a cache at all.)
        cand = (
            index.join(F.broadcast(qsig_df), ["table_idx", "sig"])
            .select(query_id_col, id_col)
            .distinct()
            .localCheckpoint(eager=False)
        )

        # exact re-rank of candidates under the requested metric
        qvec_df = F.broadcast(
            queries.select(
                F.col(query_id_col), F.col(query_vec_col).alias("__qvec")
            )
        )
        scored = (
            cand.join(corpus.select(id_col, vec_col), id_col)
            .join(qvec_df, query_id_col)
            .select(
                query_id_col,
                id_col,
                distance(metric, "__qvec", vec_col).alias("dist"),
            )
        )
        w = Window.partitionBy(query_id_col).orderBy("dist", id_col)
        approx = scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

        if not exact_fallback:
            return approx

        # reference lsh.py:199-202: queries with < k candidates fall back
        # to the exact scan.  The full/short split is computed
        # DISTRIBUTIVELY (groupBy-count + semi/anti joins on query_id) —
        # no per-query driver dict — so the split scales past thousands
        # of queries.  Only the short queries themselves are collected,
        # inside knn_join_vectorized, which broadcasts its query matrix
        # by design.
        full = F.broadcast(
            cand.groupBy(query_id_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= k)
            .select(query_id_col)
        )
        short_queries = queries.join(full, query_id_col, "left_anti")
        if short_queries.isEmpty():
            return approx
        exact = knn_join_vectorized(
            corpus, short_queries, k=k, metric=metric,
            id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )
        kept = approx.join(full, query_id_col, "left_semi")
        return kept.unionByName(exact)


def write_lsh_index(
    lsh: RandomHyperplaneLSH,
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Write the long-form signature index as a parquet artifact
    partitioned by ``table_idx`` — the LSH analog of
    ``ann.write_ivf_index`` (the M10 index-build job).  Signatures are
    a pure function of (vector, plane matrix), so the artifact needs no
    centroid-style state: append/build order can never change a row."""
    lsh.build_index(corpus, id_col, vec_col).write.partitionBy(
        "table_idx"
    ).mode("overwrite").parquet(f"{path}/signatures")


def append_lsh_index(
    lsh: RandomHyperplaneLSH,
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental LSH maintenance: signature the NEW batch and append.
    O(|batch|) — each table partition gains one small file; existing
    files are never rewritten.  Unlike IVF append there is no frozen
    shared state to consult (planes are deterministic), so a base
    build + appends is BIT-IDENTICAL to a from-scratch build over the
    union (pinned in tests/test_lsh.py)."""
    lsh.build_index(batch, id_col, vec_col).write.partitionBy(
        "table_idx"
    ).mode("append").parquet(f"{path}/signatures")


def delete_from_lsh_index(
    spark, path: str, ids: Sequence, id_col: str = "vec_id"
) -> None:
    """O(1) targeted delete via tombstones.  Every id appears in EVERY
    table partition of the signature artifact, so an in-place delete
    would rewrite the whole index — the production pattern is a
    tombstone side-table that ``read_lsh_index`` anti-joins (bounded:
    it only ever holds ids deleted since the last compaction) and
    ``compact_lsh_index`` folds in during scheduled maintenance.
    ``id_col`` must match the one the index was written with — the
    tombstone schema is built from it so read/compact anti-joins
    resolve for non-default id columns too."""
    # literal_df (r14): the id list is driver-literal; the parallelize
    # form wrote one tiny file per slice through the Python lane (32
    # Python tasks + 32 files per delete at local defaults) — the
    # LocalRelation writes one file from one task
    from inmem_vector_db_spark.functions.localframe import literal_df

    literal_df(
        spark, [(i,) for i in ids], f"{id_col} long"
    ).write.mode("append").parquet(f"{path}/tombstones")


def _tombstones(spark, path: str):
    """The tombstone table's directory as a Hadoop (FileSystem, Path):
    PySpark has no public API to test a path for existence or delete it.
    Testing first, not catching a failed read, keeps a delete-free read
    from logging a ``FileNotFoundException`` stack trace, and lets a
    transient IO error on a real tombstones read surface."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(f"{path}/tombstones")
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def read_lsh_index(spark, path: str, id_col: str = "vec_id") -> DataFrame:
    """The serveable index: written signatures minus tombstoned ids.
    The anti-join broadcasts the (small) tombstone table, so reads cost
    one pruned scan regardless of delete history."""
    idx = spark.read.parquet(f"{path}/signatures")
    fs, p = _tombstones(spark, path)
    if not fs.exists(p):  # no deletes yet
        return idx
    tomb = spark.read.parquet(f"{path}/tombstones")
    return idx.join(F.broadcast(tomb.select(id_col).distinct()), id_col, "left_anti")


def compact_lsh_index(spark, path: str, id_col: str = "vec_id") -> int:
    """Fold tombstones into the signature files (scheduled maintenance,
    amortizing the rewrite across many O(1) deletes): rewrite the
    artifact without tombstoned rows, then drop the tombstone table.
    Returns the number of ids folded in.  Content afterwards is
    identical to ``read_lsh_index`` before (pinned in tests)."""
    fs, p = _tombstones(spark, path)
    if not fs.exists(p):  # nothing to fold
        return 0
    n = spark.read.parquet(f"{path}/tombstones").select(id_col).distinct().count()
    if n:
        survivors = read_lsh_index(spark, path, id_col).localCheckpoint()
        survivors.write.partitionBy("table_idx").mode("overwrite").parquet(
            f"{path}/signatures"
        )
    fs.delete(p, True)
    return n


def lsh_recall_at_k(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "cosine",
    lsh: RandomHyperplaneLSH | None = None,
    **kw,
) -> float:
    """recall@k of LSH search vs exact kNN over the same queries —
    the evaluation the reference never had (SURVEY.md 5: 'no recall@k
    measurement against ground truth')."""
    if lsh is None:
        dim = len(queries.select(kw.get("query_vec_col", "query_vec")).head()[0])
        lsh = RandomHyperplaneLSH(dim)
    approx = lsh.search(corpus, queries, k=k, metric=metric, **kw)
    exact = knn_join_vectorized(corpus, queries, k=k, metric=metric, **{
        kk: v for kk, v in kw.items() if kk not in ("exact_fallback", "probe_radius")
    })
    a = approx.select("query_id", "vec_id")
    e = exact.select("query_id", "vec_id")
    hit = a.join(e, ["query_id", "vec_id"]).count()
    total = e.count()
    return hit / total if total else 1.0
