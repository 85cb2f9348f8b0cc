"""Sources: CSV chunks, embedding cache, feeds, table maintenance."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from inmem_vector_db_spark.sources.embedding import EmbeddingCache, hash_embed_texts
from inmem_vector_db_spark.sources.loader import load_chunk_csv, load_table


def test_csv_source(spark, tmp_path):
    p = tmp_path / "chunks.csv"
    p.write_text(
        'chunk,document_name\n"hello, world","Doc A"\n"line one\nline two",Doc B\n'
    )
    df = load_chunk_csv(spark, str(p))
    rows = {r["document_name"]: r["chunk"] for r in df.collect()}
    assert rows["Doc A"] == "hello, world"
    assert rows["Doc B"] == "line one\nline two"  # multiline quoted field


def test_embedding_cache_hits_and_appends(spark, tmp_path):
    cache = EmbeddingCache(str(tmp_path / "emb_cache"))
    df1 = spark.createDataFrame([("a",), ("b",)], "text string")
    out1 = {r["text"]: r["embedding"] for r in cache.get_or_compute(df1).collect()}
    want = hash_embed_texts(pd.Series(["a", "b"]))
    assert out1["a"] == pytest.approx(want[0])

    # second call: 'a','b' served from cache, only 'c' computed; cache
    # table must contain exactly the 3 distinct texts afterwards
    df2 = spark.createDataFrame([("a",), ("c",)], "text string")
    out2 = {r["text"]: r["embedding"] for r in cache.get_or_compute(df2).collect()}
    assert out2["a"] == pytest.approx(want[0])
    assert out2["c"] == pytest.approx(hash_embed_texts(pd.Series(["c"]))[0])
    cached = spark.read.parquet(cache.path)
    assert cached.count() == 3
    assert cached.select("text_hash").distinct().count() == 3


def test_bpe_token_count(spark):
    from inmem_vector_db_spark.functions.text import bpe_token_count

    df = spark.createDataFrame(
        [("I don't think 42 is the answer!",), ("hello",)], "text string"
    )
    got = {r["text"]: r["n"] for r in df.select(
        "text", bpe_token_count("text").alias("n")).collect()}
    # I | \x20don | 't | \x20think | \x2042 | \x20is | \x20the | \x20answer | !
    assert got["I don't think 42 is the answer!"] == 9
    assert got["hello"] == 1


def test_compact_small_files(spark, sf_dir, tmp_path):
    from inmem_vector_db_spark.sources.maintenance import compact

    src = str(tmp_path / "frag")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # simulate streaming appends: 10 tiny files
    for i in range(10):
        emb.filter((F.col("vec_id") % 10) == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    before = spark.read.parquet(src)
    n, s = before.count(), before.agg(F.sum("vec_id")).head()[0]

    stats = compact(spark, src, target_file_mb=128, sort_by=["vec_id"])
    assert stats["files_before"] >= 10
    assert stats["files_after"] < stats["files_before"]

    after = spark.read.parquet(src)
    assert after.count() == n
    assert after.agg(F.sum("vec_id")).head()[0] == s  # nothing lost
    # sorted within the (single) output file
    ids = [r["vec_id"] for r in after.collect()]
    # repartitionByRange(1 file) + sortWithinPartitions => globally sorted read
    assert ids == sorted(ids) or stats["files_after"] > 1


def test_jsonl_and_orc_sources_roundtrip(spark, sf_dir, tmp_path):
    from inmem_vector_db_spark.sources.loader import load_jsonl, load_orc, load_table

    docs = load_table(spark, sf_dir, "documents")
    want = docs.count()
    jdir, odir = str(tmp_path / "j"), str(tmp_path / "o")
    docs.write.json(jdir)
    docs.write.orc(odir)
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    js = load_jsonl(spark, jdir, schema)
    assert js.count() == want
    assert js.schema.simpleString() == docs.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).schema.simpleString()
    assert load_orc(spark, odir).count() == want
    # values survive the round trip, not just counts
    a = {r["doc_id"]: r["text"] for r in js.collect()}
    b = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert a == b


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the same key join with NO Exchange —
    the write-time hash partitioning replaces the per-query shuffle."""
    from pyspark.sql import functions as F

    from inmem_vector_db_spark.sources.maintenance import write_bucketed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    write_bucketed(
        emb.select("vec_id", "label"), "bkt_a", str(tmp_path / "bkt_a"), ["vec_id"], 4
    )
    write_bucketed(
        emb.select("vec_id", "embedding"), "bkt_b", str(tmp_path / "bkt_b"), ["vec_id"], 4
    )
    try:
        with_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_a").join(spark.table("bkt_b"), "vec_id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
            assert joined.count() == emb.count()
            # same join WITHOUT bucketing does shuffle both sides
            plain = emb.select("vec_id", "label").join(
                emb.select("vec_id", "embedding").withColumn(
                    "embedding", F.col("embedding")
                ),
                "vec_id",
            )
            assert "Exchange" in plain._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_thresh)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_zorder_layout_minimax_beats_single_sorts(spark, tmp_path):
    """Prove the Z-order claim with real parquet footers.  A 1-D sort
    prunes its own column perfectly and the other not at all; Z-order
    prunes BOTH moderately.  So over a workload with a price-only query
    and a quantity-only query, z's worst-case touched fraction must
    beat each single-column layout's worst case (the minimax guarantee
    that makes ZORDER the multi-predicate layout)."""
    import os

    import pyarrow.parquet as pq

    from inmem_vector_db_spark.sources.maintenance import write_zordered

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_quantity", "l_extendedprice"
    )
    ranges = {"l_quantity": (1.0, 50.0), "l_extendedprice": (901.0, 105000.0)}
    bs = 32 * 1024
    zp, pp_, qp = (str(tmp_path / d) for d in ("zord", "price_sorted", "qty_sorted"))
    write_zordered(
        li, zp, ["l_quantity", "l_extendedprice"], ranges,
        n_files=4, block_size_bytes=bs,
    )
    for path, col in ((pp_, "l_extendedprice"), (qp, "l_quantity")):
        (
            li.repartitionByRange(4, col)
            .sortWithinPartitions(col)
            .write.option("parquet.block.size", str(bs)).parquet(path)
        )

    queries = [
        {"l_extendedprice": (20000.0, 30000.0)},   # price-only predicate
        {"l_quantity": (10.0, 15.0)},              # quantity-only predicate
    ]

    def frac(path, box):
        tot = hit = 0
        for root, _d, files in os.walk(path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, f)).metadata
                names = [md.schema.column(i).name for i in range(md.num_columns)]
                for rg in range(md.num_row_groups):
                    tot += 1
                    overlap = True
                    for col, (lo, hi) in box.items():
                        st = md.row_group(rg).column(names.index(col)).statistics
                        if st.max < lo or st.min > hi:
                            overlap = False
                            break
                    if overlap:
                        hit += 1
        assert tot >= 8, "need many row groups for the test to mean anything"
        return hit / tot

    worst = {p: max(frac(p, q) for q in queries) for p in (zp, pp_, qp)}
    assert worst[zp] < worst[pp_], worst
    assert worst[zp] < worst[qp], worst
    # and z must genuinely prune (not just tie at scanning everything)
    assert worst[zp] < 0.7, worst


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """A lang-partitioned layout must turn a lang filter into a
    partition prune: the scan's PartitionFilters carry the predicate
    and only the matching directory is read."""
    from inmem_vector_db_spark.sources.loader import load_table

    out = str(tmp_path / "docs_part")
    load_table(spark, sf_dir, "documents").write.partitionBy("lang").parquet(out)
    df = spark.read.parquet(out).filter(F.col("lang") == "en").select("doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:200]
    want = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en").count()
    assert df.count() == want


def test_document_feed_source_page_boundaries(spark, sf_dir, tmp_path):
    """Custom DataSource: byte-sliced pagination must neither drop nor
    duplicate records, for any page size — including pages that split a
    record mid-line and pages whose boundary lands exactly on a line
    start."""
    from inmem_vector_db_spark.sources.feed import register_feed_source

    register_feed_source(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = str(tmp_path / "feed")
    docs.coalesce(1).write.mode("overwrite").json(staged)
    import glob

    (part,) = glob.glob(f"{staged}/part-*.json")
    want = sorted(
        (r["doc_id"], r["n_chars"]) for r in docs.select("doc_id", "n_chars").collect()
    )
    for page_bytes in (257, 4096, 1 << 30):  # many tiny pages .. one page
        got = (
            spark.read.format("document_feed")
            .option("path", part)
            .option("page_bytes", page_bytes)
            .load()
        )
        assert sorted(
            (r["doc_id"], r["n_chars"]) for r in got.select("doc_id", "n_chars").collect()
        ) == want, f"page_bytes={page_bytes}"


def test_document_feed_filter_pushdown(spark, sf_dir, tmp_path):
    """Pushed equality filters must produce exactly the rows a plain
    post-filter would — and unsupported predicates stay with Spark."""
    from inmem_vector_db_spark.sources.feed import register_feed_source

    register_feed_source(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = str(tmp_path / "feedf")
    docs.coalesce(1).write.mode("overwrite").json(staged)
    import glob

    (part,) = glob.glob(f"{staged}/part-*.json")
    feed = (
        spark.read.format("document_feed")
        .option("path", part)
        .option("page_bytes", 4096)
        .load()
    )
    # supported pushdown (source =) combined with one Spark-side
    # predicate (n_chars >) — results must equal the parquet truth
    got = sorted(
        r["doc_id"]
        for r in feed.filter(
            (F.col("source") == "src7") & (F.col("n_chars") > 200)
        ).collect()
    )
    want = sorted(
        r["doc_id"]
        for r in docs.filter(
            (F.col("source") == "src7") & (F.col("n_chars") > 200)
        ).collect()
    )
    assert got == want and len(got) > 0
    # contradictory pushed equalities must yield zero rows, not last-wins
    assert (
        feed.filter((F.col("source") == "src7") & (F.col("source") == "src8")).count()
        == 0
    )


def test_document_feed_malformed_modes(spark, tmp_path):
    """mode=skip drops poisoned lines and keeps the rest; the default
    fail mode surfaces the error instead of silently losing data."""
    import json as _json

    import pytest as _pytest

    from inmem_vector_db_spark.sources.feed import register_feed_source

    register_feed_source(spark)
    feed = tmp_path / "bad.jsonl"
    good = [{"doc_id": i, "text": f"t{i}", "lang": "en", "source": "s",
             "n_chars": 2} for i in range(3)]
    with open(feed, "w") as fh:
        fh.write(_json.dumps(good[0]) + "\n")
        fh.write("{not json at all\n")
        fh.write(_json.dumps(good[1]) + "\n")
        fh.write(_json.dumps({"doc_id": 99}) + "\n")  # missing fields
        fh.write(_json.dumps(good[2]) + "\n")

    read = lambda mode: (
        spark.read.format("document_feed")
        .option("path", str(feed)).option("mode", mode).load()
    )
    assert sorted(r["doc_id"] for r in read("skip").collect()) == [0, 1, 2]
    with _pytest.raises(Exception):
        read("fail").collect()


def test_snapshot_time_travel_semantics(spark, sf_dir, tmp_path):
    """sources/snapshots: appends create new versions without touching
    old ones; every historical version stays readable and exact; a
    reader can never resolve an uncommitted or unknown version."""
    from inmem_vector_db_spark.sources.snapshots import (
        commit_snapshot,
        list_versions,
        read_snapshot,
    )

    root = str(tmp_path / "tbl")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    with pytest.raises(ValueError):
        read_snapshot(spark, root)  # nothing committed yet

    v1 = commit_snapshot(docs.filter(F.col("doc_id") % 2 == 0), root)
    ids_v1 = {r[0] for r in read_snapshot(spark, root).select("doc_id").collect()}
    v2 = commit_snapshot(docs.filter(F.col("doc_id") % 2 == 1), root)
    assert (v1, v2) == (1, 2) and list_versions(root) == [1, 2]

    # old version byte-stable after the append
    again_v1 = {r[0] for r in read_snapshot(spark, root, 1).select("doc_id").collect()}
    assert again_v1 == ids_v1
    # latest = union, exactly once each
    latest = read_snapshot(spark, root)
    assert latest.count() == docs.count()
    assert latest.select("doc_id").distinct().count() == docs.count()
    with pytest.raises(ValueError):
        read_snapshot(spark, root, 3)


def test_snapshot_commit_retry_survives_orphan_data_dir(spark, sf_dir, tmp_path):
    """A commit that died between the data write and the manifest write
    leaves an orphan batch directory; the retried commit must probe
    past it instead of wedging the table forever on mode='error'."""
    from inmem_vector_db_spark.sources.snapshots import (
        commit_snapshot,
        list_versions,
        read_snapshot,
    )

    root = str(tmp_path / "tbl")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    commit_snapshot(docs.filter(F.col("doc_id") % 2 == 0), root)
    # simulate the half-commit: v2's data landed, no manifest followed
    orphan = docs.filter(F.col("doc_id") % 2 == 1)
    import os

    orphan.write.parquet(os.path.join(root, "batch-00002"))
    assert list_versions(root) == [1]  # orphan is invisible

    v2 = commit_snapshot(orphan, root)  # the retry
    assert v2 == 2
    latest = read_snapshot(spark, root)
    assert latest.count() == docs.count()
    assert latest.select("doc_id").distinct().count() == docs.count()
    # a foreign file in _manifests must not take listing down
    with open(os.path.join(root, "_manifests", "view.json"), "w") as fh:
        fh.write("{}")
    assert list_versions(root) == [1, 2]


def test_snapshot_concurrent_commit_never_lost(spark, sf_dir, tmp_path, monkeypatch):
    """Two committers that both observed latest=v1 must land as v2 AND
    v3 — the manifest create is exclusive (os.link), so the loser's
    link raises EEXIST and it retries with a bumped number instead of
    silently overwriting the winner's manifest (lost commit).  The
    TOCTOU is simulated by feeding the loser a STALE version list
    (missing the rival's v2) right up to its first link attempt."""
    import json
    import os

    import inmem_vector_db_spark.sources.snapshots as snap

    root = str(tmp_path / "tbl")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    snap.commit_snapshot(docs.filter(F.col("doc_id") % 3 == 0), root)
    # the rival commit: its data dir + v2.json already on disk
    mdir = os.path.join(root, "_manifests")
    rival_dir = "batch-rival"
    docs.filter(F.col("doc_id") % 3 == 1).write.parquet(
        os.path.join(root, rival_dir)
    )
    v1_dirs = json.load(open(os.path.join(mdir, "v1.json")))["data_dirs"]
    with open(os.path.join(mdir, "v2.json"), "w") as fh:
        json.dump({"version": 2, "data_dirs": v1_dirs + [rival_dir]}, fh)

    # loser's first two list_versions reads (pre-data-write + first
    # manifest-loop pass) are stale: they don't see the rival's v2
    real = snap.list_versions
    calls = {"n": 0}

    def stale_then_real(path):
        calls["n"] += 1
        vs = real(path)
        return [x for x in vs if x != 2] if calls["n"] <= 2 else vs

    monkeypatch.setattr(snap, "list_versions", stale_then_real)
    v = snap.commit_snapshot(docs.filter(F.col("doc_id") % 3 == 2), root)
    monkeypatch.setattr(snap, "list_versions", real)

    assert calls["n"] >= 3  # the EEXIST retry actually fired
    assert v == 3  # bumped past the rival, not overwritten onto it
    assert snap.list_versions(root) == [1, 2, 3]
    # v3 sees ALL three commits' rows: nothing was lost or orphaned
    assert snap.read_snapshot(spark, root, 3).count() == docs.count()
    assert snap.read_snapshot(spark, root, 2).count() == docs.filter(
        F.col("doc_id") % 3 != 2
    ).count()
    # no leftover tmp files from the failed link attempt
    assert not [n for n in os.listdir(mdir) if ".tmp" in n]


def test_snapshot_threaded_commits_all_land(spark, sf_dir, tmp_path):
    """Four commits racing from FOUR THREADS OF ONE DRIVER PROCESS all
    land with distinct versions and disjoint data dirs.  This is the
    same-pid race the pid-suffixed tmp name could not survive (advisor
    r8): two threads sharing `.v2.json.tmp-<pid>` could cross-publish
    each other's manifest (a silently lost commit) or crash on the
    already-removed tmp.  Per-attempt uuid tmp names + the retried
    exclusive data write make the whole commit path thread-safe."""
    import os
    import threading

    import inmem_vector_db_spark.sources.snapshots as snap

    root = str(tmp_path / "tbl")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    base = snap.commit_snapshot(docs.filter(F.col("doc_id") % 5 == 4), root)
    assert base == 1

    errors: list[Exception] = []
    gate = threading.Barrier(4)

    def commit(residue: int) -> None:
        try:
            gate.wait()  # maximize interleaving of the 4 commit paths
            snap.commit_snapshot(
                docs.filter(F.col("doc_id") % 5 == residue), root
            )
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [
        threading.Thread(target=commit, args=(r,)) for r in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    # every commit produced a version; the latest sees ALL rows exactly
    # once (no lost commit, no double-write)
    assert snap.list_versions(root) == [1, 2, 3, 4, 5]
    assert snap.read_snapshot(spark, root).count() == docs.count()
    # the four racing data dirs are disjoint (each version adds one)
    dirs = snap._read_manifest(root, 5)
    assert len(dirs) == len(set(dirs)) == 5
    # no leftover tmp staging files from lost link races
    mdir = os.path.join(root, "_manifests")
    assert not [n for n in os.listdir(mdir) if ".tmp" in n]
