"""Plan-shape regression tests: the optimizations we rely on at 100 TB
must be visible in the physical plan, not assumed.  Plus skew utilities."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from inmem_vector_db_spark.operators.knn import knn
from inmem_vector_db_spark.operators.skew import salted_agg, top_values_per_key


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    # other test modules cache() this same path; a cached plan replaces
    # the parquet scan with InMemoryRelation and hides ReadSchema /
    # PushedFilters — clear so plan assertions see the real scan
    spark.catalog.clearCache()
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_knn_plan_no_shuffle_and_pruned_scan(emb):
    """Single-query exact kNN: TakeOrderedAndProject (partition-local
    top-k), no Exchange, and the scan must read only (vec_id, embedding)
    — not label."""
    q = [0.0] * 64
    plan = _plan(knn(emb, q, k=5, metric="euclidean"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("label" not in ln for ln in read)


def test_filter_pushdown_reaches_scan(emb):
    plan = _plan(emb.filter(F.col("label") == 3).select("vec_id"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("label" in ln for ln in pushed)


def test_tpch_q5_broadcasts_dims(spark, sf_dir):
    """Small dims (region/nation) must broadcast, not shuffle-join."""
    from inmem_vector_db_spark.plans.relational import q5_region_revenue

    plan = _plan(q5_region_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_wholestage_codegen_covers_distance(emb):
    """Codegen'd stages render as `*(n)` in executedPlan toString; the
    scan+project pipeline for the distance expression must be inside one."""
    q = [float(i) for i in range(64)]
    plan = _plan(knn(emb, q, k=5, metric="cosine"))
    assert "*(1)" in plan


def test_salted_agg_equals_direct(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    direct = {
        r["l_returnflag"]: (round(r["s"], 6), r["n"])
        for r in events.groupBy("l_returnflag")
        .agg(F.round(F.sum("l_quantity"), 6).alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: (round(r["sum_l_quantity"], 6), r["n_rows"])
        for r in salted_agg(events, ["l_returnflag"], ["l_quantity"]).collect()
    }
    assert salted == direct


def _join_rows(df, key, val_l, val_r):
    return sorted(
        (r[key], r[val_l], r[val_r]) for r in df.collect()
    )


def test_salted_join_equals_plain(spark):
    # 1 hot key (80% of rows) + long tail on both sides
    left = spark.createDataFrame(
        [(0 if i % 5 else i % 40, i) for i in range(2000)], "k LONG, lv LONG"
    )
    right = spark.createDataFrame(
        [(i % 40, i * 10) for i in range(400)], "k LONG, rv LONG"
    )
    plain = _join_rows(left.join(right, "k"), "k", "lv", "rv")
    from inmem_vector_db_spark.operators.skew import salted_join

    full = _join_rows(salted_join(left, right, "k", buckets=8), "k", "lv", "rv")
    assert full == plain
    split = _join_rows(
        salted_join(left, right, "k", buckets=8, hot_keys=[0]),
        "k",
        "lv",
        "rv",
    )
    assert split == plain


def test_salted_join_salts_the_join_key(spark):
    left = spark.createDataFrame([(1, 2)], "k LONG, lv LONG")
    right = spark.createDataFrame([(1, 3)], "k LONG, rv LONG")
    from inmem_vector_db_spark.operators.skew import salted_join

    plan = (
        salted_join(left, right, "k", buckets=4)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "__salt" in plan  # join condition includes the salt sub-key


def test_top_values_per_key_profile(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    prof = top_values_per_key(events, "l_returnflag", threshold=0.1).collect()
    assert prof and all(r["frac"] >= 0.1 for r in prof)
    fracs = [r["n"] for r in prof]
    assert fracs == sorted(fracs, reverse=True)


def test_lsh_search_broadcasts_signatures_not_vectors(spark, sf_dir):
    """LSH candidate retrieval must broadcast the tiny query-signature
    table; the corpus embedding column must not appear in the join that
    produces candidates (only ids + signatures shuffle)."""
    from inmem_vector_db_spark.operators.lsh import RandomHyperplaneLSH

    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    lsh = RandomHyperplaneLSH(dim=64, num_tables=4, hash_size=4)
    plan = _plan(lsh.search(emb, queries, k=3, metric="cosine", exact_fallback=False))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_partitioned_snapshot_prunes(spark, tmp_path):
    """A library_id filter over a partitioned snapshot must appear as a
    PartitionFilter (pruned at planning), not a post-scan Filter."""
    from inmem_vector_db_spark.store import LibraryStore

    store = LibraryStore(spark)
    for name in ("libA", "libB"):
        lid = store.create_library(name)
        doc = store.add_documents(
            lid, spark.createDataFrame([(name,)], "title string")
        ).head()
        store.add_chunks(
            lid,
            spark.createDataFrame(
                [(doc["document_id"], f"text of {name}")],
                "document_id string, text string",
            ),
        )
    root = str(tmp_path / "snap")
    store.save(root, partition_by_library=True)
    lid_a = store.libraries.filter(F.col("name") == "libA").head()["library_id"]
    chunks = spark.read.parquet(f"{root}/chunks").filter(F.col("library_id") == lid_a)
    plan = _plan(chunks)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("library_id" in ln for ln in pf)
    assert chunks.count() == 1


def test_q6_pushes_all_filters_to_scan(spark, sf_dir):
    from inmem_vector_db_spark.plans.relational import q6_forecast_revenue

    spark.catalog.clearCache()
    plan = _plan(q6_forecast_revenue(spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed
    line = pushed[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in line


def test_knn_join_vectorized_plan_partial_topk(emb):
    """The vectorized multi-query path: a MapInArrow stage emits the
    per-partition partial top-k, and the only Exchange below the final
    window is over those partial rows — no CartesianProduct of the
    corpus against the queries."""
    from inmem_vector_db_spark.operators.knn import knn_join_vectorized

    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(knn_join_vectorized(emb, queries, k=3))
    assert "MapInArrow" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_embedding_near_dup_plan_block_pairs(emb):
    """Block-pair GEMM: one Exchange on the (block_i, block_j) pair key
    feeding FlatMapGroupsInPandas — no broadcast of the corpus, no
    nested-loop join anywhere."""
    from inmem_vector_db_spark.operators.dedup import embedding_near_dup_pairs

    plan = _plan(embedding_near_dup_pairs(emb, max_cosine_dist=0.2, blocks=4))
    assert "FlatMapGroupsInPandas" in plan
    assert "__bi" in plan and "__bj" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_ivf_batch_plan_broadcasts_allowlist(emb):
    """Batched IVF: the (query, cluster) allowlist joins in as a
    BroadcastHashJoin on cluster_id — probed rows only, never a corpus
    cross product."""
    from inmem_vector_db_spark.operators.ann import ivf_search_batch

    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _plan(ivf_search_batch(emb, queries, k=3, nprobe=2, stride=100))
    assert "BroadcastHashJoin" in plan and "cluster_id" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_iteration_has_no_shuffle(spark):
    """The per-iteration contribution aggregate must read the cached
    dst-partitioned transition table and aggregate WITHOUT an Exchange:
    broadcast-rank join preserves partitioning, so groupBy(dst) is
    partial+final with no shuffle.  Pins the PRODUCTION helpers
    (_transition_table / _iteration_contrib), not a re-built copy."""
    from inmem_vector_db_spark.operators.graph import (
        _iteration_contrib,
        _transition_table,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 2.0)], "src long, dst long, weight double"
    )
    e, strength, trans, _n, _m = _transition_table(edges, symmetrize=True)
    trans.count()
    ranks = strength.select(F.col("src").alias("node"), F.lit(0.3).alias("rank"))
    contrib = _iteration_contrib(trans, ranks, broadcast=True)
    plan = contrib._jdf.queryExecution().executedPlan().toString()
    # only the plan ABOVE the cached table matters: the iteration itself
    iteration_part = plan.split("InMemoryTableScan")[0]
    assert "Exchange" not in iteration_part, iteration_part
    for df in (e, strength, trans):
        df.unpersist()


def test_bucketed_join_revenue_plan_and_values(spark, sf_dir):
    """The bucketed-join entry consumes the write-time bucket layout:
    no Exchange below the sort-merge join (the only shuffle is the final
    groupBy), and values equal the plain join exactly — bucketing moves
    placement, never content."""
    from pyspark.sql import functions as F

    from inmem_vector_db_spark.plans.tpch_extra import bucketed_join_revenue
    from inmem_vector_db_spark.sources.loader import load_table

    df = bucketed_join_revenue(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_part = plan.split("SortMergeJoin")[-1]
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in join_part, join_part

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    plain = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in plain.collect()]


def test_containment_plan_prefix_filtered(spark, sf_dir):
    """Containment dedup: the candidate join must be the prefix-filtered
    shape — a Window (rank of each doc's rarest blocking shingles)
    feeding an equi-join, never a cartesian/nested-loop pair
    enumeration."""
    from inmem_vector_db_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(containment_pairs(docs, threshold=0.6))
    assert "Window" in plan  # probes_per_doc rank
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_ivf_prefilter_plan_filters_before_distance(spark, sf_dir):
    """Filtered ANN: the label predicate must appear as a Filter over
    the index rows below the top-k — no join back to the embeddings
    base table on the search path (one scan/cache read, not two)."""
    from inmem_vector_db_spark.operators.ann import (
        ivf_assign,
        ivf_search,
        select_centroids,
    )

    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cids, cmat = select_centroids(emb, stride=50)
    assigned = ivf_assign(emb, cids, cmat, keep_cols=("label",))
    q = [0.0] * 64
    plan = _plan(
        ivf_search(emb, q, k=5, nprobe=3, assigned=assigned.filter(F.col("label") == 2),
                   centroids=(cids, cmat))
    )
    assert "TakeOrderedAndProject" in plan
    assert plan.count("SortMergeJoin") == 0 and plan.count("BroadcastHashJoin") == 0


def test_projected_topk_shuffles_survivors_not_corpus(spark, sf_dir):
    """The projected-space search's window rank must consume the
    map-side-pruned survivor stream (MapInArrow BELOW the Exchange),
    never the full projected corpus: the Exchange input is bounded at
    batches*Q*k rows."""
    import numpy as np

    from inmem_vector_db_spark.operators.projection import (
        project_embeddings_int,
        projected_topk,
    )

    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    proj = project_embeddings_int(emb, out_dim=8, in_dim=64)
    qp = {
        int(r["vec_id"]): np.array(r["proj"], dtype=np.int64)
        for r in proj.filter(F.col("vec_id").isin([2, 7])).collect()
    }
    plan = _plan(projected_topk(proj, qp, k=5))
    # exactly the survivor-pruning MapInArrow stages feed the Exchange;
    # a plan that ranks the raw projected table would show Window/Sort
    # consuming a python-stage-free Exchange over the corpus scan
    assert "MapInArrow" in plan and "Exchange" in plan
    body = plan[plan.index("Exchange"):]
    assert "MapInArrow" in body, (
        "window Exchange must sit ABOVE the pruning MapInArrow stage:\n"
        + plan
    )


def test_plans_match_recorded_baseline(spark):
    """Plan-shape regression gate: the physical-plan metrics of every
    non-streaming entry (shuffle count, broadcast count, Python
    stages, top-k shape) must equal PLAN_BASELINE.json.  An accidental
    extra Exchange, a lost broadcast, or a HOF degraded to a Python UDF
    fails here instead of silently costing a cluster; accepting an
    intentional plan change = regenerating via tools/plan_audit.py."""
    import importlib.util
    import json
    import os

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(repo_root, "tools", "plan_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark.catalog.clearCache()
    live = mod.collect(spark)
    with open(os.path.join(repo_root, "PLAN_BASELINE.json")) as fh:
        recorded = json.load(fh)
    diffs = {
        k: (recorded.get(k), live[k])
        for k in live
        if live[k] != recorded.get(k)
    }
    assert not diffs, f"plan shape drifted (regen tools/plan_audit.py if intentional): {diffs}"


def test_plan_metrics_survive_session_memo_pollution(spark, sf_dir):
    """Regression guard for the round-6 bug class (hit TWICE): plans
    through persisted session memos show the registered
    InMemoryRelation's build subtree only while the CacheManager
    registration is alive, so a session whose caches were cleared
    after memo creation planned the memo-backed entries differently
    than the recorded fresh state.  This test deliberately creates
    that hostile state — materialize the signature + recall memos,
    then clearCache — and asserts the audit machinery still reproduces
    the recorded metrics for every entry that drifted before
    ``plan_audit.collect`` reset the session memos."""
    import importlib.util
    import json
    import os

    import __spark_entry__ as entrymod
    from inmem_vector_db_spark.operators.signatures import (
        corpus_signature_index,
    )

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(repo_root, "tools", "plan_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    # hostile state: memos exist and materialized, registrations cleared
    corpus_signature_index(spark, sf_dir).count()
    entrymod.queries()["knn_quantized_recall"](spark, sf_dir).collect()
    spark.catalog.clearCache()

    sensitive = [
        "knn_quantized", "knn_quantized_recall", "ann_ivfpq_recall",
        "rp_knn_recall", "dedup_probe_batch", "dedup_minhash_pairs",
        "dedup_clusters", "dedup_containment", "duplicated_spans",
        "dedup_minhash_precision",
    ]
    # collect() resets memos + cache, then builds in queries() order;
    # restrict the audited list to keep this test fast
    mod.EXCLUDED = {
        n: "not under test"
        for n in entrymod.queries()
        if n not in sensitive
    }
    live = mod.collect(spark)
    with open(os.path.join(repo_root, "PLAN_BASELINE.json")) as fh:
        recorded = json.load(fh)
    diffs = {
        k: (recorded.get(k), live[k])
        for k in live
        if live[k] != recorded.get(k)
    }
    assert not diffs, f"memo-pollution plan drift returned: {diffs}"
