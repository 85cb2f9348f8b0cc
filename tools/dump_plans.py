"""Dump formatted physical plans.

Usage:
    python tools/dump_plans.py
    python tools/dump_plans.py --out DIR [--tree T] [--sf SF] before|after NAMES...

With no arguments, regenerate PLANS.md: the formatted physical plan of
each headline query at sf0.01, with a one-line reading of why the plan
is the right one at scale.  Evidence for plan-level claims (pushdown,
broadcast, no-shuffle top-k) that COVERAGE.md makes.

With a side and entry names, write ``DIR/<name>_<side>.txt`` for each
named entry, built from the checkout at ``T`` (default: this one) at
``SF`` (default sf0.001, the plan-audit SF: plan SHAPE is what the files
evidence, and the tiny corpus keeps artifact builds cheap).  Dump
``before`` with ``--tree`` pointing at a checkout of the parent commit
and ``after`` from this one, into the same ``DIR``.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HEADLINERS = {
    "knn_cosine": "no Exchange anywhere: scan -> project(distance) -> "
    "TakeOrderedAndProject. Partition-local top-k, driver merges.",
    "dedup_probe_batch": "asymmetric ingest probe: the fresh batch's band "
    "keys sit behind a BroadcastExchange, the standing corpus STREAMS "
    "against them — no corpus-sized shuffle, no corpus-internal pairs; "
    "exact-Jaccard verify touches candidates only.",
    "ann_ivf_rebuild_search": "retrain served from the REBUILT artifact: "
    "the probe is a partition-pruned parquet scan of the new index "
    "(TakeOrderedAndProject, zero Exchange) — the rebuild job itself wrote "
    "to a fresh path, so serving never raced maintenance.",
    "ridge_fit_d4": "the d=5 generalization keeps the d=3 shape: one "
    "keyless 21-sum aggregate (map-side partial), generated 5x5 Cramer "
    "text evaluated on the 1-row result — shuffle is O(partitions*d^2) "
    "however large lineitem grows.",
    "group_split_leakage": "both split assignments are row-local md5 "
    "expressions inside the scan's codegen stage; the only Exchanges are "
    "the audit's per-group and global aggregates.",
    "knn_prefilter_label": "label filter is in PushedFilters — pruning happens "
    "in the parquet reader, before the distance expression runs.",
    "knn_multi_cosine": "vectorized multi-query kNN: mapInPandas emits only "
    "the per-partition top-k per query, so the window's Exchange input is "
    "N_partitions*k*|Q| rows — never |corpus|*|Q|.",
    "embedding_near_dup": "distributed block-pair GEMM: explode to unordered "
    "block pairs, one Exchange on (bi,bj), numpy GEMM per pair task — no "
    "driver collect, no full-corpus broadcast anywhere in the plan.",
    "lsh_knn_cosine": "signature index equi-join moves only (id, sig) pairs; "
    "exact re-rank touches candidate vectors only; fallback split is a "
    "broadcast semi/anti join, not a driver loop.",
    "q5_region_revenue": "dims broadcast (BroadcastHashJoin); the only "
    "shuffle is the final group-by aggregation.",
    "q6_forecast_revenue": "all three predicates pushed to the scan; "
    "aggregate is partial -> exchange(1 row) -> final.",
    "customers_without_orders": "left_anti as a hash anti-join on the "
    "projected key column only.",
    "events_sliding_windows": "window explosion happens in the Expand node "
    "JVM-side; one shuffle for the aggregation.",
    "dedup_exact_summary": "hash-groupBy on md5(text) — the shuffle moves "
    "16-byte hashes, never document text.",
    "purchase_attribution_asof": "as-of join with NO join node at all: "
    "union of tagged sides -> one Exchange(user_id) -> window carries the "
    "latest click forward. Never a nested-loop.",
    "click_purchase_pairs": "inequality join planned as a hash EQUI-join "
    "on (user_id, time-bucket) + residual range filter (broadcast at this "
    "size, shuffled-hash/sort-merge at scale) — the bucketing is what "
    "keeps it off the nested-loop path.",
    "q8_market_share": "8-way join, every dim a BroadcastHashJoin; the "
    "market-share ratio is a one-pass conditional aggregate — no "
    "self-join, one big shuffle (lineitem->orders at scale).",
    "q17_small_quantity_revenue": "correlated scalar subquery decorrelated "
    "by construction: per-part avg is a grouped aggregate joined back "
    "(broadcast) — never a per-row re-scan, no nested-loop.",
    "q21_waiting_suppliers": "exists/not-exists as a dedup-first per-order "
    "census: distinct (order,supplier) pairs via plain partial-aggregable "
    "groupBy (no count_distinct Expand), sole late supplier captured "
    "inline by max(when(late,suppkey)) — zero Expand nodes, no join back "
    "to the fact.",
    "dedup_clusters": "pairs -> components via large-star/small-star "
    "contraction: each round is one groupBy(min)+join keyed on node id, "
    "O(log^2 n) rounds, no collect_set (high-degree nodes never "
    "materialize a neighbor list), lineage truncated per round.",
    "corpus_merge_upsert": "MERGE without shuffling the corpus: full outer "
    "is not broadcastable, so the small-batch shape is three joins that "
    "each broadcast the batch (inner matched / left_anti kept / anti "
    "inserts) — zero Exchange of corpus data, pinned by test_merge.",
    "approx_distinct_kmv": "KMV sketch state is bottom-k of a distinct "
    "hash set: partial distinct then TakeOrderedAndProject — O(k) driver "
    "footprint at any corpus size, mergeable across shards.",
    "heavy_hitters_cms": "count-min build is ONE partial-aggregated "
    "groupBy over depth*width cells; lookup broadcasts the d*w-row "
    "sketch — per-key frequency at 100 TB without per-key state.",
    "embedding_gramian": "per-partition float64 GEMM (mapInPandas) then a "
    "matrix-sum reduce keyed on (i,j): the shuffle carries "
    "n_partitions*d(d+1)/2 cells, never embeddings — PCA becomes a "
    "driver-side d x d eigen problem.",
    "bm25_search": "token stream pruned to the query's terms at the scan "
    "edge (isin filter) — postings for 4 terms reach the per-doc agg, "
    "not the vocabulary; df table and corpus scalars broadcast.",
    "hybrid_search": "both legs are TakeOrderedAndProject partial top-50s "
    "(no global-sort window over the corpus); RRF fusion is a full-outer "
    "join of two 50-row lists — leg cost dominates, fusion cost is nil.",
    "weighted_sample": "token-weighted Bernoulli membership is a pure "
    "integer filter pipelined with the scan — no shuffle, no F.rand, "
    "reproducible across engines and layouts.",
    "table_profile": "every per-column statistic is a column of ONE "
    "aggregation (single table scan), unpivoted by stack after the agg.",
    "order_rank_stats": "ntile/percent_rank/cume_dist windows partitioned "
    "by priority — bounded per-partition sorts, no single-task funnel.",
    "events_anomaly_zscore": "hourly rollup shuffles once; z-scores are a "
    "window over the per-type hourly series (bounded by hours-per-type).",
    "events_gapfill": "dense hour spine built from sequence()+explode on "
    "per-type bounds (tiny), broadcast-joined to the aggregate; LOCF is "
    "a window last(ignorenulls) — one shuffle for the agg, one for the "
    "window, both on event_type.",
    "decontam_overlap": "eval-set shingles distinct-ed then broadcast; "
    "corpus side is semi-joined and aggregated once — contamination "
    "check without shuffling the corpus by shingle.",
    "tfidf_top_terms": "document frequency is a window count over term "
    "on the tf table — no join, so there is no broadcastable side (the "
    "old tf-join-dfreq form let AQE broadcast the CORPUS-SIZED tf "
    "aggregate at mid scale, r10); two keyed shuffles (term, doc_id), "
    "safe at any corpus size; top-3 per doc is a window over scored rows.",
    "knn_pq": "PQ stage 1 is a TakeOrderedAndProject over the m-int codes "
    "projection — ADC distance is 4 literal-LUT element_at lookups in "
    "whole-stage codegen, no join, no Exchange; stage 2 exact re-rank "
    "reads only the IN-pushed candidate ids.",
    "sequence_packing": "global token offsets via DISTRIBUTED prefix sum: "
    "per-bucket totals (partial agg), cumsum over the tiny bucket table, "
    "broadcast join back, per-bucket window (<=128 rows/partition) — no "
    "global ORDER BY window, so no single-task funnel at any corpus size.",
    "boilerplate_ngrams": "shingle df is a window count over the shingle "
    "key on the per-doc-distinct stream, consumed ONCE (the old "
    "three-branch join form needed a persist); no joinable side, no "
    "all-pairs — shuffle by shingle, one per-doc agg, one source rollup.",
    "training_shards": "md5-derived shard key evaluated in whole-stage "
    "codegen; one partial-agg shuffle over n_shards keys — the balance QA "
    "for a partitioned training-data write, reproducible across engines.",
    "bucketed_join_revenue": "fact-fact sort-merge join served from the "
    "write-time bucket layout: NO Exchange below the join (the write-time "
    "shuffle replaced it); the only Exchange left is the final groupBy.",
    "knn_quantized": "stage 1 is a mapInPandas BLAS partial top-k over "
    "(id, int8 codes, scale) — 4x narrower scan, no interpreted HOFs; "
    "stage 2 exact re-rank reads only the IN-pushed candidate ids.",
    "fuzzy_name_pairs": "deletion-neighborhood signature join over "
    "DISTINCT values: near-full-string keys keep the candidate equi-join "
    "selective where PassJoin's short substrings degenerated toward N^2 "
    "(147 s -> 3.3 s at sf0.1); dist-0 pairs from a plain value "
    "equi-join; id pairs expanded from value-level pairs at the end. "
    "Oracle is the naive cross join — the hash match proves the blocking "
    "lossless.",
    "bigram_lm_score": "LM training = two partial-aggregable groupBys "
    "(vocabulary-sized outputs); scoring = hash joins of the exploded "
    "bigram stream against the count tables; smoothing denominator is a "
    "folded literal inside codegen.",
    "ann_ivfpq": "three deterministic stages: arg-min list assignment "
    "(mapInPandas, no shuffle), ADC scan of ONLY the probed lists' "
    "codes, IN-pushed exact re-rank — per-query work independent of "
    "corpus size with balanced lists.",
    "mmr_diversify": "retrieval is the partial-top-k vectorized kNN; the "
    "greedy MMR loop is one applyInPandas task per query over the capped "
    "candidate list — parallel across queries, quadratic only in the "
    "candidate cap.",
    "semantic_dedup": "SemDeDup shape: mapInArrow centroid assignment "
    "(broadcast centroid matrix, zero shuffle), then ONE cluster_id "
    "self-join pinned to ShuffledHashJoin (r10: AQE otherwise "
    "broadcast a whole vector-carrying corpus side under 64 MB) — "
    "quadratic term bounded per cluster, per-task cost constant at 100 TB.",
    "repetition_filters": "ZERO shuffles: all grams are row-local, so "
    "max-bigram-count is a per-row sorted-array run-length fold and the "
    "dup-trigram rate is array_distinct — a map-only plan (the explode + "
    "groupBy formulation shuffled the gram stream for row-local stats; "
    "6 s -> 0.6 s at sf0.1).",
    "knn_label_vote": "the heavy stage is knn_join_vectorized's map-side "
    "partial top-k (shuffle = n_partitions*k*Q rows, never |corpus|*Q); "
    "label join + vote window run over Q*k rows — driver never sees "
    "more than the query matrix.",
    "token_entropy": "ZERO shuffles — same map-only posture as "
    "repetition_filters: per-doc entropy is a sorted-array run-length "
    "fold, so the stat pipelines with the scan at any corpus size.",
    "bloom_pruned_revenue": "runtime join filter: distributed bitset "
    "build (shuffle bounded by m/64 rows), 16 KiB literal in codegen, "
    "membership test prunes the fact BEFORE the join shuffle; false "
    "positives die in the real join, so results are exactly the plain "
    "join's.",
    "pagerank_bipartite": "each iteration is one broadcast join of the "
    "rank vector into the persisted transition table + one "
    "groupBy(dst); frontiers are materialized so iteration i never "
    "re-executes iterations 1..i-1; partitioned shuffle join is the "
    "documented fallback past ~10M nodes.",
    "conjunctive_search": "boolean AND retrieval: the term filter sits "
    "on the exploded token stream BEFORE any aggregate, so only the two "
    "query terms' postings shuffle — the same early-pruning posture as "
    "bm25_search.",
    "crossdoc_shingle_dup": "per-shingle doc count is a window count "
    "over the exploded distinct (shingle, doc) stream — no counts "
    "self-join for AQE to mis-broadcast (r10); two keyed shuffles "
    "(shingle, doc_id), no all-pairs comparison anywhere.",
    "multitouch_attribution": "purchase-click pairing rides the "
    "bucketed range_join (hash equi-join + residual filter, no "
    "nested-loop); credit split is a window over pairs keyed by "
    "purchase id; channel rollup aggregates 3 rows.",
    "corpus_pipeline_full": "six curation stages in one lineage: "
    "row-local lang/quality gates pipeline with the scan, two "
    "keep-first dedup windows (md5 + word-set fingerprint), "
    "decontamination as a broadcast semi-join of distinct doc shingles "
    "vs the eval set, md5-bucket split — no collect, no re-scan, no "
    "cross join anywhere in the DAG.",
    "latest_event_per_user": "dedup-to-latest via max_by: "
    "partial-aggregable, so map-side combine ships one candidate per "
    "user per partition instead of the whole event stream (the "
    "row_number window would sort-shuffle every row).",
    "dedup_signature_index": "the build-once signature artifact: one "
    "pass over documents computes shingle sets + MinHash + SimHash + "
    "blocking keys together (per-shingle md5 happens exactly once), "
    "persisted so every dedup query's plan starts at an "
    "InMemoryTableScan instead of re-hashing text.",
    "dedup_minhash_pairs": "banding + verify reading the shared "
    "signature artifact (InMemoryTableScans — the md5/shingle "
    "expression tree appears NOWHERE in this plan): candidates come "
    "from ONE bucket aggregate (groupBy band key -> intra-bucket pair "
    "HOF -> distinct), replacing the former self-join's two shuffle "
    "sides + SMJ sort; shuffles move band keys and id pairs only.",
    "q1_pricing_summary": "scan-filter-aggregate with EXACT money math "
    "that never leaves long-backed codegen (round 8): operands become "
    "bigint cents, the wide product sums split hi/lo around 10^6 — no "
    "per-row BigDecimal (the old wide-decimal sums cost 2.5x) — and "
    "the exact totals reassemble in decimal on the ~8 grouped rows; "
    "permutation-invariant, filter pushed to the scan, partial+final "
    "agg, overflow bound ~9e12 rows/group.",
    "ann_ivf_index_build": "the index-build job as its own row: one "
    "arg-min assignment pass (mapInPandas, broadcast centroid matrix), "
    "one partitioned write; the summary agg re-reads the written "
    "artifact so the build cost is attributed here, and every "
    "ann_ivf_partitioned probe after it is a pruned-scan marginal cost.",
    "source_drift_psi": "drift observability: two partial-aggregable "
    "shuffles total (per-bin cohort counts, then the 1-row totals "
    "broadcast back) — every float is a single expression over exact "
    "integer operands, so the monitor is permutation-invariant and "
    "costs O(bins), independent of corpus width.",
    "kmeans_embeddings": "distributed Lloyd training: assignment is the "
    "broadcast-centroid mapInPandas pass (no shuffle of vectors); the "
    "update aggregates per-partition floor(x*1e6) int64 partial sums — "
    "the combine shuffles partitions x k rows, the driver collects "
    "k x dim, and the exact integer operands make trained centroids "
    "bit-identical under any partitioning (order-robustness pinned).",
    "ann_ivf_partitioned": "IVF served from the written artifact: the "
    "scan node carries PartitionFilters on cluster_id, so only the "
    "nprobe probed list directories are listed and read — per-query "
    "IO independent of corpus size.",
    "lsh_signature_index": "the LSH index-build job as its own row "
    "(r5): one mapInPandas signature pass over the corpus (numpy "
    "matmul vs the broadcast plane matrix), posexplode to long form, "
    "one table_idx-partitioned write; the summary agg re-reads the "
    "artifact, so lsh_knn_cosine after it joins a written table and "
    "never recomputes corpus signatures.",
    "pq_codebook_build": "the PQ encode job as its own row (r5): one "
    "mapInPandas pass computes all m sub-codes per vector against the "
    "broadcast codebooks; knn_pq / ann_ivfpq then pay only ADC lookup "
    "+ exact re-rank over the shared codes artifact.",
    "duplicated_spans": "substring-duplication census (r5, window form "
    "r10): span df is a window count on the span key; one per-doc "
    "aggregate replaces the old totals-left-join-dup pair — state "
    "bounded by distinct spans, never pairs.",
    "lsh_index_append_search": "incremental LSH maintenance (r5): the "
    "probe joins the written base+append artifact; the append itself "
    "touched one new file per table partition, nothing rewritten.",
    "pagerank_bipartite": "transition table cached partitioned by dst; "
    "each iteration is BroadcastHashJoin(ranks) -> partial+final "
    "HashAggregate with NO Exchange — the per-iteration shuffle is "
    "gone, one repartition total at build.",
    "ann_ivf_prefilter": "filtered ANN: the label predicate filters the "
    "cached index rows (attribute carried by ivf_assign keep_cols) "
    "before the distance projection — no join back to the base table, "
    "then the usual no-shuffle TakeOrderedAndProject top-k.",
    "dedup_containment": "prefix-filtered asymmetric candidate join: "
    "df window [2,16] from one partial-aggregable HashAggregate, probe "
    "side thinned to each doc's 5 rarest blocking shingles by a window "
    "partitioned on doc_id — candidate fan-out bounded by "
    "N*probes*max_df (12x fewer pairs than the symmetric join, same "
    "survivors), then exact containment verifies shingle SETS from the "
    "cached signature artifact (InMemoryTableScan).  Never all-pairs.",
    "chunk_stitch": "pure equi-join on the 3-gram boundary key: the "
    "Exchange carries (doc_id, 12-char key) pairs, never text bodies.",
    "rp_knn_recall": "JL projection is a row-local ArrowEvalPython-free "
    "mapInPandas stage (no Exchange); projected search emits only "
    "batches' Q*k survivors before the window rank, so the Exchange "
    "input is bounded, never |corpus|*|Q|; exact-baseline join moves "
    "2*Q*k id pairs.",
    "rp_distortion_stats": "both d2 folds are JVM aggregate HOFs inside "
    "WholeStageCodegen over a broadcast of |Q| query structs — the only "
    "Python stage is the one Arrow projection pass; output is Q rows.",
    "video_scene_cuts": "explode multiplies rows JVM-side, the batched "
    "decode consumes payload on executors, and the single Exchange "
    "hash-partitions by media_id for a one-frame lag window — per-video "
    "state bounded by max_frames.",
    "oov_rate_by_source": "token stream scanned once: wordcount with "
    "map-side partial agg, rank window over the tiny vocab only, "
    "broadcast LEFT join back, one Exchange on source.",
    "bootstrap_ci_order_value": "Poisson bootstrap: one corpus scan, "
    "the replica explode and integer weight hash all inside "
    "WholeStageCodegen, partial-agg reduces the 15M weighted rows to "
    "B=100 per partition before the one Exchange.",
    "ks_drift_by_type": "groupBy(type, value) partial agg, broadcast "
    "of the 10-row type-pair table, one window per pair over the "
    "merged value-grouped stream — the statistic is an integer max.",
    "survival_time_to_purchase": "two user_id groupBys, a tiny "
    "distinct-duration window, one bounded array fold for the "
    "running product — the corpus is scanned twice and never joined "
    "to itself.",
    "market_basket_lift": "pairs generated inside each basket by a "
    "sorted-array HOF (work bounded by basket_size^2), two partial-agg "
    "groupBys, broadcast of the single-item counts — no corpus "
    "self-join anywhere.",
    "nb_lang_classifier": "all-JVM trained model: vocab-bounded "
    "token-lang count aggregates, 5-row broadcast of per-lang "
    "constants, one vocab-keyed equi-join for scoring, 5-row-per-doc "
    "window for the argmax — integer scores end to end, no Python "
    "stage, no all-pairs work.",
    "dedup_simhash_fast_check": "both signature pipelines run their "
    "normal banded shapes; the grade is one full-outer join of two "
    "tiny pair sets plus a single aggregate row — the check costs "
    "nothing beyond the pipelines it grades.",
    "ann_ivf_merge_search": "the merged artifact serves like any IVF "
    "index: zero Exchange, partition-pruned probe scan, "
    "TakeOrderedAndProject — consolidation cost lives in the build, "
    "never in the serve path.",
    "zorder_layout_pruning": "pure integer bit-interleave projected "
    "in-scan; file assignment is a DISTRIBUTED exact ntile (round 8): "
    "deterministic ordered key buckets, per-bucket row_number + "
    "broadcast offsets, SQL NTILE fill rule as integer arithmetic — "
    "no single-partition WindowExec anywhere; the output IS the "
    "pruning measurement (sf0.1: 16/16 files scanned under arrival "
    "order vs 4/16 under z-order).",
    "snapshot_time_travel": "each version resolves to a plain "
    "multi-path parquet scan (pushdown and pruning reach every file); "
    "the manifest is metadata-only — time travel costs nothing at "
    "read time.",
    "late_backfill_recompute": "dirty-hour detection is one tiny "
    "distinct over the ~2% late batch (broadcast back); untouched "
    "stored rows survive via anti-join; only the dirty hours rescan — "
    "at rest both sides are partition-pruned.",
    "quantile_normalize_scores": "one window per source partition "
    "(sources partition the corpus — no global sort) + a tiny "
    "groupBy; decile assignment is integer arithmetic, single "
    "shuffle.",
}


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def write_plans_md(get_spark, qs) -> None:
    spark = get_spark("plan-dump", master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"
    lines = [
        "# PLANS — physical plans of headline queries (sf0.01, regenerate "
        "with `python tools/dump_plans.py`)",
        "",
        "Evidence for the plan-shape claims in COVERAGE.md/README.md; the "
        "same properties are pinned by tests/test_plans.py.",
        "",
    ]
    for name, reading in HEADLINERS.items():
        plan = formatted_plan(qs[name](spark, sf_dir))
        # keep the operator tree + the first lines of each node, drop the
        # full expression dumps (hundreds of chars of literal vectors)
        kept = []
        for ln in plan.splitlines():
            kept.append(ln if len(ln) <= 160 else ln[:157] + "...")
        lines += [f"## {name}", "", f"**Reading:** {reading}", "", "```"]
        lines += kept
        lines += ["```", ""]
    with open(os.path.join(REPO_ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(lines)} lines)")


def dump_side(get_spark, qs, side: str, names, out_dir: str, sf_dir: str) -> None:
    spark = get_spark(f"dump_plans_{side}")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            txt = formatted_plan(qs[name](spark, sf_dir))
        except Exception as exc:  # keep going
            txt = f"FAILED to build plan: {exc}"
        path = os.path.join(out_dir, f"{name}_{side}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print("wrote", path)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("side", nargs="?", choices=["before", "after"])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--out", help="directory for <name>_<side>.txt")
    ap.add_argument("--tree", default=REPO_ROOT, help="checkout to import")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()
    if args.side and not (args.out and args.names):
        ap.error("before|after needs --out DIR and at least one entry name")
    if not args.side and (args.out or args.names):
        ap.error("--out and entry names need a side: before|after")

    out_dir = os.path.abspath(args.out) if args.out else None
    tree = os.path.abspath(args.tree)
    sys.path.insert(0, tree)
    os.chdir(tree)
    import __spark_entry__ as entrymod
    from inmem_vector_db_spark.session import get_spark

    qs = entrymod.queries()
    if args.side:
        dump_side(get_spark, qs, args.side, args.names, out_dir, args.sf)
    else:
        write_plans_md(get_spark, qs)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
