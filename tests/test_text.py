"""Text-analysis function library unit tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from inmem_vector_db_spark.functions import text as T


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col.alias("v")).head()["v"]


def test_tokens_and_count(spark):
    assert _one(spark, "The quick Brown fox", T.tokens("text")) == [
        "the", "quick", "brown", "fox",
    ]
    assert _one(spark, "a b c", T.token_count("text")) == 3


def test_word_shingles(spark):
    assert _one(spark, "a b c d", T.word_shingles("text", 3)) == ["a b c", "b c d"]
    assert _one(spark, "a b", T.word_shingles("text", 3)) == []


def test_distinct_ratio_and_quality(spark):
    assert _one(spark, "x x x x", T.distinct_ratio("text")) == 0.25
    q1 = _one(spark, "the data pipeline is large and it processes text", T.quality_score("text"))
    q2 = _one(spark, "spam spam spam spam spam spam spam spam", T.quality_score("text"))
    assert 0 <= q2 < q1 <= 1


@pytest.mark.parametrize(
    "sample,expected",
    [
        ("the cat is on the mat and it is here", "en"),
        ("el perro la casa de que los gatos", "es"),
        ("der hund die katze und das haus ist", "de"),
        ("le chien les chats des maisons est dans", "fr"),
        ("你好 世界", "zh"),
        ("zzz qqq www", "unknown"),
    ],
)
def test_lang_id(spark, sample, expected):
    assert _one(spark, sample, T.lang_id("text")) == expected


def test_fingerprint_order_invariant(spark):
    fp1 = _one(spark, "alpha beta gamma", T.fingerprint("text"))
    fp2 = _one(spark, "gamma alpha beta alpha", T.fingerprint("text"))
    fp3 = _one(spark, "alpha beta delta", T.fingerprint("text"))
    assert fp1 == fp2 != fp3


def test_minhash_signature_properties(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t s")],
        "id int, text string",
    )
    rows = {
        r["id"]: r["sig"]
        for r in df.select("id", T.minhash_signature("text", 8).alias("sig")).collect()
    }
    assert rows[1] == rows[2]  # identical text -> identical signature
    assert rows[1] != rows[3]
    assert len(rows[1]) == 8


def test_simhash_matches_python_reference(spark, sf_dir):
    """simhash64 = majority-vote of xxhash64 shingle-hash bits; verify the
    UDF against a driver-side numpy recomputation from the same hashes."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    sh = T.word_shingles("text", 2)
    hashes_rows = docs.select(
        "doc_id", F.transform(sh, lambda s: F.xxhash64(s)).alias("hs")
    ).collect()
    got = {
        r["doc_id"]: r["sig"]
        for r in docs.select("doc_id", T.simhash64("text", 2).alias("sig")).collect()
    }
    for r in hashes_rows:
        h = np.asarray(r["hs"], dtype=np.int64).astype(np.uint64)
        bits = (h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1
        maj = (bits.sum(0) * 2 >= len(h)).astype(np.uint64)
        want = int((maj << np.arange(64, dtype=np.uint64)).sum().astype(np.int64))
        assert got[r["doc_id"]] == want


def test_chunk_documents_windows(spark):
    from inmem_vector_db_spark.operators.chunking import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, words), (2, "short text")], "doc_id int, text string")
    rows = chunk_documents(df, chunk_size=4, overlap=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    # stride 2 over 10 words: starts 0,2,4,6,8
    assert [r["chunk_text"] for r in c1] == [
        "w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6 w7", "w6 w7 w8 w9", "w8 w9",
    ]
    assert [r["n_words"] for r in c1] == [4, 4, 4, 4, 2]
    assert [r["chunk_text"] for r in by_doc[2]] == ["short text"]


def test_chunk_documents_validates_overlap(spark):
    import pytest as _pytest

    from inmem_vector_db_spark.operators.chunking import chunk_documents

    df = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_size=4, overlap=4)


def test_sentence_splitter_udtf(spark):
    from inmem_vector_db_spark.functions.udtf_demo import SentenceSplitter, register

    from pyspark.sql import functions as F

    rows = SentenceSplitter(F.lit("One. Two! Three?? ")).collect()
    assert [(r["sentence_idx"], r["sentence"], r["n_chars"]) for r in rows] == [
        (0, "One", 3), (1, "Two", 3), (2, "Three", 5),
    ]
    register(spark)
    got = spark.sql(
        "SELECT * FROM sentence_splitter('Hello world. Bye.')"
    ).collect()
    assert [r["sentence"] for r in got] == ["Hello world", "Bye"]


def test_hash_sample_deterministic_and_rate(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {r["doc_id"] for r in T.hash_sample(docs, 0.1).select("doc_id").collect()}
    b = {r["doc_id"] for r in T.hash_sample(docs, 0.1).select("doc_id").collect()}
    assert a == b  # same rows every run, unlike F.rand()
    n = docs.count()
    assert 0.05 * n <= len(a) <= 0.15 * n  # ~10% by hash bucket
    # a larger rate strictly contains a smaller one (bucket threshold)
    c = {r["doc_id"] for r in T.hash_sample(docs, 0.3).select("doc_id").collect()}
    assert a <= c
    with pytest.raises(ValueError):
        T.hash_sample(docs, 1.5)


def test_weighted_hash_sample_prefers_heavy_rows(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = T.token_count("text").cast("long")
    a = {
        r["doc_id"]
        for r in T.weighted_hash_sample(docs, w, multiplier=2000)
        .select("doc_id")
        .collect()
    }
    b = {
        r["doc_id"]
        for r in T.weighted_hash_sample(docs, w, multiplier=2000)
        .select("doc_id")
        .collect()
    }
    assert a == b and a  # deterministic, non-empty
    # inclusion probability ~ tokens/500: the sampled docs must be
    # heavier on average than the corpus
    stats = docs.select(
        F.avg(w).alias("all_avg"),
    ).first()
    samp = (
        docs.where(F.col("doc_id").isin(list(a)))
        .select(F.avg(w).alias("s_avg"))
        .first()
    )
    assert samp["s_avg"] > stats["all_avg"]
    # multiplier monotonicity: bigger multiplier => superset
    c = {
        r["doc_id"]
        for r in T.weighted_hash_sample(docs, w, multiplier=4000)
        .select("doc_id")
        .collect()
    }
    assert a <= c


def test_table_profile_one_scan(spark, sf_dir):
    from inmem_vector_db_spark.operators.profile import table_profile

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    prof = {r["column"]: r for r in table_profile(
        li, ["l_orderkey", "l_returnflag"]
    ).collect()}
    assert prof["l_orderkey"]["n_null"] == 0
    assert prof["l_returnflag"]["n_distinct"] == 3
    assert prof["l_returnflag"]["min_s"] == "A"
    assert prof["l_returnflag"]["max_s"] == "R"
    exp = li.agg(F.count_distinct("l_orderkey")).first()[0]
    assert prof["l_orderkey"]["n_distinct"] == exp


def test_redact_pii_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@corp.example or call +44 123 4567 now"),
            (2, "no pii here"),
        ],
        "id int, text string",
    )
    n_emails, n_phones = T.pii_counts("text")
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            T.redact_pii("text").alias("red"),
            n_emails.alias("ne"),
            n_phones.alias("np"),
        ).collect()
    }
    assert rows[1]["red"] == "mail me at <EMAIL> or call <PHONE> now"
    assert rows[1]["ne"] == 1 and rows[1]["np"] == 1
    assert rows[2]["red"] == "no pii here"
    assert rows[2]["ne"] == 0 and rows[2]["np"] == 0


def test_repetition_filters_flags_repeated_doc(spark):
    """A doc that is one phrase repeated must show high repetition fracs
    and be dropped; a varied doc must be kept; a one-token doc has zero
    fracs (no grams) and is kept."""
    from unittest import mock

    import inmem_vector_db_spark.plans.textops as T

    docs = spark.createDataFrame(
        [
            (1, ("buy now " * 50).strip()),
            (2, "the quick brown fox jumps over a lazy dog near the old river mill"),
            (3, "x"),
        ],
        "doc_id long, text string",
    )
    with mock.patch.object(T, "load_table", lambda s, d, n: docs):
        out = {
            r["doc_id"]: r.asDict()
            for r in T.repetition_filters_q(spark, "unused").collect()
        }
    assert len(out) == 3
    assert out[1]["top_bigram_frac"] > 0.5 and not out[1]["keep"]
    assert out[2]["keep"]
    assert out[3]["top_bigram_frac"] == 0.0 and out[3]["dup_trigram_frac"] == 0.0
    assert out[3]["keep"]


def test_token_entropy_values_and_map_only_plan(spark):
    """Entropy of known distributions — and the plan must contain NO
    Exchange: token entropy is row-local, so it must never shuffle."""
    import math
    from unittest import mock

    import inmem_vector_db_spark.plans.textops as TX

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b")],
        "doc_id long, text string",
    )
    with mock.patch.object(TX, "load_table", lambda s, d, n: docs):
        df = TX.token_entropy_q(spark, "unused")
        plan = df._jdf.queryExecution().executedPlan().toString()
        out = {r["doc_id"]: r["entropy"] for r in df.collect()}
    assert "Exchange" not in plan
    assert out[1] == 0.0  # all same token
    assert out[2] == round(math.log(4), 6)  # uniform over 4
    assert out[3] == round(math.log(2), 6)  # uniform over 2


def test_pmi_prefers_exclusive_pairs(spark):
    """A bigram whose words only ever occur together must out-PMI a
    bigram of independently-frequent words."""
    from unittest import mock

    import inmem_vector_db_spark.plans.textops as TX

    exclusive = " ".join(["zig zag"] * 5)
    common = " ".join(["the cat", "the dog", "the cow", "the pig", "the hen"] * 2)
    docs = spark.createDataFrame(
        [(1, exclusive), (2, common)], "doc_id long, text string"
    )
    with mock.patch.object(TX, "load_table", lambda s, d, n: docs):
        rows = {
            r["ngram"]: r["pmi"]
            for r in TX.pmi_collocations_q(spark, "unused").collect()
        }
    assert "zig zag" in rows
    assert all(rows["zig zag"] >= v for v in rows.values())


def test_quality_quantile_filter_median_split(spark, sf_dir):
    """n_above_median must be < n_docs and >= floor((n-1)/2) for any
    real-valued quality distribution (strictly-above semantics)."""
    from unittest import mock

    import inmem_vector_db_spark.plans.textops as TX
    from inmem_vector_db_spark.sources.loader import load_table as real_load

    docs = real_load(spark, sf_dir, "documents")
    with mock.patch.object(TX, "load_table", lambda s, d, n: docs):
        rows = TX.quality_quantile_filter_q(spark, "unused").collect()
    assert rows
    for r in rows:
        assert 0 < r["n_above_median"] < r["n_docs"]
        assert r["n_above_median"] <= r["n_docs"] // 2


def test_quantile_normalize_approx_boundaries_agree(spark, sf_dir):
    """The skew-capped percentile_approx boundary table (production
    form: partial-agg groupBy, no per-source sort) must agree with the
    exact windowed mapping table: every approx decile boundary d=1..9
    lands inside [q_hi(d-1), q_hi(d)] of the exact table — i.e. within
    one decile band of the true rank — and the endpoints (min/max) are
    exact.  This is what licenses swapping the approx form in when one
    crawl source dominates the corpus."""
    from unittest import mock

    import inmem_vector_db_spark.plans.textops as TX
    from inmem_vector_db_spark.sources.loader import load_table as real_load

    docs = real_load(spark, sf_dir, "documents")
    with mock.patch.object(TX, "load_table", lambda s, d, n: docs):
        exact = TX.quantile_normalize_scores_q(spark, "unused").collect()
    approx = {
        r["source"]: r for r in TX.quantile_normalize_boundaries(docs).collect()
    }
    hi = {(r["source"], r["decile"]): r["q_hi"] for r in exact}
    lo = {(r["source"], r["decile"]): r["q_lo"] for r in exact}
    n_docs = {}
    for r in exact:
        n_docs[r["source"]] = n_docs.get(r["source"], 0) + r["n_docs"]
    assert set(approx) == set(n_docs)
    eps = 1e-6  # exact table rounds to 6dp; bounds are raw data values
    for src, row in approx.items():
        assert row["n_docs"] == n_docs[src]
        b = row["bounds"]
        assert len(b) == 11
        assert abs(b[0] - lo[(src, 0)]) <= eps  # min is exact
        assert abs(b[10] - hi[(src, 9)]) <= eps  # max is exact
        for d in range(1, 10):
            assert hi[(src, d - 1)] - eps <= b[d] <= hi[(src, d)] + eps, (
                src, d, b[d], hi[(src, d - 1)], hi[(src, d)],
            )


def test_chunk_stitch_finds_planted_boundary(spark):
    from inmem_vector_db_spark.plans.textops import chunk_stitch_q
    from unittest import mock

    left = "one two three four five alpha beta gamma"
    right = "alpha beta gamma six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, left), (2, right), (3, "unrelated words entirely here now ok")],
        "doc_id long, text string",
    )
    with mock.patch(
        "inmem_vector_db_spark.plans.textops.load_table", return_value=df
    ):
        rows = [(r["id_left"], r["id_right"], r["boundary"])
                for r in chunk_stitch_q(spark, "ignored").collect()]
    assert rows == [(1, 2, "alpha beta gamma")]


def test_source_token_gini_bounds_and_uniform(spark, sf_dir):
    from inmem_vector_db_spark.plans.textops import source_token_gini_q
    from unittest import mock

    # perfectly uniform mass across sources -> gini 0
    df = spark.createDataFrame(
        [(i, "a b c d", f"s{i}") for i in range(4)],
        "doc_id long, text string, source string",
    )
    with mock.patch(
        "inmem_vector_db_spark.plans.textops.load_table", return_value=df
    ):
        r = source_token_gini_q(spark, "ignored").head()
    assert r["n_sources"] == 4 and r["total_tokens"] == 16
    assert r["gini"] == 0.0 and r["top1_share"] == 0.25

    # real corpus: gini in [0, 1), top share >= 1/n
    real = source_token_gini_q(spark, sf_dir)
    row = real.head()
    assert 0.0 <= row["gini"] < 1.0
    assert row["top1_share"] >= 1.0 / row["n_sources"]


def test_bpe_train_merges_planted(spark):
    """On a corpus where 'ab' dominates, round 1 must merge (a,b); the
    learned merge is then a single symbol in later rounds' censuses."""
    from unittest import mock

    from inmem_vector_db_spark.plans.textops import bpe_train_merges_q

    df = spark.createDataFrame(
        [(1, "abab abab abx"), (2, "abab aby abab")],
        "doc_id long, text string",
    )
    with mock.patch(
        "inmem_vector_db_spark.plans.textops.load_table", return_value=df
    ):
        rows = bpe_train_merges_q(spark, "ignored").collect()
    r1 = rows[0]
    assert (r1["left"], r1["right"], r1["merged"]) == ("a", "b", "ab")
    # round 2 works on post-merge symbols: the dominant pair is now
    # (ab, ab) inside the four 'abab' occurrences
    r2 = rows[1]
    assert (r2["left"], r2["right"]) == ("ab", "ab")


def test_group_split_has_zero_leakage_by_construction(spark, sf_dir):
    """Group-keyed split assignment can never straddle a group across
    train/val/test (the md5 bucket is a function of the group key),
    while the row-keyed split on the same corpus demonstrably does —
    the audit the entry exists to report."""
    from inmem_vector_db_spark.plans.textops import group_split_leakage_q

    rows = {r["method"]: r for r in group_split_leakage_q(spark, sf_dir).collect()}
    assert rows["by_group"]["n_straddling"] == 0
    assert rows["by_row"]["n_straddling"] > 0
    for m in rows.values():  # both methods partition the same corpus
        assert m["train_rows"] + m["val_rows"] + m["test_rows"] == (
            rows["by_group"]["train_rows"]
            + rows["by_group"]["val_rows"]
            + rows["by_group"]["test_rows"]
        )


def test_quality_quantile_approx_twin_agrees(spark, sf_dir):
    """quality_quantile_filter_approx (percentile_approx median, no
    per-lang rank window) must agree with the exact entry: identical
    n_docs, a median within sketch rank tolerance of the exact one,
    and an above-median count exactly consistent with its own
    threshold.  This is what licenses swapping the approx form in when
    one language dominates the corpus."""
    import bisect

    import inmem_vector_db_spark.plans.textops as TX
    from inmem_vector_db_spark.functions.text import quality_score
    from inmem_vector_db_spark.sources.loader import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r["lang"]: r for r in TX.quality_quantile_filter_q(spark, sf_dir).collect()
    }
    approx = {
        r["lang"]: r for r in TX.quality_quantile_filter_approx(docs).collect()
    }
    assert set(exact) == set(approx)
    qrows = docs.select("lang", quality_score(F.col("text")).alias("q")).collect()
    by_lang: dict[str, list[float]] = {}
    for r in qrows:
        by_lang.setdefault(r["lang"], []).append(r["q"])
    for lang, ex in exact.items():
        ap = approx[lang]
        n = ex["n_docs"]
        assert ap["n_docs"] == n
        qs = sorted(by_lang[lang])
        tol = 1.0 / 10_000 + 3.0 / n
        lo_f = bisect.bisect_left(qs, ap["median_q"]) / n
        hi_f = bisect.bisect_right(qs, ap["median_q"]) / n
        assert lo_f - tol <= 0.5 <= hi_f + tol, (lang, ap["median_q"], lo_f, hi_f)
        # the count must be exactly the python recount at the approx
        # threshold (both sides 6dp-rounded, so no float ambiguity)
        recount = sum(1 for q in by_lang[lang] if q > ap["median_q"])
        assert ap["n_above_median"] == recount, (lang, ap, recount)


def test_curriculum_distributed_ntile_matches_global_form(spark):
    """r12: curriculum_buckets' driver-planned distributed exact-ntile
    (micro-run census -> exact cells + literal offsets -> balanced
    per-cell rank window) must equal the single-window global ntile it
    replaced, on the adversarial input for its bucketing: nearly EVERY
    doc the same length (a value-range of nt would put the whole
    cluster in one bucket; the (nt, id-part) micro-runs split it by
    doc_id).  Also pins the plan shape: no empty-partition WindowExec
    anywhere."""
    from unittest import mock

    from pyspark.sql import Window

    import inmem_vector_db_spark.plans.textops as TX

    rows = [(i, "alpha beta gamma delta epsilon", "en", "web", 30)
            for i in range(997)]
    # a few longer docs so buckets aren't degenerate
    rows += [(10_000 + i, "w " * (40 + i), "en", "web", 80 + 2 * i)
             for i in range(7)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    with mock.patch.object(TX, "load_table", lambda s, d, t: docs):
        df = TX.curriculum_buckets_q(spark, "unused")
        got = {r["bucket"]: r for r in df.collect()}
        plan = df._jdf.queryExecution().executedPlan().toString()
    # no global (empty-partition) window may appear in the plan.
    # Spark renders a global window with the partition bracket OMITTED
    # — `Window [exprs], [order]`, two top-level brackets instead of
    # three — so count brackets rather than look for `[]` (which never
    # appears); also strip tree-prefix characters so nested lines
    # (`:  +- Window ...`) are not skipped
    import re as _re

    # advisor r12: apply the 2-bracket assertion only to `Window ` lines
    # — a legitimate WindowGroupLimit renders exactly two top-level
    # brackets ([partition], [order]), so including it would false-fail
    # any future constant-k pushdown in this plan.  A GLOBAL
    # WindowGroupLimit (empty partition spec) is still caught: it can
    # only exist feeding a global Window, and that Window line fails.
    for ln in plan.splitlines():
        st = ln.strip().lstrip(":+- ")
        if st.startswith("Window "):
            brackets = _re.findall(r"\[[^\[\]]*\]", st)
            assert len(brackets) != 2, st
    # positive control for the guard itself: the OLD global form's
    # rendering must be caught (the bracket-count test cannot go
    # silently blind the way a `], [],` substring match can)
    old_form = (
        "Window [ntile(4) windowspecdefinition(nt#1L ASC NULLS FIRST,"
        " specifiedwindowframe(RowFrame, a$(), b$())) AS bucket#2],"
        " [nt#1L ASC NULLS FIRST]"
    )
    assert len(_re.findall(r"\[[^\[\]]*\]", old_form)) == 2
    scored = docs.select(
        "doc_id",
        TX.token_count("text").cast("long").alias("nt"),
        TX.quality_score("text").alias("q"),
    )
    want_rows = (
        scored.withColumn(
            "bucket", F.ntile(4).over(Window.orderBy("nt", "doc_id"))
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("nt").alias("min_tokens"),
            F.max("nt").alias("max_tokens"),
            F.sum("nt").cast("long").alias("total_tokens"),
        )
        .collect()
    )
    want = {r["bucket"]: r for r in want_rows}
    assert set(got) == set(want) == {1, 2, 3, 4}
    for b in want:
        for c in ("n_docs", "min_tokens", "max_tokens", "total_tokens"):
            assert got[b][c] == want[b][c], (b, c, got[b][c], want[b][c])
    assert got[1]["n_docs"] == 251  # ceil fill rule: 1004 = 4*251
    # the micro-run cells really spread the clustered length: the
    # hot-nt docs occupy ids 0..996 of a 0..10006 id domain, so they
    # split over ~7 id-parts — no cell holds the whole cluster
    n2, lo, W, rows = TX._curriculum_cells(
        docs.select("doc_id", TX.token_count("text").cast("long").alias("nt"))
    )
    assert n2 == 1004
    hot_cells = {cid for nt, p, cid, off in rows if nt == 5}
    assert len(hot_cells) >= 5, rows
