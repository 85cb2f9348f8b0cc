"""Tests for the deletion-neighbourhood fuzzy self-join.

Losslessness at sf0.01 is pinned by the DuckDB brute-force oracle
(``fuzzy_name_pairs``); these tests pin the algebraic invariants and
the edge cases the oracle data doesn't reach (short strings, empty
results, threshold monotonicity).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from inmem_vector_db_spark.operators.fuzzy import fuzzy_self_join


def _pairs(df, max_dist):
    return {
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_self_join(df, "id", "s", max_dist).collect()
    }


def _brute(rows, max_dist):
    import itertools

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                cur = dp[j]
                dp[j] = min(
                    dp[j] + 1,
                    dp[j - 1] + 1,
                    prev + (a[i - 1] != b[j - 1]),
                )
                prev = cur
        return dp[n]

    out = set()
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        d = lev(sa, sb)
        if d <= max_dist:
            out.add((min(ia, ib), max(ia, ib), d))
    return out


WORDS = [
    (0, "kitten"),
    (1, "sitting"),
    (2, "kitten"),
    (3, "mitten"),
    (4, "it"),
    (5, "a"),
    (6, ""),
    (7, "ab"),
    (8, "flask"),
    (9, "flasks"),
    (10, "blast"),
]


@pytest.mark.parametrize("d", [0, 1, 2, 3])
def test_lossless_vs_brute_force(spark, d):
    df = spark.createDataFrame(WORDS, "id long, s string")
    if d > 2:
        with pytest.raises(ValueError, match="max_dist <= 2"):
            _pairs(df, d)
        return
    assert _pairs(df, d) == _brute(WORDS, d)


def test_threshold_monotone(spark):
    df = spark.createDataFrame(WORDS, "id long, s string")
    p1, p2 = _pairs(df, 1), _pairs(df, 2)
    assert {(a, b) for a, b, _ in p1} <= {(a, b) for a, b, _ in p2}


def test_short_string_leg(spark):
    rows = [(0, "a"), (1, "b"), (2, "ab"), (3, ""), (4, "abcd")]
    df = spark.createDataFrame(rows, "id long, s string")
    assert _pairs(df, 1) == _brute(rows, 1)
    assert _pairs(df, 2) == _brute(rows, 2)


def test_corpus_sample_lossless(spark, sf_dir):
    from inmem_vector_db_spark.sources.loader import load_table

    part = load_table(spark, sf_dir, "part").limit(300)
    rows = [(r.p_partkey, r.p_name) for r in part.collect()]
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_self_join(part, "p_partkey", "p_name", 2).collect()
    }
    assert got == _brute(rows, 2)


def test_plan_has_no_cross_join(spark):
    df = spark.createDataFrame([(i, f"word{i}") for i in range(50)], "id long, s string")
    plan = fuzzy_self_join(df, "id", "s", 2)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_deletes_variant_matches_brute_force(spark):
    """Deletion-neighborhood join must equal brute force for d in
    {0,1,2} on a corpus with subs/ins/dels/short strings/ties."""
    rows = [
        (1, "spark"), (2, "spark"), (3, "sparc"), (4, "sprk"),
        (5, "sparkle"), (6, "park"), (7, "a"), (8, ""), (9, "b"),
        (10, "quartz"), (11, "qwartz"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    for d in (0, 1, 2):
        got = {
            (r.id_a, r.id_b, r.dist)
            for r in fuzzy_self_join(df, "id", "s", d).collect()
        }
        assert got == _brute(rows, d), f"d={d}"

