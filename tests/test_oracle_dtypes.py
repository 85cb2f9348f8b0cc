"""Oracle output-dtype audit (round-4 VERDICT item 2).

CORRECTNESS_r03 went red on two queries whose values were bit-identical to
DuckDB: their oracle SQL produced HUGEINT columns (uncast ``sum(BIGINT)``,
mixed BIGINT/UBIGINT arithmetic), and DuckDB→pandas renders HUGEINT as
float64, so the driver's value hash saw ``3549.0`` vs Spark's ``3549``.
This audit binds every ``oracle_sql()`` entry in DuckDB and fails if any
output column has a type pandas would not round-trip as the obvious numpy
dtype: HUGEINT / UHUGEINT / DECIMAL (and UBIGINT, which pandas renders as
uint64 — fine — but flags if Spark cannot represent it; kept allowed).
No Spark session needed — pure binder-level check, runs in milliseconds.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from inmem_vector_db_spark.sources.loader import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

BANNED = ("HUGEINT", "UHUGEINT", "DECIMAL")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_no_hash_breaking_oracle_output_types(con):
    oracles = entrymod.oracle_sql()
    offenders: dict[str, list[str]] = {}
    for name, sql in oracles.items():
        rel = con.sql(sql)
        bad = [
            f"{col}:{typ}"
            for col, typ in zip(rel.columns, map(str, rel.types))
            if any(b in str(typ).upper() for b in BANNED)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle SQL produces driver-hash-breaking column types "
        f"(CAST to BIGINT/DOUBLE): {offenders}"
    )


def test_ivf_replay_probing_every_list_is_the_exact_scan(con):
    """The shared IVF replay builders, checked without Spark: with every
    inverted list probed, the single-query and the per-query IVF replays
    return exactly the exact scan's rows; with one list probed, they
    miss some true neighbours (on the suite's sf0.001 corpus; at sf0.1
    query 0's nearest list happens to hold all ten)."""
    n_lists = con.sql(
        f"SELECT count(*) FROM embeddings WHERE {entrymod._IVF_CENTS}"
    ).fetchone()[0]
    exact = con.sql(entrymod._knn_oracle("euclidean")).fetchall()
    assert con.sql(entrymod._ivf_search_oracle(0, n_lists)).fetchall() == exact
    assert con.sql(entrymod._ivf_search_oracle(0, 1)).fetchall() != exact

    q_where = "vec_id < 3"
    exact_per_query = sorted(
        con.sql(f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE {q_where}),
r AS (
  SELECT q.query_id, e.vec_id,
         list_distance(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS d
  FROM q, embeddings e
)
SELECT query_id, vec_id, round(d, 6) AS dist FROM r
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) <= 5
""").fetchall()
    )

    def batch(nprobe: int) -> list[tuple]:
        return sorted(con.sql(entrymod._ivf_batch_oracle(q_where, nprobe)).fetchall())

    assert batch(n_lists) == exact_per_query
    assert batch(1) != exact_per_query
