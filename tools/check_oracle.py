"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
An unknown query name exits 2 before Spark starts.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from inmem_vector_db_spark.session import get_spark  # noqa: E402
from inmem_vector_db_spark.sources.loader import TABLES  # noqa: E402


def norm_cell(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return v


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


_INT_SPARK = {"tinyint", "smallint", "int", "bigint"}
_FLT_SPARK = {"float", "double"}


def dtype_class_spark(dt: str) -> str | None:
    if dt in _INT_SPARK:
        return "int"
    if dt in _FLT_SPARK:
        return "float"
    return None


_INT_DUCK = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
}
# pandas renders HUGEINT as float64 — the CORRECTNESS_r03 artifact: the
# driver's value hash then sees 3549.0 against Spark's 3549 even when
# rows/schema match.  DECIMAL goes to object(Decimal), equally fatal.
_FLOATISH_DUCK = {"FLOAT", "DOUBLE", "HUGEINT", "UHUGEINT"}


def dtype_class_duck(typ: str) -> str | None:
    t = typ.upper()
    if t in _INT_DUCK:
        return "int"
    if t in _FLOATISH_DUCK or t.startswith("DECIMAL"):
        return "float"
    return None


def dtype_mismatches(sdf, rel) -> list[str]:
    """Driver-faithful dtype check at the BINDER level (no extra query
    execution): a DuckDB output type that pandas renders float-ish
    (HUGEINT/DECIMAL/DOUBLE) against a Spark int column flips the
    driver's value hash.  Int columns containing NULLs are not a
    problem — both engines' pandas paths go float64 together — and at
    binder level the nullable int keeps its int type, so that case
    never false-positives here."""
    sclass = {f.name: dtype_class_spark(f.dataType.simpleString())
              for f in sdf.schema.fields}
    bad = []
    for col, typ in zip(rel.columns, map(str, rel.types)):
        sc, oc = sclass.get(col), dtype_class_duck(typ)
        if sc is not None and oc is not None and sc != oc:
            bad.append(f"{col}: spark={sc} duck={typ}")
    return bad


def main(order_names: list[str] | None = None) -> int:
    """Run the gate over ``order_names`` (default: ``exec_order()`` —
    build-before-consumer, matching bench cost attribution).  The
    driver-order replay gate (tools/replay_driver_order.py) passes
    ``queries()`` order instead: window-first, consumers before their
    builders, artifacts built on demand — the exact order the driver's
    correctness run executes."""
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print("unknown entries:", " ".join(unknown), file=sys.stderr)
        return 2
    spark = get_spark("oracle-check", master="local[8]",
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name in (order_names if order_names is not None
                 else entrymod.exec_order()):
        fn = qs[name]
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"  {name}: rows-only ({len(srows)} rows, {t_spark:.1f}s spark) — no oracle")
            continue
        t0 = time.time()
        rel = con.sql(oracles[name])
        ocols = [c for c in rel.columns]
        bad_dtypes = dtype_mismatches(sdf, rel)  # binder-level, no execution
        orows = [tuple(r) for r in rel.fetchall()]
        t_duck = time.time() - t0
        ok_cols = sorted(scols) == sorted(ocols)
        a, b = norm_rows(scols, srows), norm_rows(ocols, orows)
        ok_rows = a == b
        status = "OK " if (ok_cols and ok_rows and not bad_dtypes) else "FAIL"
        print(f"  {name}: {status} spark={len(srows)}r/{t_spark:.1f}s duck={len(orows)}r/{t_duck:.1f}s")
        if bad_dtypes:
            failures += 1
            print(f"    dtype drift (driver hash would mismatch): {bad_dtypes}")
        if not ok_cols:
            failures += 1
            print(f"    cols spark={scols} duck={ocols}")
        elif not ok_rows:
            failures += 1
            diff_a = [r for r in a if r not in b][:3]
            diff_b = [r for r in b if r not in a][:3]
            print(f"    spark-only={diff_a}")
            print(f"    duck-only ={diff_b}")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
