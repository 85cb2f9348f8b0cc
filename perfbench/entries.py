"""Pinned registered entries, run once after the `ingest` window on the
generated `events` table and checked against their DuckDB oracles.

The list lives here, not in the driver window of `__spark_entry__`, so
that rotating that window never changes what the benchmark measures.
"""

from __future__ import annotations

import sys

PINNED = ("events_hourly_stream", "user_distinct_stream", "value_histogram_stream")

# (builder, consumer): the consumer serves from a memo or artifact the
# builder makes, so the builder must be pinned too and run first
BUILDS = (
    ("events_hourly_stream", "user_distinct_stream"),
    ("events_hourly_stream", "value_histogram_stream"),
)


def pinned_order(entrymod) -> list[str]:
    """PINNED in `exec_order()`, refusing a list that has drifted from
    the registry or is not closed under its build dependencies."""
    registered = entrymod.queries()
    gone = [n for n in PINNED if n not in registered]
    if gone:
        raise RuntimeError(f"pinned entries no longer registered: {gone}")
    order = [n for n in entrymod.exec_order() if n in PINNED]
    for builder, consumer in BUILDS:
        if builder not in PINNED or consumer not in PINNED:
            raise RuntimeError(f"pinned list not closed: {builder} -> {consumer}")
        if order.index(builder) > order.index(consumer):
            raise RuntimeError(f"{builder} must run before {consumer} in exec_order()")
    return order


def run(b, tables_dir: str) -> None:
    """Each pinned entry as one request, its rows checked against its
    oracle the way the repo's oracle gate compares them."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools.check_oracle import norm_rows

    registered, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{tables_dir}/events.parquet')")
        for name in pinned_order(entrymod):
            def body(name=name):
                df = b.call(f"entries.{name}", "entries", registered[name], b.spark, tables_dir)
                return df.columns, b.collect("entries", df)

            out = b.request(f"entry.{name}", body)
            if out is None:
                continue
            cols, rows = out
            rel = con.sql(oracles[name])
            ok = sorted(cols) == sorted(rel.columns) and (
                norm_rows(cols, rows) == norm_rows(rel.columns, rel.fetchall()))
            if not ok:
                print(f"perfbench: entry {name} differs from its oracle", file=sys.stderr)
            b.check(f"entry.{name}", ok, f"{len(rows)} rows")
    finally:
        con.close()
