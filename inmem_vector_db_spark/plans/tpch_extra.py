"""Extended TPC-H-family query pack: the remaining classic query shapes
(Q8, Q9, Q11, Q12, Q13, Q15, Q16, Q17, Q18, Q20, Q21, Q22) adapted to the
driver's simplified star schema (no partsupp, no l_shipmode, no
commit/receipt dates — substitutions documented per query), plus a
GROUPING SETS aggregation and a time-series gap-fill operator.

These complete the relational surface beyond what the reference computes
(SURVEY.md 2.3: the reference has no relational joins at all); each shape
maps to a pattern a 100 TB training-data pipeline hits constantly:
conditional market-share ratios (Q8), correlated-scalar filters (Q17),
group-HAVING-scalar thresholds (Q11/Q18/Q20), exists/not-exists
multi-fact logic (Q21), anti-join + global-scalar predicates (Q22), and
distribution histograms (Q13).

Scale notes (the plan we WANT at 1000 executors):

* Every dim (part, supplier, nation, region, customer at these
  cardinalities) broadcasts; the only repeated big shuffle is
  lineitem->orders on orderkey, which AQE sizes.
* Correlated scalar subqueries are expressed as grouped aggregates
  joined back (decorrelated by construction) — never per-row repeats.
* Q21's per-order supplier census shuffles lineitem once on orderkey and
  reuses that partitioning for the late-supplier join.
* Money math in DECIMAL(18,4) before the final round: exact decimal
  accumulation is order-independent, so results are bit-identical across
  partitionings and engines (float64 sums are not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inmem_vector_db_spark.plans.relational import dec_revenue
from inmem_vector_db_spark.session import memo, scratch_dir
from inmem_vector_db_spark.sources.loader import load_table

_DEC = "decimal(18,4)"


def _disc_price_dec() -> F.Column:
    return F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC)
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one target nation's share of ECONOMY-part revenue
    sold to ASIA customers, per order year.  8-way join where everything
    but lineitem/orders broadcasts; the share is a conditional-aggregate
    ratio computed in one pass (no self-join)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    cust_nations = (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select(F.col("n_nationkey").alias("cnk"))
    )
    supp_nations = nation.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    vol = _disc_price_dec()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
              li.l_partkey == F.col("p_partkey"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cust_nations), cust.c_nationkey == F.col("cnk"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nations), supp.s_nationkey == F.col("snk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", vol)
                  .otherwise(F.lit(0).cast(_DEC))).alias("_n"),
            F.sum(vol).alias("_d"),
        )
        .select(
            "o_year",
            F.round(F.col("_n").cast("double") / F.col("_d").cast("double"), 6)
            .alias("mkt_share"),
            F.round(F.col("_d"), 2).cast("double").alias("total_volume"),
        )
    )


Q8_SQL = """
WITH j AS (
  SELECT EXTRACT(year FROM o_orderdate)::INT AS o_year,
         l_extendedprice::DECIMAL(18,4)
           * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)) AS vol,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN part     ON l_partkey = p_partkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
)
SELECT o_year,
       round((sum(CASE WHEN supp_nation = 'NATION_5' THEN vol
                       ELSE 0::DECIMAL(18,4) END)::DOUBLE)
             / (sum(vol)::DOUBLE), 6) AS mkt_share,
       round(sum(vol), 2)::DOUBLE AS total_volume
FROM j
GROUP BY o_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp: unit cost substituted with
    0.6 * p_retailprice): profit on 'red …' parts by supplier nation and
    order year.  part/supplier/nation broadcast; lineitem->orders is the
    one big shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")

    amount = _disc_price_dec() - (
        F.col("p_retailprice").cast(_DEC)
        * F.col("l_quantity").cast(_DEC)
        * F.lit("0.6").cast(_DEC)
    )
    return (
        li.join(F.broadcast(part.filter(F.col("p_name").like("red%"))),
                li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


Q9_SQL = """
SELECT n_name AS nation,
       EXTRACT(year FROM o_orderdate)::INT AS o_year,
       round(sum(l_extendedprice::DECIMAL(18,4)
                   * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))
                 - p_retailprice::DECIMAL(18,4) * l_quantity::DECIMAL(18,4)
                   * 0.6::DECIMAL(18,4)), 2)::DOUBLE AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE 'red%'
GROUP BY 1, 2
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (no partsupp: 'stock value' substituted with sale
    value sum(price*qty)): parts whose value exceeds 0.0007 of the global
    total — a grouped aggregate filtered by a global scalar subquery.
    The scalar is a 1-row broadcast cross-join, not a recompute."""
    li = load_table(spark, sf_dir, "lineitem")
    val = (F.col("l_extendedprice").cast(_DEC) * F.col("l_quantity").cast(_DEC))
    per_part = li.groupBy("l_partkey").agg(F.sum(val).alias("_v"))
    total = per_part.agg(
        (F.sum("_v") * F.lit("0.0007").cast(_DEC)).alias("_threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_v") > F.col("_threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("_v"), 2).cast("double").alias("part_value"),
        )
    )


Q11_SQL = """
WITH v AS (
  SELECT l_partkey,
         sum(l_extendedprice::DECIMAL(18,4) * l_quantity::DECIMAL(18,4)) AS val
  FROM lineitem GROUP BY 1
)
SELECT l_partkey AS p_partkey, round(val, 2)::DOUBLE AS part_value
FROM v
WHERE val > (SELECT sum(val) * 0.0007::DECIMAL(18,4) FROM v)
"""


def q12_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (no l_shipmode/commitdate: mode substituted with a
    ship-latency class, late = shipped >90 days after order date): per
    class, how many lines belong to critical- vs normal-priority orders.
    One fact-fact join, conditional aggregation, 2 output rows."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn(
            "ship_class",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                F.lit("slow"),
            ).otherwise(F.lit("fast")),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(crit.cast("long")).alias("high_line_count"),
            F.sum((~crit).cast("long")).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
            THEN 'slow' ELSE 'fast' END AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count
    (excluding '5-LOW' orders via a filtered left join — customers with
    zero such orders land in the 0 bucket).  Two cascaded aggregations;
    the second one is tiny (distinct counts ~ dozens)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders.filter(F.col("o_orderpriority") != "5-LOW"),
            cust.c_custkey == orders.o_custkey,
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue over
    1996-Q1, ties included — grouped revenue, global max as a 1-row
    broadcast, equality join back.  Revenue is rounded BEFORE the max
    comparison so the tie set is identical on every engine."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(_disc_price_dec()), 2).cast("double").alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice::DECIMAL(18,4)
                   * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4))), 2)::DOUBLE
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (no partsupp: the part-supplier relation is taken
    from lineitem; the 'customer complaints' exclusion substituted with
    negative-balance suppliers): distinct supplier count per
    (brand, type, size) bucket, excluding one brand, one type, and the
    bad-supplier set via a broadcast anti-join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    bad = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
        )
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if Brand#11 orders
    below 20% of a part's mean quantity were not filled.  The correlated
    scalar subquery (per-part mean over ALL lineitem) is decorrelated
    into a grouped aggregate + broadcast join — the per-part mean table
    is |parts| rows, never a per-row re-scan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    part_avg = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * F.lit(0.2)).alias("_qty_cut")
    )
    return (
        li.join(F.broadcast(part.filter(F.col("p_brand") == "Brand#11")),
                li.l_partkey == part.p_partkey)
        .join(F.broadcast(part_avg.withColumnRenamed("l_partkey", "_pk")),
              li.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_qty_cut"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / F.lit(7.0), 2
            ).alias("avg_yearly")
        )
    )


Q17_SQL = """
SELECT round((sum(l_extendedprice::DECIMAL(18,4))::DOUBLE) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#11'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with orders totalling >300 units —
    grouped HAVING on the fact table, then broadcast-enrich with orders
    and customer.  The big-order id set (dozens of rows) broadcasts into
    both joins, so lineitem is scanned once and never re-shuffled."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice", "total_qty",
        )
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, total_qty
FROM (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 2) > 300
)
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp: 'excess stock' substituted with
    shipped volume): suppliers who shipped >400 units of 'red …' parts
    during 1997 — a semi-join chain part -> lineitem -> HAVING ->
    supplier, each stage shrinking the row set before the next join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    heavy = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(part.filter(F.col("p_name").like("red%"))),
              li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("red_qty"))
        .filter(F.col("red_qty") > 400)
    )
    return (
        supp.join(F.broadcast(heavy), supp.s_suppkey == heavy.l_suppkey)
        .select("s_name", "s_acctbal", "red_qty")
    )


Q20_SQL = """
SELECT s_name, s_acctbal, red_qty
FROM supplier
JOIN (
  SELECT l_suppkey, round(sum(l_quantity), 2) AS red_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY 1 HAVING round(sum(l_quantity), 2) > 400
) ON s_suppkey = l_suppkey
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (no commit/receipt dates: 'late' = shipped >90
    days after order date): suppliers who were the SOLE late supplier on
    a multi-supplier order.  The exists/not-exists pair is expressed as
    one per-order census (distinct suppliers, distinct late suppliers) —
    lineitem shuffles once on orderkey, and the census joins back to the
    late lines on the same key (no second shuffle of the fact)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    lines = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey", "l_suppkey",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
            .alias("late"),
        )
    )
    # distinct (order, supplier) pairs first: a plain partial-aggregable
    # groupBy instead of count_distinct's Expand double-pass, and the
    # per-order census can then capture the sole late supplier inline
    # (max over a 0/1-supplier set) — no join back to the fact at all
    pairs = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("any_late")
    )
    census = pairs.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.count(F.when(F.col("any_late"), True)).alias("n_late"),
        F.max(F.when(F.col("any_late"), F.col("l_suppkey"))).alias(
            "late_supp"
        ),
    )
    return (
        census.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .groupBy("late_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("late_supp") == supp.s_suppkey)
        .select("s_name", "numwait")
    )


Q21_SQL = """
WITH lines AS (
  SELECT l_orderkey, l_suppkey,
         (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), census AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
  FROM lines GROUP BY 1
)
SELECT s_name, count(DISTINCT lines.l_orderkey) AS numwait
FROM lines
JOIN census USING (l_orderkey)
JOIN supplier ON lines.l_suppkey = s_suppkey
WHERE lines.late AND n_supp > 1 AND n_late = 1
GROUP BY s_name
"""


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (no c_phone: 'positive-balance country-code
    customers' substituted with above-average-balance customers; 'no
    orders' tightened to 'no orders in the final year' because every
    customer in this corpus has some order): per nation, count and total
    balance of rich-but-recently-idle customers.  Global scalar avg as a
    1-row broadcast; recency check as a broadcast anti-join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("_avg_bal")
    )
    recent = (
        orders.filter(F.col("o_orderdate") >= F.lit("2000-08-01"))
        .select("o_custkey").distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast(_DEC)), 2)
            .cast("double").alias("totacctbal"),
        )
    )


Q22_SQL = """
SELECT n_name AS nation, count(*) AS numcust,
       round(sum(c_acctbal::DECIMAL(18,4)), 2)::DOUBLE AS totacctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT CAST(sum(c_acctbal::DECIMAL(18,4)) AS DOUBLE) / count(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-08-01')
GROUP BY 1
"""


def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS aggregation (completes the cube/rollup family):
    order counts and value by status, by priority, and grand total — one
    scan, three grouping sets, with grouping_id disambiguating the NULL
    rows.  Catalyst expands this to a single Expand + one aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus", "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast(_DEC)), 2)
            .cast("double").alias("total_value"),
            F.grouping_id().alias("gid"),
        )
    )


ORDER_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice::DECIMAL(18,4)), 2)::DOUBLE AS total_value,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill (hypertable-style dense rollup): per
    event_type, EVERY hour between that type's first and last event —
    missing hours materialized via sequence()+explode, zero-filled sums
    plus a last-observation-carried-forward column (window last() with
    ignorenulls).  The dense hour spine is tiny (|types| x hours) next
    to the event table, so the only big operation is the initial
    aggregation; the spine join is a broadcast."""
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 4)
            .cast("double").alias("v")
        )
    )
    spine = (
        agg.groupBy("event_type")
        .agg(F.min("h").alias("_h0"), F.max("h").alias("_h1"))
        .select(
            "event_type",
            F.explode(F.sequence("_h0", "_h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    w = (
        Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(agg, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:00:00").alias("hour"),
            F.coalesce("v", F.lit(0.0)).alias("sum_value"),
            F.col("v").isNull().cast("int").alias("is_gap"),
            F.last("v", ignorenulls=True).over(w).alias("sum_value_locf"),
        )
    )


EVENTS_GAPFILL_SQL = """
WITH agg AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(round(sum(CAST(value AS DECIMAL(12,2))), 4) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT event_type, unnest(generate_series(min_h, max_h, INTERVAL 1 HOUR)) AS h
  FROM (SELECT event_type, min(h) AS min_h, max(h) AS max_h FROM agg GROUP BY 1)
)
SELECT spine.event_type,
       strftime(spine.h, '%Y-%m-%d %H:00:00') AS hour,
       coalesce(v, 0.0) AS sum_value,
       (v IS NULL)::INT AS is_gap,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY spine.event_type ORDER BY spine.h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_locf
FROM spine LEFT JOIN agg ON spine.event_type = agg.event_type AND spine.h = agg.h
"""


def zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) cell census over (l_quantity, l_extendedprice):
    quantize both to 8 bits by min/max (folded to literals driver-side),
    interleave bits in pure integer expressions, count rows per coarse
    cell.  The same z expression drives ``write_zordered`` — the
    multi-dimensional clustering layout whose row-group pruning is
    asserted with real parquet footers in tests; this entry puts the
    code path itself under the exact value oracle (integer math, no fp
    ambiguity past the shared quantization expression)."""
    from inmem_vector_db_spark.sources.maintenance import (
        quantize_minmax,
        zorder_value,
    )

    li = load_table(spark, sf_dir, "lineitem")
    lo_q, hi_q, lo_p, hi_p = li.agg(
        F.min("l_quantity"),
        F.max("l_quantity"),
        F.min("l_extendedprice"),
        F.max("l_extendedprice"),
    ).first()
    z = zorder_value(
        [
            quantize_minmax("l_quantity", lo_q, hi_q, bits=8),
            quantize_minmax("l_extendedprice", lo_p, hi_p, bits=8),
        ],
        bits=8,
    )
    return (
        li.select(F.shiftright(z, 8).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), "cell")
        .limit(10)
    )


def _zorder_sql(bits: int = 8) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"(((qq >> {b}) & 1) << {2 * b})")
        terms.append(f"(((pp >> {b}) & 1) << {2 * b + 1})")
    zexpr = " + ".join(terms)
    return f"""
WITH mm AS (
  SELECT min(l_quantity) AS lo_q, max(l_quantity) AS hi_q,
         min(l_extendedprice) AS lo_p, max(l_extendedprice) AS hi_p
  FROM lineitem
),
q AS (
  SELECT floor((l.l_quantity - mm.lo_q) * 255.0 / (mm.hi_q - mm.lo_q))::BIGINT AS qq,
         floor((l.l_extendedprice - mm.lo_p) * 255.0 / (mm.hi_p - mm.lo_p))::BIGINT AS pp
  FROM lineitem l, mm
),
z AS (SELECT ({zexpr}) AS zv FROM q)
SELECT (zv >> 8) AS cell, count(*) AS n_rows
FROM z GROUP BY cell ORDER BY n_rows DESC, cell LIMIT 10
"""


ZORDER_CELLS_SQL = _zorder_sql()


# ---------------------------------------------------------------------------
# bucketed co-located join: the write-time shuffle


# one bucketed warehouse per (session, corpus dir): lineitem and orders
# hash-bucketed on orderkey at WRITE time, so the daily fact-fact join
# reads co-located buckets and runs with NO Exchange under the join
# (pinned by tests/test_sources_and_indexer.py::
# test_bucketed_join_eliminates_shuffle).  At 100 TB this is the single
# biggest repeated-cost lever: the orderkey shuffle is paid once at
# ingest, then every downstream join/agg on the key is shuffle-free.
def _bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    from inmem_vector_db_spark.sources.maintenance import write_bucketed

    def build() -> tuple[str, str]:
        # stable digest (Python hash() is PYTHONHASHSEED-salted and
        # would mint new table names every interpreter run)
        import hashlib

        key = (spark.sparkContext.applicationId, sf_dir)
        tag = "b" + hashlib.md5(repr(key).encode()).hexdigest()[:8]
        li_name, ord_name = f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"
        base = scratch_dir("bucketed_facts_")
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        for df, name, cols in (
            (li, li_name, ["l_orderkey"]),
            (orders, ord_name, ["o_orderkey"]),
        ):
            write_bucketed(df, name, f"{base}/{name}", cols, 8, sort_cols=cols)
        return li_name, ord_name

    return memo(spark, ("bucketed_facts", sf_dir), build)


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority through the BUCKETED join path: both
    facts were hash-bucketed on orderkey at write time (the artifact the
    session memoizes, a written table on a real lake), so the merge join
    consumes the write-time layout and the plan has no Exchange below
    the join — the only shuffle left is the final groupBy.  The merge
    hint keeps the plan on the sort-merge path (a broadcast of orders
    would also be Exchange-free but wouldn't exercise the layout).
    Values must match the plain-join oracle exactly: bucketing moves
    placement, never content."""
    li_name, ord_name = _bucketed_fact_tables(spark, sf_dir)
    li = spark.table(li_name)
    orders = spark.table(ord_name).hint("merge")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(dec_revenue()), 2).cast("double").alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


BUCKETED_JOIN_REVENUE_SQL = """
SELECT o.o_orderpriority,
       count(*) AS n_items,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


QUERIES = {
    "zorder_cells": (zorder_cells, ZORDER_CELLS_SQL),
    "bucketed_join_revenue": (bucketed_join_revenue, BUCKETED_JOIN_REVENUE_SQL),
    "q8_market_share": (q8_market_share, Q8_SQL),
    "q9_product_profit": (q9_product_profit, Q9_SQL),
    "q11_important_parts": (q11_important_parts, Q11_SQL),
    "q12_ship_latency": (q12_ship_latency, Q12_SQL),
    "q13_order_distribution": (q13_order_distribution, Q13_SQL),
    "q15_top_supplier": (q15_top_supplier, Q15_SQL),
    "q16_supplier_counts": (q16_supplier_counts, Q16_SQL),
    "q17_small_quantity_revenue": (q17_small_quantity_revenue, Q17_SQL),
    "q18_large_volume_customers": (q18_large_volume_customers, Q18_SQL),
    "q20_promotion_suppliers": (q20_promotion_suppliers, Q20_SQL),
    "q21_waiting_suppliers": (q21_waiting_suppliers, Q21_SQL),
    "q22_idle_customers": (q22_idle_customers, Q22_SQL),
    "order_grouping_sets": (order_grouping_sets, ORDER_GROUPING_SETS_SQL),
    "events_gapfill": (events_gapfill, EVENTS_GAPFILL_SQL),
}
