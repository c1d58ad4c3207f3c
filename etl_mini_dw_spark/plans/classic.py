"""Classic OLAP query shapes II (Q7/Q8/Q9/Q15/Q17/Q19/Q21/Q22 analogues).

Completes the classic decision-support battery started in
``plans/analytics.py`` with the shapes that exercise distinct plan
machinery not yet covered there:

- bilateral fact⋈dim⋈dim self-pairing on two different FK chains (Q7)
- conditional-share aggregation over a region-pruned chain (Q8)
- substring-filtered dimension probe (Q9)
- scalar-MAX subquery as a 1-row broadcast (Q15, P12 pattern — no collect)
- correlated AVG decorrelated to aggregate + join-back (Q17)
- disjunctive multi-column predicate pushed into one scan (Q19)
- EXISTS + NOT-EXISTS pair as semi+anti non-equi joins (Q21)
- scalar-subquery filter + anti join on an unbounded fact (Q22)

Columns are adapted to the driver's TPC-H-ish schema (TESTDATA.md): no
partsupp table, no ship/commit/receipt-date triple, so the Q17/Q21
variants use the available lineitem attributes while keeping the plan
shape the spec query exists to exercise.

Scale notes (100 TB): every dimension side is an explicit broadcast;
the only shuffles are lineitem⋈orders on orderkey and the Q17
aggregate/join-back on partkey (both the natural fact keys a production
layout would bucket on). The Q21 semi/anti pair shuffles lineitem on
l_orderkey once per side with only (orderkey, suppkey[, returnflag])
projected — per-order groups are bounded (≤7 lines), so the non-equi
in-group comparison never blows up.

Money math follows the repo-wide exact-decimal contract
(sources/tables.py): DECIMAL end-to-end, CAST to DOUBLE only in the
final projection, identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_dw_spark.sources.tables import typed_table

def _revenue():
    one = F.lit(1).cast("decimal(4,2)")
    return F.col("l_extendedprice") * (one - F.col("l_discount"))


_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(14,2))"
    " * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)


def bilateral_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7-shaped: cross-border revenue by (supplier nation, customer
    nation, order year).

    The same fact row resolves two independent FK chains (supplier→nation
    and order→customer→nation); both chains are broadcast so the one
    shuffle is lineitem⋈orders. The anti-diagonal filter
    (supp != cust nation) runs on broadcast-join output, map-side.
    """
    li = typed_table(spark, sf_dir, "lineitem")
    orders = typed_table(spark, sf_dir, "orders")
    supplier = typed_table(spark, sf_dir, "supplier")
    customer = typed_table(spark, sf_dir, "customer")
    nation = typed_table(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(_revenue()).cast("decimal(38,4)").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


BILATERAL_TRADE_SQL = f"""
SELECT ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE ns.n_name <> nc.n_name
GROUP BY 1, 2, 3
"""


def regional_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-shaped: NATION_0 suppliers' share of revenue to ASIA customers
    per order year — conditional aggregation (CASE inside SUM) over a
    region-pruned join chain; the region filter prunes at the broadcast
    dimension, so fact rows for other regions never reach the aggregate.
    """
    li = typed_table(spark, sf_dir, "lineitem")
    orders = typed_table(spark, sf_dir, "orders")
    supplier = typed_table(spark, sf_dir, "supplier")
    customer = typed_table(spark, sf_dir, "customer")
    nation = typed_table(spark, sf_dir, "nation")
    region = typed_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    ns = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    rev = _revenue().cast("decimal(18,4)")
    target = F.when(F.col("supp_nation") == "NATION_0", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(target).cast("decimal(38,4)").cast("double").alias("target_revenue"),
            F.sum(rev).cast("decimal(38,4)").cast("double").alias("total_revenue"),
        )
        .withColumn(
            "market_share", F.round(F.col("target_revenue") / F.col("total_revenue"), 6)
        )
    )


REGIONAL_MARKET_SHARE_SQL = f"""
SELECT order_year,
       CAST(target_rev AS DOUBLE) AS target_revenue,
       CAST(total_rev AS DOUBLE) AS total_revenue,
       round(CAST(target_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6) AS market_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
         SUM(CASE WHEN ns.n_name = 'NATION_0'
                  THEN CAST({_REV_SQL} AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS target_rev,
         SUM(CAST({_REV_SQL} AS DECIMAL(18,4))) AS total_rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region   ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  GROUP BY 1)
"""


def product_line_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-shaped: revenue by supplier nation × year for parts whose name
    contains a substring — the LIKE filter prunes the broadcast part
    dimension BEFORE the fact join, so non-matching fact rows drop at
    the (map-side) broadcast probe, not after.
    """
    li = typed_table(spark, sf_dir, "lineitem")
    orders = typed_table(spark, sf_dir, "orders")
    part = typed_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    supplier = typed_table(spark, sf_dir, "supplier")
    nation = typed_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(_revenue()).cast("decimal(38,4)").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


PRODUCT_LINE_PROFIT_SQL = f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


def top_supplier_by_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-shaped: supplier(s) with the maximum revenue in a quarter.

    The scalar MAX over the per-supplier aggregate is hoisted into a
    1-row broadcast cross join (P12 pattern — never a driver collect),
    and the tie filter compares exact DECIMALs, so "equals the max" is
    deterministic on both engines (a double compare would not be).
    """
    li = typed_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    supplier = typed_table(spark, sf_dir, "supplier")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(_revenue()).cast("decimal(38,4)").alias("total_rev")
    )
    max_rev = per_supp.agg(F.max("total_rev").alias("max_rev"))
    return (
        per_supp.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
    )


TOP_SUPPLIER_SQL = f"""
WITH per_supp AS (
  SELECT l_suppkey, SUM({_REV_SQL}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-10-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM per_supp
JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM per_supp)
"""


def small_quantity_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17-shaped: revenue from lines of one brand whose quantity is
    below 20% of that part's average quantity.

    The correlated per-part AVG is decorrelated into a groupBy aggregate
    joined back on partkey — the rewrite every modern planner applies;
    expressed directly it is two hash stages on the same key (a bucketed
    layout makes both co-located). The threshold is computed with the
    identical double expression on both engines.
    """
    part = typed_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li = typed_table(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    thresh = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.lit(0.2)
            * (F.sum("l_quantity").cast("decimal(38,2)").cast("double") / F.count(F.lit(1)))
        ).alias("qty_threshold")
    )
    return (
        li.join(thresh, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity").cast("double") < F.col("qty_threshold"))
        .agg(
            F.sum("l_extendedprice").cast("decimal(38,2)").cast("double").alias(
                "total_revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SMALL_QTY_REVENUE_SQL = """
WITH li AS (
  SELECT l_partkey,
         CAST(l_quantity AS DECIMAL(12,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(14,2)) AS price
  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'),
thresh AS (
  SELECT l_partkey AS t_partkey,
         0.2 * (CAST(SUM(qty) AS DOUBLE) / COUNT(*)) AS qty_threshold
  FROM li GROUP BY 1)
SELECT CAST(SUM(price) AS DOUBLE) AS total_revenue, COUNT(*) AS n_lines
FROM li JOIN thresh ON l_partkey = t_partkey
WHERE CAST(qty AS DOUBLE) < qty_threshold
"""


def disjunctive_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-shaped: one scan, a 3-arm disjunction of (brand, size-range,
    quantity-range) conjuncts. Catalyst keeps the whole OR as a single
    predicate on the joined row (and pushes the common ``p_partkey``
    probe); no union-of-three-scans rewrite is needed.
    """
    li = typed_table(spark, sf_dir, "lineitem")
    part = typed_table(spark, sf_dir, "part")
    qty = F.col("l_quantity")
    arm1 = (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & qty.between(1, 11)
    arm2 = (
        (F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & qty.between(10, 20)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & qty.between(20, 30)
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(arm1 | arm2 | arm3)
        .agg(
            F.sum(_revenue()).cast("decimal(38,4)").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


DISJUNCTIVE_REVENUE_SQL = f"""
SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue, COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def sole_returning_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21-shaped EXISTS + NOT-EXISTS pair: suppliers whose returned
    lines sit on finished multi-supplier orders where they are the ONLY
    supplier with returns.

    The EXISTS becomes a left-semi and the NOT EXISTS a left-anti join,
    both non-equi (same order, different supplier) on the orderkey
    shuffle key — only (orderkey, suppkey[, flag]) columns travel, and
    in-group comparison is bounded by the ≤7 lines an order has.
    """
    li = typed_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    orders_f = typed_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supplier = typed_table(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").join(
        orders_f.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    other = li.select(
        F.col("l_orderkey").alias("b_orderkey"), F.col("l_suppkey").alias("b_suppkey")
    )
    other_r = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_orderkey").alias("c_orderkey"), F.col("l_suppkey").alias("c_suppkey")
        )
    )
    return (
        l1.join(
            other,
            (F.col("l_orderkey") == F.col("b_orderkey"))
            & (F.col("l_suppkey") != F.col("b_suppkey")),
            "left_semi",
        )
        .join(
            other_r,
            (F.col("l_orderkey") == F.col("c_orderkey"))
            & (F.col("l_suppkey") != F.col("c_suppkey")),
            "left_anti",
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


SOLE_RETURNING_SUPPLIER_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM orders
              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 25
"""


def idle_high_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-shaped: customers with above-average (positive) balance and no
    RECENT orders (none since 1998 — every customer has *some* order in
    this data, so an unscoped anti join would be vacuously empty),
    counted per nation. The scalar AVG is a 1-row broadcast; the
    "no recent orders" test is a left-anti join against the fact — at
    scale the anti join shuffles only (custkey) off the pre-filtered
    orders side, and the date predicate pushes to the parquet scan.
    """
    customer = typed_table(spark, sf_dir, "customer")
    orders = typed_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    nation = typed_table(spark, sf_dir, "nation")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum("c_acctbal").cast("decimal(38,2)").cast("double") / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal").cast("double") > F.col("avg_bal"))
        .join(orders.select("o_custkey"), F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("c_acctbal").cast("decimal(38,2)").cast("double").alias("total_acctbal"),
        )
    )


IDLE_CUSTOMERS_SQL = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0)
SELECT n_name AS nation,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
CROSS JOIN avg_bal
WHERE CAST(CAST(c_acctbal AS DECIMAL(14,2)) AS DOUBLE) > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
GROUP BY 1
"""


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6-shaped: pure predicate aggregate — no join at all.

    Exists to prove the scan-level machinery: all three conjuncts
    (shipdate range, discount band, quantity cap) push into the parquet
    reader as ``PushedFilters`` and the plan is a single
    whole-stage-codegen scan→partial-agg→1-row exchange. At 100 TB this
    is the shape where pushdown is the entire game: the date range
    prunes partitions, the row-group stats skip most of the rest.
    Discount band compares exact DECIMAL(4,2) on both engines (the data
    is exact 2-decimal; a double BETWEEN would be representation-
    dependent at the band edges).
    """
    li = typed_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(
                F.lit("0.05").cast("decimal(4,2)"), F.lit("0.07").cast("decimal(4,2)")
            )
            & (F.col("l_quantity") < F.lit(24).cast("decimal(12,2)"))
        )
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_discount"))
            .cast("decimal(38,4)")
            .cast("double")
            .alias("forecast_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


FORECAST_REVENUE_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
             * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS forecast_revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.05 AND 0.07
  AND CAST(l_quantity AS DECIMAL(12,2)) < 24
"""


def line_status_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shaped: conditional (CASE-inside-SUM) counts of high- vs
    low-priority order lines per lineitem category over a shipdate year.

    The spec query pivots on ``l_shipmode``, which this testdata does not
    carry (TESTDATA.md); the grouping keys are the available lineitem
    categoricals (returnflag × linestatus) — the plan shape the query
    exists to exercise is unchanged: one fact⋈fact equi-join shuffle on
    orderkey with the date filter pushed to the lineitem scan, then a
    partial-aggregable CASE-conditional count pair, six groups out.
    """
    li = typed_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = typed_table(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


LINE_STATUS_PRIORITY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2
"""


def bulk_shipping_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20-shaped nested semi-join chain: suppliers in one nation who
    shipped a meaningful volume (>50 units on some part) of 'widget'
    parts.

    Three nesting levels, each a semi-join (never a fanning-out inner
    join): part-name filter → lineitem volume aggregate HAVING →
    distinct supplier keys → supplier probe. The spec query's partsupp
    availability test has no table here (TESTDATA.md); the lineitem
    volume HAVING keeps the identical chain shape. At scale: the part
    probe is a broadcast semi, the volume aggregate shuffles only
    (partkey, suppkey, qty), and the final semi broadcasts the tiny
    qualifying-supplier set back against the dimension.
    """
    part_keys = (
        typed_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey")
    )
    li = typed_table(spark, sf_dir, "lineitem")
    qualifying = (
        li.join(F.broadcast(part_keys), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > F.lit(50).cast("decimal(12,2)"))
        .select("l_suppkey")
        .distinct()
    )
    supplier = typed_table(spark, sf_dir, "supplier")
    nation = typed_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    return (
        supplier.join(
            F.broadcast(qualifying), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


BULK_SHIPPING_SUPPLIERS_SQL = """
SELECT s_suppkey, s_name FROM supplier
JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_1'
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
  GROUP BY l_partkey, l_suppkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 50)
ORDER BY s_name
"""


# --- Pareto skyline (catalog frontier) ----------------------------------------
#
# The skyline operator (Börzsönyi et al., ICDE 2001): parts that are
# not DOMINATED — no other part is both cheaper (retail price) and more
# sold (lifetime quantity). The classic O(n log n) 2-D sweep becomes
# two windows: collapse to per-price max quantity, then a part is on
# the skyline iff its quantity equals its price-group max AND strictly
# exceeds the running max over all strictly-cheaper prices. All
# comparisons are exact integers (price cents, quantity hundredths).
#
# Scale: one partkey rollup (partial-aggregable) + broadcast part join;
# the sweep windows run over |distinct prices| rows. The skyline is the
# recommendation/catalog "efficient frontier" primitive.


def pareto_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p_partkey, price_c, qty_c, skyline_size): the cheapest-and-
    best-selling frontier, first 50 parts by ascending price (partkey
    tie-break), with the full frontier size on every row."""
    from pyspark.sql import Window

    li = typed_table(spark, sf_dir, "lineitem")
    part = typed_table(spark, sf_dir, "part")
    sold = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        (F.sum("l_quantity") * 100).cast("decimal(38,0)").cast("bigint").alias("qty_c")
    )
    base = sold.join(
        F.broadcast(
            part.select(
                "p_partkey",
                (F.col("p_retailprice") * 100).cast("bigint").alias("price_c"),
            )
        ),
        "p_partkey",
    )
    wprice = Window.partitionBy("price_c")
    wsweep = Window.orderBy("price_c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    per_price = base.select(
        "p_partkey",
        "price_c",
        "qty_c",
        F.max("qty_c").over(wprice).alias("price_max"),
    )
    price_maxes = (
        per_price.select("price_c", "price_max")
        .distinct()
        .select(
            "price_c",
            "price_max",
            F.coalesce(
                F.max("price_max").over(wsweep), F.lit(-1)
            ).alias("cheaper_max"),
        )
    )
    skyline = (
        per_price.join(F.broadcast(price_maxes.select("price_c", "cheaper_max")), "price_c")
        .filter(
            (F.col("qty_c") == F.col("price_max"))
            & (F.col("qty_c") > F.col("cheaper_max"))
        )
        .select("p_partkey", "price_c", "qty_c")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        skyline.select(
            "p_partkey",
            "price_c",
            "qty_c",
            F.count(F.lit(1)).over(wall).cast("bigint").alias("skyline_size"),
        )
        .orderBy("price_c", "p_partkey")
        .limit(50)
    )


PARETO_SKYLINE_SQL = """
WITH sold AS (
  SELECT l_partkey AS p_partkey,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100
              AS DECIMAL(38,0)) AS BIGINT) AS qty_c
  FROM lineitem GROUP BY 1
),
base AS (
  SELECT s.p_partkey, s.qty_c,
         CAST(CAST(p.p_retailprice AS DECIMAL(14,2)) * 100 AS BIGINT)
           AS price_c
  FROM sold s JOIN part p ON p.p_partkey = s.p_partkey
),
per_price AS (
  SELECT *, MAX(qty_c) OVER (PARTITION BY price_c) AS price_max FROM base
),
price_maxes AS (
  SELECT price_c,
         COALESCE(MAX(price_max) OVER (ORDER BY price_c
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           AS cheaper_max
  FROM (SELECT DISTINCT price_c, price_max FROM per_price)
),
skyline AS (
  SELECT b.p_partkey, b.price_c, b.qty_c
  FROM per_price b JOIN price_maxes m ON m.price_c = b.price_c
  WHERE b.qty_c = b.price_max AND b.qty_c > m.cheaper_max
)
SELECT p_partkey, price_c, qty_c,
       CAST(COUNT(*) OVER () AS BIGINT) AS skyline_size
FROM skyline
ORDER BY price_c, p_partkey
LIMIT 50
"""


# --- ABC-XYZ inventory classification -----------------------------------------
#
# The supply-chain planning matrix: ABC ranks parts by revenue
# contribution (A = heads until 80% cumulative share, B to 95%, C the
# tail — the Pareto op's cutoffs turned into a classifier) and XYZ
# grades demand VARIABILITY from the weekly series (X steady CV ≤ 0.5,
# Y ≤ 1.0, Z erratic). Planners stock A-X items deep and make C-Z
# items to order; the 3×3 census is the portfolio health readout.
#
# Portability: both classifications are decided by PURE INTEGER
# comparisons — cumulative revenue share via cross-multiplication
# (cum·100 ≤ total·80), and CV thresholds via the identity
# CV² = (n_w·Σq² − T²)/T², so X ⇔ 4·(n_w·Σq² − T²) ≤ T² — no rounded
# float ever gates a class boundary.
#
# Scale: NO global cumulative window. A part's
# cumulative revenue in the (r DESC, pk ASC) order decomposes as
# S(>r) + tie_rank·r where S(>r) = total revenue of strictly-richer
# parts (``quantiles.cum_below`` over −r, weighted by revenue: a coarse
# histogram read on the driver plus a window partitioned by bucket) and
# tie_rank = row_number within the r-tie group (window partitioned by r
# — tie-group-sized, essentially singleton for a continuous revenue
# measure). Raw parts are touched by map-side-combinable aggregates and
# bucket- or tie-partitioned windows only.


def abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(abc, xyz, n_parts, revenue_share): the 3×3 ABC-XYZ census of
    all parts with any sales, revenue share per cell rounded-6."""
    from pyspark.sql import Window

    from etl_mini_dw_spark.functions.quantiles import cum_below

    li = typed_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(F.expr("l_extendedprice * (1 - l_discount)")) * 10000)
        .cast("decimal(38,0)")
        .cast("bigint")
        .alias("r")
    )
    # below(−r) = revenue of the strictly-richer parts; total = all revenue.
    # tie_rank within the r group reproduces the (r DESC, pk ASC)
    # cumulative exactly: cum = S(>r) + tie_rank·r
    w_tie = Window.partitionBy("r").orderBy("pk")
    abc = (
        cum_below(rev.withColumn("val", -F.col("r")), [], weight="r")
        .select(
            "pk",
            "r",
            (F.col("below") + F.row_number().over(w_tie) * F.col("r")).alias("cum"),
            F.col("total").alias("tot"),
        )
        .select(
            "pk",
            "r",
            F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
            .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
            .otherwise("C")
            .alias("abc"),
            "tot",
        )
    )
    weekly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.expr(
            "(datediff(l_shipdate, DATE '1992-01-01')"
            " - pmod(datediff(l_shipdate, DATE '1992-01-01'), 7)) div 7"
        ).alias("wk"),
    ).agg((F.sum("l_quantity") * 100).cast("decimal(38,0)").cast("bigint").alias("q"))
    n_weeks = weekly.select("wk").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("nw")
    )
    xyz = (
        weekly.groupBy("pk")
        .agg(
            F.sum("q").cast("decimal(19,0)").alias("t"),
            F.sum(
                F.col("q").cast("decimal(19,0)") * F.col("q").cast("decimal(19,0)")
            ).cast("decimal(38,0)").alias("sq2"),
        )
        .crossJoin(F.broadcast(n_weeks))
        .select(
            "pk",
            # var_num = n_w * Σq² − T²  (DECIMAL(38,0) exact)
            (
                F.col("nw").cast("decimal(10,0)") * F.col("sq2")
                - F.col("t") * F.col("t")
            ).alias("vn"),
            (F.col("t") * F.col("t")).alias("t2"),
        )
        .select(
            "pk",
            F.when(F.col("vn") * 4 <= F.col("t2"), "X")
            .when(F.col("vn") <= F.col("t2"), "Y")
            .otherwise("Z")
            .alias("xyz"),
        )
    )
    return (
        abc.join(xyz, "pk")
        .groupBy("abc", "xyz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(
                F.sum("r").cast("double") / F.max("tot").cast("double"), 6
            ).alias("revenue_share"),
        )
        .orderBy("abc", "xyz")
    )


ABC_XYZ_SQL = """
WITH rev AS (
  SELECT l_partkey AS pk,
         CAST(CAST(SUM(l_extendedprice * (1 - l_discount)) * 10000
              AS DECIMAL(38,0)) AS BIGINT) AS r
  FROM lineitem GROUP BY 1
),
abc AS (
  SELECT pk, r,
         CASE WHEN cum * 100 <= tot * 80 THEN 'A'
              WHEN cum * 100 <= tot * 95 THEN 'B'
              ELSE 'C' END AS abc,
         tot
  FROM (
    SELECT pk, r,
           SUM(r) OVER (ORDER BY r DESC, pk
                        ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(r) OVER () AS tot
    FROM rev
  )
),
weekly AS (
  SELECT l_partkey AS pk,
         (datediff('day', DATE '1992-01-01', l_shipdate)
          - ((datediff('day', DATE '1992-01-01', l_shipdate) % 7 + 7) % 7))
           // 7 AS wk,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) * 100
              AS DECIMAL(38,0)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
),
nw AS (SELECT CAST(COUNT(DISTINCT wk) AS BIGINT) AS nw FROM weekly),
xyz AS (
  SELECT pk,
         CASE WHEN vn * 4 <= t2 THEN 'X'
              WHEN vn <= t2 THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM (
    SELECT pk,
           nw * sq2 - CAST(t AS HUGEINT) * t AS vn,
           CAST(t AS HUGEINT) * t AS t2
    FROM (
      SELECT pk, CAST(SUM(q) AS BIGINT) AS t,
             SUM(CAST(q AS HUGEINT) * q) AS sq2
      FROM weekly GROUP BY pk
    ), nw
  )
)
SELECT a.abc, x.xyz,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       round(CAST(SUM(a.r) AS DOUBLE) / MAX(a.tot), 6) AS revenue_share
FROM abc a JOIN xyz x ON x.pk = a.pk
GROUP BY a.abc, x.xyz
ORDER BY a.abc, x.xyz
"""


# --- Global sales opportunity (TPC-H Q22 shape) --------------------------------
#
# The classic correlated-anti pattern: customers with ABOVE-AVERAGE
# positive account balance and NO ORDER since DORMANT_CUT are the
# dormant high-value accounts, rolled up per nation (this fixture's
# every customer has ordered at least once, so Q22's literal
# "never ordered" is empty — the recent-window variant keeps the query
# shape AND a non-trivial answer). Re-expresses TPC-H Q22's
# three signature moves on this schema (no phone column, so the
# "country code" grouping key is the actual nation): a scalar subquery
# feeding a filter (reference P11), a NOT EXISTS anti-join (reference
# J5/J6), and the final aggregate. Exact-decimal balance sums.
#
# Scale: the average is a 1-row broadcast; the anti-join is keyed on
# custkey against the orders projection (semi-join sized, co-
# partitionable); one nation rollup.


DORMANT_CUT = "2000-01-01"  # dormant = no order on/after this date


def sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, n_custs, total_acctbal): dormant above-average-balance
    customers per nation — the Q22 report."""
    cust = typed_table(spark, sf_dir, "customer")
    orders = typed_table(spark, sf_dir, "orders")
    nation = typed_table(spark, sf_dir, "nation")
    # exact above-average comparison via cross-multiplication: the two
    # engines' AVG(decimal) types differ (Spark DECIMAL(18,6), DuckDB
    # DOUBLE), so `bal > avg` could flip on a boundary customer —
    # `bal * n_pos > sum_pos` is pure exact arithmetic on both
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum((F.col("c_acctbal") * 100).cast("bigint")).alias("sum_pos"),
        F.count(F.lit(1)).cast("bigint").alias("n_pos"),
    )
    hot = (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(
            (F.col("c_acctbal") * 100).cast("bigint") * F.col("n_pos")
            > F.col("sum_pos")
        )
        .join(
            orders.filter(F.col("o_orderdate") >= DORMANT_CUT)
            .select(F.col("o_custkey").alias("c_custkey"))
            .distinct(),
            "c_custkey",
            "left_anti",
        )
    )
    return (
        hot.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_custs"),
            F.sum("c_acctbal")
            .cast("decimal(38,2)")
            .cast("double")
            .alias("total_acctbal"),
        )
        .orderBy("nation")
    )


SALES_OPPORTUNITY_SQL = """
WITH ab AS (
  SELECT CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT))
              AS BIGINT) AS sum_pos,
         CAST(COUNT(*) AS BIGINT) AS n_pos
  FROM customer WHERE CAST(c_acctbal AS DECIMAL(14,2)) > 0
)
SELECT n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_custs,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DECIMAL(38,2))
            AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation ON c.c_nationkey = n_nationkey, ab
WHERE CAST(CAST(c.c_acctbal AS DECIMAL(14,2)) * 100 AS BIGINT) * ab.n_pos
      > ab.sum_pos
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
ORDER BY nation
"""


# --- Promotion revenue under a disjunctive predicate (TPC-H Q19 shape) ---------
#
# The OR-of-ANDs predicate battery: three (brand-band, size-range,
# quantity-range) arms unioned by OR — the shape that exercises an
# optimizer's disjunction handling (each arm is selective, their union
# is not a simple conjunction, and the part-side conditions should
# still broadcast-prune before the join). Revenue stays exact DECIMAL.


def promo_revenue_disjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_lines, revenue) matched by any of three
    brand/size/quantity arm predicates."""
    li = typed_table(spark, sf_dir, "lineitem")
    part = typed_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 10))
        & (F.col("l_quantity").between(1, 15))
    )
    arm2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(5, 20))
        & (F.col("l_quantity").between(10, 25))
    )
    arm3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(10, 40))
        & (F.col("l_quantity").between(20, 40))
    )
    return j.filter(arm1 | arm2 | arm3).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.expr("l_extendedprice * (1 - l_discount)"))
        .cast("decimal(38,4)")
        .cast("double")
        .alias("revenue"),
    )


PROMO_DISJUNCTION_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2))))
            AS DECIMAL(38,4)) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND CAST(l_quantity AS DECIMAL(12,2)) BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
       AND CAST(l_quantity AS DECIMAL(12,2)) BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40
       AND CAST(l_quantity AS DECIMAL(12,2)) BETWEEN 20 AND 40)
"""


# --- Supplier scorecard -----------------------------------------------------------
#
# The vendor-management rollup procurement reads monthly: per supplier,
# volume, revenue share, return rate, and shipping latency — the
# operational quality axes beside the revenue ranking
# (`top_supplier_by_quarter`). All rates from exact integer counts;
# latency as exact integer day sums with one round-6 mean; revenue
# share via exact decimal sums. Top-20 suppliers by revenue with
# rank-stable tie-breaks.


def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_name, n_lines, revenue, rev_share, return_rate,
    avg_ship_days): the top-20-by-revenue supplier quality scorecard."""
    li = typed_table(spark, sf_dir, "lineitem")
    orders = typed_table(spark, sf_dir, "orders")
    supplier = typed_table(spark, sf_dir, "supplier")
    base = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_suppkey",
        F.expr("l_extendedprice * (1 - l_discount)").alias("rev"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
        F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias("lat"),
    )
    per = base.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("rev").cast("decimal(38,4)").alias("rev"),
        F.sum("ret").cast("bigint").alias("n_ret"),
        F.sum("lat").cast("bigint").alias("lat_sum"),
    )
    tot = per.agg(F.sum("rev").cast("decimal(38,4)").alias("tot_rev"))
    return (
        per.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_name",
            "n_lines",
            F.col("rev").cast("double").alias("revenue"),
            F.round(
                F.col("rev").cast("double") / F.col("tot_rev").cast("double"),
                6,
            ).alias("rev_share"),
            F.round(F.col("n_ret") / F.col("n_lines").cast("double"), 6).alias(
                "return_rate"
            ),
            F.round(
                F.col("lat_sum") / F.col("n_lines").cast("double"), 6
            ).alias("avg_ship_days"),
            F.col("rev").alias("_r"),
        )
        .orderBy(F.col("_r").desc(), "s_name")
        .limit(20)
        .drop("_r")
    )


SUPPLIER_SCORECARD_SQL = """
WITH base AS (
  SELECT l_suppkey,
         CAST(l_extendedprice AS DECIMAL(14,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2))) AS rev,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
         CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS lat
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
per AS (
  SELECT l_suppkey,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(rev) AS DECIMAL(38,4)) AS rev,
         CAST(SUM(ret) AS BIGINT) AS n_ret,
         CAST(SUM(lat) AS BIGINT) AS lat_sum
  FROM base GROUP BY 1
),
tot AS (SELECT CAST(SUM(rev) AS DECIMAL(38,4)) AS tot_rev FROM per)
SELECT s_name, n_lines,
       CAST(rev AS DOUBLE) AS revenue,
       round(CAST(rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6) AS rev_share,
       round(CAST(n_ret AS DOUBLE) / n_lines, 6) AS return_rate,
       round(CAST(lat_sum AS DOUBLE) / n_lines, 6) AS avg_ship_days
FROM per
JOIN supplier ON s_suppkey = l_suppkey, tot
ORDER BY rev DESC, s_name
LIMIT 20
"""


# --- Price-volume-mix revenue bridge ------------------------------------------
#
# The FP&A decomposition behind every "why did revenue move" review:
# split each product type's year-over-year revenue delta into a PRICE
# effect ((p1 − p0)·q1, at current volume) and a VOLUME effect
# ((q1 − q0)·p0, at prior price) — the two-factor bridge whose terms
# sum EXACTLY to the revenue delta by construction:
#   (r1/q1)·q1 − (r0/q0)·q1 + (q1 − q0)·(r0/q0) = r1 − r0.
# Unit prices are ratios of exact aggregates (DECIMAL revenue, integer
# quantity), so both engines derive identical doubles; every effect
# column is round-6 per the wide-decimal rule.
#
# Scale: ONE fact-side shuffle (lineitem ⋈ orders on orderkey with the
# two-year predicate pushed to both scans) + a broadcast part join +
# one 6-row aggregate. The year filter prunes partitions on a
# date-partitioned fact.

PVM_PREV_YEAR = 1997
PVM_CURR_YEAR = 1998


def price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_type, rev_prev, rev_curr, delta_rev, qty_prev, qty_curr,
    price_effect, volume_effect): two-factor YoY revenue bridge."""
    li = typed_table(spark, sf_dir, "lineitem")
    # sargable range (not year(col) IN ...) so the predicate reaches the
    # parquet scan's PushedFilters / partition pruning
    orders = (
        typed_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit(f"{PVM_PREV_YEAR}-01-01"))
            & (F.col("o_orderdate") < F.lit(f"{PVM_CURR_YEAR + 1}-01-01"))
        )
        .select("o_orderkey", F.year("o_orderdate").alias("yr"))
    )
    part = typed_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount")
    )
    base = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_type").alias("part_type"))
        .agg(
            F.sum(F.when(F.col("yr") == PVM_PREV_YEAR, rev))
            .cast("decimal(38,4)")
            .alias("r0"),
            F.sum(
                F.when(F.col("yr") == PVM_PREV_YEAR, F.col("l_quantity"))
            )
            .cast("bigint")
            .alias("q0"),
            F.sum(F.when(F.col("yr") == PVM_CURR_YEAR, rev))
            .cast("decimal(38,4)")
            .alias("r1"),
            F.sum(
                F.when(F.col("yr") == PVM_CURR_YEAR, F.col("l_quantity"))
            )
            .cast("bigint")
            .alias("q1"),
        )
    )
    r0d, r1d = F.col("r0").cast("double"), F.col("r1").cast("double")
    q0d, q1d = F.col("q0").cast("double"), F.col("q1").cast("double")
    p0 = r0d / q0d
    p1 = r1d / q1d
    return base.select(
        "part_type",
        r0d.alias("rev_prev"),
        r1d.alias("rev_curr"),
        F.round(r1d - r0d, 6).alias("delta_rev"),
        F.col("q0").alias("qty_prev"),
        F.col("q1").alias("qty_curr"),
        F.when((F.col("q0") > 0) & (F.col("q1") > 0), F.round((p1 - p0) * q1d, 6)).alias(
            "price_effect"
        ),
        F.when((F.col("q0") > 0) & (F.col("q1") > 0), F.round((q1d - q0d) * p0, 6)).alias(
            "volume_effect"
        ),
    )


PRICE_VOLUME_MIX_SQL = f"""
WITH base AS (
  SELECT p.p_type AS part_type,
         CAST(SUM(CASE WHEN year(o.o_orderdate) = {PVM_PREV_YEAR}
                       THEN CAST(l.l_extendedprice AS DECIMAL(14,2))
                            * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
                  END) AS DECIMAL(38,4)) AS r0,
         CAST(SUM(CASE WHEN year(o.o_orderdate) = {PVM_PREV_YEAR}
                       THEN CAST(l.l_quantity AS BIGINT) END) AS BIGINT) AS q0,
         CAST(SUM(CASE WHEN year(o.o_orderdate) = {PVM_CURR_YEAR}
                       THEN CAST(l.l_extendedprice AS DECIMAL(14,2))
                            * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
                  END) AS DECIMAL(38,4)) AS r1,
         CAST(SUM(CASE WHEN year(o.o_orderdate) = {PVM_CURR_YEAR}
                       THEN CAST(l.l_quantity AS BIGINT) END) AS BIGINT) AS q1
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE o.o_orderdate >= TIMESTAMP '{PVM_PREV_YEAR}-01-01'
    AND o.o_orderdate < TIMESTAMP '{PVM_CURR_YEAR + 1}-01-01'
  GROUP BY 1
)
SELECT part_type,
       CAST(r0 AS DOUBLE) AS rev_prev,
       CAST(r1 AS DOUBLE) AS rev_curr,
       round(CAST(r1 AS DOUBLE) - CAST(r0 AS DOUBLE), 6) AS delta_rev,
       q0 AS qty_prev,
       q1 AS qty_curr,
       CASE WHEN q0 > 0 AND q1 > 0
            THEN round((CAST(r1 AS DOUBLE) / q1 - CAST(r0 AS DOUBLE) / q0)
                       * q1, 6) END AS price_effect,
       CASE WHEN q0 > 0 AND q1 > 0
            THEN round((q1 - q0) * (CAST(r0 AS DOUBLE) / q0), 6)
       END AS volume_effect
FROM base
"""


# --- Lorenz curve / Gini concentration ---------------------------------------
#
# The revenue-concentration readout beside the ABC matrix: the Lorenz
# curve of per-customer revenue at decile resolution plus its trapezoid
# Gini — "what share of revenue do the bottom k/10 of customers carry".
# Decile membership is value-identical to ``ntile(10) OVER (ORDER BY
# y, c_custkey)`` but derived WITHOUT a global sort: a customer's rank is
# the count of customers with a smaller y (``quantiles.cum_below``: a
# coarse histogram read on the driver plus a bucket-partitioned window)
# plus its row_number within its y-tie group, and the closed-form
# ``ntile_label_cols`` maps the rank to the decile.
#
# Determinism: per-decile counts and cent sums are exact BIGINTs;
# shares and the trapezoid Gini are identical-order double expressions
# over the 10-row rollup, round-6.
#
# Scale: one o_custkey groupBy + spine join (dim-sized), the histogram
# pass, windows bounded by a bucket or a tie group, a 10-row rollup. No
# customer-wide single-partition window.

LORENZ_TILES = 10


def _lorenz_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-checkpoint Lorenz pipeline through the per-decile _trap column.

    Split out (rather than inlined in lorenz_concentration) so plan-shape
    tests can see the full lineage: the localCheckpoint the public
    function adds truncates explain() at a LogicalRDD scan, which would
    make any window-shape assertion on the final frame vacuous.
    """
    from pyspark.sql import Window

    from etl_mini_dw_spark.functions.quantiles import cum_below, ntile_label_cols

    cust = typed_table(spark, sf_dir, "customer").select("c_custkey")
    orders = typed_table(spark, sf_dir, "orders")
    per = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum((F.col("o_totalprice") * 100).cast("bigint")).alias("y")
    )
    units = (
        cust.join(per, "c_custkey", "left")
        .select("c_custkey", F.coalesce(F.col("y"), F.lit(0)).cast("bigint").alias("val"))
    )
    w_tie = Window.partitionBy("val").orderBy("c_custkey")
    ranked = cum_below(units, []).select(
        F.col("val").alias("y"),
        F.col("total").alias("n"),
        (F.col("below") + F.row_number().over(w_tie)).alias("rank"),
    )
    tiles = (
        ranked.select(
            ntile_label_cols(F.col("n"), F.col("rank"), LORENZ_TILES).alias("decile"),
            "y",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("y").cast("bigint").alias("revenue_cents"),
        )
    )
    tot = tiles.agg(
        F.sum("n_customers").cast("bigint").alias("nt"),
        F.sum("revenue_cents").cast("bigint").alias("yt"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        tiles.crossJoin(F.broadcast(tot))
        .withColumn("cum_rev", F.sum("revenue_cents").over(w_cum).cast("bigint"))
        .select(
            "decile",
            "n_customers",
            "revenue_cents",
            "nt",
            "yt",
            "cum_rev",
        )
    )
    pop = F.col("n_customers").cast("double") / F.col("nt").cast("double")
    cum = F.col("cum_rev").cast("double") / F.col("yt").cast("double")
    prev = (F.col("cum_rev") - F.col("revenue_cents")).cast("double") / F.col(
        "yt"
    ).cast("double")
    return curve.select(
        "decile",
        "n_customers",
        "revenue_cents",
        F.round(
            F.col("revenue_cents").cast("double") / F.col("yt").cast("double"), 6
        ).alias("rev_share"),
        F.round(cum, 6).alias("cum_rev_share"),
        (pop * (prev + cum)).alias("_trap"),
    )


def lorenz_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(decile, n_customers, revenue_cents, rev_share, cum_rev_share,
    gini_trapezoid): decile-resolution Lorenz curve of customer revenue."""
    scored = _lorenz_scored(spark, sf_dir).localCheckpoint(
        eager=False
    )  # 10 rows; read by output and the gini fold
    gini = scored.agg(
        F.round(F.lit(1.0) - F.sum("_trap"), 6).alias("gini_trapezoid")
    )
    return (
        scored.drop("_trap")
        .crossJoin(F.broadcast(gini))
        .orderBy("decile")
    )


LORENZ_SQL = f"""
WITH per AS (
  SELECT o_custkey AS c_custkey,
         CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
units AS (
  SELECT c.c_custkey, COALESCE(p.y, 0) AS y
  FROM customer c LEFT JOIN per p USING (c_custkey)
),
tiled AS (
  SELECT y, ntile({LORENZ_TILES}) OVER (ORDER BY y, c_custkey) AS decile
  FROM units
),
tiles AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(y) AS BIGINT) AS revenue_cents
  FROM tiled GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_customers) AS BIGINT) AS nt,
         CAST(SUM(revenue_cents) AS BIGINT) AS yt
  FROM tiles
),
curve AS (
  SELECT decile, n_customers, revenue_cents, nt, yt,
         CAST(SUM(revenue_cents) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev
  FROM tiles CROSS JOIN tot
),
scored AS (
  SELECT decile, n_customers, revenue_cents,
         round(CAST(revenue_cents AS DOUBLE) / CAST(yt AS DOUBLE), 6) AS rev_share,
         round(CAST(cum_rev AS DOUBLE) / CAST(yt AS DOUBLE), 6) AS cum_rev_share,
         CAST(n_customers AS DOUBLE) / CAST(nt AS DOUBLE)
           * (CAST(cum_rev - revenue_cents AS DOUBLE) / CAST(yt AS DOUBLE)
              + CAST(cum_rev AS DOUBLE) / CAST(yt AS DOUBLE)) AS _trap
  FROM curve
),
gini AS (SELECT round(1.0 - SUM(_trap), 6) AS gini_trapezoid FROM scored)
SELECT decile, n_customers, revenue_cents, rev_share, cum_rev_share,
       g.gini_trapezoid
FROM scored CROSS JOIN gini g
ORDER BY decile
"""
