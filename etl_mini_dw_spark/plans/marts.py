"""BI mart views (SURVEY §2.1 S4; reference Stage 4 `code/SQL_1…sql:1548–1612`).

Thin, lazy current-rows-only projections of the dims plus a passthrough
fact view — the reference keeps these as database views; here they are
DataFrame-returning functions (and can be registered as temp views).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_mini_dw_spark.fixtures_spec import DimSpec, attr_cols


def mart_dim_current(dim_df: DataFrame, dim: DimSpec) -> DataFrame:
    """Current-members-only projection (`code/SQL_1…sql:1555–1593`)."""
    return dim_df.filter(F.col("is_current")).select(dim.sk, dim.nk, *attr_cols(dim))


def mart_fact(fact_df: DataFrame) -> DataFrame:
    """Passthrough fact view (`code/SQL_1…sql:1597–1612`)."""
    return fact_df.select(
        "sales_id",
        "sales_nk",
        "sales_customerid",
        "sales_salespersonid",
        "sales_productid",
        "sales_order_datekey",
        "sales_quantity",
        "sales_unitprice",
        "sales_taxrate",
        "sales_value",
        "sales_value_aftertax",
        "sales_lasteditedwhen",
    )


def fact_order_lifecycle(spark, sf_dir: str) -> DataFrame:
    """Accumulating-snapshot fact: one row per order carrying its
    lifecycle milestones (placed → first ship → last ship) and the
    durations between them — the Kimball pattern for process-tracking
    facts, beside the transaction-grain ``FactSales``.

    Shape: ONE shuffle — the per-order milestone aggregate keys by
    l_orderkey and the orders join reuses that partitioning (only the
    orders side re-shuffles; with both tables bucketed on orderkey at
    ingest, zero Exchange — plans/bucketing.py). Milestone dates are
    MIN/MAX aggregates, so a late-arriving line simply widens the span
    on the next run: the accumulating snapshot is an idempotent
    re-aggregation, not an UPDATE-in-place. Dates project through
    ``date_format`` (the no-raw-DATE output contract); money stays
    DECIMAL until the final double cast.
    """
    from etl_mini_dw_spark.sources.tables import typed_table

    li = typed_table(spark, sf_dir, "lineitem")
    orders = typed_table(spark, sf_dir, "orders")
    revenue = F.col("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount")
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        F.sum(revenue).cast("decimal(38,4)").cast("double").alias("revenue"),
    )
    j = orders.join(per_order, F.col("o_orderkey") == F.col("l_orderkey"), "left")
    return j.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.date_format("first_ship", "yyyy-MM-dd").alias("first_ship_day"),
        F.date_format("last_ship", "yyyy-MM-dd").alias("last_ship_day"),
        F.coalesce(F.col("n_lines"), F.lit(0)).cast("bigint").alias("n_lines"),
        F.datediff("first_ship", "o_orderdate").cast("int").alias("days_to_first_ship"),
        F.datediff("last_ship", "first_ship").cast("int").alias("ship_span_days"),
        F.col("revenue"),
    )


ORDER_LIFECYCLE_SQL = """
WITH per AS (
  SELECT l_orderkey, COUNT(*) AS n_lines,
         MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship,
         SUM(CAST(l_extendedprice AS DECIMAL(14,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev
  FROM lineitem GROUP BY 1
)
SELECT o_orderkey AS orderkey, o_orderstatus AS status,
       strftime(o_orderdate, '%Y-%m-%d') AS order_day,
       strftime(first_ship, '%Y-%m-%d') AS first_ship_day,
       strftime(last_ship, '%Y-%m-%d') AS last_ship_day,
       CAST(COALESCE(n_lines, 0) AS BIGINT) AS n_lines,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(first_ship AS DATE))
            AS INTEGER) AS days_to_first_ship,
       CAST(date_diff('day', CAST(first_ship AS DATE), CAST(last_ship AS DATE))
            AS INTEGER) AS ship_span_days,
       CAST(rev AS DOUBLE) AS revenue
FROM orders LEFT JOIN per ON o_orderkey = l_orderkey
"""


def fact_customer_monthly_snapshot(spark, sf_dir: str) -> DataFrame:
    """Periodic-snapshot fact: one row per (customer, month) — including
    zero-activity months — with the month's order count/revenue and the
    customer's cumulative revenue to date. Completes the Kimball fact
    triad: transaction grain (``FactSales``), accumulating snapshot
    (``fact_order_lifecycle``), periodic snapshot (this).

    Shape: the month spine is generated (sequence+explode, G1 pattern)
    and broadcast against the customer dim — the spine cross join is
    dim-sized, never fact-sized. The activity aggregate is one
    partial-aggregable shuffle on (month, custkey); the cumulative sum
    windows inside custkey partitions (never global). Money stays exact
    DECIMAL through the window so the running total is
    partition-order-invariant. At 100 TB the snapshot is maintained by
    appending the CURRENT month only; this full-history build is the
    backfill path.
    """
    from pyspark.sql import Window

    from etl_mini_dw_spark.sources.tables import typed_table

    orders = typed_table(spark, sf_dir, "orders")
    customer = typed_table(spark, sf_dir, "customer")
    bounds = orders.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
    )
    months = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 month"))).alias("m")
    ).select(F.date_format("m", "yyyy-MM").alias("month"))
    spine = customer.select(F.col("c_custkey").alias("custkey")).crossJoin(
        F.broadcast(months)
    )
    activity = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_custkey").alias("custkey"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("rev"),
    )
    j = spine.join(activity, ["month", "custkey"], "left").select(
        "month",
        "custkey",
        F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
        F.coalesce(F.col("rev"), F.lit(0).cast("decimal(14,2)")).alias("rev"),
    )
    w = Window.partitionBy("custkey").orderBy("month")
    return j.select(
        "month",
        "custkey",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        F.sum("rev").over(w).cast("double").alias("cum_revenue"),
    )


CUSTOMER_MONTHLY_SNAPSHOT_SQL = """
WITH b AS (
  SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
         date_trunc('month', MAX(o_orderdate)) AS hi
  FROM orders
),
months AS (
  SELECT strftime(m, '%Y-%m') AS month
  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS m FROM b)
),
spine AS (SELECT month, c_custkey AS custkey FROM months CROSS JOIN customer),
activity AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month, o_custkey AS custkey,
         COUNT(*) AS n_orders, SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
  FROM orders GROUP BY 1, 2
),
j AS (
  SELECT s.month, s.custkey,
         COALESCE(a.n_orders, 0) AS n_orders,
         COALESCE(a.rev, CAST(0 AS DECIMAL(14,2))) AS rev
  FROM spine s LEFT JOIN activity a ON a.month = s.month AND a.custkey = s.custkey
)
SELECT month, custkey, CAST(n_orders AS BIGINT) AS n_orders,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(SUM(rev) OVER (PARTITION BY custkey ORDER BY month) AS DOUBLE)
         AS cum_revenue
FROM j
"""
