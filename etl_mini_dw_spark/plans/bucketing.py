"""Bucketed co-located join — the zero-shuffle join strategy for repeated
big⋈big joins (SURVEY §4 / SCALE.md §joins).

Broadcast covers dim-sized sides; when BOTH sides are fact-sized (here:
lineitem ⋈ orders on orderkey) every query pays a full shuffle of both
tables — unless they are stored bucketed on the join key. Writing each
side with ``bucketBy(N, key).sortBy(key)`` pins rows to hash(key)%N
files; Spark's scan then reports the partitioning/ordering, and the
SortMergeJoin consumes both sides with NO Exchange and NO per-query
sort. At 100 TB this converts the single most expensive recurring
shuffle into a one-time layout cost — the same contract as a
co-partitioned table pair in a warehouse.

Local demo: N_BUCKETS=8 catalog tables (re)built once per (session,
sf_dir) through ``stage_memo``, then a revenue-per-priority aggregate
over the bucket-local join. The aggregate itself still shuffles (group key ≠
bucket key) — the point is the join stage, locked in by the plan-shape
test (tests/test_plan_shapes.py::test_bucketed_join_no_exchange).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_dw_spark.sources.tables import stage_memo, typed_table

N_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Catalog names of bucketed lineitem/orders copies for sf_dir."""

    def build() -> tuple[str, str]:
        tag = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_")
        li_name, ord_name = f"li_bkt_{tag}", f"ord_bkt_{tag}"
        # idempotent rebuild: a previous session may have left the managed
        # location on disk without this session's catalog knowing it
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        for name in (li_name, ord_name):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(f"{wh}/{name.lower()}", ignore_errors=True)
        typed_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", F.col("l_extendedprice"), F.col("l_discount")
        ).write.bucketBy(N_BUCKETS, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).format("parquet").saveAsTable(li_name)
        typed_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ).write.bucketBy(N_BUCKETS, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).format("parquet").saveAsTable(ord_name)
        return li_name, ord_name

    return stage_memo(spark, sf_dir, "bucketed_tables", build)


def bucketed_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw bucket-local join (exposed for the plan-shape test)."""
    li_name, ord_name = _bucketed_tables(spark, sf_dir)
    li, orders = spark.table(li_name), spark.table(ord_name)
    # merge hint: at demo scale the planner would broadcast the small side
    # and skip the buckets entirely; at 100 TB both sides are fact-sized
    # and SortMergeJoin is the only strategy — the hint pins the plan the
    # layout exists FOR (bucket-local, zero-Exchange, zero-sort)
    return li.hint("merge").join(orders, li.l_orderkey == orders.o_orderkey, "inner")


def bucketed_revenue_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per order priority over the co-located join."""
    revenue = F.col("l_extendedprice") * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount"))
    return (
        bucketed_join_df(spark, sf_dir)
        .select("o_orderpriority", revenue.alias("rev"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("rev").cast("decimal(38,4)").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# The oracle sees the same values regardless of storage layout — the
# bucketing is a physical-plan property, asserted by the plan test.
# (Decimal convention identical to FLAGSHIP_ORACLE_SQL.)
BUCKETED_REVENUE_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""
