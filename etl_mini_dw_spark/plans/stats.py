"""Statistical analytics II: trend slopes and hierarchical shares.

- revenue_trend_slope: per-region least-squares slope of daily revenue
  over time — the trend-detection signal behind "is this segment
  growing". Classic sufficient-statistics shape: the five exact
  aggregates (n, Σx, Σy, Σxy, Σx²) reduce order-free (BIGINT/DECIMAL),
  and the closed-form slope/intercept are evaluated once per group in
  identically-shaped IEEE double, rounded to the repo's 6-dp ratio
  convention (Σxy exceeds 2^53 so its decimal→double cast can differ by
  an ulp between engines — same remedy as the anomaly z-score).
- nation_share_of_region: share-of-parent across the geography
  hierarchy (nation revenue / region revenue) — one aggregate plus a
  window over ≤nations-per-region partitions.

Both: one fact-side shuffle, broadcast dimension chains, bounded
windows. Nothing global.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mini_dw_spark.etl.store import rows_frame
from etl_mini_dw_spark.functions.quantiles import (
    cum_below,
    n_below,
    ntile_bounds,
    values_at_ranks,
)
from etl_mini_dw_spark.sources.tables import fanout_scan, typed_table

_REV = "l_extendedprice * (1 - l_discount)"
_X_EPOCH = "1992-01-01"  # day index origin


def revenue_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region OLS slope+intercept of daily revenue vs day index."""
    li = typed_table(spark, sf_dir, "lineitem")
    orders = typed_table(spark, sf_dir, "orders")
    customer = typed_table(spark, sf_dir, "customer")
    nation = typed_table(spark, sf_dir, "nation")
    region = typed_table(spark, sf_dir, "region")
    daily = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("o_orderdate").alias("day"))
        .agg(F.sum(F.expr(_REV)).cast("decimal(18,4)").alias("y"))
        .withColumn("x", F.datediff("day", F.lit(_X_EPOCH).cast("date")).cast("bigint"))
    )
    stats = daily.groupBy("region").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("decimal(38,4)").cast("double").alias("sy"),
        # x as DECIMAL(10,0) keeps the product at (29,4) — a raw
        # bigint×decimal would hit Spark's 38-precision cap and shed scale
        F.sum(F.col("x").cast("decimal(10,0)") * F.col("y"))
        .cast("decimal(38,4)")
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.count(F.lit(1)).alias("n_days"),
    )
    slope = ((F.col("n") * F.col("sxy")) - (F.col("sx") * F.col("sy"))) / (
        (F.col("n") * F.col("sxx")) - (F.col("sx") * F.col("sx"))
    )
    intercept = (F.col("sy") - (slope * F.col("sx"))) / F.col("n")
    return stats.select(
        "region",
        "n_days",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


REVENUE_TREND_SQL = f"""
WITH daily AS (
  SELECT r_name AS region, o_orderdate AS day,
         CAST(SUM({_REV}) AS DECIMAL(18,4)) AS y
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2
),
xy AS (
  SELECT region, y,
         CAST(datediff('day', DATE '{_X_EPOCH}', day) AS BIGINT) AS x
  FROM daily
),
stats AS (
  SELECT region,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(CAST(SUM(y) AS DECIMAL(38,4)) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x AS DECIMAL(10,0)) * y) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         COUNT(*) AS n_days
  FROM xy GROUP BY region
)
SELECT region, n_days,
       round(((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx)), 6) AS slope,
       round((sy - (((n * sxy) - (sx * sy)) / ((n * sxx) - (sx * sx))) * sx) / n, 6)
         AS intercept
FROM stats
"""


def nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation with its share of the parent region."""
    li = typed_table(spark, sf_dir, "lineitem")
    orders = typed_table(spark, sf_dir, "orders")
    customer = typed_table(spark, sf_dir, "customer")
    nation = typed_table(spark, sf_dir, "nation")
    region = typed_table(spark, sf_dir, "region")
    per_nation = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.expr(_REV)).cast("decimal(38,4)").alias("rev"))
    )
    w = Window.partitionBy("region")
    return per_nation.select(
        "region",
        "nation",
        F.col("rev").cast("double").alias("nation_revenue"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(w).cast("double"), 6
        ).alias("share_of_region"),
    )


NATION_SHARE_SQL = f"""
WITH per_nation AS (
  SELECT r_name AS region, n_name AS nation,
         CAST(SUM({_REV}) AS DECIMAL(38,4)) AS rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT region, nation,
       CAST(rev AS DOUBLE) AS nation_revenue,
       round(CAST(rev AS DOUBLE)
             / CAST(SUM(rev) OVER (PARTITION BY region) AS DOUBLE), 6)
         AS share_of_region
FROM per_nation
"""


def value_rank_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type rank normalization (percent_rank) of the event measure —
    the distribution-free feature transform (quantile normalization)
    model pipelines apply to heavy-tailed inputs.

    percent_rank assigns tied values the SAME rank, so the output is
    deterministic without a tie-breaker; inputs to the (rank−1)/(n−1)
    division are exact integers ⇒ identical doubles everywhere. Per-type
    sort locally; the 100 TB path derives ranks from a coarse score
    histogram exactly like `curation.quality_deciles` / `quantiles.py`.
    """
    ev = typed_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.round(F.percent_rank().over(w), 6).alias("value_pr"),
    )


VALUE_RANK_NORM_SQL = """
SELECT event_id, event_type,
       CAST(CAST(value AS DECIMAL(14,2)) AS DOUBLE) AS value,
       round(percent_rank() OVER (PARTITION BY event_type
                                  ORDER BY CAST(value AS DECIMAL(14,2))), 6) AS value_pr
FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
"""


# --- exact median by distributed selection (no per-group full sort) ---------


def value_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (lower) median of ``value`` per event_type, read at rank
    ⌈n/2⌉ by ``quantiles.values_at_ranks`` instead of a per-group sort.

    The scale point: an order-statistic window sorts every group's full
    value set (winsorize's documented cost). Selection reads a coarse
    (type, bucket) histogram on the driver and then only the median
    bucket's rows, so raw values cross the wire once as counts and once
    as one bucket's value dictionary. The median is a real data point
    (exact DECIMAL → double); the row_number oracle's tie-break by
    event_id cannot move a value at a fixed rank.
    """
    ev = typed_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").alias("val")
    )
    med = values_at_ranks(ev, ["event_type"], lambda n: [(n + 1) // 2])
    rows = [(k[0], n, v[0]) for k, (n, v) in med.items()]
    return rows_frame(
        spark, rows, "event_type string, n bigint, median decimal(14,2)"
    ).select("event_type", "n", F.col("median").cast("double").alias("median"))


VALUE_EXACT_MEDIAN_SQL = """
WITH ev AS (
  SELECT event_type, CAST(value AS DECIMAL(14,2)) AS value, event_id
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
),
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ev
)
SELECT event_type, CAST(n AS BIGINT) AS n, CAST(value AS DOUBLE) AS median
FROM ranked WHERE rn = (n + 1) // 2
"""


def revenue_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic seasonal index: each calendar month's share of revenue
    relative to a flat month (index 1.0 = average month), across all
    years — the first-pass seasonality diagnostic before any forecast.

    One partial-aggregable aggregate keyed by month-of-year (12 groups),
    plus a broadcast 1-row total; exact DECIMAL sums, the index ratio
    divides the two exact decimals as doubles and rounds to 6 (the
    wide-decimal→double 1-ulp rule).
    """
    orders = typed_table(spark, sf_dir, "orders")
    per_month = orders.groupBy(F.month("o_orderdate").alias("month_of_year")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("o_totalprice").alias("rev"),
    )
    total = per_month.agg(F.sum("rev").alias("total_rev"))
    return per_month.crossJoin(F.broadcast(total)).select(
        "month_of_year",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            (F.lit(12) * F.col("rev").cast("double")) / F.col("total_rev").cast("double"),
            6,
        ).alias("seasonal_index"),
    )


REVENUE_SEASONAL_SQL = """
WITH per AS (
  SELECT month(o_orderdate) AS month_of_year,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
  FROM orders GROUP BY 1
),
tot AS (SELECT SUM(rev) AS total_rev FROM per)
SELECT month_of_year, n_orders, CAST(rev AS DOUBLE) AS revenue,
       round((12 * CAST(rev AS DOUBLE)) / CAST(total_rev AS DOUBLE), 6)
         AS seasonal_index
FROM per CROSS JOIN tot
"""


def customer_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: customers ranked by lifetime revenue,
    bucketed into integer deciles, with each decile's cumulative share
    of total revenue — the concentration curve behind every "top X% of
    customers drive Y% of revenue" decision.

    Deciles use integer rank arithmetic ((rank−1)·10 div n + 1), not
    ``ntile`` — same buckets on both engines by construction. The rank
    window sorts the dim-sized customer aggregate; shares divide exact
    decimals as doubles, rounded to 6.
    """
    orders = typed_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    n_row = per_cust.agg(F.count(F.lit(1)).alias("n"), F.sum("rev").alias("total_rev"))
    ranked = per_cust.crossJoin(F.broadcast(n_row)).select(
        "custkey",
        "rev",
        "total_rev",
        F.expr("((row_number() OVER (ORDER BY rev DESC, custkey)) - 1) * 10").alias(
            "r10"
        ),
        "n",
    )
    deciles = (
        ranked.select(
            (F.expr("r10 div n") + 1).cast("int").alias("decile"),
            "rev",
            "total_rev",
        )
        .groupBy("decile", "total_rev")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"), F.sum("rev").alias("d_rev"))
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return deciles.select(
        "decile",
        "n_customers",
        F.col("d_rev").cast("double").alias("revenue"),
        F.round(
            F.sum("d_rev").over(w_cum).cast("double") / F.col("total_rev").cast("double"),
            6,
        ).alias("cum_share"),
    )


CUSTOMER_PARETO_SQL = """
WITH per AS (
  SELECT o_custkey AS custkey, SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
  FROM orders GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n, SUM(rev) AS total_rev FROM per),
ranked AS (
  SELECT rev, total_rev,
         ((row_number() OVER (ORDER BY rev DESC, custkey)) - 1) * 10 AS r10, n
  FROM per CROSS JOIN tot
),
deciles AS (
  SELECT CAST(r10 // n + 1 AS INTEGER) AS decile, total_rev,
         CAST(COUNT(*) AS BIGINT) AS n_customers, SUM(rev) AS d_rev
  FROM ranked GROUP BY 1, 2
)
SELECT decile, n_customers, CAST(d_rev AS DOUBLE) AS revenue,
       round(CAST(SUM(d_rev) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(total_rev AS DOUBLE), 6) AS cum_share
FROM deciles
"""


# --- correlation matrix from exact sufficient statistics --------------------
CORR_VARS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem measures, computed
    from EXACT-DECIMAL sufficient statistics (n, Σx, Σx², Σxy) — the
    fourth instance of the sufficient-statistics pattern (anomaly z,
    trend slope, winsorize) and the portable alternative to the built-in
    float ``corr`` (whose partial aggregation is reduction-order-
    dependent). One pass, 15 partial-aggregable aggregates, map-side
    combine; the 6 pair rows are unpacked from the single result row.
    Final ratios divide exact decimals as doubles, rounded to 6; the
    sqrt is gated on positive variance on both engines.
    """
    li = typed_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for v in CORR_VARS:
        aggs.append(F.sum(v).alias(f"s_{v}"))
        aggs.append(F.sum(F.col(v) * F.col(v)).alias(f"q_{v}"))
    pairs = [
        (a, b) for i, a in enumerate(CORR_VARS) for b in CORR_VARS[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"p_{a}_{b}"))
    row = li.agg(*aggs)
    structs = []
    for a, b in pairs:
        structs.append(
            F.struct(
                F.lit(a).alias("var_a"),
                F.lit(b).alias("var_b"),
                F.col(f"s_{a}").cast("double").alias("sx"),
                F.col(f"s_{b}").cast("double").alias("sy"),
                F.col(f"q_{a}").cast("double").alias("qx"),
                F.col(f"q_{b}").cast("double").alias("qy"),
                F.col(f"p_{a}_{b}").cast("double").alias("pxy"),
            )
        )
    unpacked = row.select("n", F.explode(F.array(*structs)).alias("d"))
    n = F.col("n").cast("double")
    cov = n * F.col("d.pxy") - F.col("d.sx") * F.col("d.sy")
    vx = n * F.col("d.qx") - F.col("d.sx") * F.col("d.sx")
    vy = n * F.col("d.qy") - F.col("d.sy") * F.col("d.sy")
    corr = F.when((vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6))
    return unpacked.select(
        F.col("d.var_a").alias("var_a"),
        F.col("d.var_b").alias("var_b"),
        F.col("n").cast("bigint").alias("n"),
        corr.alias("pearson_r"),
    )


def lineitem_corr_matrix_sql() -> str:
    # DuckDB decimal products: cast ONE operand to DECIMAL(19,2)+ so the
    # multiply leaves the int64 fast path BEFORE it overflows (CLAUDE.md)
    def dec(v: str) -> str:
        scale = {"l_quantity": "DECIMAL(12,2)", "l_extendedprice": "DECIMAL(14,2)",
                 "l_discount": "DECIMAL(4,2)", "l_tax": "DECIMAL(4,2)"}[v]
        return f"CAST({v} AS {scale})"

    def wide(v: str) -> str:
        return f"CAST({v} AS DECIMAL(19,2))"

    sums = ["COUNT(*) AS n"]
    for v in CORR_VARS:
        sums.append(f"SUM({dec(v)}) AS s_{v}")
        sums.append(f"SUM({wide(v)} * {dec(v)}) AS q_{v}")
    pairs = [(a, b) for i, a in enumerate(CORR_VARS) for b in CORR_VARS[i + 1 :]]
    for a, b in pairs:
        sums.append(f"SUM({wide(a)} * {dec(b)}) AS p_{a}_{b}")
    pair_rows = "\nUNION ALL\n".join(
        f"""SELECT '{a}' AS var_a, '{b}' AS var_b, CAST(n AS BIGINT) AS n,
       CASE WHEN CAST(n AS DOUBLE) * CAST(q_{a} AS DOUBLE)
                 - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE) > 0
             AND CAST(n AS DOUBLE) * CAST(q_{b} AS DOUBLE)
                 - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE) > 0
            THEN round((CAST(n AS DOUBLE) * CAST(p_{a}_{b} AS DOUBLE)
                        - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))
                       / sqrt((CAST(n AS DOUBLE) * CAST(q_{a} AS DOUBLE)
                               - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(q_{b} AS DOUBLE)
                                 - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))), 6)
       END AS pearson_r
FROM agg"""
        for a, b in pairs
    )
    return f"WITH agg AS (SELECT {', '.join(sums)} FROM lineitem)\n{pair_rows}"


def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between ``lang`` and ``source`` over
    the documents table — the categorical-association profiler (is
    language balanced across sources, or does a source skew?).

    Zero-observed cells are handled WITHOUT generating them: since
    Σ_all-cells E = n, the statistic folds to
    χ² = Σ_present [(o−E)²/E − E] + n. All inputs are exact integer
    counts; the expected values are rational in doubles (identical
    inputs ⇒ identical IEEE results), summed over ≤ |langs|·|sources|
    cells and rounded to 6. No libm beyond division — portable where a
    log-based mutual information would 1-ulp drift.
    """
    from etl_mini_dw_spark.sources.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents").select("lang", "source")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    ml = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("rl"))
    ms = docs.groupBy("source").agg(F.count(F.lit(1)).alias("cs"))
    n_row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("lang").alias("nl"),
        F.countDistinct("source").alias("ns"),
    )
    e = (F.col("rl") * F.col("cs")).cast("double") / F.col("n").cast("double")
    term = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e - e
    return (
        cells.join(F.broadcast(ml), "lang")
        .join(F.broadcast(ms), "source")
        .crossJoin(F.broadcast(n_row))
        .agg(
            F.round(F.sum(term) + F.first("n"), 6).alias("chi2"),
            ((F.first("nl") - 1) * (F.first("ns") - 1)).cast("bigint").alias("dof"),
            F.first("n").cast("bigint").alias("n_docs"),
        )
    )


CHI2_LANG_SOURCE_SQL = """
WITH cells AS (SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
ml AS (SELECT lang, COUNT(*) AS rl FROM documents GROUP BY 1),
ms AS (SELECT source, COUNT(*) AS cs FROM documents GROUP BY 1),
tot AS (SELECT COUNT(*) AS n, COUNT(DISTINCT lang) AS nl,
               COUNT(DISTINCT source) AS ns FROM documents)
SELECT round(SUM((CAST(o AS DOUBLE) - CAST(rl * cs AS DOUBLE) / n)
                 * (CAST(o AS DOUBLE) - CAST(rl * cs AS DOUBLE) / n)
                 / (CAST(rl * cs AS DOUBLE) / n)
                 - CAST(rl * cs AS DOUBLE) / n) + ANY_VALUE(n), 6) AS chi2,
       CAST((ANY_VALUE(nl) - 1) * (ANY_VALUE(ns) - 1) AS BIGINT) AS dof,
       CAST(ANY_VALUE(n) AS BIGINT) AS n_docs
FROM cells JOIN ml USING (lang) JOIN ms USING (source) CROSS JOIN tot
"""


def supplier_hhi_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration (Herfindahl–Hirschman) index of supplier
    revenue share within each part type — flags types where one supplier
    dominates. HHI = Σ share², shares from exact-DECIMAL revenue; the
    squared ratios are doubles of exact decimals rounded at the END
    (single aggregate per type, ≤ |suppliers| terms).

    Two partial-aggregable shuffles: (type, supplier) then type; the
    per-type totals broadcast back.
    """
    li = typed_table(spark, sf_dir, "lineitem")
    part = typed_table(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount")
    )
    per = (
        li.join(F.broadcast(part.select("p_partkey", "p_type")),
                F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_type").alias("part_type"), F.col("l_suppkey").alias("supp"))
        .agg(F.sum(revenue).alias("rev"))
    )
    totals = per.groupBy("part_type").agg(
        F.sum("rev").alias("total_rev"), F.count(F.lit(1)).alias("n_suppliers")
    )
    share2 = (
        F.col("rev").cast("double") / F.col("total_rev").cast("double")
    ) * (F.col("rev").cast("double") / F.col("total_rev").cast("double"))
    return (
        per.join(F.broadcast(totals), "part_type")
        .groupBy("part_type")
        .agg(
            F.first("n_suppliers").cast("bigint").alias("n_suppliers"),
            F.round(F.sum(share2), 6).alias("hhi"),
        )
    )


SUPPLIER_HHI_SQL = """
WITH per AS (
  SELECT p_type AS part_type, l_suppkey AS supp,
         SUM(CAST(l_extendedprice AS DECIMAL(14,2))
             * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
totals AS (
  SELECT part_type, SUM(rev) AS total_rev, COUNT(*) AS n_suppliers
  FROM per GROUP BY 1
)
SELECT p.part_type, CAST(ANY_VALUE(t.n_suppliers) AS BIGINT) AS n_suppliers,
       round(SUM((CAST(p.rev AS DOUBLE) / CAST(t.total_rev AS DOUBLE))
                 * (CAST(p.rev AS DOUBLE) / CAST(t.total_rev AS DOUBLE))), 6) AS hhi
FROM per p JOIN totals t USING (part_type)
GROUP BY 1
"""


def events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily event-count series per event
    type — the is-today-predicted-by-yesterday signal that separates
    bursty from steady streams. Daily counts are exact integers; the
    (day, day+1) pairs come from a self-join on the calendar key (no
    window over the whole series needed), and Pearson r is computed from
    integer sufficient statistics, rounded to 6.
    """
    ev = typed_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("c"))
    nxt = daily.select(
        "event_type",
        F.date_sub("day", 1).alias("day"),
        F.col("c").alias("c_next"),
    )
    pairs = daily.join(nxt, ["event_type", "day"])
    n = F.count(F.lit(1)).cast("double")
    sx, sy = F.sum("c").cast("double"), F.sum("c_next").cast("double")
    sxx = F.sum(F.col("c") * F.col("c")).cast("double")
    syy = F.sum(F.col("c_next") * F.col("c_next")).cast("double")
    sxy = F.sum(F.col("c") * F.col("c_next")).cast("double")
    cov = n * sxy - sx * sy
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.when((vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6)).alias(
            "autocorr_lag1"
        ),
    )


EVENTS_AUTOCORR_SQL = """
WITH ev AS (
  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events
),
daily AS (SELECT event_type, day, COUNT(*) AS c FROM ev GROUP BY 1, 2),
pairs AS (
  SELECT d.event_type, d.c, x.c AS c_next
  FROM daily d JOIN daily x
    ON x.event_type = d.event_type AND x.day = d.day + 1
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CASE WHEN COUNT(*) * SUM(CAST(c AS DOUBLE) * c) - SUM(CAST(c AS DOUBLE)) * SUM(CAST(c AS DOUBLE)) > 0
             AND COUNT(*) * SUM(CAST(c_next AS DOUBLE) * c_next) - SUM(CAST(c_next AS DOUBLE)) * SUM(CAST(c_next AS DOUBLE)) > 0
            THEN round((COUNT(*) * SUM(CAST(c AS DOUBLE) * c_next)
                        - SUM(CAST(c AS DOUBLE)) * SUM(CAST(c_next AS DOUBLE)))
                       / sqrt((COUNT(*) * SUM(CAST(c AS DOUBLE) * c)
                               - SUM(CAST(c AS DOUBLE)) * SUM(CAST(c AS DOUBLE)))
                              * (COUNT(*) * SUM(CAST(c_next AS DOUBLE) * c_next)
                                 - SUM(CAST(c_next AS DOUBLE)) * SUM(CAST(c_next AS DOUBLE)))), 6)
       END AS autocorr_lag1
FROM pairs GROUP BY 1
"""


# --- PSI drift report (r5): the ML-ops distribution-shift staple ------------
# Population Stability Index between an early and a late time slice of a
# numeric column: bucket the BASELINE slice into deciles, re-bucket both
# slices by those boundaries, psi = Σ (pa−pb)·ln(pa/pb). psi < 0.1 is
# the conventional "stable" line, > 0.25 "shifted — investigate".
PSI_CUTOFF = "1998-01-01"  # early slice < cutoff ≤ late slice (testdata spans 1995–2001, median ≈ 1998-04)
PSI_BUCKETS = 10


def _psi_metric(
    df: DataFrame, label: str, val_col: str, split_col: str
) -> DataFrame:
    """One (metric, n_a, n_b, psi) row. Boundaries are side-A decile
    edges; BOTH sides re-bucket by the same boundary rule (bucket =
    1 + #boundaries < value), so tie handling is identical and the
    bucketing depends only on the value multiset — decimal comparisons
    are exact, no float enters until the final pa/pb ratios. Laplace
    (+1) smoothing keeps empty buckets finite and deterministic.

    The edges come from ``quantiles.ntile_bounds`` (read off a coarse
    histogram on the driver) — value-identical to the oracle's ntile
    max-per-tile spelling, with no global row sort."""
    sliced = df.select(
        F.col(val_col).alias("val"),
        (F.col(split_col) < PSI_CUTOFF).alias("is_a"),
    )
    bounds = ntile_bounds(sliced.filter("is_a"), PSI_BUCKETS)
    bucketed = sliced.select(
        "is_a", (F.lit(1) + n_below(bounds, F.col("val"))).alias("bucket")
    )
    counts = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("ca"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("cb"),
    )
    totals = sliced.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("nb"),
    )
    term = (
        "((CAST(ca + 1 AS DOUBLE) / (na + 10)) - (CAST(cb + 1 AS DOUBLE) / (nb + 10)))"
        " * ln((CAST(ca + 1 AS DOUBLE) / (na + 10)) / (CAST(cb + 1 AS DOUBLE) / (nb + 10)))"
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.round(F.sum(F.expr(term)), 6).alias("psi"),
        )
        .select(F.lit(label).alias("metric"), "n_a", "n_b", "psi")
    )


def psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(metric, n_a, n_b, psi): distribution shift of three revenue-path
    columns between the pre-/post-1995 halves of the corpus — the drift
    gate a feature pipeline runs before trusting a retrain window.

    Scale: boundary deciles come from `quantiles.ntile_bounds` — a
    coarse histogram read on the driver, then the target buckets' value
    dictionaries; no global row sort. Bucketing is a map-only compare
    against a literal array and the counts are one partial-aggregable
    shuffle per metric."""
    orders = typed_table(spark, sf_dir, "orders")
    li = typed_table(spark, sf_dir, "lineitem")
    out = _psi_metric(orders, "orders.o_totalprice", "o_totalprice", "o_orderdate")
    out = out.unionByName(
        _psi_metric(li, "lineitem.l_quantity", "l_quantity", "l_shipdate")
    )
    return out.unionByName(
        _psi_metric(li, "lineitem.l_extendedprice", "l_extendedprice", "l_shipdate")
    )


def _psi_metric_sql(tbl: str, label: str, val: str, split: str) -> str:
    term = (
        "((CAST(ca + 1 AS DOUBLE) / (na + 10)) - (CAST(cb + 1 AS DOUBLE) / (nb + 10)))"
        " * ln((CAST(ca + 1 AS DOUBLE) / (na + 10)) / (CAST(cb + 1 AS DOUBLE) / (nb + 10)))"
    )
    return f"""
SELECT '{label}' AS metric, n_a, n_b, psi FROM (
  WITH sliced AS (
    SELECT {val} AS val, {split} < TIMESTAMP '{PSI_CUTOFF}' AS is_a FROM {tbl}
  ),
  bounds AS (
    SELECT list_sort(list(b)) AS barr FROM (
      SELECT tile, MAX(val) AS b FROM (
        SELECT val, ntile({PSI_BUCKETS}) OVER (ORDER BY val) AS tile
        FROM sliced WHERE is_a)
      WHERE tile < {PSI_BUCKETS} GROUP BY tile)
  ),
  bucketed AS (
    SELECT is_a, 1 + len(list_filter(barr, x -> x < val)) AS bucket
    FROM sliced, bounds
  ),
  counts AS (
    SELECT bucket,
           SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
           SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
    FROM bucketed GROUP BY bucket
  ),
  totals AS (
    SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
    FROM sliced
  )
  SELECT MAX(na) AS n_a, MAX(nb) AS n_b, round(SUM({term}), 6) AS psi
  FROM counts, totals
)
"""


def psi_drift_report_sql() -> str:
    return "\nUNION ALL\n".join(
        [
            _psi_metric_sql(
                "orders", "orders.o_totalprice", "o_totalprice", "o_orderdate"
            ),
            _psi_metric_sql(
                "lineitem", "lineitem.l_quantity", "l_quantity", "l_shipdate"
            ),
            _psi_metric_sql(
                "lineitem",
                "lineitem.l_extendedprice",
                "l_extendedprice",
                "l_shipdate",
            ),
        ]
    )


# --- five-number boxplot digest (r5) ----------------------------------------
def boxplot_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n, min_chars, q1, median, q3, max_chars, n_outliers):
    exact five-number summary + Tukey outlier count of document length
    per source. Quantiles are EXACT lower order statistics — the value
    at 1-based rank floor((n−1)·q)+1 under the total order (value,
    doc_id) — so both engines pick the identical element with no
    interpolation or float math; the outlier fence (1.5·IQR) runs in
    integer 2×-units so halves stay exact.

    Scale: one per-source window (partitions bounded by per-source doc
    counts; at corpus scale the exact ranks swap for the equidepth
    bucket-selection boundaries like the PSI report) + one aggregate.
    """
    docs = typed_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").alias("v")
    )
    w = Window.partitionBy("source").orderBy("v", "doc_id")
    ranked = docs.select(
        "source",
        "v",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    picks = ranked.groupBy("source", "n").agg(
        F.min("v").alias("min_chars"),
        F.max("v").alias("max_chars"),
        F.max(
            F.when(F.expr("rk = ((n - 1) * 1) div 4 + 1"), F.col("v"))
        ).alias("q1"),
        F.max(
            F.when(F.expr("rk = ((n - 1) * 2) div 4 + 1"), F.col("v"))
        ).alias("median"),
        F.max(
            F.when(F.expr("rk = ((n - 1) * 3) div 4 + 1"), F.col("v"))
        ).alias("q3"),
    )
    fenced = docs.join(F.broadcast(picks), "source").groupBy(
        "source", "n", "min_chars", "q1", "median", "q3", "max_chars"
    ).agg(
        F.sum(
            F.when(
                (F.col("v") * 2 < F.col("q1") * 2 - (F.col("q3") - F.col("q1")) * 3)
                | (F.col("v") * 2 > F.col("q3") * 2 + (F.col("q3") - F.col("q1")) * 3),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers")
    )
    return fenced.select(
        "source",
        F.col("n").cast("bigint").alias("n"),
        "min_chars",
        "q1",
        "median",
        "q3",
        "max_chars",
        "n_outliers",
    )


BOXPLOT_DIGEST_SQL = """
WITH ranked AS (
  SELECT source, n_chars AS v,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
),
picks AS (
  SELECT source, n,
         MIN(v) AS min_chars,
         MAX(v) AS max_chars,
         MAX(CASE WHEN rk = ((n - 1) * 1) // 4 + 1 THEN v END) AS q1,
         MAX(CASE WHEN rk = ((n - 1) * 2) // 4 + 1 THEN v END) AS median,
         MAX(CASE WHEN rk = ((n - 1) * 3) // 4 + 1 THEN v END) AS q3
  FROM ranked GROUP BY source, n
)
SELECT p.source, CAST(p.n AS BIGINT) AS n, p.min_chars, p.q1, p.median, p.q3,
       p.max_chars,
       CAST(SUM(CASE WHEN d.n_chars * 2 < p.q1 * 2 - (p.q3 - p.q1) * 3
                       OR d.n_chars * 2 > p.q3 * 2 + (p.q3 - p.q1) * 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM documents d JOIN picks p USING (source)
GROUP BY p.source, p.n, p.min_chars, p.q1, p.median, p.q3, p.max_chars
"""


# --- Kolmogorov–Smirnov two-sample drift ----------------------------------
#
# Companion to the PSI report: PSI is bucket-based (sensitive to the
# boundary rule), KS is the exact sup-norm distance between the two
# empirical CDFs — D = max_x |F_a(x) − F_b(x)|. The whole statistic is
# computed in integers: D = max |n_b·cumA(x) − n_a·cumB(x)| / (n_a·n_b),
# and only the final division (two exact <2^53 BIGINTs → correctly
# rounded IEEE divide, identical in both engines) produces a float.


def _ks_metric(df: DataFrame, label: str, val_col: str, split_col: str) -> DataFrame:
    """One (metric, n_a, n_b, d_num, ks) row.

    The running CDFs are a cumulative window over the DISTINCT-value
    frame (groupBy first), so ties collapse before the window and both
    engines see the identical RANGE-frame semantics. Scale: the groupBy
    is partial-aggregable corpus-side; the global cum window runs over
    |distinct values| rows only — at 100 TB swap it for the two-pass
    range-partitioned prefix sum (per-partition subtotals broadcast as
    offsets), value-identical."""
    sliced = df.select(
        F.col(val_col).alias("val"),
        (F.col(split_col) < PSI_CUTOFF).alias("is_a"),
    )
    by_val = sliced.groupBy("val").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("ca"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("cb"),
    )
    cum_w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    cum = by_val.select(
        F.sum("ca").over(cum_w).alias("cum_a"),
        F.sum("cb").over(cum_w).alias("cum_b"),
    )
    totals = sliced.agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("bigint").alias("nb"),
    )
    d = (
        cum.crossJoin(F.broadcast(totals))
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(F.col("nb") * F.col("cum_a") - F.col("na") * F.col("cum_b"))
            ).alias("d_num")
        )
    )
    return d.select(
        F.lit(label).alias("metric"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("d_num").cast("bigint").alias("d_num"),
        F.round(
            F.col("d_num").cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double")),
            6,
        ).alias("ks"),
    )


def ks_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(metric, n_a, n_b, d_num, ks): exact two-sample KS distance of the
    same three revenue-path columns the PSI report watches, split at the
    same pre-/post-1998 cutoff — the boundary-free drift gate (PSI can
    hide shift inside a bucket; KS cannot)."""
    orders = typed_table(spark, sf_dir, "orders")
    li = typed_table(spark, sf_dir, "lineitem")
    out = _ks_metric(orders, "orders.o_totalprice", "o_totalprice", "o_orderdate")
    out = out.unionByName(
        _ks_metric(li, "lineitem.l_quantity", "l_quantity", "l_shipdate")
    )
    return out.unionByName(
        _ks_metric(li, "lineitem.l_extendedprice", "l_extendedprice", "l_shipdate")
    )


def _ks_metric_sql(tbl: str, label: str, val: str, split: str) -> str:
    return f"""
SELECT '{label}' AS metric, n_a, n_b, d_num, ks FROM (
  WITH sliced AS (
    SELECT {val} AS val, {split} < TIMESTAMP '{PSI_CUTOFF}' AS is_a FROM {tbl}
  ),
  by_val AS (
    SELECT val,
           CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
    FROM sliced GROUP BY val
  ),
  cum AS (
    SELECT SUM(ca) OVER (ORDER BY val) AS cum_a,
           SUM(cb) OVER (ORDER BY val) AS cum_b
    FROM by_val
  ),
  totals AS (
    SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb
    FROM sliced
  )
  SELECT na AS n_a, nb AS n_b,
         CAST(MAX(ABS(nb * cum_a - na * cum_b)) AS BIGINT) AS d_num,
         round(CAST(MAX(ABS(nb * cum_a - na * cum_b)) AS DOUBLE)
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ks
  FROM cum, totals GROUP BY na, nb
)
"""


def ks_drift_report_sql() -> str:
    return "\nUNION ALL\n".join(
        [
            _ks_metric_sql("orders", "orders.o_totalprice", "o_totalprice", "o_orderdate"),
            _ks_metric_sql("lineitem", "lineitem.l_quantity", "l_quantity", "l_shipdate"),
            _ks_metric_sql(
                "lineitem", "lineitem.l_extendedprice", "l_extendedprice", "l_shipdate"
            ),
        ]
    )


# --- Mann–Whitney AUC ranking quality --------------------------------------
#
# "Does this score RANK the positives above the negatives?" — the
# threshold-free counterpart of the repo's recall/error scoreboards
# (ANN recall, CMS overestimate, MinHash estimate error). AUC is the
# Mann–Whitney U statistic normalized by n_pos·n_neg; with ties handled
# as half-credit it is computed here ENTIRELY in integers:
#
#   2U = Σ_v pos(v)·(2·neg_below(v) + neg(v)),   AUC = 2U / (2·n_pos·n_neg)
#
# (each tie pair contributes 1 of the 2 units, each strictly-ordered
# pair 2 of 2). Only the final division produces a float — the same
# one-exact-division discipline as the KS statistic above.


def _auc_metric(
    df: DataFrame, label: str, score_col: str, pos_cond
) -> DataFrame:
    """One (metric, n_pos, n_neg, u2, auc) row.

    Scale: the groupBy collapses the corpus to |distinct scores| rows
    (partial-aggregable map-side); the cumulative window then runs over
    that small frame only — swap for the range-partitioned prefix sum
    at 100 TB, value-identical (same note as ``_ks_metric``)."""
    base = df.select(F.col(score_col).alias("score"), pos_cond.alias("is_pos"))
    by_val = base.groupBy("score").agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum(F.when(~F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("neg"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    cum = by_val.select(
        "pos", "neg", (F.sum("neg").over(w) - F.col("neg")).alias("neg_below")
    )
    agg = cum.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("neg_below") + F.col("neg")))
        .cast("bigint")
        .alias("u2"),
    )
    return agg.select(
        F.lit(label).alias("metric"),
        "n_pos",
        "n_neg",
        "u2",
        F.round(
            F.col("u2").cast("double")
            / (2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
            6,
        ).alias("auc"),
    )


def auc_rank_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(metric, n_pos, n_neg, u2, auc): tie-aware Mann–Whitney AUC of
    three warehouse score→label rankings — does discount (or quantity)
    rank returned lineitems first; does order value rank urgent orders
    first. u2 is the exact doubled U statistic (integer)."""
    li = typed_table(spark, sf_dir, "lineitem")
    orders = typed_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    out = _auc_metric(
        li, "lineitem.discount->returned", "l_discount", F.col("l_returnflag") == "R"
    )
    out = out.unionByName(
        _auc_metric(
            li, "lineitem.quantity->returned", "l_quantity",
            F.col("l_returnflag") == "R",
        )
    )
    return out.unionByName(
        _auc_metric(orders, "orders.totalprice->urgent", "o_totalprice", urgent)
    ).orderBy("metric")


def _auc_metric_sql(tbl: str, label: str, score: str, pos: str) -> str:
    # by_val groups score to DISTINCT values, so the default RANGE
    # window frame has no peer rows and equals the Spark ROWS frame
    return f"""
SELECT '{label}' AS metric, n_pos, n_neg, u2,
       round(CAST(u2 AS DOUBLE)
             / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6) AS auc
FROM (
  WITH base AS (SELECT {score} AS score, {pos} AS is_pos FROM {tbl}),
  by_val AS (
    SELECT score,
           CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS pos,
           CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS neg
    FROM base GROUP BY score
  ),
  cum AS (
    SELECT pos, neg, SUM(neg) OVER (ORDER BY score) - neg AS neg_below
    FROM by_val
  )
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg,
         CAST(SUM(pos * (2 * neg_below + neg)) AS BIGINT) AS u2
  FROM cum
)
"""


def auc_rank_quality_sql() -> str:
    return "\nUNION ALL\n".join(
        [
            _auc_metric_sql(
                "lineitem", "lineitem.discount->returned", "l_discount",
                "l_returnflag = 'R'",
            ),
            _auc_metric_sql(
                "lineitem", "lineitem.quantity->returned", "l_quantity",
                "l_returnflag = 'R'",
            ),
            _auc_metric_sql(
                "orders", "orders.totalprice->urgent", "o_totalprice",
                "o_orderpriority IN ('1-URGENT', '2-HIGH')",
            ),
        ]
    ) + "\nORDER BY metric"


# --- Spearman rank correlation ---------------------------------------------
#
# The monotone-association companion of the Pearson matrix above: rho is
# Pearson computed over midranks, so it sees any monotone relation and
# ignores the measures' scale. Midranks are kept in 2×-scaled integers —
# exact for any tie multiplicity — derived from the VALUE HISTOGRAM:
# with cum_below(v) = #rows with value < v and cnt(v) = #rows tied at v,
#   2·midrank(v) = 2·rank(v) + ties(v) − 1 = 2·cum_below(v) + cnt(v) + 1.
# The sufficient statistics are exact DECIMAL sums and the float appears
# only in the final assembled ratio (trend-slope discipline).


def spearman_rank_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(var_a, var_b, n, rho) for the six ``CORR_VARS`` pairs.

    Plan (two corpus passes total, no global per-row sort — the first
    cut's 4 single-partition row-level rank windows ran 10.5 s at sf0.1
    and would not survive 100 TB):
    1. ONE partial-aggregable pass builds all four value histograms as
       one tall (var, val) → cnt frame; ``quantiles.cum_below`` gives
       every distinct value its count strictly below, with one window
       partitioned by (var, coarse bucket) over |distinct values| rows.
    2. The per-variable Σcnt·r2 / Σcnt·r2² sufficient statistics come
       straight off the tiny histograms — only the six CROSS products
       need the corpus, via one pass with the four val→2·midrank maps
       joined back (the near-unique l_extendedprice map by shuffle,
       measured faster than building its 583k-entry broadcast; the three
       ≤50-row maps broadcast)."""
    li = typed_table(spark, sf_dir, "lineitem").select(*CORR_VARS)
    cells = F.array(
        *[
            F.struct(F.lit(v).alias("var"), F.col(v).cast("decimal(14,2)").alias("val"))
            for v in CORR_VARS
        ]
    )
    hist = (
        li.select(F.inline(cells))
        .groupBy("var", "val")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("val").isNotNull())
    )
    ranked = (
        cum_below(hist, ["var"], weight="cnt")
        .select(
            "var",
            "val",
            "cnt",
            (2 * F.col("below") + F.col("cnt") + 1).cast("bigint").alias("r2"),
        )
        .localCheckpoint(eager=False)  # read eight times by the final plan
    )
    pairs = [(a, b) for i, a in enumerate(CORR_VARS) for b in CORR_VARS[i + 1 :]]
    joined = li
    per_var = None
    for v in CORR_VARS:
        rmap = ranked.filter(F.col("var") == v)
        # s/ss from the histogram: Σcnt·r2 and Σcnt·r2² (cnt cast down per
        # the decimal-portability note so the product keeps precision)
        sv = rmap.agg(
            F.sum(F.col("cnt").cast("decimal(20,0)") * F.col("r2"))
            .cast("decimal(38,0)")
            .alias(f"s_{v}"),
            F.sum(
                F.col("cnt").cast("decimal(20,0)") * F.col("r2") * F.col("r2")
            )
            .cast("decimal(38,0)")
            .alias(f"ss_{v}"),
        )
        per_var = sv if per_var is None else per_var.crossJoin(F.broadcast(sv))
        rmap_keyed = rmap.select(
            F.col("val").cast(li.schema[v].dataType).alias(v),
            F.col("r2").alias(f"r2_{v}"),
        )
        if v == "l_extendedprice":
            joined = joined.join(rmap_keyed, v)
        else:
            joined = joined.join(F.broadcast(rmap_keyed), v)
    # cross products stay in BIGINT (r2 ≤ 2n+1 ⇒ product < 2⁶³ up to
    # n ≈ 1.5e9 rows; beyond that split the sum hi/lo) — only the SUM
    # pays the DECIMAL path, no BigDecimal multiply per corpus row
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for a, b in pairs:
        aggs.append(
            F.sum((F.col(f"r2_{a}") * F.col(f"r2_{b}")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(f"sp_{a}_{b}")
        )
    stats = joined.agg(*aggs).crossJoin(F.broadcast(per_var))
    rows = []
    for a, b in pairs:
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        va = n * F.col(f"ss_{a}").cast("double") - sa * sa
        vb = n * F.col(f"ss_{b}").cast("double") - sb * sb
        cov = n * F.col(f"sp_{a}_{b}").cast("double") - sa * sb
        rho = F.when((va > 0) & (vb > 0), F.round(cov / F.sqrt(va * vb), 6))
        rows.append(
            stats.select(
                F.lit(a).alias("var_a"),
                F.lit(b).alias("var_b"),
                F.col("n"),
                rho.alias("rho"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("var_a", "var_b")


def spearman_rank_matrix_sql() -> str:
    # same single GROUPING SETS histogram pass + histogram-derived
    # 2·midrank as the Spark side: each cumulative window runs over
    # DISTINCT values (RANGE default frame == ROWS); per-variable s/ss
    # come off the histogram (HUGEINT keeps cnt·r2² exact), only the
    # cross products touch the corpus
    gs_cols = ", ".join(CORR_VARS)
    gs_sets = ", ".join(f"({v})" for v in CORR_VARS)
    maps = ",\n".join(
        f"""m_{v} AS MATERIALIZED (
  SELECT val AS {v}, cnt,
         CAST(2 * (SUM(cnt) OVER (ORDER BY val) - cnt) + cnt + 1 AS BIGINT) AS r2_{v}
  FROM (SELECT {v} AS val, cnt FROM gs WHERE {v} IS NOT NULL)
)"""
        for v in CORR_VARS
    )
    per_var = ",\n".join(
        f"""sv_{v} AS (
  SELECT CAST(SUM(CAST(cnt AS HUGEINT) * r2_{v}) AS DECIMAL(38,0)) AS s_{v},
         CAST(SUM(CAST(cnt AS HUGEINT) * r2_{v} * r2_{v}) AS DECIMAL(38,0)) AS ss_{v}
  FROM m_{v}
)"""
        for v in CORR_VARS
    )
    joins = " ".join(f"JOIN m_{v} USING ({v})" for v in CORR_VARS)
    pairs = [(a, b) for i, a in enumerate(CORR_VARS) for b in CORR_VARS[i + 1 :]]
    sums = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for a, b in pairs:
        sums.append(f"CAST(SUM(r2_{a} * r2_{b}) AS DECIMAL(38,0)) AS sp_{a}_{b}")
    selects = []
    for a, b in pairs:
        va = f"(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
        vb = f"(CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        cov = f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        selects.append(
            f"SELECT '{a}' AS var_a, '{b}' AS var_b, n,\n"
            f"       CASE WHEN {va} > 0 AND {vb} > 0\n"
            f"            THEN round({cov} / sqrt({va} * {vb}), 6) END AS rho\n"
            f"FROM stats, sv_{a}, sv_{b}"
        )
    sel = "\nUNION ALL\n".join(selects)
    r2cols = ", ".join(f"r2_{v}" for v in CORR_VARS)
    return f"""
WITH gs AS MATERIALIZED (
  SELECT {gs_cols}, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY GROUPING SETS ({gs_sets})
),
{maps},
{per_var},
ranked AS MATERIALIZED (
  SELECT {r2cols}
  FROM lineitem {joins}
),
stats AS (
  SELECT {", ".join(sums)}
  FROM ranked
)
{sel}
ORDER BY var_a, var_b
"""


# --- cumulative gains / lift chart ------------------------------------------
#
# The targeting-depth companion of the AUC above: AUC says whether a
# score ranks positives first; the gains chart says what a campaign
# that acts on the top-k% actually captures. Buckets are score deciles
# by the PSI boundary rule (ntile edges on the value multiset, both
# engines re-bucket by `#bounds < val` — tie handling identical, exact
# decimal comparisons), depth 1 = highest-score decile. Heavy ties
# (l_discount has 11 distinct values) legitimately collapse buckets —
# collapsed ids simply emit no row, and gains/lift stay well-defined.
# All counts are exact integers; the two floats are final ratios of
# sub-2^53 integer products, round-6 on both engines.

GAINS_BUCKETS = 10


def _gains_metric(
    df: DataFrame, label: str, score_col: str, pos_cond
) -> DataFrame:
    """(metric, depth, n, n_pos, cum_n, cum_pos, gains, lift) rows, one
    per non-empty descending-score decile.

    Scale: boundary deciles via ``quantiles.ntile_bounds`` (value-
    identical to the oracle's ntile spelling, no global row sort);
    bucketing is a map-only compare against a literal array, the counts
    one partial-aggregable shuffle, and the cumulative windows run over
    ≤GAINS_BUCKETS rows."""
    base = df.select(F.col(score_col).alias("val"), pos_cond.alias("is_pos"))
    bounds = ntile_bounds(base, GAINS_BUCKETS)
    counts = (
        base.select(
            (F.lit(GAINS_BUCKETS) - n_below(bounds, F.col("val"))).alias("depth"),
            "is_pos",
        )
        .groupBy("depth")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("is_pos"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
        )
    )
    wcum = Window.orderBy("depth").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("depth").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = counts.select(
        F.lit(label).alias("metric"),
        "depth",
        "n",
        "n_pos",
        F.sum("n").over(wcum).alias("cum_n"),
        F.sum("n_pos").over(wcum).alias("cum_pos"),
        F.sum("n").over(wall).alias("tot_n"),
        F.sum("n_pos").over(wall).alias("tot_pos"),
    )
    return cum.select(
        "metric",
        "depth",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        F.round(
            F.col("cum_pos").cast("double") / F.col("tot_pos").cast("double"), 6
        ).alias("gains"),
        F.round(
            (F.col("cum_pos").cast("double") * F.col("tot_n").cast("double"))
            / (F.col("cum_n").cast("double") * F.col("tot_pos").cast("double")),
            6,
        ).alias("lift"),
    )


def gains_lift_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(metric, depth, n, n_pos, cum_n, cum_pos, gains, lift): cumulative
    gains and lift by descending-score decile for the three AUC
    score→label rankings — "acting on the top 3 deciles of order value
    captures X% of urgent orders at Y× random"."""
    li = typed_table(spark, sf_dir, "lineitem")
    orders = typed_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    out = _gains_metric(
        li, "lineitem.discount->returned", "l_discount", F.col("l_returnflag") == "R"
    )
    out = out.unionByName(
        _gains_metric(
            li, "lineitem.quantity->returned", "l_quantity", F.col("l_returnflag") == "R"
        )
    )
    return out.unionByName(
        _gains_metric(orders, "orders.totalprice->urgent", "o_totalprice", urgent)
    ).orderBy("metric", "depth")


def _gains_metric_sql(tbl: str, label: str, score: str, pos: str) -> str:
    # counts groups depth to DISTINCT values, so the default RANGE
    # cumulative frame has no peer rows and equals the Spark ROWS frame
    return f"""
SELECT '{label}' AS metric, depth, n, n_pos, cum_n, cum_pos,
       round(CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE), 6) AS gains,
       round((CAST(cum_pos AS DOUBLE) * CAST(tot_n AS DOUBLE))
             / (CAST(cum_n AS DOUBLE) * CAST(tot_pos AS DOUBLE)), 6) AS lift
FROM (
  WITH base AS (SELECT {score} AS val, {pos} AS is_pos FROM {tbl}),
  bounds AS (
    SELECT list_sort(list(b)) AS barr FROM (
      SELECT tile, MAX(val) AS b FROM (
        SELECT val, ntile({GAINS_BUCKETS}) OVER (ORDER BY val) AS tile FROM base)
      WHERE tile < {GAINS_BUCKETS} GROUP BY tile)
  ),
  counts AS (
    SELECT CAST({GAINS_BUCKETS} - len(list_filter(barr, x -> x < val)) AS INTEGER) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
    FROM base, bounds GROUP BY 1
  )
  SELECT depth, n, n_pos,
         CAST(SUM(n) OVER (ORDER BY depth) AS BIGINT) AS cum_n,
         CAST(SUM(n_pos) OVER (ORDER BY depth) AS BIGINT) AS cum_pos,
         CAST(SUM(n) OVER () AS BIGINT) AS tot_n,
         CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos
  FROM counts
)
"""


def gains_lift_chart_sql() -> str:
    return "\nUNION ALL\n".join(
        [
            _gains_metric_sql(
                "lineitem", "lineitem.discount->returned", "l_discount",
                "l_returnflag = 'R'",
            ),
            _gains_metric_sql(
                "lineitem", "lineitem.quantity->returned", "l_quantity",
                "l_returnflag = 'R'",
            ),
            _gains_metric_sql(
                "orders", "orders.totalprice->urgent", "o_totalprice",
                "o_orderpriority IN ('1-URGENT', '2-HIGH')",
            ),
        ]
    ) + "\nORDER BY metric, depth"


# --- Theil–Sen robust trend --------------------------------------------------
#
# The breakdown-resistant counterpart of ``revenue_trend_slope``: OLS
# bends toward the anomaly days the CUSUM/MAD battery flags (a single
# promo spike tilts the fitted line), while the Theil–Sen estimator —
# the MEDIAN of all pairwise slopes (y_j − y_i)/(x_j − x_i) — tolerates
# up to ~29% arbitrary corruption (Sen 1968). Both slopes are reported
# per slice so the gap is itself the robustness diagnostic.
#
# Exactness: daily revenue is the CUSUM's 10^-4-currency integer; each
# pairwise slope is kept as the EXACT integer floor((Δy·1000)/Δx) via
# the pmod floor-division identity (Spark `div` truncates toward zero,
# DuckDB `//` floors — routing both through (a − pmod(a,b))/b makes the
# mathematical floor explicit), and the median is an exact lower order
# statistic read off the slope-value HISTOGRAM (rank (m−1) div 2 + 1 —
# the boxplot rule; a fixed rank in a sorted multiset is invariant to
# tie permutations). No float exists before the two final round-6
# report columns.
#
# Scale: the pair join is over the DAILY series — its size is the DATE
# RANGE squared, not the data size, so it does not grow with corpus
# rows (2.4k days → ~3M pairs at any SF). The corpus is touched once
# by the partial-aggregable daily rollup. For decade-scale series the
# documented swap is sampled pairs (median of a uniform pair sample is
# a consistent estimator) — same plan, one extra hash filter.

TS_SLOPE_SCALE = 1000  # slope fixed-point: 10^-4 currency units per day × 10^3


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(slice, n_days, n_pairs, ts_slope, ols_slope): Theil–Sen vs OLS
    daily-revenue slope (dollars/day), globally and per order-year."""
    li = typed_table(spark, sf_dir, "lineitem")
    orders = typed_table(spark, sf_dir, "orders")
    daily = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            (F.sum(F.expr(_REV)) * 10000)
            .cast("decimal(38,0)")
            .cast("bigint")
            .alias("y")
        )
        .select(
            F.datediff("day", F.lit(_X_EPOCH).cast("date"))
            .cast("bigint")
            .alias("x"),
            F.year("day").cast("string").alias("yr"),
            "y",
        )
    )
    slices = (
        daily.select(F.lit("ALL").alias("slice"), "x", "y")
        .unionByName(daily.select(F.col("yr").alias("slice"), "x", "y"))
        .localCheckpoint(eager=False)
    )
    a = slices.select(
        F.col("slice"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = slices.select(
        F.col("slice"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    # the slope expression guards its own divisor (CASE, not a separate
    # filter): ANSI-mode pmod THROWS on zero and Catalyst may evaluate a
    # projected expression before the xa<xb filter it sits behind
    pairs = (
        a.join(F.broadcast(b), "slice")
        .select(
            "slice",
            F.expr(
                f"CASE WHEN xa < xb THEN"
                f" (((yb - ya) * {TS_SLOPE_SCALE})"
                f" - pmod((yb - ya) * {TS_SLOPE_SCALE}, (xb - xa)))"
                f" div (xb - xa) END"
            ).alias("fp"),
        )
        .filter(F.col("fp").isNotNull())
    )
    # slopes barely collide, so the pairs' value dictionary is pair-
    # sized: the median is read by quantiles.values_at_ranks, which
    # reads a coarse per-slice histogram and then one bucket's pairs
    med = values_at_ranks(
        pairs.withColumnRenamed("fp", "val"), ["slice"], lambda m: [(m - 1) // 2 + 1]
    )
    med = rows_frame(
        spark,
        [(k[0], m, v[0]) for k, (m, v) in med.items()],
        "slice string, n_pairs bigint, ts_fp bigint",
    )
    ols = slices.groupBy("slice").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(10,0)") * F.col("y").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    n = F.col("n_days").cast("double")
    ols_slope = F.round(
        (n * F.col("sxy") - F.col("sx") * F.col("sy"))
        / ((n * F.col("sxx") - F.col("sx") * F.col("sx")) * 1e4),
        6,
    )
    return (
        ols.join(F.broadcast(med), "slice")
        .select(
            "slice",
            "n_days",
            "n_pairs",
            F.round(F.col("ts_fp") / (TS_SLOPE_SCALE * 1e4), 6).alias(
                "ts_slope"
            ),
            ols_slope.alias("ols_slope"),
        )
        .orderBy("slice")
    )


THEIL_SEN_SQL = f"""
WITH daily AS (
  SELECT CAST(datediff('day', DATE '{_X_EPOCH}', o_orderdate) AS BIGINT) AS x,
         CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) AS yr,
         CAST(CAST(SUM({_REV}) * 10000 AS DECIMAL(38,0)) AS BIGINT) AS y
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_orderdate
),
slices AS (
  SELECT 'ALL' AS slice, x, y FROM daily
  UNION ALL
  SELECT yr AS slice, x, y FROM daily
),
pairs AS (
  SELECT a.slice,
         ((b.y - a.y) * {TS_SLOPE_SCALE}
          - (((((b.y - a.y) * {TS_SLOPE_SCALE}) % (b.x - a.x)) + (b.x - a.x))
             % (b.x - a.x))) // (b.x - a.x) AS fp
  FROM slices a JOIN slices b
    ON a.slice = b.slice AND a.x < b.x
),
hist AS (
  SELECT slice, fp, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pairs GROUP BY 1, 2
),
ranked AS (
  SELECT slice, fp, cnt,
         SUM(cnt) OVER (PARTITION BY slice ORDER BY fp) AS cum,
         SUM(cnt) OVER (PARTITION BY slice) AS m
  FROM hist
),
med AS (
  SELECT slice, fp AS ts_fp, m AS n_pairs
  FROM ranked
  WHERE cum - cnt < (m - 1) // 2 + 1 AND cum >= (m - 1) // 2 + 1
),
ols AS (
  SELECT slice,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx
  FROM slices GROUP BY slice
)
SELECT o.slice, o.n_days, CAST(m.n_pairs AS BIGINT) AS n_pairs,
       round(CAST(m.ts_fp AS DOUBLE) / ({TS_SLOPE_SCALE} * 1e4), 6) AS ts_slope,
       round((o.n_days * o.sxy - o.sx * o.sy)
             / ((o.n_days * o.sxx - o.sx * o.sx) * 1e4), 6) AS ols_slope
FROM ols o JOIN med m ON o.slice = m.slice
ORDER BY o.slice
"""


# --- Categorical drift (PSI + chi-square) --------------------------------------
#
# The PSI gate for CATEGORICAL columns: the numeric PSI report buckets
# by decile boundaries, but priority/flag/status mixes drift too, and a
# category's share moving from 19% to 22% is invisible to any numeric
# test. Same construction, categories as the buckets: PSI =
# Σ (p_b − p_a)·ln(p_b / p_a) with Laplace smoothing, plus the
# two-sample chi-square on the same cells (folded zero-cell form of the
# chi2 battery). Shares are exact-count rationals; one ln per category
# on an identical double (the WOE precedent), round-6.
#
# Scale: one (column, category, slice) partial-aggregable rollup per
# audited column; report is |categories|-sized.


CAT_DRIFT_COLS = [
    ("orders.o_orderpriority", "orders", "o_orderpriority", "o_orderdate"),
    ("lineitem.l_returnflag", "lineitem", "l_returnflag", "l_shipdate"),
    ("lineitem.l_linestatus", "lineitem", "l_linestatus", "l_shipdate"),
]


def categorical_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(metric, n_cats, n_a, n_b, psi, chi2): category-mix drift of
    priority/flag/status columns across the PSI_CUTOFF time slice."""
    out = None
    for label, tbl, col, split in CAT_DRIFT_COLS:
        t = typed_table(spark, sf_dir, tbl).select(
            F.col(col).alias("cat"),
            (F.col(split) < PSI_CUTOFF).alias("is_a"),
        )
        cells = t.groupBy("cat").agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("a"),
            F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
            .cast("bigint")
            .alias("b"),
        )
        tot = cells.agg(
            F.sum("a").cast("bigint").alias("na"),
            F.sum("b").cast("bigint").alias("nb"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
        j = cells.crossJoin(F.broadcast(tot))
        # Laplace-smoothed shares as exact rationals; ONE ln per category
        pa = (F.col("a") + 1).cast("double") / (F.col("na") + F.col("k")).cast("double")
        pb = (F.col("b") + 1).cast("double") / (F.col("nb") + F.col("k")).cast("double")
        psi_term = F.round((pb - pa) * F.log(pb / pa), 6)
        # chi2 on the pooled-expectation form: E_a = n_a*(a+b)/(na+nb)
        ea = (
            (F.col("a") + F.col("b")).cast("double")
            * F.col("na").cast("double")
            / (F.col("na") + F.col("nb")).cast("double")
        )
        eb = (
            (F.col("a") + F.col("b")).cast("double")
            * F.col("nb").cast("double")
            / (F.col("na") + F.col("nb")).cast("double")
        )
        chi_term = F.round(
            (F.col("a") - ea) * (F.col("a") - ea) / ea
            + (F.col("b") - eb) * (F.col("b") - eb) / eb,
            6,
        )
        row = j.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cats"),
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.round(F.sum(psi_term), 6).alias("psi"),
            F.round(F.sum(chi_term), 6).alias("chi2"),
        ).select(F.lit(label).alias("metric"), "n_cats", "n_a", "n_b", "psi", "chi2")
        out = row if out is None else out.unionByName(row)
    return out.orderBy("metric")


def categorical_drift_report_sql() -> str:
    arms = []
    for label, tbl, col, split in CAT_DRIFT_COLS:
        arms.append(f"""
SELECT '{label}' AS metric,
       CAST(COUNT(*) AS BIGINT) AS n_cats,
       CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b,
       round(SUM(round((CAST(b + 1 AS DOUBLE) / (nb + k)
                        - CAST(a + 1 AS DOUBLE) / (na + k))
                       * ln((CAST(b + 1 AS DOUBLE) / (nb + k))
                            / (CAST(a + 1 AS DOUBLE) / (na + k))), 6)), 6)
         AS psi,
       round(SUM(round(
           (a - CAST(a + b AS DOUBLE) * na / (na + nb))
             * (a - CAST(a + b AS DOUBLE) * na / (na + nb))
             / (CAST(a + b AS DOUBLE) * na / (na + nb))
           + (b - CAST(a + b AS DOUBLE) * nb / (na + nb))
             * (b - CAST(a + b AS DOUBLE) * nb / (na + nb))
             / (CAST(a + b AS DOUBLE) * nb / (na + nb)), 6)), 6) AS chi2
FROM (
  SELECT cat,
         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS b
  FROM (SELECT {col} AS cat, {split} < TIMESTAMP '{PSI_CUTOFF}' AS is_a
        FROM {tbl})
  GROUP BY cat
), (
  SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS nb,
         CAST(COUNT(DISTINCT {col}) AS BIGINT) AS k
  FROM (SELECT {col}, {split} < TIMESTAMP '{PSI_CUTOFF}' AS is_a FROM {tbl})
)""")
    return "\nUNION ALL\n".join(arms) + "\nORDER BY metric"


# --- Weighted median (distributed selection, weighted ranks) -----------------
#
# "Half the traded VOLUME moves at price ≤ X": the weighted median of
# l_extendedprice with l_quantity as the weight, per (returnflag,
# linestatus) stratum — the volume-weighted price level pricing teams
# actually ask for (the unweighted median over-represents small orders). Same
# ``quantiles.values_at_ranks`` selection as ``value_exact_median``, with
# quantity as the row weight: the target rank is the lower weighted
# median (W+1) div 2 over integer quantity units.
#
# Scale: a coarse (mode, price bucket) weight histogram read on the
# driver, then the value dictionary of the one target bucket per mode —
# raw rows are touched by partial-aggregable passes only, no per-mode
# row sort, heavy ties collapse into dictionary entries. The answer is
# an exact data point (DECIMAL → double at the very end).


def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stratum, total_qty, weighted_median_price): lower weighted
    median of extended price by quantity weight, per flag/status."""
    li = typed_table(spark, sf_dir, "lineitem").select(
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("m"),
        F.col("l_extendedprice").alias("val"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    med = values_at_ranks(li, ["m"], lambda w: [(w + 1) // 2], weight="q")
    return rows_frame(
        spark,
        [(k[0], w, v[0]) for k, (w, v) in med.items()],
        "stratum string not null, total_qty bigint, p decimal(14,2)",
    ).select(
        "stratum",
        "total_qty",
        F.col("p").cast("double").alias("weighted_median_price"),
    )


WEIGHTED_MEDIAN_SQL = """
WITH per AS (
  SELECT l_returnflag || '/' || l_linestatus AS m,
         CAST(l_extendedprice AS DECIMAL(14,2)) AS p,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
),
d AS (SELECT m, p, SUM(q) AS w FROM per GROUP BY 1, 2),
c AS (
  SELECT m, p, w,
         SUM(w) OVER (PARTITION BY m ORDER BY p
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER (PARTITION BY m) AS tot
  FROM d
)
SELECT m AS stratum, CAST(tot AS BIGINT) AS total_qty,
       CAST(p AS DOUBLE) AS weighted_median_price
FROM c WHERE cum >= (tot + 1) // 2 AND cum - w < (tot + 1) // 2
"""


# --- Poisson bootstrap CI for total revenue (deterministic resampling) -------
# The distributed bootstrap: independent Poisson(1) replicate weights
# per (unit, replicate) approximate multinomial resampling without any
# global coordination (Chamandy et al., "Estimating Uncertainty for
# Massive Data Streams", Google 2012 — the standard trick at cluster
# scale because the weight is a pure function of the unit key). Here
# the uniform driving each weight is an md5-derived 28-bit integer
# (dedup/bloom's conv-vs-0x portable-hash trick) compared against
# PRECOMPUTED integer CDF thresholds, so every weight — and therefore
# every replicate total — is bit-identical across engines, runs, and
# partitionings, and the replicate totals are EXACT DECIMAL sums.
BOOT_REPS = 32
_BOOT_U_MOD = 1 << 28  # 7 hex chars of md5
# floor(CDF_Poisson(1)(k) * 2^28) for k = 0..7; u >= all => weight 8.
_BOOT_CDF28 = [
    98751885,
    197503771,
    246879713,
    263338361,
    267453023,
    268275955,
    268413111,
    268432704,
]


def bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-replicate Poisson-bootstrap totals of orders revenue.

    Output: (rep, boot_total) for rep 0..BOOT_REPS-1, plus the
    unweighted point estimate as rep = -1. The spread of the replicate
    totals IS the sampling distribution — any CI convention (normal,
    percentile) reads off these rows; keeping the per-rep totals in the
    output keeps every compared value an exact decimal sum (no sqrt /
    float variance crosses the oracle hash).

    Scale design: project (key, revenue) FIRST, then fan out xB via a
    sequence explode (cheap literal array — not the expensive-array
    Generate trap), weight = CASE over an md5 integer (map-only), and
    ONE groupBy(rep) whose partial aggregation reduces every partition
    map-side to B rows. No corpus-sized shuffle; at 100 TB the xB
    fan-out of a 2-column projection is the textbook Poisson-bootstrap
    cost and B caps executor agg-buffer width. Weights are pure
    functions of (o_orderkey, rep): a backfill or repartition cannot
    move a unit across replicates (same property the sampling family
    keys on, sampling.py module docstring).

    Decimal contract: weight (0..8) is cast to DECIMAL(2,0) before the
    multiply — Spark's bigint*decimal precision rule would shed scale
    (CLAUDE.md) — giving DECIMAL(17,2) products whose int64 fast path
    cannot overflow in DuckDB (10^14 * 10^2 << 2^63); totals compared
    via CAST(... AS DOUBLE) at the very end on both sides.
    """
    # the xB md5 fan-out is CPU-bound over a KB-scale scan: without the
    # round-robin fanout the whole hashing stage runs in the scan's few
    # input splits (measured 8.7 s at sf0.1 in ~7 tasks; the AQE
    # byte-coalescing blind spot, CLAUDE.md). No-op on a real cluster.
    o = fanout_scan(
        spark,
        typed_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
    )
    reps = o.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_REPS - 1))).alias("rep"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("o_orderkey").cast("string"),
                    F.col("rep").cast("string"),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    w = F.lit(8)
    for k in range(len(_BOOT_CDF28) - 1, -1, -1):
        w = F.when(u < _BOOT_CDF28[k], F.lit(k)).otherwise(w)
    boot = (
        reps.withColumn("w", w.cast("decimal(2,0)"))
        .groupBy(F.col("rep").cast("int").alias("rep"))
        .agg(
            F.sum(F.col("o_totalprice") * F.col("w"))
            .cast("double")
            .alias("boot_total")
        )
    )
    point = o.agg(
        F.lit(-1).cast("int").alias("rep"),
        F.sum("o_totalprice").cast("double").alias("boot_total"),
    )
    return boot.unionByName(point)


def bootstrap_ci_revenue_sql() -> str:
    cases = " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_BOOT_CDF28)
    )
    return f"""
WITH reps AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(14,2)) AS p,
         CAST(r AS INT) AS rep
  FROM orders, (SELECT unnest(range({BOOT_REPS})) AS r)
),
hashed AS (
  SELECT rep, p,
         ('0x' || substr(md5(o_orderkey::VARCHAR || ':' || rep::VARCHAR),
                         1, 7))::BIGINT AS u
  FROM reps
),
weighted AS (
  SELECT rep, p, CAST(CASE {cases} ELSE 8 END AS DECIMAL(2,0)) AS w
  FROM hashed
)
SELECT rep, CAST(SUM(p * w) AS DOUBLE) AS boot_total
FROM weighted GROUP BY rep
UNION ALL
SELECT CAST(-1 AS INT) AS rep,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS boot_total
FROM orders
"""


# --- Hill tail-index estimator ----------------------------------------------
#
# Hill (1975): for a heavy-tailed value distribution, the maximum-
# likelihood tail exponent over the top-k order statistics is
#   alpha = k / SUM_{i=1..k} (ln x_(i) - ln x_(k+1)).
# The "how heavy is the revenue tail" number behind whale-customer risk
# and sampling-cap decisions (and the order-statistics cousin of
# ext_zipf_fit's rank-frequency slope).
#
# Determinism: the top-(k+1) selection is a TOTAL (value desc, orderkey)
# order; each ln is round-6'd and converted to exact integer micro-units
# (the zipf_fit pattern), so the sum is an order-free BIGINT and no
# double accumulates across rows. Final alpha is one round-6 division.
#
# Scale: the top-k never runs a global window — shard_topk_prune keeps
# shard-local top-(k+1) first, so the final ranking window sees
# <= 64*(k+1) rows regardless of corpus size.

HILL_TOP_K = 500


def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row (k, x_ref, hill_alpha): Hill tail-index of o_totalprice
    over the top-k order statistics."""
    from etl_mini_dw_spark.functions.simsearch import shard_topk_prune

    k = HILL_TOP_K
    ords = typed_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("v")
    )
    head = shard_topk_prune(
        ords, [], [F.col("v").desc(), F.col("o_orderkey")], k + 1, "o_orderkey"
    )
    w = Window.orderBy(F.col("v").desc(), F.col("o_orderkey"))
    ranked = (
        head.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k + 1)
        .select(
            "r",
            F.expr(
                "CAST(floor(round(ln(v), 6) * 1000000.0 + 0.5) AS BIGINT)"
            ).alias("lv"),
            "v",
        )
    )
    st = ranked.agg(
        F.sum(F.when(F.col("r") <= k, F.col("lv"))).cast("bigint").alias("s_top"),
        F.max(F.when(F.col("r") == k + 1, F.col("lv"))).alias("l_ref"),
        F.max(F.when(F.col("r") == k + 1, F.col("v"))).alias("x_ref"),
    )
    den = F.col("s_top") - F.lit(k).cast("bigint") * F.col("l_ref")
    return st.select(
        F.lit(k).cast("int").alias("k"),
        F.round(F.col("x_ref"), 2).alias("x_ref"),
        F.when(
            den > 0,
            F.round(F.lit(float(k) * 1_000_000.0) / den.cast("double"), 6),
        ).alias("hill_alpha"),
    )


HILL_TAIL_SQL = f"""
WITH typed AS (
  -- the decimal INGEST cast mirrors typed_table (raw parquet is DOUBLE)
  SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS v
  FROM orders
),
ranked AS (
  SELECT row_number() OVER (ORDER BY v DESC, o_orderkey) AS r,
         CAST(floor(round(ln(v), 6) * 1000000.0 + 0.5) AS BIGINT) AS lv,
         v
  FROM typed
),
st AS (
  SELECT CAST(SUM(CASE WHEN r <= {HILL_TOP_K} THEN lv END) AS BIGINT) AS s_top,
         MAX(CASE WHEN r = {HILL_TOP_K} + 1 THEN lv END) AS l_ref,
         MAX(CASE WHEN r = {HILL_TOP_K} + 1 THEN v END) AS x_ref
  FROM ranked WHERE r <= {HILL_TOP_K} + 1
)
SELECT CAST({HILL_TOP_K} AS INTEGER) AS k,
       round(x_ref, 2) AS x_ref,
       CASE WHEN s_top - {HILL_TOP_K} * l_ref > 0
            THEN round({HILL_TOP_K} * 1000000.0
                       / CAST(s_top - {HILL_TOP_K} * l_ref AS DOUBLE), 6)
       END AS hill_alpha
FROM st
"""


# --- 1-D Wasserstein drift (earth-mover distance on a fixed grid) -----------
#
# W1 between each market segment's account-balance distribution and the
# global one, computed on a 20-bucket equi-width grid over the GLOBAL
# [min, max]: W1 = SUM_b |CDF_seg(b) - CDF_all(b)| * width. The
# metric-aware complement of the PSI/KS drift reports: PSI ignores HOW
# FAR mass moved, KS only sees the worst bucket; W1 prices the transport
# distance — the quantity distribution-shift monitoring actually wants
# (cf. Ramdas et al. 2017 on univariate Wasserstein two-sample tests).
#
# Determinism: bucket ids are floor((v - mn)/w) over identical IEEE
# doubles (correctly-rounded ops on identical inputs -> identical
# buckets both engines); counts are exact integers; the 20-term CDF sum
# is round-6'd at the end. The dense (segment x bucket) grid is built by
# explicit generate_series cross join, so empty buckets carry their flat
# CDF contribution.
#
# Scale: one (segment, bucket) count shuffle over the dimension table;
# the cumulative window runs over the 5x20 metadata-sized grid
# (SCALE.md's bounded-frame class), never over rows.

W1_BUCKETS = 20


def wasserstein_segment_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(segment, n, w1): earth-mover distance between the segment's
    c_acctbal distribution and the global distribution."""
    cust = typed_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").cast("double").alias("v"),
    )
    mm = cust.agg(
        F.min("v").alias("_mn"),
        F.max("v").alias("_mx"),
        F.count(F.lit(1)).cast("bigint").alias("_n_all"),
    )
    # width is guarded like quantiles.py's coarse histogram: a degenerate
    # all-equal column must not divide by zero (ANSI floor/cast landmine)
    width = F.greatest(
        (F.col("_mx") - F.col("_mn")) / F.lit(float(W1_BUCKETS)), F.lit(1e-12)
    )
    b = F.least(
        F.floor((F.col("v") - F.col("_mn")) / width).cast("int"),
        F.lit(W1_BUCKETS - 1),
    )
    bucketed = (
        cust.crossJoin(F.broadcast(mm))
        .select("segment", b.alias("b"))
        .groupBy("segment", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # grid + global marginals read it
    )
    segs = bucketed.select("segment").distinct()
    grid = segs.crossJoin(
        F.broadcast(
            bucketed.sparkSession.range(W1_BUCKETS).select(
                F.col("id").cast("int").alias("b")
            )
        )
    )
    gl = bucketed.groupBy("b").agg(F.sum("c").alias("c_all"))
    dense = (
        grid.join(bucketed, ["segment", "b"], "left")
        .join(F.broadcast(gl), "b", "left")
        .fillna(0, subset=["c", "c_all"])
    )
    wseg = Window.partitionBy("segment").orderBy("b")
    ns = Window.partitionBy("segment")
    cum = dense.select(
        "segment",
        "b",
        (F.sum("c").over(wseg).cast("double") / F.sum("c").over(ns).cast("double")).alias(
            "cdf_s"
        ),
        F.sum("c").over(ns).cast("bigint").alias("n"),
        F.sum("c_all").over(wseg).cast("double").alias("_ca"),
    )
    out = (
        cum.crossJoin(F.broadcast(mm))
        .withColumn("cdf_a", F.col("_ca") / F.col("_n_all").cast("double"))
        .groupBy("segment", "n")
        .agg(
            F.round(
                F.sum(
                    F.abs(F.col("cdf_s") - F.col("cdf_a"))
                    * F.greatest(
                        (F.col("_mx") - F.col("_mn")) / F.lit(float(W1_BUCKETS)),
                        F.lit(1e-12),
                    )
                ),
                6,
            ).alias("w1")
        )
    )
    return out.select("segment", "n", "w1").orderBy("segment")


WASSERSTEIN_SQL = f"""
WITH cust AS (
  -- the decimal INGEST cast mirrors typed_table (raw parquet is DOUBLE)
  SELECT c_mktsegment AS segment,
         CAST(CAST(c_acctbal AS DECIMAL(14,2)) AS DOUBLE) AS v
  FROM customer
),
mm AS (
  SELECT MIN(v) AS mn, MAX(v) AS mx, CAST(COUNT(*) AS BIGINT) AS n_all FROM cust
),
bucketed AS (
  SELECT segment,
         LEAST(CAST(floor((v - mn) / GREATEST((mx - mn) / {W1_BUCKETS}.0, 1e-12)) AS INTEGER),
               {W1_BUCKETS} - 1) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM cust CROSS JOIN mm
  GROUP BY 1, 2
),
grid AS (
  SELECT segment, CAST(gs.b AS INTEGER) AS b
  FROM (SELECT DISTINCT segment FROM bucketed),
       (SELECT unnest(range({W1_BUCKETS})) AS b) gs
),
gl AS (SELECT b, SUM(c) AS c_all FROM bucketed GROUP BY 1),
dense AS (
  SELECT g.segment, g.b,
         COALESCE(bk.c, 0) AS c,
         COALESCE(gl.c_all, 0) AS c_all
  FROM grid g
  LEFT JOIN bucketed bk ON g.segment = bk.segment AND g.b = bk.b
  LEFT JOIN gl ON g.b = gl.b
),
cum AS (
  SELECT segment, b,
         CAST(SUM(c) OVER (PARTITION BY segment ORDER BY b) AS DOUBLE)
           / SUM(c) OVER (PARTITION BY segment) AS cdf_s,
         CAST(SUM(c) OVER (PARTITION BY segment) AS BIGINT) AS n,
         CAST(SUM(c_all) OVER (PARTITION BY segment ORDER BY b) AS DOUBLE) AS ca
  FROM dense
)
SELECT segment, n,
       round(SUM(abs(cdf_s - ca / n_all) * GREATEST((mx - mn) / {W1_BUCKETS}.0, 1e-12)), 6) AS w1
FROM cum CROSS JOIN mm
GROUP BY segment, n
ORDER BY segment
"""
