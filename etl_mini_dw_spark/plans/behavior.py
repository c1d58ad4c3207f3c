"""Behavioral event analytics: ordered funnels and cohort retention.

The two canonical product-analytics shapes over an event log, expressed
so each is ONE shuffle on ``user_id`` plus a tiny rollup:

- **Funnel** (view → click → purchase, strictly ordered, 24 h budget):
  per-user step timestamps are conditional MINs computed with
  partition-only windows (no ORDER BY ⇒ no sort — the whole-partition
  frame), chained selects so step N's predicate can reference step
  N-1's timestamp. All three Window operators share one Exchange on
  user_id; the final stage rollup is a 1-row aggregate → ``stack``.
- **Cohort retention**: cohort = day of the user's first event;
  activity offsets in days; distinct active users per (cohort, offset).
  groupBy user (first event) + join back on the same key, then the
  (cohort, offset) rollup — partial-aggregable end to end.

At 100 TB both keep state bounded per user slice; no global sort, no
driver materialization. Oracle mirrors are plain join-chain SQL — same
values, any plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mini_dw_spark.etl.store import rows_frame
from etl_mini_dw_spark.sources.tables import stage_memo, typed_table

FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_BUDGET_HOURS = 24


def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered 3-step funnel with a 24 h completion budget.

    Step semantics: first view; first click strictly after that view;
    first purchase strictly after that click — each step within
    ``FUNNEL_BUDGET_HOURS`` of the first view.
    """
    ev = typed_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    u = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "fv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(u)
        )
        .withColumn(
            "fc",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("fv")),
                    F.col("ts"),
                )
            ).over(u),
        )
        .withColumn(
            "fp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("fc")),
                    F.col("ts"),
                )
            ).over(u),
        )
    )
    budget = F.expr(f"INTERVAL {FUNNEL_BUDGET_HOURS} HOURS")
    per_user = staged.groupBy("user_id").agg(
        F.min("fv").alias("fv"), F.min("fc").alias("fc"), F.min("fp").alias("fp")
    )
    counts = per_user.agg(
        F.count("fv").alias("n1"),
        F.count(F.when(F.col("fc") <= F.col("fv") + budget, 1)).alias("n2"),
        F.count(
            F.when(
                (F.col("fc") <= F.col("fv") + budget)
                & (F.col("fp") <= F.col("fv") + budget),
                1,
            )
        ).alias("n3"),
    )
    return counts.selectExpr(
        "stack(3, 'view', n1, 'view>click', n2, 'view>click>purchase', n3)"
        " as (stage, n_users)"
    )


FUNNEL_SQL = f"""
WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
v AS (SELECT user_id, MIN(ts) AS fv FROM e WHERE event_type = 'view' GROUP BY 1),
c AS (
  SELECT e.user_id, MIN(e.ts) AS fc
  FROM e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > v.fv
  GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS fp
  FROM e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.fc
  GROUP BY 1
),
per AS (
  SELECT v.user_id, v.fv, c.fc, p.fp
  FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
),
counts AS (
  SELECT COUNT(fv) AS n1,
         COUNT(CASE WHEN fc <= fv + INTERVAL {FUNNEL_BUDGET_HOURS} HOURS THEN 1 END) AS n2,
         COUNT(CASE WHEN fc <= fv + INTERVAL {FUNNEL_BUDGET_HOURS} HOURS
                     AND fp <= fv + INTERVAL {FUNNEL_BUDGET_HOURS} HOURS THEN 1 END) AS n3
  FROM per
)
SELECT 'view' AS stage, n1 AS n_users FROM counts
UNION ALL SELECT 'view>click', n2 FROM counts
UNION ALL SELECT 'view>click>purchase', n3 FROM counts
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-cohort retention triangle: users grouped by first-event day,
    distinct active users at each day offset."""
    ev = typed_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    cohorts = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(cohorts, "user_id")
        .groupBy(
            "cohort_day", F.datediff("day", "cohort_day").alias("offset_days")
        )
        .agg(F.countDistinct("user_id").alias("n_active_users"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "offset_days",
            "n_active_users",
        )
    )


COHORT_RETENTION_SQL = """
WITH e AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
cohorts AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY 1)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       date_diff('day', cohort_day, day) AS offset_days,
       COUNT(DISTINCT user_id) AS n_active_users
FROM e JOIN cohorts USING (user_id)
GROUP BY cohorts.cohort_day, 2
"""


def growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: NEW / RETAINED / RESURRECTED / CHURNED
    user counts per day.

    Per (user, active-day) distinct frame, then one lag window per user:
    new = first active day; retained = active yesterday too; resurrected
    = active before but not yesterday. Churned is attributed to the day
    AFTER an activity day with no successor (lead-based, so it needs no
    calendar join). Two shuffles: user window + day rollup — both
    bounded, no global sort.
    """
    ev = typed_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    days = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    prev = F.lag("day").over(w)
    nxt = F.lead("day").over(w)
    labeled = days.select(
        "user_id",
        "day",
        F.when(prev.isNull(), "new")
        .when(F.datediff("day", prev) == 1, "retained")
        .otherwise("resurrected")
        .alias("status"),
        # churn event: no activity tomorrow → user churns on day+1
        (nxt.isNull() | (F.datediff(nxt, "day") > 1)).alias("churns_next"),
    )
    by_status = (
        labeled.groupBy("day")
        .pivot("status", ["new", "retained", "resurrected"])
        .agg(F.count(F.lit(1)))
    )
    churned = (
        labeled.filter("churns_next")
        .select(F.date_add("day", 1).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("churned"))
    )
    return (
        by_status.join(churned, "day", "full_outer")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("new", F.lit(0)).alias("n_new"),
            F.coalesce("retained", F.lit(0)).alias("n_retained"),
            F.coalesce("resurrected", F.lit(0)).alias("n_resurrected"),
            F.coalesce("churned", F.lit(0)).alias("n_churned"),
        )
    )


GROWTH_ACCOUNTING_SQL = """
WITH e AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events
),
labeled AS (
  SELECT user_id, day,
         CASE WHEN lag(day) OVER w IS NULL THEN 'new'
              WHEN date_diff('day', lag(day) OVER w, day) = 1 THEN 'retained'
              ELSE 'resurrected' END AS status,
         (lead(day) OVER w IS NULL
          OR date_diff('day', day, lead(day) OVER w) > 1) AS churns_next
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY day)
),
by_status AS (
  SELECT day,
         COUNT(CASE WHEN status = 'new' THEN 1 END) AS n_new,
         COUNT(CASE WHEN status = 'retained' THEN 1 END) AS n_retained,
         COUNT(CASE WHEN status = 'resurrected' THEN 1 END) AS n_resurrected
  FROM labeled GROUP BY 1
),
churned AS (
  SELECT day + 1 AS day, COUNT(*) AS n_churned
  FROM labeled WHERE churns_next GROUP BY 1
)
SELECT strftime(COALESCE(b.day, c.day), '%Y-%m-%d') AS day,
       COALESCE(n_new, 0) AS n_new,
       COALESCE(n_retained, 0) AS n_retained,
       COALESCE(n_resurrected, 0) AS n_resurrected,
       COALESCE(n_churned, 0) AS n_churned
FROM by_status b FULL OUTER JOIN churned c USING (day)
"""


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition counts (Markov edge list) per
    user journey: lag(event_type) over each user's time-ordered stream,
    then a (from, to) rollup. One user-window shuffle + one pair rollup."""
    ev = typed_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    return pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )


EVENT_TRANSITIONS_SQL = """
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events),
pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM e
)
SELECT from_type, to_type, COUNT(*) AS n_transitions
FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2
"""


# --- multi-model marketing attribution --------------------------------------

ATTR_WINDOW_HOURS = 24


def attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch / linear attribution of purchase value to
    the preceding touches (views/clicks) inside a 24 h lookback.

    The batch counterpart of the streaming interval-join attribution
    (`streaming/events.py`), extended to the three standard credit
    models in ONE pass. Money stays exact end-to-end: purchase value
    becomes integer cents, and the linear model splits them by the
    largest-remainder method (``cents div n`` each, the first
    ``cents mod n`` touches in time order get the extra cent) — credits
    sum EXACTLY to the purchase total on any engine and partitioning,
    where a naive value/n double split would leak fractions of a cent.

    Plan: purchases ⋈ touches is a user-keyed equi-join with a time-band
    residual (shuffle on user_id, fan-out bounded by touches-per-user in
    the window); per-purchase windows are bounded partitions; final
    rollup is per touch-type. Purchases with no touch credit 'direct'.
    """
    ev = typed_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        (F.col("value") * 100).cast("bigint").alias("cents"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_id").alias("tid"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("ttype"),
    )
    j = purchases.join(
        touches,
        (purchases.user_id == touches.user_id)
        & (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - F.expr(f"INTERVAL {ATTR_WINDOW_HOURS} HOURS")),
        "left",
    ).drop(touches.user_id)
    wp = Window.partitionBy("pid")
    asc = Window.partitionBy("pid").orderBy(F.col("tts").asc(), F.col("tid").asc())
    desc = Window.partitionBy("pid").orderBy(F.col("tts").desc(), F.col("tid").desc())
    staged = j.select(
        "pid",
        "cents",
        F.coalesce(F.col("ttype"), F.lit("direct")).alias("touch_type"),
        F.count("tid").over(wp).alias("n"),
        F.row_number().over(asc).alias("rn"),
        F.row_number().over(desc).alias("rn_last"),
    )
    first_c = F.when(F.col("rn") == 1, F.col("cents")).otherwise(F.lit(0))
    last_c = F.when(F.col("rn_last") == 1, F.col("cents")).otherwise(F.lit(0))
    linear_c = (
        F.when(F.col("n") == 0, F.col("cents"))
        .otherwise(
            F.expr("cents div n")
            + F.when(F.col("rn") <= F.expr("cents % n"), 1).otherwise(0)
        )
    )
    return (
        staged.groupBy("touch_type")
        .agg(
            F.sum(first_c).cast("bigint").alias("fc"),
            F.sum(last_c).cast("bigint").alias("lc"),
            F.sum(linear_c).cast("bigint").alias("nc"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "touch_type",
            (F.col("fc").cast("double") / 100.0).alias("first_touch_value"),
            (F.col("lc").cast("double") / 100.0).alias("last_touch_value"),
            (F.col("nc").cast("double") / 100.0).alias("linear_value"),
            "n_rows",
        )
    )


ATTRIBUTION_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
         CAST(value AS DECIMAL(14,2)) AS value
  FROM events
),
p AS (
  SELECT user_id, event_id AS pid, ts AS pts,
         CAST(value * 100 AS BIGINT) AS cents
  FROM ev WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, event_id AS tid, ts AS tts, event_type AS ttype
  FROM ev WHERE event_type IN ('view', 'click')
),
j AS (
  SELECT p.pid, p.cents, t.tid, t.tts, t.ttype
  FROM p LEFT JOIN t
    ON p.user_id = t.user_id
   AND t.tts < p.pts
   AND t.tts >= p.pts - INTERVAL {ATTR_WINDOW_HOURS} HOUR
),
staged AS (
  SELECT pid, cents,
         COALESCE(ttype, 'direct') AS touch_type,
         COUNT(tid) OVER (PARTITION BY pid) AS n,
         row_number() OVER (PARTITION BY pid ORDER BY tts ASC, tid ASC) AS rn,
         row_number() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rn_last
  FROM j
)
SELECT touch_type,
       CAST(SUM(CASE WHEN rn = 1 THEN cents ELSE 0 END) AS DOUBLE) / 100.0
         AS first_touch_value,
       CAST(SUM(CASE WHEN rn_last = 1 THEN cents ELSE 0 END) AS DOUBLE) / 100.0
         AS last_touch_value,
       CAST(SUM(CASE WHEN n = 0 THEN cents
                     ELSE cents // n + (CASE WHEN rn <= cents % n THEN 1 ELSE 0 END)
                END) AS DOUBLE) / 100.0 AS linear_value,
       COUNT(*) AS n_rows
FROM staged
GROUP BY touch_type
"""


# --- RFM segmentation -------------------------------------------------------
RFM_METRICS = (
    ("recency_days", "rn_r", "r"),
    ("frequency", "rn_f", "f"),
    ("monetary", "rn_m", "m"),
)


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM mart: per purchasing customer, recency (days since
    last order, against the corpus max date), frequency (order count)
    and monetary (exact-DECIMAL lifetime total), each bucketed into
    quintiles and concatenated into the familiar 3-digit segment code.

    Quintile boundaries are DISCRETE order statistics (value at rank
    ⌈q·n/5⌉, integer rank arithmetic — the winsorize pattern), so the
    bin assignment is a pure comparison against four broadcast scalars
    per metric: ties land in the same bin deterministically on both
    engines, and no interpolated double ever feeds a comparison.

    Scale: the boundaries come from ``quantiles.ceil_rank_bounds`` — a
    coarse histogram per metric read on the driver, then the target
    buckets' value dictionaries — never a global row_number sort of the
    customer aggregate; the bin is ``1 + #(boundaries < value)`` against
    one literal array, provably identical to the ``value ≤ boundary_q``
    CASE chain even with duplicate edges (the oracle keeps the
    row_number spelling as the executable spec).
    Quintiles are ascending (r=1 ⇒ most recent, f=5 ⇒ most orders,
    m=5 ⇒ highest spend).
    """
    from etl_mini_dw_spark.functions.quantiles import ceil_rank_bounds, n_below

    orders = typed_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("anchor"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "custkey",
            F.datediff("anchor", "last_order").cast("int").alias("recency_days"),
            "frequency",
            "monetary",
        )
        .localCheckpoint(eager=False)
    )
    bounds = {
        tag: ceil_rank_bounds(base.select(F.col(metric).alias("val")), 5)
        for metric, _, tag in RFM_METRICS
    }

    def _bin(metric: str, tag: str) -> F.Column:
        # 1 + #(boundary < value): equals the ascending `value ≤ b_q`
        # CASE chain — with duplicate edges both skip the same q's.
        return (
            (F.lit(1) + n_below(bounds[tag], F.col(metric)))
            .cast("int")
            .alias(f"{tag}_quintile")
        )

    return base.select(
        "custkey",
        "recency_days",
        "frequency",
        F.col("monetary").cast("double").alias("monetary"),
        _bin("recency_days", "r"),
        _bin("frequency", "f"),
        _bin("monetary", "m"),
        F.concat_ws(
            "", _bin("recency_days", "r"), _bin("frequency", "f"), _bin("monetary", "m")
        ).alias("segment"),
    )


def _rfm_bin_sql(metric: str, tag: str) -> str:
    whens = " ".join(
        f"WHEN {metric} <= {tag}{q} THEN {q}" for q in (1, 2, 3, 4)
    )
    return f"CAST(CASE {whens} ELSE 5 END AS INTEGER)"


CUSTOMER_RFM_SQL = f"""
WITH base AS (
  SELECT o_custkey AS custkey,
         CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                        (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
              AS INTEGER) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS monetary
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT *, (SELECT COUNT(*) FROM base) AS n,
         row_number() OVER (ORDER BY recency_days, custkey) AS rn_r,
         row_number() OVER (ORDER BY frequency, custkey) AS rn_f,
         row_number() OVER (ORDER BY monetary, custkey) AS rn_m
  FROM base
),
bounds AS (
  SELECT
    {", ".join(
        f"MIN(CASE WHEN rn_{t} = ({q} * n + 4) // 5 THEN {m} END) AS {t}{q}"
        for m, _, t in ((("recency_days", "rn_r", "r")), ("frequency", "rn_f", "f"),
                        ("monetary", "rn_m", "m"))
        for q in (1, 2, 3, 4)
    )}
  FROM ranked
)
SELECT b.custkey, b.recency_days, b.frequency,
       CAST(b.monetary AS DOUBLE) AS monetary,
       {_rfm_bin_sql("recency_days", "r")} AS r_quintile,
       {_rfm_bin_sql("frequency", "f")} AS f_quintile,
       {_rfm_bin_sql("monetary", "m")} AS m_quintile,
       CAST({_rfm_bin_sql("recency_days", "r")} AS VARCHAR)
         || CAST({_rfm_bin_sql("frequency", "f")} AS VARCHAR)
         || CAST({_rfm_bin_sql("monetary", "m")} AS VARCHAR) AS segment
FROM base b CROSS JOIN bounds
"""


def reorder_interval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence per market segment: the distribution of
    days between a customer's consecutive orders — the behavioral input
    to replenishment and churn-risk models.

    One custkey-partitioned lag window over the orders (the natural key,
    no skew), integer day gaps, then a segment-keyed aggregate with the
    exact-selection-friendly stats: n, mean (round 6), min, max. The
    customer dim joins broadcast for the segment label.
    """
    from etl_mini_dw_spark.sources.tables import typed_table as _tt

    orders = _tt(spark, sf_dir, "orders")
    customer = _tt(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select(
            "o_custkey",
            F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        gaps.join(
            F.broadcast(
                customer.select(
                    F.col("c_custkey").alias("o_custkey"),
                    F.col("c_mktsegment").alias("mktsegment"),
                )
            ),
            "o_custkey",
        )
        .groupBy("mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.round(F.sum("gap_days") / F.count(F.lit(1)), 6).alias("mean_gap_days"),
            F.min("gap_days").cast("int").alias("min_gap_days"),
            F.max("gap_days").cast("int").alias("max_gap_days"),
        )
    )


REORDER_INTERVAL_SQL = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate, o_orderkey) AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
)
SELECT c_mktsegment AS mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       round(CAST(SUM(gap_days) AS DOUBLE) / COUNT(*), 6) AS mean_gap_days,
       CAST(MIN(gap_days) AS INTEGER) AS min_gap_days,
       CAST(MAX(gap_days) AS INTEGER) AS max_gap_days
FROM gaps JOIN customer ON c_custkey = o_custkey
WHERE gap_days IS NOT NULL
GROUP BY 1
"""


# --- session path mining (session-bounded event-type trigrams) --------------
PATH_TOP = 20


def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type trigram paths that occur WITHIN a session.

    Extends `event_transitions` (1st-order Markov edges) to 3-step
    journeys with the crucial boundary condition a transition matrix
    misses: an n-gram never spans a session break (same 30-min gap rule
    as `sessionization`). Two lags over ONE (user, session) window — the
    session id and both lags ride the same user-keyed sort, so the whole
    query is one shuffle + a tiny path rollup; top-20 via
    TakeOrderedAndProject with full tie-breakers (count desc, path asc).
    """
    from etl_mini_dw_spark.streaming.events import SESSION_GAP_MIN

    ev = typed_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w_user)
    with_sid = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(w_user.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w_sess = Window.partitionBy("user_id", "session_seq").orderBy("ts", "event_id")
    tri = with_sid.select(
        F.lag("event_type", 2).over(w_sess).alias("t1"),
        F.lag("event_type", 1).over(w_sess).alias("t2"),
        F.col("event_type").alias("t3"),
    ).filter(F.col("t1").isNotNull())
    return (
        tri.select(F.concat_ws(" > ", "t1", "t2", "t3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "path")
        .limit(PATH_TOP)
    )


def session_path_trigrams_sql() -> str:
    from etl_mini_dw_spark.streaming.events import SESSION_GAP_MIN

    return f"""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events),
sid AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM (
    SELECT *,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MIN * 60}
                THEN 1 ELSE 0 END AS new_session
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  )
),
tri AS (
  SELECT lag(event_type, 2) OVER ws AS t1,
         lag(event_type, 1) OVER ws AS t2,
         event_type AS t3
  FROM sid
  WINDOW ws AS (PARTITION BY user_id, session_seq ORDER BY ts, event_id)
)
SELECT t1 || ' > ' || t2 || ' > ' || t3 AS path,
       CAST(COUNT(*) AS BIGINT) AS n_paths
FROM tri WHERE t1 IS NOT NULL
GROUP BY 1
ORDER BY n_paths DESC, path
LIMIT {PATH_TOP}
"""


# --- exact Shapley-value attribution (r5) -----------------------------------
# The game-theoretic endpoint of the attribution family: first/last/
# linear (attribution_models) are heuristics; the Shapley value is the
# unique credit split satisfying efficiency/symmetry/dummy. Exact
# computation is 2^n coalitions — intractable for many channels,
# CLOSED-FORM ENUMERABLE for the 4 non-purchase event types here — and
# the whole computation runs in integers: coalition values v(S) are user
# counts, and the Shapley weights |S|!·(n−|S|−1)!/n! are pre-multiplied
# by n! = 24 so credits are exact BIGINTs (φ·24), divided once for the
# report column. Efficiency (Σφ·24 = 24·(v(full) − v(∅))) is pinned in
# pytest. Touches are scoped to the 24 h before the user's FIRST
# purchase (the attribution_models lookback) — corpus-wide masks are
# degenerate on this fixture (every user touches every type).
SHAPLEY_CHANNELS = [("view", 1), ("click", 2), ("signup", 4), ("error", 8)]


def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(channel, shapley_x24, shapley_credit, v_full, v_empty): exact
    Shapley conversion credit per channel. v(S) = converted users whose
    24h-lookback touched-channel set ⊆ S (no-touch converters sit in
    v(∅) — "direct"; Shapley splits only the lift above direct).

    Scale: one purchase min-aggregate + one user-keyed windowed-touch
    aggregate reduce the corpus to ≤ 2^4 mask rows; everything after
    (the subset-sum zeta transform, the weighted marginal sums) is a
    16×16-row join — constant work regardless of event volume."""
    ev = typed_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    bits = sum(
        (
            F.max(F.when(F.col("event_type") == name, bit).otherwise(0))
            for name, bit in SHAPLEY_CHANNELS
        ),
        F.lit(0),
    )
    touched = (
        ev.join(fp, "user_id")
        .filter(
            (F.col("ts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS"))
            & (F.col("ts") < F.col("pts"))
        )
        .groupBy("user_id")
        .agg(bits.alias("mask"))
    )
    converters = fp.join(touched, "user_id", "left").select(
        F.coalesce("mask", F.lit(0)).alias("mask")
    )
    mask_counts = converters.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("nconv")
    )
    subsets = spark.range(16).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            F.broadcast(mask_counts), F.expr("(mask & s) = mask"), "left"
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("nconv"), F.lit(0)).cast("bigint").alias("v"))
    )
    channels = spark.createDataFrame(SHAPLEY_CHANNELS, ["channel", "bit"])
    pairs = (
        channels.crossJoin(F.broadcast(v.withColumnRenamed("v", "v_s")))
        .filter(F.expr("(s & bit) = 0"))
        .join(
            F.broadcast(
                v.select(F.col("s").alias("sb"), F.col("v").alias("v_sb"))
            ),
            F.expr("sb = s + bit"),
        )
        .select(
            "channel",
            F.expr(
                "CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2"
                " WHEN 2 THEN 2 ELSE 6 END"
            ).alias("w"),
            (F.col("v_sb") - F.col("v_s")).alias("marg"),
        )
    )
    consts = v.agg(
        F.max(F.when(F.col("s") == 15, F.col("v"))).alias("v_full"),
        F.max(F.when(F.col("s") == 0, F.col("v"))).alias("v_empty"),
    )
    return (
        pairs.groupBy("channel")
        .agg(F.sum(F.col("w") * F.col("marg")).cast("bigint").alias("shapley_x24"))
        .crossJoin(F.broadcast(consts))
        .select(
            "channel",
            "shapley_x24",
            F.round(F.col("shapley_x24").cast("double") / 24, 6).alias(
                "shapley_credit"
            ),
            F.col("v_full").cast("bigint").alias("v_full"),
            F.col("v_empty").cast("bigint").alias("v_empty"),
        )
    )


SHAPLEY_ATTRIBUTION_SQL = """
WITH fp AS (
  SELECT user_id, MIN(ts) AS pts FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
touched AS (
  SELECT e.user_id,
         MAX(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END)
         + MAX(CASE WHEN e.event_type = 'click' THEN 2 ELSE 0 END)
         + MAX(CASE WHEN e.event_type = 'signup' THEN 4 ELSE 0 END)
         + MAX(CASE WHEN e.event_type = 'error' THEN 8 ELSE 0 END) AS mask
  FROM events e JOIN fp ON fp.user_id = e.user_id
  WHERE e.ts >= fp.pts - INTERVAL 24 HOUR AND e.ts < fp.pts
  GROUP BY e.user_id
),
converters AS (
  SELECT COALESCE(t.mask, 0) AS mask
  FROM fp LEFT JOIN touched t USING (user_id)
),
mask_counts AS (
  SELECT mask, CAST(COUNT(*) AS BIGINT) AS nconv FROM converters GROUP BY mask
),
subsets AS (SELECT CAST(unnest(range(0, 16)) AS INTEGER) AS s),
v AS (
  SELECT s, CAST(COALESCE(SUM(nconv), 0) AS BIGINT) AS v
  FROM subsets LEFT JOIN mask_counts ON (mask & s) = mask
  GROUP BY s
),
channels AS (
  SELECT * FROM (VALUES ('view', 1), ('click', 2), ('signup', 4), ('error', 8))
    c(channel, bit)
),
pairs AS (
  SELECT c.channel,
         CASE bit_count(CAST(vs.s AS BIGINT)) WHEN 0 THEN 6 WHEN 1 THEN 2
              WHEN 2 THEN 2 ELSE 6 END AS w,
         vsb.v - vs.v AS marg
  FROM channels c
  JOIN v vs ON (vs.s & c.bit) = 0
  JOIN v vsb ON vsb.s = vs.s + c.bit
),
consts AS (
  SELECT MAX(CASE WHEN s = 15 THEN v END) AS v_full,
         MAX(CASE WHEN s = 0 THEN v END) AS v_empty
  FROM v
)
SELECT p.channel,
       CAST(SUM(p.w * p.marg) AS BIGINT) AS shapley_x24,
       round(CAST(SUM(p.w * p.marg) AS BIGINT) / 24.0, 6) AS shapley_credit,
       CAST(consts.v_full AS BIGINT) AS v_full,
       CAST(consts.v_empty AS BIGINT) AS v_empty
FROM pairs p, consts
GROUP BY p.channel, consts.v_full, consts.v_empty
"""


# --- decayed trending leaderboard --------------------------------------------
#
# The feature-store "trending items" counter: recent demand counts more
# than old demand, with an exponential half-life. Float decay factors
# (0.5^(age/hl)) are summation-order-sensitive and drift between
# engines; DYADIC decay is not — the weight is an exact power of two,
#
#   weight = 2^(32 − age_halflives)  for age < 32 half-lives, else 0
#
# (shiftleft on an integer; one 8-week half-life). Scores are exact
# DECIMAL sums of BIGINT qty_cents·weight products and are compared as
# STRINGS (a >15-digit decimal→double cast is the CLAUDE.md 1-ulp trap,
# and the driver's pandas canon turns DuckDB decimals into lossy
# float64 — strings are exact on both engines).
#
# Scale: one partkey shuffle (partial-aggregable — the weight is a
# map-side expression), broadcast part dim, TakeOrderedAndProject
# top-20. Maintaining the counter incrementally is one multiply: scores
# age by 2^-k per k half-lives, so yesterday's stored leaderboard times
# a constant plus today's partial = today's leaderboard.

TREND_REF_DATE = "2002-01-01"  # just past the testdata's 2001-11 end
TREND_HALFLIFE_DAYS = 56
TREND_MAX_HL = 32
TREND_TOP_K = 20


def trending_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(trend_rank, p_partkey, p_brand, score, recent_qty_c, total_qty_c):
    top-20 parts by half-life-decayed ordered quantity; recent = inside
    the newest half-life window."""
    li = typed_table(spark, sf_dir, "lineitem")
    orders = typed_table(spark, sf_dir, "orders")
    part = typed_table(spark, sf_dir, "part")
    age_hl = F.floor(
        F.datediff(F.lit(TREND_REF_DATE).cast("date"), F.col("o_orderdate"))
        / TREND_HALFLIFE_DAYS
    ).cast("int")
    qty_c = (F.col("l_quantity") * 100).cast("bigint")
    # reference the PROJECTED age_hl column, not the raw expression (which
    # still points at the already-dropped o_orderdate)
    weight = F.when(
        F.col("age_hl") < TREND_MAX_HL,
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {TREND_MAX_HL} - age_hl)"),
    ).otherwise(F.lit(0))
    scored = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_partkey",
            qty_c.alias("qty_c"),
            age_hl.alias("age_hl"),
        )
        .select(
            "l_partkey",
            "qty_c",
            "age_hl",
            (F.col("qty_c") * weight).alias("wq"),
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("wq").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("score_d"),
            F.sum(F.when(F.col("age_hl") < 1, F.col("qty_c")).otherwise(0))
            .cast("bigint")
            .alias("recent_qty_c"),
            F.sum("qty_c").cast("bigint").alias("total_qty_c"),
        )
    )
    w = Window.orderBy(F.col("score_d").desc(), F.col("l_partkey"))
    return (
        scored.withColumn("trend_rank", F.row_number().over(w))
        .filter(F.col("trend_rank") <= TREND_TOP_K)
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "trend_rank",
            "p_partkey",
            "p_brand",
            F.col("score_d").cast("string").alias("score"),
            "recent_qty_c",
            "total_qty_c",
        )
        .orderBy("trend_rank")
    )


TRENDING_PARTS_SQL = f"""
WITH scored AS MATERIALIZED (
  SELECT l_partkey,
         CAST(SUM(CASE WHEN age_hl < {TREND_MAX_HL}
                       THEN qty_c * (CAST(1 AS BIGINT) << ({TREND_MAX_HL} - age_hl))
                       ELSE 0 END) AS DECIMAL(38,0)) AS score_d,
         CAST(SUM(CASE WHEN age_hl < 1 THEN qty_c ELSE 0 END) AS BIGINT) AS recent_qty_c,
         CAST(SUM(qty_c) AS BIGINT) AS total_qty_c
  FROM (
    SELECT l_partkey,
           CAST(l_quantity * 100 AS BIGINT) AS qty_c,
           CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '{TREND_REF_DATE}')
                      // {TREND_HALFLIFE_DAYS} AS INTEGER) AS age_hl
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  )
  GROUP BY 1
),
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY score_d DESC, l_partkey) AS INTEGER) AS trend_rank
  FROM scored
)
SELECT trend_rank, p_partkey, p_brand,
       CAST(score_d AS VARCHAR) AS score, recent_qty_c, total_qty_c
FROM ranked JOIN part ON p_partkey = l_partkey
WHERE trend_rank <= {TREND_TOP_K}
ORDER BY trend_rank
"""


# --- Markov stationary distribution ------------------------------------------
#
# Composes the transition matrix (`event_transitions`) with the repo's
# integer power-iteration discipline (pagerank/power_iteration rules):
# the stationary distribution pi = pi.P of the user-journey Markov
# chain answers "where does a session SETTLE long-run", which the raw
# edge counts and the empirical visit share both misstate when the
# chain mixes slowly. Eight unrolled matvec rounds in 2^20 fixed point
# — every product/division is an exact BIGINT floor (pmod identity),
# renormalized to the fixed scale each round, so the fit is bit-
# identical on any partitioning and in the DuckDB oracle (whose
# iterative CTE chain is AS MATERIALIZED — the exponential-inlining
# trap, CLAUDE.md).
#
# Scale: the corpus is touched ONCE by the transition rollup; its
# ≤|types|² counts are collected once and the rounds run on the driver
# in Python ints (the same floor divisions), so no round costs a Spark
# job. Gap vs the empirical to-share is the slow-mixing diagnostic.

MARKOV_ROUNDS = 8
MARKOV_SCALE = 1 << 20  # keeps w_raw*SCALE and w*c inside int64 at any sf


def markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, pi, empirical_share, gap): stationary distribution
    of the event-type transition chain vs the empirical visit share."""

    def train() -> list[tuple[str, int, int, int]]:
        trans = [
            (row["from_type"], row["to_type"], int(row["n_transitions"]))
            for row in event_transitions(spark, sf_dir).collect()
        ]
        r: dict[str, int] = {}
        for i, _, c in trans:
            r[i] = r.get(i, 0) + c
        states = {t for i, j, _ in trans for t in (i, j)}
        # Python `//` IS floor division — the pmod identity of the SQL
        # spelling for every sign. Divisors are nonzero (r6 ADVICE): k ≥ 1
        # whenever a state exists; r_i sums positive counts of i's own rows;
        # tot ≥ 1 because mass is floor-conserved: Σ_j ⌊w·c_ij/r_i⌋ ≥
        # w_i − k + 1 and w_i ≥ SCALE div k, positive whenever k(k−1) <
        # SCALE = 2^20 — any chain with < ~1000 states, the regime a
        # |types|² dense rollup targets in the first place.
        w = {t: MARKOV_SCALE // len(states) for t in states}
        for _ in range(MARKOV_ROUNDS):
            w_raw: dict[str, int] = {}
            for i, j, c in trans:
                if i in w:
                    w_raw[j] = w_raw.get(j, 0) + (w[i] * c) // r[i]
            tot = sum(w_raw.values())
            w = {j: (v * MARKOV_SCALE) // tot for j, v in w_raw.items()}
        # the empirical visit counts: one more tiny driver read
        emp = {
            row["i"]: int(row["n"])
            for row in typed_table(spark, sf_dir, "events")
            .groupBy(F.col("event_type").alias("i"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_tot = sum(emp.values())
        # an equi-join on the type: a null type matches nothing
        return [(i, w[i], emp[i], n_tot) for i in w if i is not None and i in emp]

    # staged once per (session, sf-dir): a second call runs no job
    staged = stage_memo(spark, sf_dir, "markov_stationary", train)
    out = rows_frame(spark, staged, "i string, w bigint, n bigint, n_tot bigint").select(
        F.col("i").alias("event_type"),
        F.round(F.col("w") / float(MARKOV_SCALE), 6).alias("pi"),
        F.round(F.col("n") / F.col("n_tot").cast("double"), 6).alias("empirical_share"),
    )
    return out.select(
        "event_type",
        "pi",
        "empirical_share",
        F.round(F.col("pi") - F.col("empirical_share"), 6).alias("gap"),
    ).orderBy("event_type")


def markov_stationary_sql() -> str:
    fd = "(({a}) - ((({a}) % ({b}) + ({b})) % ({b}))) // ({b})"
    rounds = []
    prev = "w0"
    for n in range(1, MARKOV_ROUNDS + 1):
        step = fd.format(a="w.w * b.c", b="b.r")
        renorm = fd.format(a=f"w_raw * {MARKOV_SCALE}", b="tot")
        rounds.append(
            f"""s{n} AS MATERIALIZED (
  SELECT b.j, CAST(SUM({step}) AS BIGINT) AS w_raw
  FROM base b JOIN {prev} w ON w.i = b.i GROUP BY b.j
),
t{n} AS MATERIALIZED (SELECT CAST(SUM(w_raw) AS BIGINT) AS tot FROM s{n}),
w{n} AS MATERIALIZED (
  SELECT j AS i, CAST({renorm} AS BIGINT) AS w FROM s{n}, t{n}
)"""
        )
        prev = f"w{n}"
    chain = ",\n".join(rounds)
    init = fd.format(a=str(MARKOV_SCALE), b="k")
    return f"""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
           FROM events),
pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS i,
         event_type AS j
  FROM e
),
trans AS MATERIALIZED (
  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS c
  FROM pairs WHERE i IS NOT NULL GROUP BY 1, 2
),
base AS MATERIALIZED (
  SELECT t.i, t.j, t.c, r.r
  FROM trans t JOIN (SELECT i, CAST(SUM(c) AS BIGINT) AS r
                     FROM trans GROUP BY i) r ON r.i = t.i
),
states AS (SELECT DISTINCT i AS t FROM (SELECT i FROM trans
                                        UNION ALL SELECT j FROM trans)),
kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
w0 AS MATERIALIZED (
  SELECT t AS i, CAST({init} AS BIGINT) AS w FROM states, kk
),
{chain},
emp AS (
  SELECT event_type AS i, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1
),
emp_tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot FROM emp)
SELECT w.i AS event_type,
       round(CAST(w.w AS DOUBLE) / {MARKOV_SCALE}, 6) AS pi,
       round(CAST(emp.n AS DOUBLE) / emp_tot.n_tot, 6) AS empirical_share,
       round(round(CAST(w.w AS DOUBLE) / {MARKOV_SCALE}, 6)
             - round(CAST(emp.n AS DOUBLE) / emp_tot.n_tot, 6), 6) AS gap
FROM w{MARKOV_ROUNDS} w JOIN emp ON emp.i = w.i, emp_tot
ORDER BY event_type
"""


# --- Cohort LTV triangle ---------------------------------------------------------
#
# The revenue companion of the retention triangle: customers grouped by
# FIRST-ORDER month, cumulative revenue per cohort member at each
# month-age — the lifetime-value curve finance reads payback periods
# off. Revenue stays exact integer cents through the cumulative window;
# the only float is the final per-member round-6 division.
#
# Scale: one custkey rollup for cohorts (partial-aggregable), one
# (cohort, age) rollup, cumulative windows over ≤|months| rows per
# cohort. The triangle is |months|²/2-sized — metadata, not data.

LTV_MAX_AGE = 12


def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort_ym, age_months, n_cohort, cum_rev_per_cust): cumulative
    revenue per cohort member through month-age ≤ 12."""
    orders = typed_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate")
        )
        .cast("bigint")
        .alias("idx"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        (F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cohorts = orders.groupBy("o_custkey").agg(
        F.min("idx").alias("c_idx"), F.min("ym").alias("cohort_ym")
    )
    sizes = cohorts.groupBy("c_idx", "cohort_ym").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cohort")
    )
    aged = (
        orders.join(cohorts, "o_custkey")
        .select(
            "c_idx",
            "cohort_ym",
            (F.col("idx") - F.col("c_idx")).alias("age_months"),
            "cents",
        )
        .groupBy("c_idx", "cohort_ym", "age_months")
        .agg(F.sum("cents").cast("bigint").alias("rev_c"))
    )
    wcum = (
        Window.partitionBy("c_idx")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        aged.select(
            "c_idx",
            "cohort_ym",
            "age_months",
            F.sum("rev_c").over(wcum).alias("cum_c"),
        )
        .filter(F.col("age_months") <= LTV_MAX_AGE)
        .join(F.broadcast(sizes), ["c_idx", "cohort_ym"])
        .select(
            "cohort_ym",
            F.col("age_months").cast("bigint").alias("age_months"),
            "n_cohort",
            F.round(
                F.col("cum_c") / (100.0 * F.col("n_cohort")), 6
            ).alias("cum_rev_per_cust"),
        )
        .orderBy("cohort_ym", "age_months")
    )


COHORT_LTV_SQL = f"""
WITH o AS (
  SELECT o_custkey,
         CAST((EXTRACT(year FROM o_orderdate) - 1995) * 12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS idx,
         strftime(o_orderdate, '%Y-%m') AS ym,
         CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
cohorts AS (
  SELECT o_custkey, MIN(idx) AS c_idx, MIN(ym) AS cohort_ym
  FROM o GROUP BY 1
),
sizes AS (
  SELECT c_idx, cohort_ym, CAST(COUNT(*) AS BIGINT) AS n_cohort
  FROM cohorts GROUP BY 1, 2
),
aged AS (
  SELECT c.c_idx, c.cohort_ym, o.idx - c.c_idx AS age_months,
         CAST(SUM(o.cents) AS BIGINT) AS rev_c
  FROM o JOIN cohorts c USING (o_custkey)
  GROUP BY 1, 2, 3
),
cum AS (
  SELECT c_idx, cohort_ym, age_months,
         SUM(rev_c) OVER (PARTITION BY c_idx ORDER BY age_months) AS cum_c
  FROM aged
)
SELECT u.cohort_ym, CAST(u.age_months AS BIGINT) AS age_months, s.n_cohort,
       round(CAST(u.cum_c AS DOUBLE) / (100.0 * s.n_cohort), 6)
         AS cum_rev_per_cust
FROM cum u JOIN sizes s ON s.c_idx = u.c_idx AND s.cohort_ym = u.cohort_ym
WHERE u.age_months <= {LTV_MAX_AGE}
ORDER BY u.cohort_ym, u.age_months
"""
