"""Generic SCD2 dimension loader (SURVEY §2.11 X2–X4; `code/SQL_1…sql:915–1327`).

The reference implements three structurally-identical stored procedures
(customer / salesperson / product), each doing close-out → versioned
insert → delete-detection inside a transaction. Here that is ONE
parameterized, *pure-plan* implementation: every function takes
DataFrames in and returns a lazy DataFrame out — no actions, no
mutation. The orchestrator (etl/orchestrate.py) is the only layer that
writes, which gives the reference's transactional all-or-nothing
semantics via compute-full-post-state → single atomic swap
(SURVEY §7 hard-part 7).

``load_step`` is the one lifecycle step; ``dim_initial``, ``dim_two_phase``
and the orchestrator's ``load_dim`` all call it.

Spark-first notes (100 TB):
- All joins here are NK-equi-joins against *dimension-sized* inputs →
  broadcast-hash in practice; no shuffle of the big fact side is ever
  involved in dimension maintenance.
- Surrogate keys: ``row_number() OVER (ORDER BY nk, active_from)`` — a
  deterministic single-partition window, which is the correctness-simple
  choice for dimension tables (even at 100 TB fact scale, dims are
  ~millions of rows and SK assignment is per-batch-delta, not per-fact).
  The fact table's SK strategy is different — see operators/fact.py.
- Change detection (F5) uses null-safe equality (``<=>``) instead of the
  reference's ``ISNULL(x,'')`` pattern — it normalizes the reference's
  int-vs-'' implicit-cast quirk away (`code/SQL_1…sql:940`, SURVEY §2.3 F5).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mini_dw_spark.fixtures_spec import (
    ATTR_TYPES,
    HIGH,
    LOW,
    UNKNOWN_NK,
    DimSpec,
    attr_cols,
    ts_literal,
)
from etl_mini_dw_spark.sources import staging


def _ts(lit: str) -> Column:
    return F.lit(lit).cast("timestamp")


def unknown_member_row(spark: SparkSession, dim: DimSpec) -> DataFrame:
    """The NK=-1 'Unknown' member every dim holds (`code/SQL_1…sql:622–630`)."""
    cols = [F.lit(UNKNOWN_NK).cast("bigint").alias(dim.nk)]
    for a in attr_cols(dim):
        if ATTR_TYPES[a] == "int":
            cols.append(F.lit(-1).cast("int").alias(a))
        else:
            cols.append(F.lit("Unknown").alias(a))
    cols += [
        F.lit(True).alias("is_current"),
        _ts(LOW).alias("active_from"),
        _ts(HIGH).alias("active_to"),
    ]
    return spark.range(1).select(*cols)


def assign_surrogate_keys(
    df: DataFrame, dim: DimSpec, offset: Column | None = None
) -> DataFrame:
    """C1 IDENTITY replacement: dense deterministic SKs in global
    (nk, active_from) order (+ batch offset), from one row_number window.
    It only ever sees the dim DELTA, never fact-sized input; uniqueness
    and batch stability come from the max-SK offset seam."""
    w = Window.orderBy(dim.nk, "active_from")
    sk = F.row_number().over(w).cast("int")
    if offset is not None:
        sk = (sk + offset).cast("int")
    return df.select(sk.alias(dim.sk), "*")


def dim_initial(
    spark: SparkSession, sf_dir: str, dim: DimSpec, as_of: str | None = None
) -> DataFrame:
    """Initial (full-history) load (`code/SQL_1…sql:602–659`): the load
    step with no prior state."""
    return load_step(spark, sf_dir, dim, None, LOW, as_of, HIGH)[0].drop("change_tag")


def change_predicate(dim: DimSpec, left_prefix: str = "", right_prefix: str = "src_") -> Column:
    """F5: OR-chain of null-safe attribute inequalities (`code/SQL_1…sql:938–940`)."""
    terms = [
        ~(F.col(f"{left_prefix}{a}").eqNullSafe(F.col(f"{right_prefix}{a}"))) for a in dim.tracked
    ]
    return reduce(lambda a, b: a | b, terms)


def scd2_increment(
    dim_df: DataFrame,
    staged: DataFrame,
    snapshot: DataFrame,
    dim: DimSpec,
    now_ts: str,
) -> DataFrame:
    """One incremental SCD2 merge pass; returns the tagged post-state.

    Output = dim post-state plus a ``change_tag`` column in
    {'kept','closed','inserted','deleted'} so the orchestrator can count
    run-log metrics (X7) in the same single action that writes the table.

    Mirrors `code/SQL_1…sql:927–987`:
    1. close-out: current dim row ⋈ live staged row on NK, any tracked
       attr differs → ``is_current=0, active_to=src.valid_from``
    2. versioned insert: staged rows with no current match or changed
       attrs (J5), suppressing identical (nk, from, to) versions (J6)
    3. delete-detect: current dim NKs absent from the live snapshot (J5)
       → close at ``now_ts`` (never the unknown member)
    """
    nk = dim.nk
    src_cols = [nk, *attr_cols(dim), "is_current", "valid_from", "valid_to"]
    src = staged.select([F.col(c).alias(f"src_{c}") for c in src_cols])

    cur = dim_df.filter(F.col("is_current"))

    # 1. close-out pairs: live staged row vs current dim row, attrs differ
    live_src = src.filter(F.col("src_is_current"))
    closeout = (
        cur.join(live_src, cur[nk] == live_src[f"src_{nk}"], "inner")
        .filter(change_predicate(dim))
        .select(cur[nk].alias("_co_nk"), F.col("src_valid_from").alias("_co_to"))
    )

    # 2. rows to insert (J5 new-or-changed); the version guard comes later
    cur_attrs = cur.select(
        F.col(nk).alias(f"cur_{nk}"), *[F.col(a).alias(f"cur_{a}") for a in dim.tracked]
    )
    ins = (
        src.join(cur_attrs, F.col(f"src_{nk}") == F.col(f"cur_{nk}"), "left")
        .filter(F.col(f"cur_{nk}").isNull() | change_predicate(dim, "src_", "cur_"))
        .select(*[F.col(f"src_{c}").alias(c) for c in src_cols])
        .withColumnRenamed("valid_from", "active_from")
        .withColumnRenamed("valid_to", "active_to")
    )

    # 3. delete detection: current NKs gone from source (excluding unknown)
    deleted = (
        cur.join(snapshot, on=nk, how="left_anti")
        .filter(F.col(nk) != UNKNOWN_NK)
        .select(F.col(nk).alias("_del_nk"))
    )

    # assemble post-state for existing rows
    base = (
        dim_df.join(F.broadcast(closeout), dim_df[nk] == F.col("_co_nk"), "left")
        .join(F.broadcast(deleted), dim_df[nk] == F.col("_del_nk"), "left")
        .withColumn(
            "change_tag",
            F.when(F.col("is_current") & F.col("_co_nk").isNotNull(), "closed")
            .when(F.col("is_current") & F.col("_del_nk").isNotNull(), "deleted")
            .otherwise("kept"),
        )
        .withColumn(
            "active_to",
            F.when(F.col("change_tag") == "closed", F.col("_co_to"))
            .when(F.col("change_tag") == "deleted", _ts(now_ts))
            .otherwise(F.col("active_to")),
        )
        .withColumn(
            "is_current",
            F.when(F.col("change_tag").isin("closed", "deleted"), F.lit(False)).otherwise(
                F.col("is_current")
            ),
        )
        .drop("_co_nk", "_co_to", "_del_nk")
    )

    # version guard: never insert a window that OVERLAPS an existing
    # window of the same NK in the POST-close-out state. This subsumes the
    # reference's NOT-EXISTS identical-version guard (J6,
    # `code/SQL_1…sql:963–969`) and is strictly stronger: it also blocks
    # re-ingesting a closed archive row after delete-detection shortened
    # the key's history (a case where the reference would trip its unique
    # index and abort the load — we suppress the violating insert instead,
    # keeping the C3/J7 invariants write-enforced). Equi on nk + range
    # residual → hash anti-join, dim-sized.
    post_windows = base.select(
        F.col(nk).alias("_pw_nk"),
        F.col("active_from").alias("_pw_from"),
        F.col("active_to").alias("_pw_to"),
    )
    guarded = ins.join(
        F.broadcast(post_windows),
        (F.col(nk) == F.col("_pw_nk"))
        & (F.col("active_from") < F.col("_pw_to"))
        & (F.col("_pw_from") < F.col("active_to")),
        "left_anti",
    )

    # new rows: SK = max existing SK + deterministic row_number
    max_sk = dim_df.agg(F.max(dim.sk).alias("_max_sk"))
    inserted = (
        assign_surrogate_keys(
            guarded.crossJoin(F.broadcast(max_sk)),
            dim,
            offset=F.col("_max_sk"),
        )
        .drop("_max_sk")
        .withColumn("change_tag", F.lit("inserted"))
    )
    return base.unionByName(inserted)


def load_step(
    spark: SparkSession,
    sf_dir: str,
    dim: DimSpec,
    state: DataFrame | None,
    wm: str,
    as_of: str | None,
    now_ts: str,
) -> tuple[DataFrame, DataFrame]:
    """One SCD2 load → ``(post tagged with change_tag, delta)``, the only
    code that tells an initial load from an increment. ``state is None``
    loads the full history from the seed watermark (A5 empty-table guard,
    `code/SQL_1…sql:603`): union the unknown member, assign SKs. Otherwise
    the delta past ``wm`` merges into ``state``. The caller picks the next
    watermark."""
    staged = staging.delta_extract(spark, sf_dir, dim, LOW if state is None else wm, as_of=as_of)
    if state is None:
        shaped = staged.withColumnRenamed("valid_from", "active_from").withColumnRenamed(
            "valid_to", "active_to"
        )
        unioned = shaped.unionByName(unknown_member_row(spark, dim))
        post = assign_surrogate_keys(unioned, dim).withColumn("change_tag", F.lit("inserted"))
        return post, staged
    snapshot = staging.current_snapshot(spark, sf_dir, dim, as_of=as_of)
    return scd2_increment(state, staged, snapshot, dim, now_ts), staged


def dim_two_phase(
    spark: SparkSession,
    sf_dir: str,
    dim: DimSpec,
    split: str,
    now_ts: str,
) -> DataFrame:
    """Initial load as-of ``split`` + one incremental pass to the present.

    This is the full SCD2 lifecycle in one lazy plan — the
    incremental-equals-full test target (SURVEY §5 item 4) and the
    oracle-checked centerpiece for X2–X4.
    """
    # materialized once, eagerly (faster than lazy before a scalar
    # read-back) — it feeds the watermark read and three joins, standing
    # in for the orchestrator's stored table
    dim0 = dim_initial(spark, sf_dir, dim, as_of=split).localCheckpoint()
    # data-driven watermark advance (X8, `code/SQL_1…sql:643–651`):
    # MAX(valid_from) of the ingested batch, read back like the
    # reference's scalar tracker lookup (P11 → collect + re-inject).
    # Empty phase 1 (split before the first source version) ⇒ the SEED
    # watermark, exactly like the reference's freshly-seeded tracker
    # (`code/SQL_1…sql:250–255`)
    wm = dim0.filter(F.col(dim.nk) != UNKNOWN_NK).agg(F.max("active_from")).first()[0]
    return load_step(spark, sf_dir, dim, dim0, ts_literal(wm), None, now_ts)[0]


def dim_asof_snapshot(spark: SparkSession, sf_dir: str, dim: DimSpec, ts: str) -> DataFrame:
    """Point-in-time dimension snapshot: the version of every member that
    was valid AT ``ts`` (reference reads only "current" via the sentinel,
    `code/SQL_1…sql:480–520`; this generalizes it to any analysis date).

    Build the full-history dimension, then keep the one row per NK with
    ``active_from <= ts < active_to`` — the half-open interval convention
    shared with the fact as-of resolve, so a snapshot taken at a version
    boundary lands on the NEWER version, never both. The unknown member
    (1900 → 9999 validity) survives every snapshot by construction.

    100 TB: the filter is a scan-level predicate (min/max row-group
    pruning on active_from/active_to); a dimension partitioned or Z-ordered
    on validity reads only the row groups that straddle ``ts``. SKs are
    assigned before the filter, so snapshot SKs agree with the full build.
    """
    hist = dim_initial(spark, sf_dir, dim)
    at = F.lit(ts).cast("timestamp")
    return hist.filter((F.col("active_from") <= at) & (F.col("active_to") > at))


def dim_version_churn(spark: SparkSession, sf_dir: str, dim: DimSpec, top: int = 100) -> DataFrame:
    """Attribute-churn report over the SCD2 history: per natural key, how
    many versions exist, the lifetime span covered, and the average days
    a version stays current — the dimension-ops health check that flags
    keys whose attributes flap (bad upstream feeds produce version storms
    that bloat the dimension and skew as-of joins).

    Closed-version durations only (the open 9999 row would poison any
    average); integer day arithmetic + round-6 on the single ratio.
    One NK-keyed aggregate over the dim-sized history, then
    TakeOrderedAndProject for the top churners — no global sort.
    """
    hist = dim_initial(spark, sf_dir, dim).filter(F.col(dim.nk) != -1)
    closed_days = F.when(
        F.col("active_to") < _ts(HIGH),
        F.datediff(F.col("active_to"), F.col("active_from")),
    )
    per = hist.groupBy(F.col(dim.nk).alias("nk")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
        F.date_format(F.min("active_from"), "yyyy-MM-dd").alias("first_seen_day"),
        F.sum(closed_days).cast("bigint").alias("closed_days_total"),
        F.sum(F.when(closed_days.isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_closed"),
    )
    avg_days = F.when(
        F.col("n_closed") > 0,
        F.round(F.col("closed_days_total") / F.col("n_closed"), 6),
    )
    return (
        per.select(
            "nk",
            "n_versions",
            "first_seen_day",
            F.coalesce("closed_days_total", F.lit(0)).cast("bigint").alias(
                "closed_days_total"
            ),
            "n_closed",
            avg_days.alias("avg_days_per_version"),
        )
        .orderBy(F.col("n_versions").desc(), "nk")
        .limit(top)
    )


def dim_version_churn_sql(dim_initial_sql: str, nk: str, high_ts: str, top: int = 100) -> str:
    return f"""
WITH hist AS (SELECT * FROM ({dim_initial_sql}) WHERE {nk} <> -1),
per AS (
  SELECT {nk} AS nk,
         CAST(COUNT(*) AS BIGINT) AS n_versions,
         strftime(MIN(active_from), '%Y-%m-%d') AS first_seen_day,
         CAST(SUM(CASE WHEN active_to < TIMESTAMP '{high_ts}'
                       THEN date_diff('day', CAST(active_from AS DATE),
                                      CAST(active_to AS DATE)) END) AS BIGINT)
           AS closed_days_total,
         CAST(SUM(CASE WHEN active_to < TIMESTAMP '{high_ts}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_closed
  FROM hist GROUP BY 1
)
SELECT nk, n_versions, first_seen_day,
       CAST(COALESCE(closed_days_total, 0) AS BIGINT) AS closed_days_total,
       n_closed,
       CASE WHEN n_closed > 0
            THEN round(CAST(closed_days_total AS DOUBLE) / n_closed, 6) END
         AS avg_days_per_version
FROM per
ORDER BY n_versions DESC, nk
LIMIT {top}
"""
