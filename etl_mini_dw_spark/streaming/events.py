"""Event-stream operators (extension M8a; SURVEY §2.13).

The reference is batch-only — its "watermark" is an incremental-load
high-water mark, not event time. This module adds the real thing:

- Batch-shaped window analytics (tumbling / sliding / session / top-k)
  over ``events``, each with a DuckDB oracle mirror.
- Fourteen streaming topologies (watermarked windows, dedup, stream-
  static and stream-stream joins, sessions, sketch maintenance), each a
  real Structured Streaming query over the same parquet. The replay
  source, the drive and the two sinks live in ``machinery``; each
  topology here is only its plan and its read-back of the sink, a lazy
  batch DataFrame — so even the streaming path is oracle-checked
  against the batch SQL semantics and no result row is ever
  materialized on the driver.

Scale notes: tumbling/sliding aggregation is one shuffle keyed by
(window, type); sessionization shuffles by user — the natural key at any
scale; the streaming variant is exactly the plan you'd run with a Kafka
source + checkpointing on a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mini_dw_spark.sources.tables import events_ts_to_timestamp, load_table, typed_table
from etl_mini_dw_spark.streaming.machinery import (
    merge_sink,
    parquet_sink,
    replay_events,
    scratch_dir,
)

SESSION_GAP_MIN = 30
TOP_K_USERS = 10


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows × event_type: count + exact-decimal sum."""
    ev = typed_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").cast("decimal(38,2)").cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


TUMBLING_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events GROUP BY 1, 2
"""


def sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 min (each event in 2 windows)."""
    ev = typed_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


SLIDING_SQL = """
WITH grids AS (
  SELECT ts, unnest([date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
                       THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END,
                     date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30
                       THEN INTERVAL 0 MINUTE ELSE -(INTERVAL 30 MINUTE) END]) AS wstart
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start, COUNT(*) AS n_events
FROM grids GROUP BY 1
"""


def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user (lag + cumulative-sum pattern)."""
    ev = typed_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w_user)
    with_gap = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MIN * 60), F.lit(1)).otherwise(F.lit(0)),
    )
    with_sid = with_gap.withColumn(
        "session_seq", F.sum("new_session").over(w_user.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sid.groupBy("user_id", "session_seq")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").cast("decimal(38,2)").cast("double").alias("session_value"),
        )
        .withColumn("session_seq", F.col("session_seq").cast("bigint"))
    )


SESSIONIZATION_SQL = f"""
WITH g AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS session_value
FROM s GROUP BY user_id, session_seq
"""


def topk_users_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K users by total event value (A4 + window top-k + O2).

    ``orderBy().limit(K)`` compiles to TakeOrderedAndProject: each
    partition keeps its local top K, the driver merges K×partitions
    rows — no single-partition Exchange of the full per-user aggregate
    (|users| rows; hundreds of millions at 100 TB). ``rank`` is derived
    AFTER the limit, so the row_number window only ever sorts K rows.
    """
    ev = typed_table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(
        F.sum("value").cast("decimal(38,2)").cast("double").alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    top = totals.orderBy(F.col("total_value").desc(), F.col("user_id")).limit(TOP_K_USERS)
    w = Window.orderBy(F.col("total_value").desc(), F.col("user_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


TOPK_USERS_SQL = f"""
SELECT user_id, total_value, n_events, CAST(rank AS INTEGER) AS rank FROM (
  SELECT user_id,
         CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value,
         COUNT(*) AS n_events,
         row_number() OVER (ORDER BY CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) DESC,
                            user_id) AS rank
  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events GROUP BY user_id)
WHERE rank <= {TOP_K_USERS}
"""


def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling aggregation as a real Structured Streaming job.

    The events replay (one file per trigger), 10-minute event-time
    watermark, complete-mode parquet sink, returned as a LAZY read of the
    sink directory — value-identical to the batch oracle. Each
    micro-batch overwrites the sink with the full updated aggregate
    (complete mode ⇒ overwrite is the correct idempotent write). Swap
    source to Kafka + sink path to the warehouse and this is the
    production topology.
    """
    stream = (
        replay_events(spark, sf_dir)
        .transform(events_ts_to_timestamp)
        .withColumn("value", F.col("value").cast("decimal(14,2)"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").cast("decimal(38,2)").cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return parquet_sink(agg, "complete")


def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (gap-merge) sessions per user — the
    streaming-capable formulation of ``sessionization`` (same gap); in a
    streaming job this runs stateful with watermark-driven eviction."""
    ev = typed_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


# Boundary convention: Spark's session_window is half-open — a gap of
# EXACTLY the gap duration starts a new session — so the oracle uses
# `>= 1800`, not `> 1800`. (The lag-based `sessionization` pair above
# deliberately uses `>` on BOTH engines; the two operators differ at the
# boundary by definition.)
SESSION_WINDOW_SQL = f"""
WITH e AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) >= {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS ns
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def streaming_dedup_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: ``dropDuplicates`` state keyed on
    (user_id, event_type), append-mode parquet sink, then a lazy batch
    aggregate over the deduped sink — per-type distinct-user counts.

    The streaming operator under test is the dedup state store: each
    micro-batch appends only first-seen keys, so the sink holds exactly
    one row per (user, type) and no result row passes through the
    driver. Unbounded key-state is the DEMO configuration — production
    bounds it with ``dropDuplicatesWithinWatermark`` (same plan, state
    evicted past the watermark), at the cost of re-admitting keys that
    reappear later than the horizon, which breaks value-parity with the
    global-DISTINCT oracle on bounded replay — so the gate pins the
    exact variant.
    """
    stream = (
        replay_events(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    # append mode: each batch carries only newly-first-seen keys
    deduped = parquet_sink(stream, "append")
    return deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))


STREAMING_DEDUP_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def streaming_enriched_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with a STATIC
    dimension (customer → market segment) inside the streaming query,
    then aggregated per segment.

    The static side is re-planned per micro-batch and broadcast — the
    canonical pattern for enriching a stream with slowly-changing
    reference data without restarting the query (swap the static source
    for the SCD2 current-snapshot view and this is the production
    topology). Left join + UNKNOWN fallback keeps events whose user has
    no dimension row, mirroring the warehouse's unknown-member contract.
    Complete-mode foreachBatch parquet sink; nothing passes through the
    driver.
    """
    stream = replay_events(spark, sf_dir).select(
        "user_id", F.col("value").cast("decimal(14,2)").alias("value")
    )
    segments = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment"))
    )
    enriched = stream.join(F.broadcast(segments), "user_id", "left").withColumn(
        "segment", F.coalesce(F.col("segment"), F.lit("UNKNOWN"))
    )
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").cast("decimal(38,2)").cast("double").alias("total_value"),
    )
    return parquet_sink(agg, "complete")


STREAMING_ENRICHED_SQL = """
SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM events LEFT JOIN customer ON user_id = c_custkey
GROUP BY 1
"""


ATTRIBUTION_WINDOW_MIN = 30


def streaming_click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join: purchases attributed to a click by
    the same user within ATTRIBUTION_WINDOW_MIN minutes — per-day pair
    counts.

    Both sides carry watermarks and the join condition carries the time
    bound, so each side's state store evicts rows once the other side's
    watermark passes the bound — the state-bounded formulation of the
    classic attribution join (an unbounded-state stream join is refused
    by the engine in append mode). The joined pairs land in a parquet
    sink distributed; the per-day rollup is a lazy batch aggregate over
    the sink (chaining a second stateful aggregate onto the join inside
    one streaming query is the one shape Spark still restricts).
    On bounded single-batch replay nothing is late, so the result equals
    the batch interval join the oracle runs.
    """
    # one source feeds both sides; each side keeps its own watermark and
    # join state
    events = replay_events(spark, sf_dir).transform(events_ts_to_timestamp)

    def _side(event_type: str, alias: str):
        return (
            events.filter(F.col("event_type") == event_type)
            .selectExpr(
                f"user_id AS {alias}_user", f"ts AS {alias}_ts", f"event_id AS {alias}_id"
            )
            .withWatermark(f"{alias}_ts", "1 hour")
        )

    clicks, purchases = _side("click", "c"), _side("purchase", "p")
    pairs = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND "
            f"p_ts <= c_ts + INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES"
        ),
    )
    joined = parquet_sink(pairs, "append")
    return joined.groupBy(
        F.date_format("c_ts", "yyyy-MM-dd").alias("click_day")
    ).agg(F.count(F.lit(1)).alias("n_attributed"))


STREAMING_ATTRIBUTION_SQL = f"""
SELECT strftime(c.ts, '%Y-%m-%d') AS click_day,
       COUNT(*) AS n_attributed
FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) c
JOIN (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
GROUP BY 1
"""


def streaming_merge_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE sink: update-mode per-user totals upserted into a
    warehouse table through the store seam, micro-batch by micro-batch.

    The canonical streaming-upsert topology: each micro-batch of an
    update-mode aggregation carries only the users whose totals CHANGED,
    and ``foreachBatch`` applies them as a keyed MERGE
    (``etl/store.py::merge_upsert``). The maintained table always
    holds the latest total per user; no result row passes through the
    driver. Per-user aggregation state is watermark-free (unbounded) in
    this bounded-replay demo — production keys state by (user, window)
    with a watermark, or sets a state TTL.
    """
    stream = replay_events(spark, sf_dir).withColumn(
        "value", F.col("value").cast("decimal(14,2)")
    )
    totals = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").cast("decimal(38,2)").cast("double").alias("total_value"),
    )
    # update mode ⇒ each batch holds only changed users; MERGE them over
    return merge_sink(totals, ["user_id"])


STREAMING_MERGE_TOTALS_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode streaming ``session_window`` sessions per user.

    The stateful-session topology: gap-merged session state per
    (user, session), watermark-driven eviction — a session row is
    EMITTED (appended to the sink, exactly once) only when the event-time
    watermark passes its end, i.e. no future event can extend it. This is
    the only correct way to stream sessions: complete mode would pin
    every session in state forever. The oracle mirrors the closure rule
    explicitly: lag-based sessions (half-open ``>=`` gap boundary, the
    session_window convention) filtered to those whose window end is
    under the final watermark ``floor_ms(max ts) - delay`` — so the
    eviction semantics themselves are value-checked, not just the sums.
    At scale: state is bounded by (active users × open sessions within
    the watermark horizon); swap the file source for Kafka unchanged.
    """
    stream = (
        replay_events(spark, sf_dir)
        .transform(events_ts_to_timestamp)
        .withColumn("value", F.col("value").cast("decimal(14,2)"))
    )
    sess = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").cast("decimal(38,2)").cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    # append mode ⇒ each batch carries only newly-closed sessions
    return parquet_sink(sess, "append")


STREAMING_SESSION_SQL = f"""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                  CAST(value AS DECIMAL(14,2)) AS v FROM events),
wm AS (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 10 MINUTE AS w FROM e),
g AS (
  SELECT user_id, ts, v,
         CASE WHEN lag(ts) OVER win IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER win) >= {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS ns
  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
),
sess AS (
  SELECT user_id,
         MIN(ts) AS session_start_ts,
         MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end_ts,
         COUNT(*) AS n_events,
         CAST(SUM(v) AS DOUBLE) AS total_value
  FROM s GROUP BY user_id, sid
)
SELECT user_id,
       strftime(session_start_ts, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(session_end_ts, '%Y-%m-%d %H:%M:%S') AS session_end,
       n_events, total_value
FROM sess, wm
WHERE session_end_ts < w
"""


def streaming_hll_user_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the mergeable HLL rollup (plans/sketches.py).

    The streaming twin of `ext_hll_user_rollup`: per-event_type user
    sketches maintained by Structured Streaming state (update-mode
    aggregation — each micro-batch emits the new cumulative sketch for
    the types it touched) and upserted through the exactly-once MERGE
    sink (batch-id replay guard + keyed MERGE). The stored table always
    holds a mergeable sketch per type — any consumer can union them
    further (day→month→total) without touching raw events, and restart
    replays cannot double-count (sketch re-upsert is idempotent: same
    key, register-max state).

    Output (rows-only driver check): (event_type, approx_users,
    n_events); the REAL contract — streamed estimate ≡ one-shot batch
    sketch estimate, which holds because HLL register-max is
    order/batching-invariant — is pinned by tests/test_approx_sketches.py.
    """
    from etl_mini_dw_spark.plans.sketches import HLL_LGK

    sketches = replay_events(spark, sf_dir).groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("user_sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return merge_sink(sketches, ["event_type"]).select(
        "event_type",
        F.hll_sketch_estimate("user_sketch").alias("approx_users"),
        "n_events",
    )


def _sentinel_landing_dir(spark: SparkSession, sf_dir: str) -> str:
    """Bounded-replay landing dir: the real events file (symlinked, not
    copied) plus two far-future sentinel files.

    Stream-stream OUTER joins only emit unmatched rows once the
    watermark passes their eviction bound, and the bound is computed
    from the watermark AFTER Catalyst pushes the per-side event-type
    filter below the EventTimeWatermark node — so with a single bounded
    file the per-side watermark stops at that side's own max event time
    and the tail of the stream never evicts (measured: the latest click
    is never emitted as an orphan). Two sentinel files — each carrying
    one far-future 'click' and one far-future 'purchase' on reserved
    negative user_ids that can never join — advance BOTH sides'
    watermarks in two extra micro-batches: batch N+1 (sentinel 1) makes
    every real row's eviction bound passable, batch N+2 (sentinel 2)
    runs with that watermark applied and flushes ALL real state,
    independent of no-data micro-batch timing. The harness is the
    file-source twin of closing a Kafka topic with an end-of-stream
    marker. mtimes are staggered so the file source replays in order.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = scratch_dir(prefix="stream_louter_landing_")
    real = os.path.join(sf_dir, "events.parquet")
    os.symlink(real, os.path.join(landing, "events.parquet"))

    schema = pq.read_schema(real)
    ts_field = schema.field("ts")

    def _ts_value(year: int):
        from datetime import datetime, timezone

        dt = datetime(year, 1, 1, tzinfo=timezone.utc)
        if pa.types.is_timestamp(ts_field.type):
            return dt.replace(tzinfo=None)
        # ns-long rounds (nanosAsLong schema variant)
        return int(dt.timestamp()) * 1_000_000_000

    now = os.path.getmtime(real)
    for i, year in enumerate((2090, 2091), start=1):
        cols = {}
        for f in schema:
            if f.name == "ts":
                cols[f.name] = pa.array([_ts_value(year)] * 2, type=f.type)
            elif f.name == "event_id":
                cols[f.name] = pa.array([-(10 * i), -(10 * i + 1)], type=f.type)
            elif f.name == "user_id":
                cols[f.name] = pa.array([-1, -2], type=f.type)
            elif f.name == "event_type":
                cols[f.name] = pa.array(["click", "purchase"], type=f.type)
            elif f.name == "value":
                cols[f.name] = pa.array([0.0, 0.0], type=f.type)
            else:  # props or future string columns
                cols[f.name] = pa.array(["{}", "{}"], type=f.type)
        path = os.path.join(landing, f"sentinel{i}.parquet")
        pq.write_table(pa.table(cols, schema=schema), path)
        os.utime(path, (now + 1000 * i, now + 1000 * i))
    return landing


def streaming_left_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM **left outer** interval join: every click either
    attributed to a purchase within ``ATTRIBUTION_WINDOW_MIN`` minutes
    or emitted as an orphan once the watermark proves no purchase can
    still arrive — the topology the inner attribution join cannot give
    (an unconverted-click report is exactly the rows the inner join
    drops).

    Both sides carry 0-delay watermarks and the join carries the time
    bound ⇒ bounded state; unmatched-left emission is watermark-gated,
    which the sentinel landing dir (see ``_sentinel_landing_dir``) makes
    deterministic on bounded replay — so the result equals the plain
    batch left join and the oracle is exact, not a weakened rows-only
    check. Sink is append-mode ``foreachBatch`` → parquet; the per-day
    rollup is a lazy batch aggregate over the sink.
    """
    landing = _sentinel_landing_dir(spark, sf_dir)
    events = replay_events(spark, sf_dir, landing).transform(events_ts_to_timestamp)

    def _side(event_type: str, alias: str):
        return (
            events.withWatermark("ts", "0 seconds")
            .filter(F.col("event_type") == event_type)
            .selectExpr(
                f"user_id AS {alias}_user", f"ts AS {alias}_ts", f"event_id AS {alias}_id"
            )
        )

    clicks, purchases = _side("click", "c"), _side("purchase", "p")
    pairs = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND "
            f"p_ts <= c_ts + INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES"
        ),
        "leftOuter",
    )
    joined = parquet_sink(pairs, "append", landing)
    return (
        joined.filter(F.col("c_user") >= 0)  # drop sentinel rows
        .groupBy(F.date_format("c_ts", "yyyy-MM-dd").alias("click_day"))
        .agg(
            F.count("p_id").cast("bigint").alias("n_attributed"),
            F.sum(F.when(F.col("p_id").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphan_clicks"),
        )
    )


STREAMING_LEFT_OUTER_SQL = f"""
WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
c AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'click'),
p AS (SELECT user_id, ts, event_id FROM ev WHERE event_type = 'purchase'),
j AS (
  SELECT c.ts AS c_ts, p.event_id AS p_id
  FROM c LEFT JOIN p
    ON c.user_id = p.user_id
   AND p.ts >= c.ts
   AND p.ts <= c.ts + INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTE
)
SELECT strftime(c_ts, '%Y-%m-%d') AS click_day,
       CAST(COUNT(p_id) AS BIGINT) AS n_attributed,
       CAST(COUNT(*) FILTER (p_id IS NULL) AS BIGINT) AS n_orphan_clicks
FROM j GROUP BY 1
"""


def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    keyed on (user_id, event_type) — the production variant of
    ``streaming_dedup_distinct_users``, whose unbounded key-state grows
    with |keys| forever. Here the state store evicts keys once the
    event-time watermark passes them: at 100 TB/day the state holds only
    the dedup horizon, not the corpus.

    Replay uses the sentinel landing dir so the watermark actually
    ADVANCES (two extra micro-batches) and eviction executes; all real
    rows arrive in batch 1, so within-horizon dedup equals the global
    DISTINCT and the oracle stays exact — re-admission of late keys, the
    semantic this variant trades away, is pinned by the UNBOUNDED
    variant's gate instead.
    """
    landing = _sentinel_landing_dir(spark, sf_dir)
    stream = (
        replay_events(spark, sf_dir, landing)
        .transform(events_ts_to_timestamp)
        .withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    deduped = parquet_sink(stream, "append", landing)
    return (
        deduped.filter(F.col("user_id") >= 0)  # drop sentinel rows
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


ASOF_SHIFT_DAYS = 10957  # ≈30 years, day-exact on both engines (no Feb-29 clamping)


def streaming_asof_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC **as-of** enrichment: each event joins the SCD2
    customer version valid at its (shifted) event time — the warehouse's
    core temporal resolve (J3) running IN-FLIGHT, so late events
    attribute to the attributes they had THEN, not to today's row. The
    11th topology; ``streaming_enriched_segments`` joins only the
    current snapshot, this one splits across versions.

    Static side = the full dimension history (dim-sized, broadcast by
    the planner); the stream side carries no state at all — stream-static
    joins need no watermark, so the result is batch-exact by
    construction. Events are shifted back ``ASOF_SHIFT_DAYS`` so the
    2024-vintage event log lands INSIDE the 1992–2000 dimension history
    and genuinely exercises version splitting (a pure-2024 timestamp
    would resolve every event to the open row).
    """
    from etl_mini_dw_spark import fixtures_spec as spec
    from etl_mini_dw_spark.operators import scd2

    dim = scd2.dim_initial(spark, sf_dir, spec.DIMS["customer"]).select(
        F.col("customer_nk").alias("nk"),
        F.col("customer_category_name").alias("category"),
        "active_from",
        "active_to",
    )
    stream = (
        replay_events(spark, sf_dir)
        .transform(events_ts_to_timestamp)
        .withColumn("eff_ts", F.expr(f"ts - INTERVAL {ASOF_SHIFT_DAYS} DAYS"))
        .join(
            dim,
            (F.col("user_id") == F.col("nk"))
            & (F.col("eff_ts") >= F.col("active_from"))
            & (F.col("eff_ts") < F.col("active_to")),
        )
        .select("event_id", "user_id", "category")
    )
    enriched = parquet_sink(stream, "append")
    return enriched.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


# --- streaming Count-Min maintenance (r5): the value-checked sketch ---------
CMS_STREAM_BATCHES = 3
CMS_STREAM_PROBES = 20


def _split_landing_dir(sf_dir: str, n_parts: int) -> str:
    """Landing dir with the events table split into ``n_parts`` files by
    ``event_id % n_parts`` (mtimes staggered so the file source replays
    them in order) — the bounded-replay stand-in for a Kafka topic that
    actually exercises multi-micro-batch state/merge paths, unlike a
    single-file source whose whole history lands in batch 0."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = scratch_dir(prefix="stream_cms_landing_")
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ids = tbl["event_id"].to_numpy()
    for i in range(n_parts):
        part = tbl.filter(pa.array(ids % n_parts == i))
        path = os.path.join(landing, f"part{i}.parquet")
        pq.write_table(part, path)
        mt = _time.time() - (n_parts - i) * 10
        os.utime(path, (mt, mt))
    return landing


def streaming_cms_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the Count-Min activity grid — the
    VALUE-CHECKED streaming sketch (the HLL twin is rows-only because
    DataSketches estimates are engine-specific; CMS cells are plain
    integers, so the streamed grid replays bit-identically in DuckDB).

    Topology: events split into 3 micro-batches (``_split_landing_dir``)
    → update-mode (r, bucket) count aggregation (each batch emits the
    new cumulative value of exactly the cells it touched) → exactly-once
    keyed MERGE into the stored grid. Because integer cell counts are
    order/batching-invariant, the final stored grid ≡ the one-shot batch
    grid — the property that makes per-shard/day sketch tables safe to
    maintain incrementally at 100 TB (same argument as the batch CMS
    shard-merge test). The returned report probes the top-20 users by
    exact activity against the STREAMED grid: (user_id, exact_count,
    cms_estimate, overestimate), estimate = min over d probed cells.
    """
    from etl_mini_dw_spark.plans.sketches import CMS_D, _cms_bucket_spark

    landing = _split_landing_dir(sf_dir, CMS_STREAM_BATCHES)
    stream = replay_events(spark, sf_dir, landing)
    cells_expr = (
        "array("
        + ", ".join(
            f"struct({r} AS r, {_cms_bucket_spark(r)} AS bucket)"
            for r in range(CMS_D)
        )
        + ")"
    )
    grid = (
        stream.select(F.md5(F.col("user_id").cast("string")).alias("h"))
        .select(F.explode(F.expr(cells_expr)).alias("cell"))
        .groupBy(
            F.col("cell.r").cast("int").alias("r"),
            F.col("cell.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # update mode ⇒ cumulative value per touched cell; MERGE overwrites
    sketch = merge_sink(grid, ["r", "bucket"], landing)
    exact = (
        typed_table(spark, sf_dir, "events")
        .select(F.col("user_id"), F.md5(F.col("user_id").cast("string")).alias("h"))
        .groupBy("user_id", "h")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "user_id")
        .limit(CMS_STREAM_PROBES)
    )
    probes = exact.select(
        "user_id",
        "exact_count",
        F.explode(F.expr(cells_expr)).alias("cell"),
    ).select(
        "user_id",
        "exact_count",
        F.col("cell.r").cast("int").alias("r"),
        F.col("cell.bucket").alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("c").cast("bigint").alias("cms_estimate"))
        .select(
            "user_id",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
    )


def streaming_cms_sql() -> str:
    from etl_mini_dw_spark.plans.sketches import CMS_D, _cms_bucket_sql

    bucket_arms = ",\n           ".join(
        f"struct_pack(r := {r}, bucket := {_cms_bucket_sql(r)})" for r in range(CMS_D)
    )
    return f"""
WITH u AS (
  SELECT user_id, md5(CAST(user_id AS VARCHAR)) AS h FROM events
),
cells AS (
  SELECT c.r AS r, c.bucket AS bucket FROM (
    SELECT unnest([{bucket_arms}]) AS c FROM u)
),
sketch AS (
  SELECT CAST(r AS INTEGER) AS r, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM cells GROUP BY r, bucket
),
exact AS (
  SELECT user_id, h, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM u GROUP BY user_id, h
  ORDER BY exact_count DESC, user_id LIMIT {CMS_STREAM_PROBES}
),
probes AS (
  SELECT user_id, exact_count, c.r AS r, c.bucket AS bucket FROM (
    SELECT user_id, exact_count, unnest([{bucket_arms}]) AS c FROM exact)
)
SELECT p.user_id, p.exact_count, CAST(MIN(s.c) AS BIGINT) AS cms_estimate,
       CAST(MIN(s.c) - p.exact_count AS BIGINT) AS overestimate
FROM probes p JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
GROUP BY p.user_id, p.exact_count
"""


# --- Streaming HDR-histogram maintenance (topology #13) ----------------------

HDR_STREAM_BATCHES = 3


def streaming_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the HDR quantile histogram — the second
    VALUE-CHECKED streaming sketch (with the CMS grid; the HLL twin
    stays rows-only). Event values are integer cents; the log-spaced
    bucket lower bound is pure shift arithmetic, so the streamed
    (lb, cnt) histogram replays bit-identically in DuckDB.

    Topology: events in 3 micro-batches → update-mode (lb, cnt)
    aggregation → exactly-once keyed MERGE into the stored histogram.
    Integer cell counts are order/batching-invariant, so the streamed
    store ≡ the one-shot batch histogram (pinned in
    tests/test_approx_sketches.py) — the property that lets per-shard
    quantile tables merge incrementally at 100 TB. The report reads 5
    quantiles off the STREAMED histogram against the exact order
    statistics of the batch table: (quantile, rank, exact_c, est_c,
    rel_err), with the DDSketch guarantee rel_err ∈ (−2^−5, 0].
    """
    from etl_mini_dw_spark.plans.sketches import _hdr_lb_expr, hdr_report

    landing = _split_landing_dir(sf_dir, HDR_STREAM_BATCHES)
    hist = (
        replay_events(spark, sf_dir, landing)
        .select(
            (F.col("value").cast("decimal(14,2)") * 100)
            .cast("bigint")
            .alias("v")
        )
        .filter(F.col("v") > 0)
        .groupBy(F.expr(_hdr_lb_expr("v")).alias("lb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    sketch = merge_sink(hist, ["lb"], landing)
    vals = (
        typed_table(spark, sf_dir, "events")
        .select((F.col("value") * 100).cast("bigint").alias("v"))
        .filter(F.col("v") > 0)
    )
    return hdr_report(sketch, vals)


def streaming_hdr_sql() -> str:
    """Oracle: the batch HDR pipeline over events.value — valid because
    integer (lb, cnt) cells make streamed ≡ batch (pinned in pytest)."""
    from etl_mini_dw_spark.plans.sketches import HDR_QSPECS, HDR_SUB_BITS

    s = f"greatest(length(bin(v)) - 1 - {HDR_SUB_BITS}, 0)"
    lb = f"((v >> ({s})) << ({s}))"
    specs = "\nUNION ALL\n".join(
        f"SELECT '{label}' AS quantile,"
        f" CAST(((n - 1) * {num}) // {den} + 1 AS BIGINT) AS rank FROM n"
        for label, num, den in HDR_QSPECS
    )
    return f"""
WITH vals AS MATERIALIZED (
  SELECT CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS v
  FROM events
  WHERE CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) > 0
),
cum_hist AS MATERIALIZED (
  SELECT lb, SUM(cnt) OVER (ORDER BY lb) AS cum FROM (
    SELECT {lb} AS lb, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY 1)
),
cum_v AS MATERIALIZED (
  SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM (
    SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY 1)
),
n AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
ranks AS MATERIALIZED ({specs}),
est AS (
  SELECT quantile, rank, MIN(lb) AS est_c
  FROM cum_hist, ranks WHERE cum >= rank GROUP BY 1, 2
),
exact AS (
  SELECT quantile, MIN(v) AS exact_c
  FROM cum_v, ranks WHERE cum >= rank GROUP BY 1
)
SELECT e.quantile, e.rank, x.exact_c, e.est_c,
       round(CAST(e.est_c - x.exact_c AS DOUBLE)
             / CAST(x.exact_c AS DOUBLE), 6) AS rel_err
FROM est e JOIN exact x ON x.quantile = e.quantile
ORDER BY e.quantile
"""


# --- Streaming Bloom-filter maintenance (topology #14) -------------------------

BLOOM_STREAM_BATCHES = 3
BLOOM_ABSENT_PROBES = 50
BLOOM_PRESENT_PROBES = 20


def streaming_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of a user-membership Bloom filter — the
    THIRD value-checked streaming sketch (CMS counts, HDR quantiles,
    now set membership). bit_or is order/batching-invariant, so the
    streamed (word, bits) table is BIT-IDENTICAL to the one-shot batch
    filter and replays exactly in DuckDB.

    Topology: events in 3 micro-batches → update-mode per-word bit_or →
    exactly-once keyed MERGE into the stored filter. The report probes
    the STREAMED filter with the ``BLOOM_PRESENT_PROBES`` most active
    users (the no-false-negative guarantee: all must test positive) and
    ``BLOOM_ABSENT_PROBES`` user ids beyond the id range (the measured
    false-positive rate): (probe_kind, n_probes, n_positive, rate).
    """
    from etl_mini_dw_spark.functions.sampling import BLOOM_BITS, BLOOM_WORD

    h1 = "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 7), 16, 10) AS BIGINT)"
    h2 = "CAST(conv(substr(md5(CAST(user_id AS STRING)), 9, 7), 16, 10) AS BIGINT)"

    def word_bits(df: DataFrame) -> DataFrame:
        hashed = df.select(
            F.expr(h1).alias("h1"), F.expr(h2).alias("h2")
        )
        return (
            hashed.select(
                F.explode(
                    F.array(
                        F.pmod(F.col("h1"), F.lit(BLOOM_BITS)),
                        F.pmod(F.col("h1") + F.col("h2"), F.lit(BLOOM_BITS)),
                    )
                ).alias("pos")
            )
            .select(
                F.expr(f"pos div {BLOOM_WORD}").cast("int").alias("word"),
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT),"
                    f" CAST(pos % {BLOOM_WORD} AS INT))"
                ).alias("mask"),
            )
            .groupBy("word")
            .agg(F.expr("bit_or(mask)").alias("bits"))
        )

    landing = _split_landing_dir(sf_dir, BLOOM_STREAM_BATCHES)
    filt = word_bits(replay_events(spark, sf_dir, landing).select("user_id"))
    # update mode emits the cumulative bit_or of every touched word
    sketch = merge_sink(filt, ["word"], landing)
    ev = typed_table(spark, sf_dir, "events")
    present = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "user_id")
        .limit(BLOOM_PRESENT_PROBES)
        .select("user_id", F.lit("present").alias("probe_kind"))
    )
    max_user = ev.agg(F.max("user_id").alias("mx"))
    absent = max_user.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, {BLOOM_ABSENT_PROBES}),"
                f" i -> mx + CAST(i AS BIGINT))"
            )
        ).alias("user_id"),
        F.lit("absent").alias("probe_kind"),
    )
    probes = present.unionByName(absent).select(
        "probe_kind",
        F.col("user_id").alias("pid"),  # probe identity BEFORE the explode
        F.expr(h1).alias("h1"),
        F.expr(h2).alias("h2"),
    ).localCheckpoint(eager=False)
    tests = probes.select(
        "probe_kind",
        "pid",
        F.explode(
            F.array(
                F.pmod(F.col("h1"), F.lit(BLOOM_BITS)),
                F.pmod(F.col("h1") + F.col("h2"), F.lit(BLOOM_BITS)),
            )
        ).alias("pos"),
    ).select(
        "probe_kind",
        "pid",
        F.expr(f"pos div {BLOOM_WORD}").cast("int").alias("word"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD} AS INT))"
        ).alias("mask"),
    )
    verdicts = (
        tests.join(F.broadcast(sketch), "word", "left")
        .select(
            "probe_kind",
            "pid",
            (
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
                != 0
            )
            .cast("int")
            .alias("hit"),
        )
        .groupBy("probe_kind", "pid")
        .agg(F.min("hit").alias("pos_all"))  # positive iff BOTH bits set
    )
    return (
        verdicts.groupBy("probe_kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum("pos_all").cast("bigint").alias("n_positive"),
        )
        .select(
            "probe_kind",
            "n_probes",
            "n_positive",
            F.round(
                F.col("n_positive") / F.col("n_probes").cast("double"), 6
            ).alias("rate"),
        )
        .orderBy("probe_kind")
    )


def streaming_bloom_sql() -> str:
    """Oracle: the one-shot batch filter (streamed ≡ batch because
    bit_or is order/batching-invariant — pinned in pytest)."""
    from etl_mini_dw_spark.functions.sampling import BLOOM_BITS, BLOOM_WORD

    h1 = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 7))::BIGINT"
    h2 = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 7))::BIGINT"
    return f"""
WITH hashed AS (
  SELECT {h1} AS h1, {h2} AS h2 FROM events
),
positions AS (
  SELECT unnest([h1 % {BLOOM_BITS}, (h1 + h2) % {BLOOM_BITS}]) AS pos
  FROM hashed
),
sketch AS MATERIALIZED (
  SELECT CAST(pos // {BLOOM_WORD} AS INTEGER) AS word,
         CAST(bit_or(1::BIGINT << CAST(pos % {BLOOM_WORD} AS INTEGER))
              AS BIGINT) AS bits
  FROM positions GROUP BY 1
),
present AS (
  SELECT user_id, 'present' AS probe_kind
  FROM (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
        ORDER BY n DESC, user_id LIMIT {BLOOM_PRESENT_PROBES})
),
absent AS (
  SELECT (SELECT MAX(user_id) FROM events) + CAST(i AS BIGINT) AS user_id,
         'absent' AS probe_kind
  FROM range(1, {BLOOM_ABSENT_PROBES} + 1) t(i)
),
probes AS (
  SELECT probe_kind, user_id,
         {h1} AS h1, {h2} AS h2
  FROM (SELECT * FROM present UNION ALL SELECT * FROM absent)
),
verdicts AS (
  SELECT p.probe_kind, p.user_id,
         CASE WHEN COALESCE(s1.bits, 0)
                   & (1::BIGINT << CAST((p.h1 % {BLOOM_BITS})
                                        % {BLOOM_WORD} AS INTEGER)) <> 0
               AND COALESCE(s2.bits, 0)
                   & (1::BIGINT << CAST(((p.h1 + p.h2) % {BLOOM_BITS})
                                        % {BLOOM_WORD} AS INTEGER)) <> 0
              THEN 1 ELSE 0 END AS pos_all
  FROM probes p
  LEFT JOIN sketch s1
    ON s1.word = CAST((p.h1 % {BLOOM_BITS}) // {BLOOM_WORD} AS INTEGER)
  LEFT JOIN sketch s2
    ON s2.word = CAST(((p.h1 + p.h2) % {BLOOM_BITS}) // {BLOOM_WORD}
                      AS INTEGER)
)
SELECT probe_kind,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(pos_all) AS BIGINT) AS n_positive,
       round(CAST(SUM(pos_all) AS DOUBLE) / COUNT(*), 6) AS rate
FROM verdicts
GROUP BY probe_kind
ORDER BY probe_kind
"""
