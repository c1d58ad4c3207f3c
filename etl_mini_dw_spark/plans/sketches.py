"""Mergeable approximate sketches for pre-aggregated rollups (extension).

THE 100 TB distinct-count pattern: you cannot afford a full distinct
shuffle per (dashboard filter × time range), so the warehouse stores a
fixed-size HLL sketch per finest grain (day × event_type here) and every
coarser rollup MERGES sketches instead of touching raw data — the
classic Druid/Snowflake/BigQuery materialized-rollup design. Spark 3.5+
ships Apache DataSketches HLL natively (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``), all JVM-side partial
aggregates with map-side combine.

Not oracle-hashable by design (the estimate is engine-specific), so the
driver does a rows-only check; the REAL contracts — estimate within rsd
tolerance of the exact count, and merge-of-daily-sketches ≡ one-shot
sketch (the property that makes stored rollups trustworthy) — are pinned
by tests/test_approx_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mini_dw_spark.sources.tables import typed_table

HLL_LGK = 14  # 2^14 registers ≈ 0.8% rsd, ~16 KB per sketch


def _daily_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finest-grain stored rollup: one user-HLL per (day, event_type)."""
    ev = typed_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("user_sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )


def hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type, computed by MERGING daily sketches.

    Raw data is touched exactly once (the daily grain); the per-type
    answer is a union of ~days sketches — the query a 100 TB dashboard
    actually runs. Exact counterpart for the tolerance test:
    ``countDistinct(user_id) GROUP BY event_type``.
    """
    return (
        _daily_sketches(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("user_sketch", F.lit(False))
            ).alias("approx_users"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).alias("n_day_sketches"),
        )
    )


# --- Count-Min sketch token counter (exact-oracle-able integer sketch) ------
# The HLL rollup's counterpart for FREQUENCIES: a d×w counter grid whose
# cells are plain partial-aggregable sums, so (unlike HLL's engine-
# specific estimate) the whole sketch AND its estimates replay
# bit-identically in DuckDB. Mergeable the same way stored HLL rollups
# are: shard/day sketches add cell-wise (integer sums commute).
CMS_D = 4  # hash rows
CMS_W = 1024  # buckets per row
CMS_PROBES = 20  # report the top-K exact tokens vs their CMS estimate

# four independent 28-bit hashes from ONE md5 per token (the bloom
# double-hash trick extended: hex offsets 1/8/15/22 of the 32-char digest)
_CMS_OFFSETS = [1, 8, 15, 22]


def _cms_bucket_spark(r: int) -> str:
    return (
        f"pmod(CAST(conv(substr(h, {_CMS_OFFSETS[r]}, 7), 16, 10) AS BIGINT),"
        f" {CMS_W})"
    )


def _cms_bucket_sql(r: int, h: str = "h") -> str:
    # the '0x…'-string → BIGINT cast needs DuckDB >= 0.10 (fine on the
    # pinned 1.0.0); on older DuckDB fall back to from_hex()/positional
    # digit arithmetic — same class of portability trap as CLAUDE.md's
    # strpos/locate and xor notes
    return f"(('0x' || substr({h}, {_CMS_OFFSETS[r]}, 7))::BIGINT) % {CMS_W}"


def _token_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_mini_dw_spark.functions.text import _token_frame

    return (
        _token_frame(spark, sf_dir)
        .select(F.explode("toks").alias("token"))
        .select("token", F.md5("token").alias("h"))
    )


def cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(r, bucket, c): the d×w counter grid — ≤ 4096 rows regardless of
    corpus size; the shuffle moves only per-partition partial cells."""
    cells = _token_md5(spark, sf_dir).select(
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({r} AS r, {_cms_bucket_spark(r)} AS bucket)"
                    for r in range(CMS_D)
                )
                + ")"
            )
        ).alias("cell")
    )
    return (
        cells.groupBy(
            F.col("cell.r").cast("int").alias("r"),
            F.col("cell.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, exact_count, cms_estimate, overestimate) for the top-K
    tokens by exact count: estimate = min over the d probed cells —
    always ≥ exact (the CMS guarantee, pinned in tests)."""
    sketch = cms_sketch(spark, sf_dir)
    exact = (
        _token_md5(spark, sf_dir)
        .groupBy("token", "h")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "token")
        .limit(CMS_PROBES)
    )
    probes = exact.select(
        "token",
        "exact_count",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({r} AS r, {_cms_bucket_spark(r)} AS bucket)"
                    for r in range(CMS_D)
                )
                + ")"
            )
        ).alias("cell"),
    ).select(
        "token",
        "exact_count",
        F.col("cell.r").cast("int").alias("r"),
        F.col("cell.bucket").alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "token",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
    )


def cms_token_counts_sql() -> str:
    from etl_mini_dw_spark.functions.text import TOKEN_RE

    bucket_arms = ",\n           ".join(
        f"struct_pack(r := {r}, bucket := {_cms_bucket_sql(r)})" for r in range(CMS_D)
    )
    return f"""
WITH tok AS (
  SELECT token, md5(token) AS h FROM (
    SELECT lower(unnest(regexp_extract_all(text, '{TOKEN_RE}'))) AS token
    FROM documents)
),
cells AS (
  SELECT c.r AS r, c.bucket AS bucket FROM (
    SELECT unnest([{bucket_arms}]) AS c FROM tok)
),
sketch AS (
  SELECT CAST(r AS INTEGER) AS r, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM cells GROUP BY r, bucket
),
exact AS (
  SELECT token, h, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM tok GROUP BY token, h
  ORDER BY exact_count DESC, token LIMIT {CMS_PROBES}
),
probes AS (
  SELECT token, exact_count, c.r AS r, c.bucket AS bucket FROM (
    SELECT token, exact_count, unnest([{bucket_arms}]) AS c FROM exact)
)
SELECT p.token, p.exact_count, CAST(MIN(s.c) AS BIGINT) AS cms_estimate,
       CAST(MIN(s.c) - p.exact_count AS BIGINT) AS overestimate
FROM probes p JOIN sketch s ON s.r = p.r AND s.bucket = p.bucket
GROUP BY p.token, p.exact_count
"""


# --- portable HLL register sketch (exact-replayable distinct sketch) ---------
# The Spark-native DataSketches rollup above is the production path but
# its estimate is engine-specific (rows-only driver check). This is its
# VALUE-CHECKED counterpart: classic Flajolet-Fuertes-Gandouet-Meunier
# HyperLogLog built from md5 bits with plain integer/string ops, so the
# register table AND the estimate replay bit-identically in DuckDB —
# the same exact-replayable-sketch discipline as the Count-Min grid.
#
# Layout per element: h = md5(value); bucket = first 2 hex digits
# (p=8, m=256); w = next 13 hex digits (52 bits, exactly representable
# in BIGINT and in a double, so both engines agree); rho(w) = leading
# zeros of the 52-bit field + 1 = 53 - length(bin(w)) (w>0), else 53.
# The harmonic denominator Σ 2^(-R_j) is kept EXACT by scaling with
# 2^53: Σ 2^(53-R_j) ≤ 256·2^53 = 2^61 fits BIGINT, so the only
# floating-point steps are one literal·1/S division and (in the sparse
# regime) one ln() — both pinned by round(, 4) on each engine.
HLLP_P = 8
HLLP_M = 1 << HLLP_P  # 256 registers
HLLP_WBITS = 52  # 13 hex digits of the md5 tail
_HLLP_ALPHA = 0.7213 / (1 + 1.079 / HLLP_M)
# α·m²·2^53 as ONE double literal (repr round-trips exactly), so the
# raw estimate is a single IEEE division — identical on both engines
_HLLP_NUM = repr(_HLLP_ALPHA * (HLLP_M * HLLP_M) * float(1 << 53))


def hll_register_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_exact, n_zero_registers, harmonic_scaled,
    hll_estimate, rel_error): distinct users per event_type estimated by
    a portable 256-register HLL, side-by-side with the exact count.

    Scale shape is identical to the stored-rollup path: the register
    build is ONE partial-aggregable max shuffle producing ≤ m rows per
    group (register tables merge cell-wise like the CMS grid and the
    DataSketches rollups), the 256-bucket spine join is broadcast-sized,
    and the exact count — present here only to expose the sketch error —
    is the thing a 100 TB deployment drops. Small-range (linear
    counting) correction applies below 2.5·m exactly as published;
    estimates and errors are rounded on BOTH engines (wide-double
    portability rule, CLAUDE.md)."""
    ev = typed_table(spark, sf_dir, "events").select("event_type", "user_id")
    hashed = ev.select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("h")
    )
    w = f"CAST(conv(substr(h, 3, 13), 16, 10) AS BIGINT)"
    rho = (
        f"CAST(CASE WHEN {w} = 0 THEN {HLLP_WBITS + 1} "
        f"ELSE {HLLP_WBITS + 1} - length(bin({w})) END AS INT)"
    )
    regs = (
        hashed.select(
            "event_type",
            F.expr(f"CAST(conv(substr(h, 1, 2), 16, 10) AS BIGINT)").alias(
                "bucket"
            ),
            F.expr(rho).alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(HLLP_M - 1))).alias("bucket"),
        )
    )
    dense = spine.join(regs, ["event_type", "bucket"], "left").select(
        "event_type", "bucket", F.coalesce("r", F.lit(0)).alias("r")
    )
    agg = dense.groupBy("event_type").agg(
        F.sum(F.expr("CAST(power(2, 53 - r) AS BIGINT)"))
        .cast("bigint")
        .alias("harmonic_scaled"),
        F.sum(F.when(F.col("r") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_registers"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    est = (
        f"CASE WHEN ({_HLLP_NUM} / harmonic_scaled) <= {2.5 * HLLP_M} "
        f"AND n_zero_registers > 0 "
        f"THEN round({float(HLLP_M)} * ln({float(HLLP_M)} / n_zero_registers), 4) "
        f"ELSE round({_HLLP_NUM} / harmonic_scaled, 4) END"
    )
    return (
        agg.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            "n_zero_registers",
            "harmonic_scaled",
            F.expr(est).alias("hll_estimate"),
        )
        .select(
            "*",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("n_exact"))
                / F.col("n_exact"),
                6,
            ).alias("rel_error"),
        )
    )


def hll_register_rollup_sql() -> str:
    w = "(('0x' || substr(h, 3, 13))::BIGINT)"  # DuckDB >= 0.10 hex cast
    return f"""
WITH ev AS (SELECT event_type, user_id FROM events),
hashed AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM ev
),
regs AS (
  SELECT event_type,
         (('0x' || substr(h, 1, 2))::BIGINT) AS bucket,
         MAX(CASE WHEN {w} = 0 THEN {HLLP_WBITS + 1}
                  ELSE {HLLP_WBITS + 1} - length(bin({w})) END) AS r
  FROM hashed GROUP BY 1, 2
),
spine AS (
  SELECT event_type, CAST(b AS BIGINT) AS bucket
  FROM (SELECT DISTINCT event_type FROM ev), (SELECT unnest(range(0, {HLLP_M})) AS b)
),
dense AS (
  SELECT s.event_type, s.bucket, COALESCE(regs.r, 0) AS r
  FROM spine s LEFT JOIN regs ON regs.event_type = s.event_type AND regs.bucket = s.bucket
),
agg AS (
  SELECT event_type,
         CAST(SUM(CAST(power(2, 53 - r) AS BIGINT)) AS BIGINT) AS harmonic_scaled,
         CAST(SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_registers
  FROM dense GROUP BY 1
),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM ev GROUP BY 1
),
est AS (
  SELECT a.event_type, e.n_exact, a.n_zero_registers, a.harmonic_scaled,
         CASE WHEN ({_HLLP_NUM} / a.harmonic_scaled) <= {2.5 * HLLP_M}
                   AND a.n_zero_registers > 0
              THEN round({float(HLLP_M)} * ln({float(HLLP_M)} / a.n_zero_registers), 4)
              ELSE round({_HLLP_NUM} / a.harmonic_scaled, 4) END AS hll_estimate
  FROM agg a JOIN exact e USING (event_type)
)
SELECT event_type, n_exact, n_zero_registers, harmonic_scaled, hll_estimate,
       round(abs(hll_estimate - n_exact) / n_exact, 6) AS rel_error
FROM est
"""


# --- CMS join-size estimation (r5): sketches for the optimizer --------------
# The OTHER thing a frequency sketch buys a warehouse: |A ⋈ B| on a key
# is the inner product of the two key-frequency vectors, and the CMS
# estimate of an inner product is min over rows r of Σ_b A_r[b]·B_r[b]
# (Cormode & Muthukrishnan 2005, §4.2) — never an underestimate. This is
# how an optimizer prices a join from two tiny grids without touching
# either table. USABILITY BOUNDARY (deliberately exposed by the two
# metrics below): the additive error is ε·‖a‖₁·‖b‖₁ with ε ≈ e/w, so the
# estimate is informative only when the true join size clears that noise
# floor — a skewed self-join (second frequency moment, the classic AMS
# application) does; a PK–FK join whose output ≈ fact-row-count sits far
# below it and the estimate reads as the collision floor. The report
# shows BOTH so the failure mode is measured, not hidden.


def _cms_key_grid(df: DataFrame, key: str) -> DataFrame:
    """(r, bucket, c): CMS grid of a key column's frequency vector."""
    cells = df.select(F.md5(F.col(key).cast("string")).alias("h")).select(
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({r} AS r, {_cms_bucket_spark(r)} AS bucket)"
                    for r in range(CMS_D)
                )
                + ")"
            )
        ).alias("cell")
    )
    return cells.groupBy(
        F.col("cell.r").cast("int").alias("r"), F.col("cell.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))


def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(metric, r, est_r, exact_rows, overestimate): per-hash-row CMS
    inner products vs the exact join cardinality, for (a) the skewed
    events×events self-join on user_id — the F2/self-join-size case the
    estimator is FOR, estimate within a small factor — and (b) the
    orders⋈lineitem PK–FK join, whose true size sits below the ε·N·M
    noise floor (the overestimate IS the measured floor). The published
    estimator is min(est_r); overestimate ≥ 0 on every row (collisions
    only add), pinned in tests. Exact sides come from per-key count
    aggregates (Σ na·nb), never from materializing the joins.

    Scale: grid builds are one partial-aggregable shuffle each with
    ≤ d·w cells out; the estimate join moves 4096 rows per side. An
    optimizer keeps only the grids — the exact columns exist here to
    expose the error."""
    ev = typed_table(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    orders = typed_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = typed_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )

    def one(label: str, a: DataFrame, b: DataFrame) -> DataFrame:
        ga, gb = _cms_key_grid(a, "k"), _cms_key_grid(b, "k")
        est = (
            ga.join(gb.withColumnRenamed("c", "c2"), ["r", "bucket"])
            .groupBy("r")
            .agg(F.sum(F.col("c") * F.col("c2")).cast("bigint").alias("est_r"))
        )
        ca = a.groupBy("k").agg(F.count(F.lit(1)).alias("na"))
        cb = b.groupBy("k").agg(F.count(F.lit(1)).alias("nb"))
        exact = ca.join(cb, "k").agg(
            F.sum(F.col("na") * F.col("nb")).cast("bigint").alias("exact_rows")
        )
        return est.crossJoin(F.broadcast(exact)).select(
            F.lit(label).alias("metric"),
            "r",
            "est_r",
            "exact_rows",
            (F.col("est_r") - F.col("exact_rows")).alias("overestimate"),
        )

    return one("events_selfjoin_user_id", ev, ev).unionByName(
        one("orders_lineitem_orderkey", orders, li)
    )


def cms_join_size_sql() -> str:
    bucket_arms = ",\n           ".join(
        f"struct_pack(r := {r}, bucket := {_cms_bucket_sql(r)})" for r in range(CMS_D)
    )

    def grid(src_sql: str) -> str:
        return f"""
  SELECT CAST(c.r AS INTEGER) AS r, c.bucket AS bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT unnest([{bucket_arms}]) AS c
    FROM (SELECT md5(CAST(k AS VARCHAR)) AS h FROM ({src_sql}))
  ) GROUP BY 1, 2
"""

    def one(label: str, a_sql: str, b_sql: str) -> str:
        return f"""
SELECT '{label}' AS metric, r, est_r, exact_rows, est_r - exact_rows AS overestimate
FROM (
  WITH ga AS ({grid(a_sql)}),
  gb AS ({grid(b_sql)}),
  est AS (
    SELECT ga.r, CAST(SUM(ga.c * gb.c) AS BIGINT) AS est_r
    FROM ga JOIN gb ON ga.r = gb.r AND ga.bucket = gb.bucket
    GROUP BY ga.r
  ),
  exact AS (
    SELECT CAST(SUM(na * nb) AS BIGINT) AS exact_rows FROM (
      SELECT k, COUNT(*) AS na FROM ({a_sql}) GROUP BY k) a
    JOIN (
      SELECT k, COUNT(*) AS nb FROM ({b_sql}) GROUP BY k) b
    USING (k)
  )
  SELECT r, est_r, exact_rows FROM est, exact
)
"""

    ev = "SELECT user_id AS k FROM events"
    o = "SELECT o_orderkey AS k FROM orders"
    l = "SELECT l_orderkey AS k FROM lineitem"
    return (
        one("events_selfjoin_user_id", ev, ev)
        + "\nUNION ALL\n"
        + one("orders_lineitem_orderkey", o, l)
    )


# --- HDR-histogram quantile sketch -------------------------------------------
#
# The mergeable-quantile member of the sketch family (CMS = frequency,
# HLL = cardinality, Bloom = membership; this = rank). The bucketing is
# the HDR-histogram / DDSketch idea — log-spaced buckets give bounded
# RELATIVE error — but realized in PURE INTEGER arithmetic so both
# engines bucket bit-identically: bucket lower bound = the value with
# everything below its top (1 + HDR_SUB_BITS) bits cleared,
#
#   shift = max(bitlen(v) − 1 − HDR_SUB_BITS, 0)
#   lb    = (v >> shift) << shift
#
# (bitlen via length(bin(v)) — the HLL rho trick). A float log_γ(x)
# bucketer would flip buckets on boundary values whenever the two
# engines' ln differ by an ulp; shifts cannot. Guarantee: the true
# quantile q lies in [lb, lb·(1+2^−HDR_SUB_BITS)), so est_c ≤ exact_c
# and rel_err ∈ (−2^−HDR_SUB_BITS, 0].
#
# Mergeability (the 100 TB point): a shard's sketch is its (lb, cnt)
# histogram — ≤ ~(64−S)·2^S + 2^(S+1) ≈ 2k rows regardless of data size —
# and merging shards is summing counts; shard-merge ≡ global is pinned
# in tests/test_approx_sketches.py. The exact side's full-resolution
# cumulative window is the verification oracle only (same 100 TB swap
# note as the KS/AUC cumulatives).

HDR_SUB_BITS = 5  # 32 sub-buckets per octave → rel err ≤ 1/32 ≈ 3.1%
HDR_QSPECS = [("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10), ("p99", 99, 100)]


def _hdr_lb_expr(v: str) -> str:
    s = f"greatest(length(bin({v})) - 1 - {HDR_SUB_BITS}, 0)"
    return f"shiftleft(shiftright({v}, {s}), {s})"


def hdr_report(hist: DataFrame, vals: DataFrame) -> DataFrame:
    """(quantile, rank, exact_c, est_c, rel_err): each ``HDR_QSPECS``
    quantile estimated from the ``(lb, cnt)`` histogram ``hist`` vs the
    exact order statistic of the integer values ``vals.v``, with the
    signed relative error. The batch sketch and the streamed one share
    this report."""
    wcum = Window.orderBy("lb").rowsBetween(Window.unboundedPreceding, 0)
    cum_hist = hist.select("lb", F.sum("cnt").over(wcum).alias("cum"))
    by_v = vals.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum_v = by_v.select("v", F.sum("cnt").over(wv).alias("cum"))
    n = vals.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranks = None
    for label, num, den in HDR_QSPECS:
        r = n.select(
            F.lit(label).alias("quantile"),
            F.expr(f"((n - 1) * {num}) div {den} + 1").cast("bigint").alias("rank"),
        )
        ranks = r if ranks is None else ranks.unionByName(r)
    est = (
        cum_hist.crossJoin(F.broadcast(ranks))
        .filter(F.col("cum") >= F.col("rank"))
        .groupBy("quantile", "rank")
        .agg(F.min("lb").alias("est_c"))
    )
    exact = (
        cum_v.crossJoin(F.broadcast(ranks))
        .filter(F.col("cum") >= F.col("rank"))
        .groupBy("quantile")
        .agg(F.min("v").alias("exact_c"))
    )
    return (
        # both sides are |quantiles|-row derived frames with no stats —
        # without the hint the join compiles to SortMergeJoin once the
        # upstream size estimate crosses the broadcast threshold (seen
        # at sf0.01; the r5 trigram-spine trap, CLAUDE.md)
        est.join(F.broadcast(exact), "quantile")
        .select(
            "quantile",
            "rank",
            "exact_c",
            "est_c",
            F.round(
                (F.col("est_c") - F.col("exact_c")).cast("double")
                / F.col("exact_c").cast("double"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("quantile")
    )


def hdr_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(quantile, rank, exact_c, est_c, rel_err): o_totalprice quantiles
    (in exact cents) estimated from the integer HDR histogram vs the
    exact order statistic, with the signed relative error."""
    orders = typed_table(spark, sf_dir, "orders")
    vals = orders.select(
        (F.col("o_totalprice") * 100).cast("bigint").alias("v")
    )
    hist = vals.groupBy(F.expr(_hdr_lb_expr("v")).alias("lb")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return hdr_report(hist, vals)


def hdr_quantile_sketch_sql() -> str:
    # DuckDB spells the shifts as operators
    s = f"greatest(length(bin(v)) - 1 - {HDR_SUB_BITS}, 0)"
    lb = f"((v >> ({s})) << ({s}))"
    specs = "\nUNION ALL\n".join(
        f"SELECT '{label}' AS quantile, CAST(((n - 1) * {num}) // {den} + 1 AS BIGINT) AS rank FROM n"
        for label, num, den in HDR_QSPECS
    )
    return f"""
WITH vals AS MATERIALIZED (
  SELECT CAST(o_totalprice * 100 AS BIGINT) AS v FROM orders
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
       round(CAST(e.est_c - x.exact_c AS DOUBLE) / CAST(x.exact_c AS DOUBLE), 6) AS rel_err
FROM est e JOIN exact x ON x.quantile = e.quantile
ORDER BY e.quantile
"""


# --- HDR sketch rollup: monthly shards → quarterly quantiles -------------------
#
# The stored-sketch pattern AS A QUERY: build the (lb, cnt) HDR
# histogram PER ORDER-MONTH (the shard grain a 100 TB table would
# persist next to each partition), merge months into quarters by plain
# cell addition — the mergeability the sketch family exists for — and
# read the quarterly p95 off the merged histogram against the exact
# per-quarter order statistic. The whole point: the quarterly readout
# never touches row data, only ≤2k-cell shard histograms, and the
# measured rel_err stays inside the DDSketch bound (−2^−5, 0].

HDR_ROLLUP_Q = ("p95", 19, 20)


def hdr_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(quarter, n_orders, n_months_merged, exact_p95_c, est_p95_c,
    rel_err): quarterly o_totalprice p95 read from MERGED monthly HDR
    histograms vs the exact order statistic."""
    orders = typed_table(spark, sf_dir, "orders")
    vals = orders.select(
        F.concat(
            F.year("o_orderdate").cast("string"),
            F.lit("-Q"),
            F.quarter("o_orderdate").cast("string"),
        ).alias("quarter"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        (F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    ).localCheckpoint(eager=False)
    monthly = vals.groupBy(
        "quarter", "month", F.expr(_hdr_lb_expr("v")).alias("lb")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # merge = cell-wise addition of the month shards inside each quarter
    merged = monthly.groupBy("quarter", "lb").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )
    months = monthly.select("quarter", "month").distinct().groupBy(
        "quarter"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_months_merged"))
    wq = Window.partitionBy("quarter").orderBy("lb").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum_hist = merged.select(
        "quarter", "lb", F.sum("cnt").over(wq).alias("cum")
    )
    n = vals.groupBy("quarter").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    _, num, den = HDR_ROLLUP_Q
    ranks = n.select(
        "quarter",
        "n_orders",
        F.expr(f"((n_orders - 1) * {num}) div {den} + 1")
        .cast("bigint")
        .alias("rank"),
    )
    est = (
        cum_hist.join(F.broadcast(ranks), "quarter")
        .filter(F.col("cum") >= F.col("rank"))
        .groupBy("quarter", "n_orders")
        .agg(F.min("lb").alias("est_p95_c"))
    )
    by_v = vals.groupBy("quarter", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wv = Window.partitionBy("quarter").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum_v = by_v.select("quarter", "v", F.sum("cnt").over(wv).alias("cum"))
    exact = (
        cum_v.join(F.broadcast(ranks), "quarter")
        .filter(F.col("cum") >= F.col("rank"))
        .groupBy("quarter")
        .agg(F.min("v").alias("exact_p95_c"))
    )
    return (
        est.join(exact, "quarter")
        .join(F.broadcast(months), "quarter")
        .select(
            "quarter",
            "n_orders",
            "n_months_merged",
            "exact_p95_c",
            "est_p95_c",
            F.round(
                (F.col("est_p95_c") - F.col("exact_p95_c")).cast("double")
                / F.col("exact_p95_c").cast("double"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("quarter")
    )


def hdr_monthly_rollup_sql() -> str:
    s = f"greatest(length(bin(v)) - 1 - {HDR_SUB_BITS}, 0)"
    lb = f"((v >> ({s})) << ({s}))"
    _, num, den = HDR_ROLLUP_Q
    return f"""
WITH vals AS MATERIALIZED (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) || '-Q'
           || CAST(EXTRACT(quarter FROM o_orderdate) AS VARCHAR) AS quarter,
         strftime(o_orderdate, '%Y-%m') AS month,
         CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS v
  FROM orders
),
monthly AS (
  SELECT quarter, month, {lb} AS lb, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM vals GROUP BY 1, 2, 3
),
merged AS MATERIALIZED (
  SELECT quarter, lb, CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM monthly GROUP BY 1, 2
),
months AS (
  SELECT quarter, CAST(COUNT(DISTINCT month) AS BIGINT) AS n_months_merged
  FROM monthly GROUP BY quarter
),
ranks AS MATERIALIZED (
  SELECT quarter, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(((COUNT(*) - 1) * {num}) // {den} + 1 AS BIGINT) AS rank
  FROM vals GROUP BY quarter
),
cum_hist AS (
  SELECT quarter, lb, SUM(cnt) OVER (PARTITION BY quarter ORDER BY lb) AS cum
  FROM merged
),
est AS (
  SELECT h.quarter, r.n_orders, MIN(h.lb) AS est_p95_c
  FROM cum_hist h JOIN ranks r ON r.quarter = h.quarter
  WHERE h.cum >= r.rank GROUP BY 1, 2
),
cum_v AS (
  SELECT quarter, v, SUM(cnt) OVER (PARTITION BY quarter ORDER BY v) AS cum
  FROM (SELECT quarter, v, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM vals GROUP BY 1, 2)
),
exact AS (
  SELECT c.quarter, MIN(c.v) AS exact_p95_c
  FROM cum_v c JOIN ranks r ON r.quarter = c.quarter
  WHERE c.cum >= r.rank GROUP BY 1
)
SELECT e.quarter, e.n_orders, m.n_months_merged,
       x.exact_p95_c, e.est_p95_c,
       round(CAST(e.est_p95_c - x.exact_p95_c AS DOUBLE)
             / CAST(x.exact_p95_c AS DOUBLE), 6) AS rel_err
FROM est e
JOIN exact x ON x.quarter = e.quarter
JOIN months m ON m.quarter = e.quarter
ORDER BY e.quarter
"""


# --- Cumulative HLL users-to-date (sketch merge over time) --------------------
#
# The reason a warehouse STORES register tables instead of re-counting:
# "distinct users to date, by month" is answered by a register-wise MAX
# over the monthly sketch tables — no rescan of history, and the merge
# is the same operation shard-wise, month-wise, or source-wise. Here
# the monthly register build is one partial-aggregable max shuffle; the
# cumulative merge is a max window PER BUCKET over the months axis
# (256 partitions × |months| rows — metadata-sized); the exact
# users-to-date (first-appearance cumulative sum) rides along to expose
# the sketch error the way `hll_register_rollup` does per type.

def hll_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(month, new_users, cum_exact, n_zero_registers, harmonic_scaled,
    hll_estimate, rel_error): users-to-date per month, exact vs the
    cumulative register-merge HLL estimate."""
    ev = typed_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM").alias("month"), "user_id"
    )
    hashed = ev.select(
        "month", F.md5(F.col("user_id").cast("string")).alias("h")
    )
    w = "CAST(conv(substr(h, 3, 13), 16, 10) AS BIGINT)"
    rho = (
        f"CAST(CASE WHEN {w} = 0 THEN {HLLP_WBITS + 1} "
        f"ELSE {HLLP_WBITS + 1} - length(bin({w})) END AS INT)"
    )
    regs = (
        hashed.select(
            "month",
            F.expr("CAST(conv(substr(h, 1, 2), 16, 10) AS BIGINT)").alias(
                "bucket"
            ),
            F.expr(rho).alias("rho"),
        )
        .groupBy("month", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    spine = (
        ev.select("month")
        .distinct()
        .select(
            "month",
            F.explode(F.sequence(F.lit(0), F.lit(HLLP_M - 1))).alias("bucket"),
        )
    )
    dense = spine.join(regs, ["month", "bucket"], "left").select(
        "month", "bucket", F.coalesce("r", F.lit(0)).alias("r")
    )
    w_cum = (
        Window.partitionBy("bucket")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dense.select("month", "bucket", F.max("r").over(w_cum).alias("rc"))
    agg = cum.groupBy("month").agg(
        F.sum(F.expr("CAST(power(2, 53 - rc) AS BIGINT)"))
        .cast("bigint")
        .alias("harmonic_scaled"),
        F.sum(F.when(F.col("rc") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_registers"),
    )
    first_seen = ev.groupBy("user_id").agg(F.min("month").alias("month"))
    new_users = first_seen.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    months = spine.select("month").distinct()
    w_m = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    exact = (
        months.join(new_users, "month", "left")
        .select("month", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        .select(
            "month",
            "new_users",
            F.sum("new_users").over(w_m).cast("bigint").alias("cum_exact"),
        )
    )
    est = (
        f"CASE WHEN ({_HLLP_NUM} / harmonic_scaled) <= {2.5 * HLLP_M} "
        f"AND n_zero_registers > 0 "
        f"THEN round({float(HLLP_M)} * ln({float(HLLP_M)} / n_zero_registers), 4) "
        f"ELSE round({_HLLP_NUM} / harmonic_scaled, 4) END"
    )
    return (
        agg.join(exact, "month")
        .select(
            "month",
            "new_users",
            "cum_exact",
            "n_zero_registers",
            "harmonic_scaled",
            F.expr(est).alias("hll_estimate"),
        )
        .select(
            "*",
            F.when(
                F.col("cum_exact") > 0,
                F.round(
                    F.abs(F.col("hll_estimate") - F.col("cum_exact"))
                    / F.col("cum_exact"),
                    6,
                ),
            ).alias("rel_error"),
        )
        .orderBy("month")
    )


def hll_cumulative_users_sql() -> str:
    w = "(('0x' || substr(h, 3, 13))::BIGINT)"
    return f"""
WITH ev AS (
  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month, user_id
  FROM events
),
hashed AS (SELECT month, md5(CAST(user_id AS VARCHAR)) AS h FROM ev),
regs AS (
  SELECT month,
         (('0x' || substr(h, 1, 2))::BIGINT) AS bucket,
         MAX(CASE WHEN {w} = 0 THEN {HLLP_WBITS + 1}
                  ELSE {HLLP_WBITS + 1} - length(bin({w})) END) AS r
  FROM hashed GROUP BY 1, 2
),
spine AS (
  SELECT month, CAST(b AS BIGINT) AS bucket
  FROM (SELECT DISTINCT month FROM ev),
       (SELECT unnest(range(0, {HLLP_M})) AS b)
),
dense AS (
  SELECT s.month, s.bucket, COALESCE(regs.r, 0) AS r
  FROM spine s LEFT JOIN regs ON regs.month = s.month AND regs.bucket = s.bucket
),
cum AS (
  SELECT month, bucket,
         MAX(r) OVER (PARTITION BY bucket ORDER BY month
                      ROWS UNBOUNDED PRECEDING) AS rc
  FROM dense
),
agg AS (
  SELECT month,
         CAST(SUM(CAST(power(2, 53 - rc) AS BIGINT)) AS BIGINT) AS harmonic_scaled,
         CAST(SUM(CASE WHEN rc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_registers
  FROM cum GROUP BY 1
),
new_u AS (
  SELECT month, CAST(COUNT(*) AS BIGINT) AS new_users
  FROM (SELECT user_id, MIN(month) AS month FROM ev GROUP BY 1) GROUP BY 1
),
exact AS (
  SELECT m.month, COALESCE(n.new_users, 0) AS new_users,
         CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY m.month
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_exact
  FROM (SELECT DISTINCT month FROM ev) m LEFT JOIN new_u n USING (month)
),
est AS (
  SELECT a.month, e.new_users, e.cum_exact, a.n_zero_registers, a.harmonic_scaled,
         CASE WHEN ({_HLLP_NUM} / a.harmonic_scaled) <= {2.5 * HLLP_M}
                   AND a.n_zero_registers > 0
              THEN round({float(HLLP_M)} * ln({float(HLLP_M)} / a.n_zero_registers), 4)
              ELSE round({_HLLP_NUM} / a.harmonic_scaled, 4) END AS hll_estimate
  FROM agg a JOIN exact e USING (month)
)
SELECT month, new_users, cum_exact, n_zero_registers, harmonic_scaled,
       hll_estimate,
       CASE WHEN cum_exact > 0
            THEN round(abs(hll_estimate - cum_exact) / cum_exact, 6) END AS rel_error
FROM est ORDER BY month
"""
