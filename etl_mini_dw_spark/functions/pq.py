"""Product quantization (PQ) ANN — the memory-scale path of the index family.

Completes the quantization story beside `simsearch.embedding_quantize`
(int8 scalar: 4× smaller) and `cluster.kmeans_assign` (trained coarse
IVF): PQ splits each 64-dim vector into M=4 subspaces of 16 dims, trains
an independent K=8 codebook per subspace (same deterministic integer
k-means as the coarse quantizer), and stores each vector as M small codes
— 4 bytes instead of 256, the compression that lets a 100 TB corpus keep
its whole index in executor memory. Queries score candidates with the
asymmetric distance computation (ADC): one (M×K)-entry lookup table of
exact integer sub-distances per query, then a code-indexed sum — no
original vectors touched at query time.

Everything is the repo's integer k-means arithmetic (×1000 quantized
coordinates, LONG sums, floor(s/n + 0.5) centroid updates), so training,
codes, and ADC scores are bit-identical on any cluster layout and fully
replayable by the DuckDB oracle (per-subspace unrolled CTE iterations).

Scale shape: training = ONE `cluster.train_codebooks` loop with the M
subspaces as its groups (one job per round, M×K×16 longs shuffled);
encoding = one map-only projection with the codebooks inlined as
literals (`cluster.argmin_literal`); ADC = codes (long form,
M rows/vector) ⋈ broadcast query tables (N_QUERIES×M×K rows) → per-pair
sum → per-query top-k window. The corpus-sized frames carry only codes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mini_dw_spark.etl.store import rows_frame
from etl_mini_dw_spark.functions import cluster
from etl_mini_dw_spark.functions.simsearch import N_QUERIES, TOP_K
from etl_mini_dw_spark.sources.tables import stage_memo

PQ_M = 4  # subspaces
PQ_SUB = 16  # dims per subspace (4 × 16 = 64)
PQ_K = 8  # centroids per subspace codebook
PQ_ITERS = 2


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staged once per (session, sf-dir): codes and query tables both read it
    return stage_memo(
        spark,
        sf_dir,
        "pq_quantized",
        lambda: cluster._quantized(spark, sf_dir).localCheckpoint(eager=False),
    )


def _codebooks_all(spark: SparkSession, sf_dir: str) -> dict[int, list[tuple[int, list[int]]]]:
    """ALL subspace codebooks trained in one fused loop: {m: [(code, cv), …]},
    staged once per (session, sf-dir).

    The subspaces are the groups of `cluster.train_codebooks`, so one
    loop over the exploded (m, vec_id, sv) frame runs the same integer
    arithmetic per (m, code) key as M separate per-subspace loops, with
    M× fewer jobs and shuffles (PQ_ITERS rounds in total) — grouping by
    m cannot mix subspaces, so the trained centroids are bit-identical.
    Every consumer reads the staged centroids: training never re-runs.
    """

    def train() -> dict[int, list[tuple[int, list[int]]]]:
        subs = _quantized(spark, sf_dir).select(
            "vec_id",
            F.posexplode(
                F.array(*[F.slice("qv", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
            ).alias("g", "v"),
        )
        return cluster.train_codebooks(subs, PQ_K, PQ_SUB, PQ_ITERS)

    return stage_memo(spark, sf_dir, "pq_codebooks_all", train)


def _codebook(spark: SparkSession, sf_dir: str, m: int) -> DataFrame:
    """Subspace-m codebook as a (code, cv) frame of literals."""
    return rows_frame(spark, _codebooks_all(spark, sf_dir)[m], "code bigint, cv array<bigint>")


def _sub(df: DataFrame, m: int) -> DataFrame:
    """Subspace slice m: columns (vec_id, sv)."""
    return df.select("vec_id", F.slice("qv", m * PQ_SUB + 1, PQ_SUB).alias("sv"))


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector PQ code word: (vec_id, code_0 … code_{M-1}).

    ONE map-only projection: per subspace, the staged trained codebook
    inlined into `cluster.argmin_literal` — no argmin join, no self-joins
    to reassemble the columns."""
    cents = _codebooks_all(spark, sf_dir)
    # slices hoisted to columns so each of the 8 folds per subspace
    # reads an attribute, not a re-evaluated slice
    staged = _quantized(spark, sf_dir).select(
        "vec_id",
        *[
            F.slice("qv", m * PQ_SUB + 1, PQ_SUB).alias(f"sv{m}")
            for m in range(PQ_M)
        ],
    )
    return staged.select(
        "vec_id",
        *[
            cluster.argmin_literal(f"sv{m}", cents[m])["key"]
            .cast("int")
            .alias(f"code_{m}")
            for m in range(PQ_M)
        ],
    )


def _adc_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, cand_id, adc_dist): every candidate's asymmetric PQ
    distance to every query — shared by the one-stage top-k and the
    refined (shortlist → exact re-rank) retrieval below."""
    emb = _quantized(spark, sf_dir)
    codes = pq_codes(spark, sf_dir)
    # long-form codes: (vec_id, m, code)
    codes_long = None
    for m in range(PQ_M):
        part = codes.select(
            "vec_id", F.lit(m).alias("m"), F.col(f"code_{m}").alias("code")
        )
        codes_long = part if codes_long is None else codes_long.unionByName(part)
    # per-query distance tables: (query_id, m, code, d) — M×K rows per query
    qtab = None
    for m in range(PQ_M):
        sub = _sub(emb, m)
        q = sub.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("sv").alias("qsv")
        )
        t = q.crossJoin(F.broadcast(_codebook(spark, sf_dir, m))).select(
            "query_id",
            F.lit(m).alias("m"),
            "code",
            F.expr(cluster._DIST.format(a="qsv", b="cv")).alias("d"),
        )
        qtab = t if qtab is None else qtab.unionByName(t)
    return (
        codes_long.join(F.broadcast(qtab), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-memoized since r09 (see simsearch.ann_bruteforce_topk)."""
    return stage_memo(
        spark,
        sf_dir,
        "ann_pq_topk",
        lambda: _ann_pq_topk_build(spark, sf_dir).localCheckpoint(eager=False),
    )


def _ann_pq_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k neighbors per query by asymmetric PQ distance (ADC).

    Queries are the same ``vec_id < N_QUERIES`` set as the brute-force
    baseline, so recall against `ext_ann_bruteforce_topk` is directly
    inspectable. adc_dist is the exact integer Σ_m ‖q_m − c[code_m]‖².
    """
    from etl_mini_dw_spark.functions.simsearch import shard_topk_prune

    scored = shard_topk_prune(
        _adc_scored(spark, sf_dir),
        ["query_id"],
        [F.col("adc_dist"), F.col("cand_id")],
        TOP_K,
        "cand_id",
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "adc_dist", "rank")
    )


SHORTLIST = 50


def ann_pq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: PQ-ADC shortlist → EXACT integer re-rank.

    The production ANN serving shape (compressed-index shortlist, then a
    refinement pass over the few surviving full vectors): stage 1 ranks
    every candidate by ADC and keeps SHORTLIST=50 per query; stage 2
    fetches only those candidates' full quantized vectors and re-ranks
    by exact Σ‖q−v‖² over all 64 dims, returning TOP_K.

    Scale shape: the shortlist (N_QUERIES×50 rows) is broadcast against
    the corpus for the fetch — the corpus-sized side is touched once,
    map-side, with no shuffle; the exact math runs on |shortlist| rows
    only. All arithmetic stays in the repo's ×1000 integer quantization,
    so the result is layout-invariant and the oracle replays it exactly.
    """
    from etl_mini_dw_spark.functions.simsearch import shard_topk_prune

    emb = _quantized(spark, sf_dir)
    scored = shard_topk_prune(
        _adc_scored(spark, sf_dir),
        ["query_id"],
        [F.col("adc_dist"), F.col("cand_id")],
        SHORTLIST,
        "cand_id",
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    short = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SHORTLIST)
        .select("query_id", "cand_id")
    )
    qvecs = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv")
    )
    cand = emb.join(
        F.broadcast(short), emb["vec_id"] == short["cand_id"]
    ).select("query_id", "cand_id", "qv")
    exact = cand.join(F.broadcast(qvecs), "query_id").select(
        "query_id",
        "cand_id",
        F.expr(cluster._DIST.format(a="qv", b="q_qv")).cast("bigint").alias("exact_dist"),
    )
    w2 = Window.partitionBy("query_id").orderBy("exact_dist", "cand_id")
    return (
        exact.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "exact_dist", "rank")
    )


# --- DuckDB mirrors ---------------------------------------------------------


def _sql_dist(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, {PQ_SUB + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


def _sql_sub_views(m: int) -> str:
    """CTE text for subspace m: slice + unrolled training + code assignment.

    Produces views e{m} (vec_id, sv), c{m}_{PQ_ITERS} (code, cv) and
    code{m} (vec_id, code).
    """
    lo, hi = m * PQ_SUB + 1, (m + 1) * PQ_SUB
    out = f"e{m} AS (SELECT vec_id, qv[{lo}:{hi}] AS sv FROM e),\n"
    out += (
        f"c{m}_0 AS (SELECT vec_id AS code, sv AS cv FROM e{m} WHERE vec_id < {PQ_K}),\n"
    )
    prev = f"c{m}_0"
    for r in range(1, PQ_ITERS + 1):
        out += f"""c{m}_{r} AS (
  SELECT code, list(s ORDER BY i) AS cv FROM (
    SELECT a.code, t.i,
           CAST(floor(SUM(v.sv[t.i]) * 1.0 / COUNT(*) + 0.5) AS BIGINT) AS s
    FROM (
      SELECT vec_id, code FROM (
        SELECT v.vec_id, c.code,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_sql_dist("v.sv", "c.cv")}, c.code) AS rn
        FROM e{m} v, {prev} c) WHERE rn = 1) a
    JOIN e{m} v USING (vec_id), range(1, {PQ_SUB + 1}) t(i)
    GROUP BY a.code, t.i)
  GROUP BY code
),
"""
        prev = f"c{m}_{r}"
    out += f"""code{m} AS (
  SELECT vec_id, CAST(code AS INTEGER) AS code FROM (
    SELECT v.vec_id, c.code,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {_sql_dist("v.sv", "c.cv")}, c.code) AS rn
    FROM e{m} v, {prev} c) WHERE rn = 1
)"""
    return out


def pq_codes_sql() -> str:
    subs = ",\n".join(_sql_sub_views(m) for m in range(PQ_M))
    joins = " ".join(f"JOIN code{m} USING (vec_id)" for m in range(1, PQ_M))
    cols = ", ".join(f"code{m}.code AS code_{m}" for m in range(PQ_M))
    return f"""
WITH e AS (SELECT vec_id, {cluster._SQL_QUANT} AS qv FROM embeddings),
{subs}
SELECT code0.vec_id, {cols}
FROM code0 {joins}
"""


def ann_pq_topk_sql() -> str:
    subs = ",\n".join(_sql_sub_views(m) for m in range(PQ_M))
    codes_long = "\nUNION ALL\n".join(
        f"SELECT vec_id, {m} AS m, code FROM code{m}" for m in range(PQ_M)
    )
    qtabs = "\nUNION ALL\n".join(
        f"""SELECT v.vec_id AS query_id, {m} AS m, c.code,
       {_sql_dist("v.sv", "c.cv")} AS d
FROM e{m} v, c{m}_{PQ_ITERS} c WHERE v.vec_id < {N_QUERIES}"""
        for m in range(PQ_M)
    )
    return f"""
WITH e AS (SELECT vec_id, {cluster._SQL_QUANT} AS qv FROM embeddings),
{subs},
codes_long AS ({codes_long}),
qtab AS ({qtabs}),
scored AS (
  SELECT q.query_id, cl.vec_id AS cand_id, CAST(SUM(q.d) AS BIGINT) AS adc_dist
  FROM codes_long cl JOIN qtab q ON cl.m = q.m AND cl.code = q.code
  WHERE cl.vec_id <> q.query_id
  GROUP BY 1, 2
)
SELECT query_id, cand_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_dist, cand_id) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""


def ann_pq_refined_topk_sql() -> str:
    subs = ",\n".join(_sql_sub_views(m) for m in range(PQ_M))
    codes_long = "\nUNION ALL\n".join(
        f"SELECT vec_id, {m} AS m, code FROM code{m}" for m in range(PQ_M)
    )
    qtabs = "\nUNION ALL\n".join(
        f"""SELECT v.vec_id AS query_id, {m} AS m, c.code,
       {_sql_dist("v.sv", "c.cv")} AS d
FROM e{m} v, c{m}_{PQ_ITERS} c WHERE v.vec_id < {N_QUERIES}"""
        for m in range(PQ_M)
    )
    dist_full = (
        f"CAST(list_sum(list_transform(range(1, {PQ_M * PQ_SUB + 1}),"
        f" i -> (ev.qv[i] - eq.qv[i]) * (ev.qv[i] - eq.qv[i]))) AS BIGINT)"
    )
    return f"""
WITH e AS (SELECT vec_id, {cluster._SQL_QUANT} AS qv FROM embeddings),
{subs},
codes_long AS ({codes_long}),
qtab AS ({qtabs}),
scored AS (
  SELECT q.query_id, cl.vec_id AS cand_id, CAST(SUM(q.d) AS BIGINT) AS adc_dist
  FROM codes_long cl JOIN qtab q ON cl.m = q.m AND cl.code = q.code
  WHERE cl.vec_id <> q.query_id
  GROUP BY 1, 2
),
shortlist AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, cand_id) AS rn
    FROM scored)
  WHERE rn <= {SHORTLIST}
),
exact AS (
  SELECT s.query_id, s.cand_id, {dist_full} AS exact_dist
  FROM shortlist s
  JOIN e ev ON ev.vec_id = s.cand_id
  JOIN e eq ON eq.vec_id = s.query_id
)
SELECT query_id, cand_id, exact_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY exact_dist, cand_id) AS rank
  FROM exact)
WHERE rank <= {TOP_K}
"""
