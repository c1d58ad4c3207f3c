"""Deterministic distributed k-means — the trained coarse quantizer for
IVF-style ANN (companion to `functions/simsearch.py`'s sign-LSH buckets,
which need no training; a trained codebook fits the data's actual density).

Why INTEGER k-means: float centroid math is non-associative — at 1000
executors the per-partition partial sums arrive in nondeterministic
order, so two runs of textbook float k-means can assign boundary points
differently. Quantizing coordinates to integers (×1000, round-half-up)
makes every sum exact and partition-order-invariant: the same input
produces the SAME codebook on any cluster layout, which is what lets an
index build be reproducible (and lets DuckDB replay it as the oracle).

Execution shape per iteration (all JVM-side, no UDFs): `train_codebooks`
is the one trainer, shared with PQ (`functions/pq.py`, one group per
subspace), and `argmin_literal` the one assignment builder:
- assignment: the K×DIM integer codebook is inlined as LITERALS into a
  map-only squared-L2 argmin expression over the corpus — no join, no
  shuffle (a crossJoin-broadcast would collect the same K centroids to
  the driver to broadcast them, and add an argmin shuffle);
- update: posexplode + ONE LONG sum per (cluster, dimension) — partial
  aggregation shrinks the shuffle to K×64 longs per executor core; the
  K-row result is read back (scalar-tracker P11 pattern) to seed the
  next round's literals.
Rounds are fixed (ITERS), not convergence-polled, so the job graph is
static: one job with one tiny shuffle per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_mini_dw_spark.etl.store import rows_frame
from etl_mini_dw_spark.sources.tables import load_table, stage_memo

K = 8
ITERS = 2
DIM = 64
SCALE = 1000

# round-half-up via floor(x+0.5): identical IEEE semantics on the JVM
# and DuckDB (plain `round` differs between engines on .5 ties)
_QUANT = (
    f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5D) AS BIGINT))"
)
_DIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
)


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_QUANT).alias("qv")
    )


def _assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cluster, dist): nearest centroid, ties → lowest cluster id."""
    scored = vecs.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "cluster",
        F.expr(_DIST.format(a="qv", b="cv")).alias("dist"),
    )
    best = scored.groupBy("vec_id").agg(F.min(F.struct("dist", "cluster")).alias("w"))
    return best.select(
        "vec_id", F.col("w.cluster").alias("cluster"), F.col("w.dist").alias("dist")
    )


def argmin_literal(col: str, cents: list[tuple[int, list[int]]]) -> F.Column:
    """Nearest LITERAL centroid of the integer vector column ``col``: a
    ``(dist, key)`` struct, ties → lowest key. Map-only — no join, no
    shuffle: the K×dim integer codebook is inlined into the expression.
    ``array_min`` over (dist, key) structs uses the same lexicographic
    comparison as ``min(struct(dist, cluster))`` in `_assign`, so ties
    break identically. A caller that reads BOTH fields must alias the
    struct in its own projection first: the argmin is NOT cheap, and
    CollapseProject (SPARK-36718) keeps a twice-consumed alias
    un-inlined, so the distance battery runs once per row, not once per
    consumed field (the CLAUDE.md HOF-CSE trap)."""
    terms = []
    for k, cv in cents:
        arr = "array(" + ", ".join(f"{int(v)}L" for v in cv) + ")"
        terms.append(
            f"named_struct('dist', {_DIST.format(a=col, b=arr)},"
            f" 'key', CAST({int(k)} AS BIGINT))"
        )
    return F.expr(f"array_min(array({', '.join(terms)}))")


def train_codebooks(
    vecs: DataFrame, k: int, dim: int, iters: int
) -> dict[int, list[tuple[int, list[int]]]]:
    """Deterministic integer k-means over every group of ``vecs`` at
    once: ``(g, vec_id, v)`` rows, ``v`` a ``dim``-long BIGINT array.
    Returns ``{g: [(key, centroid), …]}``, seeded per group with the
    vectors ``vec_id < k`` (key = vec_id) and refined for ``iters``
    rounds. `kmeans_assign` trains one group; PQ trains one per
    subspace — grouping by g cannot mix groups, so the per-(g, key)
    arithmetic is the same as a separate loop per group.

    Each round inlines the codebooks as literals (`argmin_literal`, one
    branch per group), assigns map-only, and updates via posexplode +
    ONE sum per (g, key, i): the wide spelling (one column aggregate
    per dimension) spent 2–3 s/round in Catalyst planning + codegen of
    a 65-buffer aggregate over KB-scale data — the tall shape compiles
    in ms and shuffles K×dim longs per group after partial aggregation.
    LONG sums are exact and partition-order-invariant; n = count(1) per
    (g, key, i) equals the member count (v is fixed-length), and the
    floor(s/n + 0.5) update stays IN SPARK so the double-division
    semantics remain engine-pinned. The K-row result is read back
    (scalar-tracker P11 pattern) to seed the next round's literals:
    one job with one tiny shuffle per round."""
    cents: dict[int, list[tuple[int, list[int]]]] = {}
    for r in vecs.filter(F.col("vec_id") < k).collect():
        cents.setdefault(int(r["g"]), []).append((int(r["vec_id"]), list(r["v"])))
    for _ in range(iters):
        assign = None
        for g in sorted(cents):
            cand = argmin_literal("v", sorted(cents[g]))["key"]
            # every row's g matches exactly one branch (every group was
            # seeded), so the when-chain needs no otherwise
            assign = (
                F.when(F.col("g") == g, cand)
                if assign is None
                else assign.when(F.col("g") == g, cand)
            )
        upd = (
            vecs.select("g", assign.alias("key"), F.posexplode("v").alias("i", "x"))
            .groupBy("g", "key", "i")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
            .select(
                "g",
                "key",
                "i",
                F.floor(F.col("s").cast("double") / F.col("n") + F.lit(0.5))
                .cast("long")
                .alias("c"),
            )
        )
        by_key: dict[tuple[int, int], dict[int, int]] = {}
        for r in upd.collect():
            by_key.setdefault((int(r["g"]), int(r["key"])), {})[int(r["i"])] = int(
                r["c"]
            )
        cents = {}
        for (g, key), d in by_key.items():
            cents.setdefault(g, []).append((key, [d[i] for i in range(dim)]))
    return {g: sorted(cs) for g, cs in cents.items()}


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final (vec_id, cluster, dist) after ITERS rounds of integer k-means
    seeded with the first K vectors (deterministic init): one group of
    `train_codebooks`, then one map-only `argmin_literal` projection.
    Centroids and assignments are bit-identical to the crossJoin-argmin
    spelling (pinned by test_cluster.py and the kmeans/SemDeDup parity
    tests)."""
    vecs = _quantized(spark, sf_dir).localCheckpoint(eager=False)
    cents = train_codebooks(
        vecs.select(F.lit(0).alias("g"), "vec_id", F.col("qv").alias("v")),
        K,
        DIM,
        ITERS,
    )[0]
    return vecs.select("vec_id", argmin_literal("qv", cents).alias("_w")).select(
        "vec_id",
        F.col("_w")["key"].alias("cluster"),
        F.col("_w")["dist"].alias("dist"),
    )


_SQL_QUANT = (
    f"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5) AS BIGINT))"
)


def _sql_dist(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, {DIM + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


def _sql_round(centroids_from: str) -> str:
    """One iteration: assignment against `centroids_from` → new centroids."""
    return f"""
  SELECT cluster, list(s ORDER BY i) AS cv FROM (
    SELECT a.cluster, t.i,
           CAST(floor(SUM(e.qv[t.i]) * 1.0 / COUNT(*) + 0.5) AS BIGINT) AS s
    FROM (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               {_sql_dist("e.qv", "c.cv")} AS dist,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_sql_dist("e.qv", "c.cv")}, c.cluster) AS rn
        FROM e, {centroids_from} c) WHERE rn = 1) a
    JOIN e USING (vec_id), range(1, {DIM + 1}) t(i)
    GROUP BY a.cluster, t.i)
  GROUP BY cluster
"""


def kmeans_assign_sql() -> str:
    sql = f"""
WITH e AS (SELECT vec_id, {_SQL_QUANT} AS qv FROM embeddings),
c0 AS (SELECT vec_id AS cluster, qv AS cv FROM e WHERE vec_id < {K}),
"""
    prev = "c0"
    for r in range(1, ITERS + 1):
        sql += f"c{r} AS ({_sql_round(prev)}),\n"
        prev = f"c{r}"
    sql += f"""
final AS (
  SELECT e.vec_id, c.cluster, {_sql_dist("e.qv", "c.cv")} AS dist,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_sql_dist("e.qv", "c.cv")}, c.cluster) AS rn
  FROM e, {prev} c)
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, dist FROM final WHERE rn = 1
"""
    return sql


def kmeans_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook quality report: per-cluster size, exact integer inertia
    (Σ squared-L2 in quantized units), and mean distance.

    The index-health check an IVF deployment runs after (re)training:
    skewed sizes mean probe imbalance, inertia drift means the codebook
    no longer fits the data. Pure rollup over the assignment frame — the
    integer distances make the inertia bit-exact on any partitioning.
    """
    a = _assign_memo(spark, sf_dir)
    return a.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("dist").alias("inertia"),
        (F.sum("dist").cast("double") / F.count(F.lit(1))).alias("mean_dist"),
    )


def kmeans_cluster_quality_sql() -> str:
    return f"""
WITH assign AS ({kmeans_assign_sql()})
SELECT cluster, COUNT(*) AS n_vectors,
       CAST(SUM(dist) AS BIGINT) AS inertia,
       CAST(SUM(dist) AS DOUBLE) / COUNT(*) AS mean_dist
FROM assign GROUP BY cluster
"""


# --- SemDeDup: semantic prune over the trained coarse quantizer -------------
# The synthetic embeddings are near-isotropic (max pairwise cosine ≈ 0.45
# at every sf — no planted semantic dups), so the fixture threshold sits at
# the similarity tail to exercise a nonzero prune; real deployments run
# 0.95+ on real encoder output. The PLAN is threshold-independent.
SEMDEDUP_COSINE = 0.39


def _assign_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-memoized k-means assignment — three consumers (IVF assign,
    cluster quality, SemDeDup) share one training run per (session, sf)."""
    from etl_mini_dw_spark.sources.tables import stage_memo

    return stage_memo(
        spark,
        sf_dir,
        "kmeans_assign",
        lambda: kmeans_assign(spark, sf_dir).localCheckpoint(eager=False),
    )


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic prune report per trained cluster.

    The published pipeline (Abbas et al. 2023, "SemDeDup"): k-means the
    embedding space, then inside each cluster drop all-but-one of any
    group of semantically near-identical vectors. Candidate pairs here
    are generated inside (trained cluster ∧ sign-LSH bucket) blocks —
    never all-pairs: the Σ b² bound is the same argument as the LSH /
    simhash banding in `functions/dedup.py`. In production the codebook
    size grows with the corpus (K ∝ √N) so per-block population stays
    bounded; K=8 here is the fixture codebook shared with the IVF index.

    Prune rule is keep-min-id: a vector is pruned iff some LOWER-id
    vector in its block is within the cosine threshold — deterministic
    on any partitioning (no rand(), no float accumulation ordering).
    This is a ONE-PASS approximation of the paper's keep-one-per-group
    semantics and can over-prune chains: with A~B, B~C, A!~C it prunes
    both B and C even though B (pruned) was C's only close neighbor,
    where per-group keep-one would retain C. The deviation is
    intentional — a single anti-join pass instead of an iterative
    connected-components fixpoint — and the oracle encodes the same
    rule, so parity pins exactly these semantics.
    Output: (cluster, n_vectors, n_pruned, keep_rate).
    """
    from etl_mini_dw_spark.functions.simsearch import (
        _DOT,
        _NORM,
        _bucket_expr_spark,
    )

    assign = _assign_memo(spark, sf_dir).select("vec_id", "cluster")
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "embedding",
            _bucket_expr_spark().alias("bucket"),
            # norm hoisted to ONE fold per vector per side — inlining it
            # in `cos` re-runs the 64-element fold per candidate PAIR
            F.expr(_NORM.format(a="embedding")).alias("nrm"),
        )
        .join(assign, "vec_id")
    )
    a = emb.select(
        "cluster",
        "bucket",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        "cluster",
        "bucket",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(F.expr(_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb")), 6)
    pruned = (
        a.join(b, ["cluster", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= SEMDEDUP_COSINE)
        .select("cluster", "vec_b")
        .distinct()
    )
    per_cluster = pruned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_pruned"))
    sizes = assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_vectors"))
    return sizes.join(per_cluster, "cluster", "left").select(
        "cluster",
        "n_vectors",
        F.coalesce("n_pruned", F.lit(0)).cast("bigint").alias("n_pruned"),
        F.round(
            (F.col("n_vectors") - F.coalesce("n_pruned", F.lit(0))).cast("double")
            / F.col("n_vectors"),
            6,
        ).alias("keep_rate"),
    )


def semdedup_prune_sql() -> str:
    from etl_mini_dw_spark.functions.simsearch import (
        _DOT_SQL,
        _NORM_SQL,
        _bucket_expr_sql,
    )

    return f"""
WITH assign AS ({kmeans_assign_sql()}),
sd AS (
  SELECT m.vec_id, m.embedding, a.cluster, {_bucket_expr_sql()} AS bucket,
         {_NORM_SQL.format(a="m.embedding")} AS nrm
  FROM embeddings m JOIN assign a USING (vec_id)
),
pruned AS (
  SELECT DISTINCT a.cluster, b.vec_id AS vec_b
  FROM sd a JOIN sd b
    ON a.cluster = b.cluster AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round({_DOT_SQL.format(a="a.embedding", b="b.embedding")}
              / (a.nrm * b.nrm), 6) >= {SEMDEDUP_COSINE}
),
sizes AS (SELECT cluster, COUNT(*) AS n_vectors FROM assign GROUP BY cluster),
p AS (SELECT cluster, COUNT(*) AS n_pruned FROM pruned GROUP BY cluster)
SELECT s.cluster, s.n_vectors,
       CAST(COALESCE(p.n_pruned, 0) AS BIGINT) AS n_pruned,
       round(CAST(s.n_vectors - COALESCE(p.n_pruned, 0) AS DOUBLE) / s.n_vectors, 6)
         AS keep_rate
FROM sizes s LEFT JOIN p USING (cluster)
"""


# --- integer-exact power iteration (top principal direction) ----------------
PI_ITERS = 3
PI_SCALE = 127  # renormalized direction magnitude bound
_PI_SCHEMA = T.StructType(
    [T.StructField("dim_idx", T.LongType()), T.StructField("weight", T.LongType())]
)

# uint8 quantization shared shape with simsearch's int8 report
_PI_CODE = (
    "transform({a}, v -> CAST(floor((least(greatest(CAST(v AS DOUBLE), -4.0), 4.0)"
    " + 4.0) * 255 / 8.0) AS BIGINT))"
)
_PI_CODE_SQL = (
    "list_transform({a}, v -> CAST(floor((least(greatest(CAST(v AS DOUBLE), -4.0), 4.0)"
    " + 4.0) * 255 / 8.0) AS BIGINT))"
)


def power_iteration_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud by POWER ITERATION —
    entirely in int64, so the result is bit-identical on any cluster
    layout (same argument as the integer k-means: float matvecs change
    under partial-sum reordering; integer sums cannot).

    Each round is the classic two-step distributed matvec y = Xᵀ(X·w):
    (1) per-vector dot s_i = Σ_d x_i[d]·w[d] — map-only; (2) 64 partial-
    aggregable LONG sums y[d] = Σ_i s_i·x_i[d] — one 64-long row per
    executor merged once, never a data-sized shuffle. Integer
    renormalization between rounds (w ← ⌊y·127 / max|y|⌋) uses the
    positive-mod floor-division identity ⌊a/m⌋ = (a − pmod(a, m)) div m,
    portable across engines whose native `%`/`div` disagree on negative
    operands; the pmod-adjusted numerator is exactly divisible by m, so
    both sides use pure integer division and no double ever enters the
    renormalization (exact at ANY corpus size, not just |y·127| < 2^53).

    r10 shape (same planning-cost fix as the k-means rewrite): the
    3-round unrolled single plan compiled 3 × (crossJoin + a 64-column
    aggregate) — seconds of Catalyst/codegen for milliseconds of data
    work. Now each round inlines w as a 64-literal array (map-only s),
    computes y via posexplode + groupBy(d) with ONE integer sum
    (partial-aggregable — the exchange carries ≤64 longs per partition),
    and reads the 64-row y back to the driver (the same scalar-tracker
    read-back the k-means codebook uses). The w ← ⌊y·127 / max|y|⌋
    renormalization runs in Python ints: Python `//` IS floor division,
    identical to the pmod identity above for every sign, and exact at
    arbitrary precision — so the emitted weights are bit-identical to
    the in-plan spelling (exceptAll 0/0 pinned at three SFs) and no
    float enters anywhere. The 64 trained weights are staged once per
    (session, sf-dir) and emitted as literal rows, so a second call, or
    an ``explain()``, runs no round.
    """

    def train() -> list[int]:
        emb = load_table(spark, sf_dir, "embeddings").select(
            F.expr(_PI_CODE.format(a="embedding")).alias("c")
        ).localCheckpoint(eager=False)
        w = [1] * DIM
        for _ in range(PI_ITERS):
            arr = "array(" + ", ".join(f"{int(v)}L" for v in w) + ")"
            s = emb.select(
                "c",
                F.expr(
                    f"aggregate(zip_with(c, {arr}, (x, wd) -> (x - 128) * wd),"
                    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
                ).alias("s"),
            )
            y_rows = (
                s.select("s", F.posexplode("c").alias("d", "x"))
                .groupBy("d")
                .agg(F.sum(F.col("s") * (F.col("x") - 128)).alias("y"))
                .collect()
            )
            y = [0] * DIM
            for r in y_rows:
                y[int(r["d"])] = int(r["y"])
            # divisor m is structurally nonzero: floored at 1 even for an
            # all-zero y vector (r6 ADVICE pmod audit)
            m = max(1, max(abs(v) for v in y))
            w = [(v * PI_SCALE) // m for v in y]
        return w

    w = stage_memo(spark, sf_dir, "power_iteration_w", train)
    return rows_frame(spark, list(enumerate(w)), _PI_SCHEMA)


def power_iteration_sql() -> str:
    """Unrolled 3-round oracle with identical integer arithmetic."""
    code = _PI_CODE_SQL.format(a="embedding")
    sql = f"WITH emb AS (SELECT {code} AS c FROM embeddings),\n"
    sql += f"w0 AS (SELECT list_transform(range({DIM}), i -> CAST(1 AS BIGINT)) AS w),\n"
    prev = "w0"
    for it in range(PI_ITERS):
        sql += f"""s{it} AS (
  SELECT c, list_sum(list_transform(range({DIM}),
           i -> (c[CAST(i AS INT) + 1] - 128) * w[CAST(i AS INT) + 1])) AS s
  FROM emb, {prev}
),
yrow{it} AS (
  SELECT i AS d,
         CAST(SUM(s * (c[CAST(i AS INT) + 1] - 128)) AS BIGINT) AS y
  FROM s{it}, (SELECT unnest(range({DIM})) AS i)
  GROUP BY i
),
yarr{it} AS (
  SELECT list(y ORDER BY d) AS y FROM yrow{it}
),
w{it + 1} AS (
  SELECT list_transform(y, v -> CAST((v * {PI_SCALE}
           - (((v * {PI_SCALE}) % m) + m) % m) // m AS BIGINT)) AS w
  FROM (SELECT y, greatest(list_max(list_transform(y, v -> abs(v))),
                           CAST(1 AS BIGINT)) AS m
        FROM yarr{it})
),
"""
        prev = f"w{it + 1}"
    sql = sql.rstrip().rstrip(",")
    sql += f"""
SELECT CAST(i AS BIGINT) AS dim_idx, w[CAST(i AS INT) + 1] AS weight
FROM {prev}, (SELECT unnest(range({DIM})) AS i)
"""
    return sql
