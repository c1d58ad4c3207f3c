"""Similarity search over the ``embeddings`` table (extension M8d).

- **Brute-force cosine top-k** — the correctness baseline: queries ×
  corpus with a higher-order-function dot product (JVM-side, no Python),
  `Window.partitionBy(query)` + ``row_number`` for top-k.
- **Sign-LSH bucketing** — the scale path: 8 hyperplane-sign bits (here:
  signs of 8 fixed coordinates — deterministic and oracle-portable; in
  production, signs of 8 random-projection dots) partition the corpus so
  candidate generation is a per-bucket join, not corpus². At 100 TB the
  bucket id is also the storage partition key, so a query probes one
  partition (an IVF-style index expressed as partition pruning).

Cosine values are rounded to 6 dp: both engines compute the same
left-to-right fold over the same float32→double casts, and rounding
removes any 1-ulp divergence risk from the hash comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_mini_dw_spark.etl.store import rows_frame
from etl_mini_dw_spark.sources.tables import load_table, stage_memo

N_QUERIES = 5  # vec_id < 5 act as the query set
TOP_K = 5
LSH_DIMS = [0, 8, 16, 24, 32, 40, 48, 56]
NEAR_DUP_COSINE = 0.93


def shard_topk_prune(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list,
    k: int,
    shard_col: str,
    n_shards: int = 64,
) -> DataFrame:
    """Distributed exact top-k pre-prune (two-level tournament).

    A per-key ``row_number`` window moves EVERY candidate row for one key
    into one task — corpus-sized per query for the brute-force scorers,
    the single-task bottleneck the r7 ADVICE flagged on the RRF semantic
    arm. This stage-1 prune keeps each shard's local top-k instead
    (window partitioned by ``(key, pmod(shard_col, n_shards))`` — no task
    ever holds more than corpus/n_shards rows), after which the caller's
    original per-key window ranks the ≤ n_shards·k survivors.

    Value-identical for any TOTAL ``order_cols`` ordering: every global
    top-k row is by definition within its own shard's top-k, so no
    survivor set ever misses one. Locally this adds one extra shuffle of
    the scored frame; at scale it converts O(corpus) per-task memory into
    O(corpus / n_shards) — on a 1000-executor cluster n_shards rises with
    the corpus partition count and the stage parallelizes fully.
    """
    shard = F.pmod(F.col(shard_col), F.lit(n_shards))
    w1 = Window.partitionBy(*key_cols, "_shard").orderBy(*order_cols)
    return (
        df.withColumn("_shard", shard)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_shard", "_r1")
    )


_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
)

_DOT_SQL = (
    "list_sum(list_transform(range(1, 65),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORM_SQL = "sqrt(list_sum(list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-memoized since r09: the recall report re-runs every index
    path already registered as its own query; the output is
    (queries x k) rows, so the checkpoint is tiny while each re-build
    is a full index scan (same rationale as bm25_topk). Plan pins live
    on the pre-checkpoint builder ``_ann_bruteforce_topk_build``."""
    return stage_memo(
        spark,
        sf_dir,
        "ann_bruteforce_topk",
        lambda: _ann_bruteforce_topk_build(spark, sf_dir).localCheckpoint(eager=False),
    )


def _ann_bruteforce_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    # norms are hoisted to one computation per *side* (Q + N folds) — the
    # inlined form recomputes them per (query, cand) pair (Q·N extra
    # folds). Value-identical: same left-to-right fold either way.
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.expr(_NORM.format(a="embedding")).alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.expr(_NORM.format(a="embedding")).alias("cn"),
    )
    cos = F.round(
        F.expr(_DOT.format(a="qv", b="cv")) / (F.col("qn") * F.col("cn")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("cosine", cos)
    )
    # shard-local top-k first: the final per-query window ranks ≤ 64·k
    # survivors, never the corpus (see shard_topk_prune)
    pruned = shard_topk_prune(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("cand_id")],
        TOP_K,
        "cand_id",
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


ANN_BRUTEFORCE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, cand_id,
         round({_DOT_SQL.format(a="qv", b="cv")}
               / ({_NORM_SQL.format(a="qv")} * {_NORM_SQL.format(a="cv")}), 6) AS cosine
  FROM q, c WHERE query_id <> cand_id
)
SELECT query_id, cand_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""


def _bucket_expr_spark() -> F.Column:
    bits = None
    for i, d in enumerate(LSH_DIMS):
        bit = F.when(F.expr(f"CAST(embedding[{d}] AS DOUBLE) >= 0.0"), F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        bits = bit if bits is None else bits + bit
    return bits.cast("int")


def _bucket_expr_sql() -> str:
    # DuckDB lists are 1-indexed; Spark arrays 0-indexed
    return (
        "CAST("
        + " + ".join(
            f"CASE WHEN CAST(embedding[{d + 1}] AS DOUBLE) >= 0.0 THEN {1 << i} ELSE 0 END"
            for i, d in enumerate(LSH_DIMS)
        )
        + " AS INTEGER)"
    )


def lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus distribution over the 256 sign-LSH buckets (skew check)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(_bucket_expr_spark().alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


LSH_HISTOGRAM_SQL = f"""
SELECT {_bucket_expr_sql()} AS bucket, COUNT(*) AS n_vectors
FROM embeddings GROUP BY 1
"""


def lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups: cosine ≥ threshold among same-bucket pairs.

    The equi-join on bucket is the LSH payoff — per-bucket pairs only.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _bucket_expr_spark().alias("bucket")
    )
    # norms hoisted to one fold per vector per SIDE (2N folds total) —
    # inlining them in `cos` re-runs the 64-element fold per candidate
    # PAIR. Value-identical: same left-to-right fold either way.
    a = emb.select(
        F.col("bucket"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("va"),
        F.expr(_NORM.format(a="embedding")).alias("na"),
    )
    b = emb.select(
        F.col("bucket"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("vb"),
        F.expr(_NORM.format(a="embedding")).alias("nb"),
    )
    cos = F.round(
        F.expr(_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb")),
        6,
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= NEAR_DUP_COSINE)
        .select("vec_a", "vec_b", "cosine")
        .orderBy(F.col("cosine").desc(), "vec_a", "vec_b")
        .limit(100)
    )


LSH_NEAR_DUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding, {_bucket_expr_sql()} AS bucket FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({_DOT_SQL.format(a="a.embedding", b="b.embedding")}
               / ({_NORM_SQL.format(a="a.embedding")} * {_NORM_SQL.format(a="b.embedding")}),
               6) AS cosine
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs
WHERE cosine >= {NEAR_DUP_COSINE}
ORDER BY cosine DESC, vec_a, vec_b
LIMIT 100
"""


N_PROBES_BITS = 1  # multi-probe: flip up to this many sign bits


def _probe_buckets_expr_sql(bucket: str) -> str:
    xs = [bucket] + [f"xor({bucket}, {1 << i})" for i in range(len(LSH_DIMS))]
    return f"[{', '.join(f'CAST({x} AS INTEGER)' for x in xs)}]"


def ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-memoized since r09: the recall report re-runs every index
    path already registered as its own query; the output is
    (queries x k) rows, so the checkpoint is tiny while each re-build
    is a full index scan (same rationale as bm25_topk). Plan pins live
    on the pre-checkpoint builder ``_ivf_multiprobe_topk_build``."""
    return stage_memo(
        spark,
        sf_dir,
        "ivf_multiprobe_topk",
        lambda: _ivf_multiprobe_topk_build(spark, sf_dir).localCheckpoint(eager=False),
    )


def _ivf_multiprobe_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: probe the query's sign-LSH bucket plus all buckets
    at Hamming distance 1 (9 of 256), exact cosine within the probed
    cells, top-k per query.

    This is the 100 TB search path: bucket id = storage partition key, so
    a query touches ~3.5% of the corpus; recall is tuned by probe depth
    (all-integer bucket arithmetic — no float centroids — keeps it
    deterministic and oracle-checkable). Compare `ann_bruteforce_topk`
    for the exact baseline.
    """
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", _bucket_expr_spark()
    )
    probes = [F.col("bucket")] + [
        F.expr(f"CAST(bucket ^ {1 << i} AS INT)") for i in range(len(LSH_DIMS))
    ]
    # norms hoisted per side (Q + N folds) — never per (query, cand) pair
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.expr(_NORM.format(a="embedding")).alias("qn"),
            F.explode(F.array(*probes)).alias("probe_bucket"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.expr(_NORM.format(a="embedding")).alias("cn"),
        F.col("bucket").alias("probe_bucket"),
    )
    cos = F.round(
        F.expr(_DOT.format(a="qv", b="cv")) / (F.col("qn") * F.col("cn")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        q.join(c, on="probe_bucket")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


IVF_MULTIPROBE_SQL = f"""
WITH e AS (SELECT vec_id, embedding, {_bucket_expr_sql()} AS bucket FROM embeddings),
q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         unnest({_probe_buckets_expr_sql("bucket")}) AS probe_bucket
  FROM e WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         round({_DOT_SQL.format(a="q.qv", b="c.embedding")}
               / ({_NORM_SQL.format(a="q.qv")} * {_NORM_SQL.format(a="c.embedding")}), 6)
           AS cosine
  FROM q JOIN e c ON c.bucket = q.probe_bucket
  WHERE q.query_id <> c.vec_id
)
SELECT query_id, cand_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""


# --- embedding near-dup clustering (components over the cosine graph) ------

CLUSTER_COSINE = 0.35  # the testdata's label clusters sit around this band


def embedding_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the sign-LSH candidate graph at
    cosine ≥ CLUSTER_COSINE — the embedding-side analogue of
    ``dedup.neardup_components`` (same min-label-propagation loop,
    shared via ``components_from_pairs``). At 100 TB the candidate
    generation stays per-bucket (never corpus²) and the component loop
    is rounds ∝ graph diameter, exactly like the text path."""
    from etl_mini_dw_spark.functions.dedup import components_from_pairs

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _bucket_expr_spark().alias("bucket")
    )
    a = emb.select(
        "bucket",
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").alias("va"),
        F.expr(_NORM.format(a="embedding")).alias("na"),
    )
    b = emb.select(
        "bucket",
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").alias("vb"),
        F.expr(_NORM.format(a="embedding")).alias("nb"),
    )
    cos = F.round(F.expr(_DOT.format(a="va", b="vb")) / (F.col("na") * F.col("nb")), 6)
    pairs = (
        a.join(b, on="bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= CLUSTER_COSINE)
        .select("doc_a", "doc_b")
    )
    return components_from_pairs(pairs).select(
        F.col("doc_id").alias("vec_id"), "component"
    )


def embedding_cluster_components_sql() -> str:
    from etl_mini_dw_spark.functions.dedup import NEARDUP_COMPONENTS_SQL

    pairs = f"""
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
FROM (SELECT vec_id, embedding, {_bucket_expr_sql()} AS bucket FROM embeddings) a
JOIN (SELECT vec_id, embedding, {_bucket_expr_sql()} AS bucket FROM embeddings) b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round({_DOT_SQL.format(a="a.embedding", b="b.embedding")}
            / ({_NORM_SQL.format(a="a.embedding")} * {_NORM_SQL.format(a="b.embedding")}),
            6) >= {CLUSTER_COSINE}
"""
    inner = NEARDUP_COMPONENTS_SQL.format(pairs=pairs)
    return f"SELECT doc_id AS vec_id, component FROM ({inner})"


# --- int8 scalar quantization + integer-exact quantized ANN -----------------
# The memory-side scale lever: 64 float32 dims (256 B) become 64 uint8
# codes (64 B) — 4× more vectors per executor page, integer SIMD
# scoring, and (because scoring is pure int64 arithmetic) results that
# are bit-reproducible on any partitioning, unlike float dot products.
# Production systems re-rank the int8 top-k' with full-precision
# vectors; the quantized pass below is that first-stage scorer.

QUANT_LO, QUANT_HI = -1.0, 1.0  # fixed clamp range ⇒ codes are data-independent
QUANT_LEVELS = 255

_CODE = (
    f"transform({{a}}, v -> CAST(floor((least(greatest(CAST(v AS DOUBLE),"
    f" {QUANT_LO}), {QUANT_HI}) - {QUANT_LO}) * {QUANT_LEVELS} /"
    f" ({QUANT_HI} - {QUANT_LO})) AS INT))"
)
_CODE_SQL = (
    f"list_transform({{a}}, v -> CAST(floor((least(greatest(CAST(v AS DOUBLE),"
    f" {QUANT_LO}), {QUANT_HI}) - {QUANT_LO}) * {QUANT_LEVELS} /"
    f" ({QUANT_HI} - {QUANT_LO})) AS INT))"
)
# centered integer dot product: (a-128)·(b-128), pure int64 — no float anywhere
_QDOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST((x - 128) * (y - 128) AS BIGINT)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
_QDOT_SQL = (
    "list_sum(list_transform(range(1, 65),"
    " i -> CAST(({a}[i] - 128) * ({b}[i] - 128) AS BIGINT)))"
)


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization report: code digest + integer stats.

    Map-only (no shuffle); the md5 code signature is what a codebook
    registry would key on to detect quantizer drift between pipeline
    versions.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    staged = emb.select(
        "vec_id", F.expr(_CODE.format(a="embedding")).alias("codes")
    ).localCheckpoint(eager=False)  # codes referenced 4× below
    return staged.select(
        "vec_id",
        F.size("codes").alias("n_dims"),
        F.expr("aggregate(codes, CAST(0 AS BIGINT), (acc, v) -> acc + v)").alias(
            "code_sum"
        ),
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
        F.md5(F.concat_ws(" ", "codes")).alias("code_sig"),
    )


EMBEDDING_QUANTIZE_SQL = f"""
WITH c AS (SELECT vec_id, {_CODE_SQL.format(a="embedding")} AS codes FROM embeddings)
SELECT vec_id,
       CAST(len(codes) AS INT) AS n_dims,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_min(codes) AS INT) AS code_min,
       CAST(list_max(codes) AS INT) AS code_max,
       md5(array_to_string(codes, ' ')) AS code_sig
FROM c
"""


def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-memoized since r09: the recall report re-runs every index
    path already registered as its own query; the output is
    (queries x k) rows, so the checkpoint is tiny while each re-build
    is a full index scan (same rationale as bm25_topk). Plan pins live
    on the pre-checkpoint builder ``_ann_int8_topk_build``."""
    return stage_memo(
        spark,
        sf_dir,
        "ann_int8_topk",
        lambda: _ann_int8_topk_build(spark, sf_dir).localCheckpoint(eager=False),
    )


def _ann_int8_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-stage quantized ANN: top-k by centered int8 dot product.

    Same query/candidate shape as ``ann_bruteforce_topk`` but the score
    is exact int64 arithmetic over the staged uint8 codes — the scan
    side carries 64 B/vector instead of 256 B, and there is no float
    operation anywhere in the scoring path.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    coded = emb.select(
        "vec_id", F.expr(_CODE.format(a="embedding")).alias("codes")
    ).localCheckpoint(eager=False)  # quantize each side once, not per pair
    q = coded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("qc")
    )
    c = coded.select(F.col("vec_id").alias("cand_id"), F.col("codes").alias("cc"))
    w = Window.partitionBy("query_id").orderBy(F.col("qdot").desc(), F.col("cand_id"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("qdot", F.expr(_QDOT.format(a="qc", b="cc")))
    )
    pruned = shard_topk_prune(
        scored,
        ["query_id"],
        [F.col("qdot").desc(), F.col("cand_id")],
        TOP_K,
        "cand_id",
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "qdot", "rank")
    )


ANN_INT8_SQL = f"""
WITH coded AS (SELECT vec_id, {_CODE_SQL.format(a="embedding")} AS codes FROM embeddings),
q AS (SELECT vec_id AS query_id, codes AS qc FROM coded WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cand_id, codes AS cc FROM coded),
scored AS (
  SELECT query_id, cand_id,
         CAST({_QDOT_SQL.format(a="qc", b="cc")} AS BIGINT) AS qdot
  FROM q, c WHERE query_id <> cand_id
)
SELECT query_id, cand_id, qdot, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY qdot DESC, cand_id) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""


# --- embedding column QA: per-dimension distribution stats ------------------
EMB_DIM = 64  # testdata embedding width (TESTDATA.md)


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension health stats for the embedding column: n, mean, std,
    min, max per vector coordinate — the drift/collapse check run before
    trusting ANN indexes (a dead dimension or exploding scale breaks
    IVF/PQ codebooks silently).

    Shape (r10 rewrite): posexplode + groupBy(dim_idx) with 5 aggregates
    — the SAME tall shape the oracle's unnest/GROUP BY uses. The r5 wide
    spelling (one agg of 4·EMB_DIM = 257 column aggregates) avoided a
    shuffle the tall shape never actually pays: partial aggregation
    combines the exploded rows map-side to ≤EMB_DIM rows per partition,
    so the exchange carries K×partitions tiny rows either way — while
    the 257-buffer aggregate spent ~2 s in Catalyst planning + codegen
    of one enormous method (measured; same disease as the r10 k-means
    update fix). Float sums remain order-dependent in the low bits →
    mean/std rounded to 6 on both sides (repo precedent: cosines);
    min/max are order-free and compared exact; sqrt is gated on var > 0
    identically on both sides (DuckDB raises on negatives). Old-vs-new
    compared exceptAll 0/0 at sf0.001/0.01/0.1.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    per = emb.select(F.posexplode("embedding").alias("dim_idx", "v0")).select(
        F.col("dim_idx").cast("bigint").alias("dim_idx"),
        F.col("v0").cast("double").alias("v"),
    )
    agg = per.groupBy("dim_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    mean = F.col("s") / F.col("n")
    var = F.col("q") / F.col("n") - mean * mean
    std = F.when(var > 0, F.sqrt(var)).otherwise(F.lit(0.0))
    return agg.select(
        "dim_idx",
        "n",
        F.round(mean, 6).alias("mean_v"),
        F.round(std, 6).alias("std_v"),
        F.col("mn").alias("min_v"),
        F.col("mx").alias("max_v"),
    )


EMBEDDING_DIM_STATS_SQL = f"""
WITH per AS (
  SELECT i AS dim_idx, CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range({EMB_DIM})) AS i)
),
agg AS (
  SELECT dim_idx, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS q,
         MIN(v) AS mn, MAX(v) AS mx
  FROM per GROUP BY dim_idx
)
SELECT CAST(dim_idx AS BIGINT) AS dim_idx, CAST(n AS BIGINT) AS n,
       round(s / n, 6) AS mean_v,
       round(CASE WHEN q / n - (s / n) * (s / n) > 0
                  THEN sqrt(q / n - (s / n) * (s / n)) ELSE 0.0 END, 6) AS std_v,
       mn AS min_v, mx AS max_v
FROM agg
"""


# --- binary quantization ANN (sign-bit hamming top-k, r5) --------------------
# The vector-DB "binary quantization" tier between int8 and PQ: every
# 64-dim float vector compresses to 64 SIGN BITS (two 32-bit halves so
# the packed values stay positive in a BIGINT — no sign-bit/two's-
# complement portability edge), and candidate ranking is XOR + popcount.
# 32× smaller than float64 on the scan side and pure integer math, so
# rankings are bit-reproducible; the exact cosine of each retrieved
# candidate is reported alongside for the quality readout (the re-rank
# tier a production system runs on the binary shortlist).


def _sig_expr_spark(lo: bool) -> F.Column:
    bits = None
    for i in range(32):
        d = i if lo else i + 32
        bit = F.when(
            F.expr(f"CAST(embedding[{d}] AS DOUBLE) >= 0.0"), F.lit(1 << i)
        ).otherwise(F.lit(0))
        bits = bit if bits is None else bits + bit
    return bits.cast("bigint")


def _sig_expr_sql(lo: bool) -> str:
    return (
        "CAST("
        + " + ".join(
            f"CASE WHEN CAST(embedding[{(i if lo else i + 32) + 1}] AS DOUBLE) >= 0.0"
            f" THEN {1 << i} ELSE 0 END"
            for i in range(32)
        )
        + " AS BIGINT)"
    )


def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-memoized since r09: the recall report re-runs every index
    path already registered as its own query; the output is
    (queries x k) rows, so the checkpoint is tiny while each re-build
    is a full index scan (same rationale as bm25_topk). Plan pins live
    on the pre-checkpoint builder ``_ann_hamming_topk_build``."""
    return stage_memo(
        spark,
        sf_dir,
        "ann_hamming_topk",
        lambda: _ann_hamming_topk_build(spark, sf_dir).localCheckpoint(eager=False),
    )


def _ann_hamming_topk_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, rank, cand_id, hamming, cosine): top-k by sign-bit
    hamming distance per query (ties → lower cand_id), with the exact
    cosine of each retrieved candidate.

    Scale: the corpus side of the scoring join carries 16 bytes per
    vector (two packed BIGINTs) instead of 256+ — the binary shortlist
    scan a 100 TB vector store runs before full-precision re-rank; the
    query side (N_QUERIES rows) broadcasts. Integer hamming makes the
    ranking layout-invariant with no rounding concerns at all.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        _sig_expr_spark(True).alias("sig_lo"),
        _sig_expr_spark(False).alias("sig_hi"),
        F.expr(_NORM.format(a="embedding")).alias("nrm"),
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
        F.col("nrm").alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.col("sig_lo").alias("c_lo"),
        F.col("sig_hi").alias("c_hi"),
        F.col("nrm").alias("cn"),
    )
    ham = F.expr("bit_count(q_lo ^ c_lo) + bit_count(q_hi ^ c_hi)")
    w = Window.partitionBy("query_id").orderBy(F.col("hamming"), F.col("cand_id"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("hamming", ham.cast("int"))
    )
    pruned = shard_topk_prune(
        scored,
        ["query_id"],
        [F.col("hamming"), F.col("cand_id")],
        TOP_K,
        "cand_id",
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "rank",
            "cand_id",
            "hamming",
            F.round(
                F.expr(_DOT.format(a="qv", b="cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine"),
        )
    )


def ann_hamming_topk_sql() -> str:
    return f"""
WITH sig AS (
  SELECT vec_id, embedding,
         {_sig_expr_sql(True)} AS sig_lo,
         {_sig_expr_sql(False)} AS sig_hi
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, sig_lo AS q_lo, sig_hi AS q_hi
      FROM sig WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cand_id, embedding AS cv, sig_lo AS c_lo, sig_hi AS c_hi
      FROM sig),
scored AS (
  SELECT query_id, cand_id,
         CAST(bit_count(xor(q_lo, c_lo)) + bit_count(xor(q_hi, c_hi)) AS INTEGER)
           AS hamming,
         round({_DOT_SQL.format(a="qv", b="cv")}
               / ({_NORM_SQL.format(a="qv")} * {_NORM_SQL.format(a="cv")}), 6) AS cosine
  FROM q, c WHERE query_id <> cand_id
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, cand_id, hamming, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming, cand_id) AS rank
  FROM scored)
WHERE rank <= {TOP_K}
"""


# --- kNN graph construction ---------------------------------------------------
#
# The graph-building ingredient under HNSW/NN-descent-style indexes and
# graph-based semantic clustering: FOR EVERY vector, its top-K cosine
# neighbors among the sign-LSH-bucket candidates, reduced to the shape
# report an index builder actually inspects — out-/in-degree histograms
# (isolated nodes = LSH recall holes; in-degree hubs = skewed buckets),
# reciprocity (symmetry predicts navigability), and mean edge cosine.
#
# Scale: candidate generation is the bucket equi-join (Σ b² bound, the
# LSH payoff — never corpus²); ranking is a per-source window over
# ~bucket-sized partitions; the report aggregates are histogram-sized.
# Bucket id doubles as the storage partition key at 100 TB, so the
# whole build is per-partition local. Mean cosine is summed as an
# integer (round-6 cosine × 1e6) — a float sum over 10^5 edges would be
# reduction-order-dependent.

KNN_K = 5


def knn_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(metric, k, n, ratio): degree histograms ('outdeg'/'indeg' rows,
    k = degree, n = node count) and summary rows ('edges',
    'reciprocal_edges', 'mean_cosine') for the K=5 LSH-blocked kNN
    graph over the embeddings table."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        _bucket_expr_spark().alias("bucket"),
        F.expr(_NORM.format(a="embedding")).alias("nrm"),
    )
    a = emb.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("sv"),
        F.col("nrm").alias("sn"),
        "bucket",
    )
    b = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("dv"),
        F.col("nrm").alias("dn"),
        "bucket",
    )
    cos = F.round(
        F.expr(_DOT.format(a="sv", b="dv")) / (F.col("sn") * F.col("dn")), 6
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
    edges = (
        a.join(b, "bucket")
        .filter(F.col("src") != F.col("dst"))
        .withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(
            "src",
            "dst",
            F.round(F.col("cosine") * 1e6, 0).cast("bigint").alias("c6"),
        )
        .localCheckpoint(eager=False)  # reused by 4 report branches
    )
    ids = emb.select(F.col("vec_id").alias("node"))
    outdeg = (
        ids.join(edges.groupBy("src").count(), ids.node == F.col("src"), "left")
        .select(F.coalesce(F.col("count"), F.lit(0)).alias("deg"))
        .groupBy("deg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.lit("outdeg").alias("metric"),
            F.col("deg").cast("bigint").alias("k"),
            "n",
            F.lit(None).cast("double").alias("ratio"),
        )
    )
    indeg = (
        ids.join(edges.groupBy("dst").count(), ids.node == F.col("dst"), "left")
        .select(F.coalesce(F.col("count"), F.lit(0)).alias("deg"))
        .groupBy("deg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.lit("indeg").alias("metric"),
            F.col("deg").cast("bigint").alias("k"),
            "n",
            F.lit(None).cast("double").alias("ratio"),
        )
    )
    rev = edges.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    summary = edges.join(rev, ["src", "dst"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_recip")
    )
    totals = edges.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum("c6").cast("bigint").alias("sum_c6"),
    )
    srows = (
        totals.crossJoin(F.broadcast(summary))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("edges").alias("metric"),
                        F.lit(-1).cast("bigint").alias("k"),
                        F.col("n_edges").alias("n"),
                        F.lit(None).cast("double").alias("ratio"),
                    ),
                    F.struct(
                        F.lit("reciprocal_edges").alias("metric"),
                        F.lit(-1).cast("bigint").alias("k"),
                        F.col("n_recip").alias("n"),
                        F.round(
                            F.col("n_recip")
                            / F.col("n_edges").cast("double"),
                            6,
                        ).alias("ratio"),
                    ),
                    F.struct(
                        F.lit("mean_cosine").alias("metric"),
                        F.lit(-1).cast("bigint").alias("k"),
                        F.col("n_edges").alias("n"),
                        F.round(
                            F.col("sum_c6")
                            / (1e6 * F.col("n_edges").cast("double")),
                            6,
                        ).alias("ratio"),
                    ),
                )
            ).alias("s")
        )
        .select("s.metric", "s.k", "s.n", "s.ratio")
    )
    return outdeg.unionByName(indeg).unionByName(srows).orderBy("metric", "k")


KNN_GRAPH_SQL = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding, {_bucket_expr_sql()} AS bucket,
         {_NORM_SQL.format(a="embedding")} AS nrm
  FROM embeddings
),
edges AS MATERIALIZED (
  SELECT src, dst,
         CAST(round(cosine * 1e6, 0) AS BIGINT) AS c6
  FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           round({_DOT_SQL.format(a="a.embedding", b="b.embedding")}
                 / (a.nrm * b.nrm), 6) AS cosine,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round({_DOT_SQL.format(a="a.embedding", b="b.embedding")}
                            / (a.nrm * b.nrm), 6) DESC, b.vec_id
           ) AS rank
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
  ) WHERE rank <= {KNN_K}
),
outdeg AS (
  SELECT 'outdeg' AS metric, CAST(deg AS BIGINT) AS k,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS ratio
  FROM (
    SELECT COALESCE(g.c, 0) AS deg
    FROM e LEFT JOIN (SELECT src, COUNT(*) AS c FROM edges GROUP BY src) g
      ON e.vec_id = g.src
  ) GROUP BY deg
),
indeg AS (
  SELECT 'indeg' AS metric, CAST(deg AS BIGINT) AS k,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS ratio
  FROM (
    SELECT COALESCE(g.c, 0) AS deg
    FROM e LEFT JOIN (SELECT dst, COUNT(*) AS c FROM edges GROUP BY dst) g
      ON e.vec_id = g.dst
  ) GROUP BY deg
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(c6) AS BIGINT) AS sum_c6
  FROM edges
),
recip AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_recip
  FROM edges x
  WHERE EXISTS (SELECT 1 FROM edges y
                WHERE y.src = x.dst AND y.dst = x.src)
)
SELECT * FROM outdeg
UNION ALL SELECT * FROM indeg
UNION ALL
SELECT 'edges', CAST(-1 AS BIGINT), n_edges, CAST(NULL AS DOUBLE)
FROM totals
UNION ALL
SELECT 'reciprocal_edges', CAST(-1 AS BIGINT), n_recip,
       round(CAST(n_recip AS DOUBLE) / n_edges, 6)
FROM totals, recip
UNION ALL
SELECT 'mean_cosine', CAST(-1 AS BIGINT), n_edges,
       round(CAST(sum_c6 AS DOUBLE) / (1e6 * n_edges), 6)
FROM totals
ORDER BY metric, k
"""


# --- per-label centroid drift matrix (embedding-space source monitoring) ----
# The drift readout an embedding-pipeline owner watches between corpus
# snapshots: has any label's (or source's) centroid rotated away from
# the others / from where it used to sit? Cosine between centroids is
# scale-invariant, so it is computed directly off the per-label
# per-dimension SUMS (cos(mean_a, mean_b) == cos(sum_a, sum_b)) — the
# 1/n never needs to materialize and the whole operator is one
# partial-aggregable groupBy.


def embedding_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine matrix between per-label embedding centroids.

    Output: (label_a, label_b, n_a, n_b, centroid_cos) for label_a <=
    label_b — the diagonal rows are the self-check (cos 1.0) and the
    off-diagonal the drift signal.

    Shape (r10 rewrite, same fix as ``embedding_dim_stats``): the r8
    wide spelling (groupBy(label) with 64 column SUMs, then a self-join
    whose cosine unrolled into 3×64 chained column products) spent its
    time in Catalyst planning + codegen of enormous methods, not on the
    5 k-row data. The tall shape — posexplode → groupBy(label, dim) —
    partial-aggregates map-side to |labels|×64 rows per partition, so
    the exchange stays tiny at any corpus size; the per-label sums are
    then re-assembled into a 64-array (array_sort(collect_list) over
    unique dims — deterministic) and the cosine is a zip_with fold whose
    i-order matches the old unrolled chain term for term. Float sums
    remain order-dependent in the low bits -> cosine rounded to 6 on
    both sides; old-vs-new compared exceptAll 0/0 at sf0.001/0.01/0.1.
    The norm fold is hoisted to one column per label (never inlined in
    the pair lambda — the CLAUDE.md shingle-norm trap).
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("label").cast("int").alias("label"), "embedding"
    )
    cnt = emb.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    per = emb.select("label", F.posexplode("embedding").alias("dim", "v0")).select(
        "label", "dim", F.col("v0").cast("double").alias("v")
    )
    tall = per.groupBy("label", "dim").agg(F.sum("v").alias("s"))
    cent = (
        tall.groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, s))), x -> x.s)"
            ).alias("vec")
        )
        .withColumn(
            "nrm", F.expr("sqrt(aggregate(vec, 0D, (acc, x) -> acc + x * x))")
        )
        .join(cnt, "label")
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        F.col("n").alias("n_a"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("n").alias("n_b"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.expr("aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (acc, t) -> acc + t)")
    return (
        a.join(F.broadcast(b), F.col("label_a") <= F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("centroid_cos"),
        )
    )


EMBEDDING_LABEL_DRIFT_SQL = f"""
WITH per AS (
  SELECT CAST(label AS INT) AS label, i AS dim,
         CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range({EMB_DIM})) AS i)
),
cent AS (
  SELECT label, dim, SUM(v) AS s FROM per GROUP BY label, dim
),
cnt AS (SELECT CAST(label AS INT) AS label, CAST(COUNT(*) AS BIGINT) AS n
        FROM embeddings GROUP BY 1),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         SUM(a.s * b.s) AS dot
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <= b.label
  GROUP BY 1, 2
),
norms AS (SELECT label, sqrt(SUM(s * s)) AS nm FROM cent GROUP BY label)
SELECT d.label_a, d.label_b, ca.n AS n_a, cb.n AS n_b,
       round(d.dot / (na.nm * nb.nm), 6) AS centroid_cos
FROM dots d
JOIN norms na ON na.label = d.label_a
JOIN norms nb ON nb.label = d.label_b
JOIN cnt ca ON ca.label = d.label_a
JOIN cnt cb ON cb.label = d.label_b
"""


# --- MMR diverse top-k (training-data diversity selection) -------------------
# Maximal Marginal Relevance (Carbonell & Goldstein 1998) over the int8
# code space: greedily pick k items per query maximizing
# lambda*relevance - (1-lambda)*max-similarity-to-already-picked. With
# lambda = 0.7 in tenths the score is the EXACT integer
# 7*rel - 3*max_sim over the centered int8 dot products (_QDOT), so the
# greedy argmax (ties by cand_id) is bit-identical across engines,
# partitionings, and runs — no float anywhere in a selection decision.
MMR_POOL = 20  # candidate pool per query (relevance top-P, exact)
MMR_K = 5  # picks per query
_MMR_L = 7  # lambda in tenths: score = 7*rel - 3*max_sim


def _mmr_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, cand_id, rel, cc): the relevance top-``MMR_POOL`` per
    query. The relevance scan is the only corpus-sized stage, so it goes
    through ``shard_topk_prune`` — no per-query window ever holds more
    than corpus/64 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    coded = emb.select(
        "vec_id", F.expr(_CODE.format(a="embedding")).alias("codes")
    ).localCheckpoint(eager=False)
    q = coded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("qc")
    )
    c = coded.select(F.col("vec_id").alias("cand_id"), F.col("codes").alias("cc"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.expr(_QDOT.format(a="qc", b="cc")).cast("bigint").alias("rel"),
            "cc",
        )
    )
    wpool = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("cand_id")
    )
    return (
        shard_topk_prune(
            scored,
            ["query_id"],
            [F.col("rel").desc(), F.col("cand_id")],
            MMR_POOL,
            "cand_id",
        )
        .withColumn("prank", F.row_number().over(wpool))
        .filter(F.col("prank") <= MMR_POOL)
        .drop("prank")
    )


def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR selection of ``MMR_K`` diverse-but-relevant items per
    query from a relevance-ranked pool of ``MMR_POOL``.

    The training-data curation primitive: pure relevance top-k returns
    near-duplicates of the query's neighborhood; MMR trades relevance
    against redundancy so the selected set covers the neighborhood.

    Scale design: the only corpus-sized stage is the relevance scan
    (`_mmr_pool`, shard-pruned). The |queries| x MMR_POOL pool is
    collected ONCE and the MMR_K greedy rounds run on the driver in
    Python ints — the same centered int8 dot products, so scores are
    exact int64 and argmax ties break on cand_id.
    """

    def train() -> list[tuple[int, int, int, int, int]]:
        pools: dict[int, dict[int, tuple[int, list[int]]]] = {}
        for r in _mmr_pool(spark, sf_dir).collect():
            pools.setdefault(int(r["query_id"]), {})[int(r["cand_id"])] = (
                int(r["rel"]),
                [x - 128 for x in r["cc"]],
            )
        picks = []
        for qid, pool in pools.items():
            chosen: list[list[int]] = []
            for rnd in range(1, min(MMR_K, len(pool)) + 1):
                # max_sim over the picks so far (0 before the first pick)
                scores = {
                    cand: _MMR_L * rel
                    - (10 - _MMR_L)
                    * max((sum(x * y for x, y in zip(cc, sc)) for sc in chosen), default=0)
                    for cand, (rel, cc) in pool.items()
                }
                cand = min(scores, key=lambda c: (-scores[c], c))
                rel, cc = pool.pop(cand)
                chosen.append(cc)
                picks.append((qid, rnd, cand, scores[cand], rel))
        return picks

    # staged once per (session, sf-dir): a second call runs no round
    return rows_frame(
        spark,
        stage_memo(spark, sf_dir, "mmr_picks", train),
        "query_id bigint, pick_round int, cand_id bigint, score bigint, rel bigint",
    )


def mmr_diverse_topk_sql() -> str:
    """Unrolled greedy rounds as MATERIALIZED CTEs (CLAUDE.md: DuckDB
    inlines non-materialized CTEs -> exponential re-evaluation in an
    iteration chain; Bradley-Terry precedent)."""
    code = _CODE_SQL.format(a="embedding")
    parts = [
        f"""WITH coded AS MATERIALIZED (
  SELECT vec_id, {code} AS codes FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         CAST({_QDOT_SQL.format(a="q.codes", b="c.codes")} AS BIGINT) AS rel,
         c.codes AS cc
  FROM coded q, coded c
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id),
pool AS MATERIALIZED (
  SELECT query_id, cand_id, rel, cc FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, cand_id) AS rn
    FROM scored) WHERE rn <= {MMR_POOL}),
sel1 AS MATERIALIZED (
  SELECT query_id, 1 AS pick_round, cand_id,
         CAST({_MMR_L} * rel AS BIGINT) AS score, rel, cc FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY {_MMR_L} * rel DESC, cand_id) AS rn
    FROM pool) WHERE rn = 1),
selall1 AS MATERIALIZED (SELECT * FROM sel1)"""
    ]
    for r in range(2, MMR_K + 1):
        parts.append(
            f"""cand{r} AS MATERIALIZED (
  SELECT p.query_id, p.cand_id, MAX(p.rel) AS rel,
         MAX(CAST({_QDOT_SQL.format(a="p.cc", b="s.cc")} AS BIGINT)) AS max_sim
  FROM pool p JOIN selall{r - 1} s ON p.query_id = s.query_id
  WHERE NOT EXISTS (SELECT 1 FROM selall{r - 1} x
                    WHERE x.query_id = p.query_id AND x.cand_id = p.cand_id)
  GROUP BY p.query_id, p.cand_id),
sel{r} AS MATERIALIZED (
  SELECT c.query_id, {r} AS pick_round, c.cand_id,
         CAST({_MMR_L} * c.rel - {10 - _MMR_L} * c.max_sim AS BIGINT) AS score,
         c.rel, p.cc
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY {_MMR_L} * rel - {10 - _MMR_L} * max_sim DESC, cand_id) AS rn
        FROM cand{r}) c
  JOIN pool p ON p.query_id = c.query_id AND p.cand_id = c.cand_id
  WHERE c.rn = 1),
selall{r} AS MATERIALIZED (
  SELECT * FROM selall{r - 1} UNION ALL SELECT * FROM sel{r})"""
        )
    body = ",\n".join(parts)
    return (
        body
        + f"""
SELECT query_id, CAST(pick_round AS INT) AS pick_round, cand_id,
       score, rel
FROM selall{MMR_K}
"""
    )


# --- Johnson–Lindenstrauss projection distortion audit ----------------------
#
# Achlioptas (2003) "Database-friendly random projections": a ±1 sign
# matrix (here derived from md5 so both engines share it as a literal —
# no engine RNG anywhere) projects the 64-dim embeddings to JL_M = 16
# dims, and the audit measures how well pairwise squared distances
# survive: ratio = |Pa − Pb|² / (m·|a − b|²), which the JL lemma bounds
# near 1 ± ε with ε ≈ √(ln n / m). This is the go/no-go report an index
# owner runs before swapping full-dim ANN for a projected index (the
# cheap-distance path PQ/IVF families build on).
#
# Determinism: embeddings are quantized to integer millis (round-half-up
# via floor(x·1000 + 0.5) — identical double op both sides), so BOTH
# distances are exact BIGINT sums; the only doubles are the final
# per-pair ratio (one IEEE division on identical integers) and the
# round-6 bucket stats. Mean distortion per bucket is summed in exact
# integer micro-units (floor(ratio·1e6 + 0.5)) — no order-dependent
# double accumulation.
#
# Scale: pairs come from consecutive-id blocks of JL_BLOCK vectors, so
# pair count is (JL_BLOCK−1)/2 · n — LINEAR in the corpus, never n².
# Projections are map-side; the block self-join shuffles on the block id
# only. A corpus-scale run distributes perfectly: block = partition key.

import hashlib as _hashlib

JL_M = 16  # projected dimensionality
JL_D = 64  # source dimensionality
JL_BLOCK = 32  # pair-sampling block width (bounds pairs to ~15.5 n)
JL_Q = 1000.0  # integer-milli quantization scale

_JL_SIGNS = [
    [
        1 if _hashlib.md5(f"jl:{i}:{j}".encode()).digest()[0] % 2 == 0 else -1
        for i in range(JL_D)
    ]
    for j in range(JL_M)
]

_JL_QV = (
    "transform({a}, v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))"
)
_JL_QV_SQL = (
    "list_transform({a}, v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))"
)


def _jl_proj_terms(elem_fmt: str) -> list[str]:
    """The 16 projection expressions as ±-chains over 1-indexed element
    accesses (``elem_fmt`` e.g. ``'element_at(qv, {i})'`` / ``'qv[{i}]'``)."""
    exprs = []
    for j in range(JL_M):
        terms = "".join(
            (" + " if _JL_SIGNS[j][i] > 0 else " - ") + elem_fmt.format(i=i + 1)
            for i in range(JL_D)
        )
        exprs.append(f"(CAST(0 AS BIGINT){terms})")
    return exprs


def _jl_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-checkpoint JL projection stage (fanout scan + qv/pv arrays).

    Split out so plan-shape tests can see the fanout Exchange: the
    localCheckpoint jl_projection_audit adds truncates explain() at a
    LogicalRDD scan, hiding everything upstream.
    """
    # the 16x 64-term projections are CPU-bound over a KB-scale scan:
    # without the round-robin fanout the whole projection stage runs in
    # the scan's single input split (measured 12.9 s at 20k vectors in
    # ~1 task; the AQE byte-coalescing blind spot, CLAUDE.md). No-op on
    # a real cluster where the scan already yields many splits.
    from etl_mini_dw_spark.sources.tables import fanout_scan

    emb = fanout_scan(spark, load_table(spark, sf_dir, "embeddings"))
    proj = _jl_proj_terms("element_at(qv, {i})")
    return (
        emb.select(
            "vec_id",
            F.expr(f"vec_id div {JL_BLOCK}").alias("blk"),
            F.expr(_JL_QV.format(a="embedding")).alias("qv"),
        )
        .select(
            "vec_id",
            "blk",
            "qv",
            F.array(*[F.expr(p) for p in proj]).alias("pv"),
        )
    )


def jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_pairs, mean_ratio, min_ratio, max_ratio): distribution
    of the JL distance-distortion ratio over block-sampled vector pairs."""
    staged = _jl_staged(spark, sf_dir).localCheckpoint(
        eager=False
    )  # both sides of the pair join
    a = staged.alias("a")
    b = staged.alias("b")
    d2o = F.expr(
        "aggregate(zip_with(a.qv, b.qv, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    d2p = F.expr(
        "aggregate(zip_with(a.pv, b.pv, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(d2o.alias("d2o"), d2p.alias("d2p"))
        .filter(F.col("d2o") > 0)
        .select(
            (
                F.col("d2p").cast("double")
                / (F.lit(float(JL_M)) * F.col("d2o").cast("double"))
            ).alias("ratio")
        )
    )
    binned = pairs.select(
        F.expr("CAST(floor(ratio * 10.0) AS BIGINT)").alias("bucket"),
        F.expr("CAST(floor(ratio * 1000000.0 + 0.5) AS BIGINT)").alias("micro"),
        "ratio",
    )
    return (
        binned.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("micro").cast("bigint").alias("sum_micro"),
            F.min("ratio").alias("mn"),
            F.max("ratio").alias("mx"),
        )
        .select(
            "bucket",
            "n_pairs",
            F.round(
                F.col("sum_micro").cast("double")
                / F.col("n_pairs").cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("mean_ratio"),
            F.round(F.col("mn"), 6).alias("min_ratio"),
            F.round(F.col("mx"), 6).alias("max_ratio"),
        )
        .orderBy("bucket")
    )


def jl_projection_audit_sql() -> str:
    proj = _jl_proj_terms("qv[{i}]")
    proj_list = ", ".join(proj)
    return f"""
WITH staged AS (
  SELECT vec_id, vec_id // {JL_BLOCK} AS blk,
         {_JL_QV_SQL.format(a="embedding")} AS qv
  FROM embeddings
),
pv AS (
  SELECT vec_id, blk, qv, [{proj_list}] AS pv FROM staged
),
pairs AS (
  SELECT list_sum(list_transform(range(1, {JL_D + 1}),
                                 i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))) AS d2o,
         list_sum(list_transform(range(1, {JL_M + 1}),
                                 i -> (a.pv[i] - b.pv[i]) * (a.pv[i] - b.pv[i]))) AS d2p
  FROM pv a JOIN pv b ON a.blk = b.blk AND a.vec_id < b.vec_id
),
ratios AS (
  SELECT CAST(d2p AS DOUBLE) / ({float(JL_M)} * CAST(d2o AS DOUBLE)) AS ratio
  FROM pairs WHERE d2o > 0
),
binned AS (
  SELECT CAST(floor(ratio * 10.0) AS BIGINT) AS bucket,
         CAST(floor(ratio * 1000000.0 + 0.5) AS BIGINT) AS micro,
         ratio
  FROM ratios
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(CAST(CAST(SUM(micro) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) AS mean_ratio,
       round(MIN(ratio), 6) AS min_ratio,
       round(MAX(ratio), 6) AS max_ratio
FROM binned GROUP BY 1 ORDER BY bucket
"""


# --- Matryoshka truncation quality ------------------------------------------
#
# Kusupati et al. (2022), "Matryoshka Representation Learning": modern
# embedding models are trained so a PREFIX of the vector is itself a
# usable lower-dim embedding. Before switching an ANN index to truncated
# vectors (4x less memory at 16 of 64 dims), the owner measures how much
# of the full-dim top-k survives the truncation: per-query overlap@k
# between the exact 64-d cosine top-k and the renormalized first-16-dims
# top-k. The number this report ends with IS the recall the truncated
# index would serve.
#
# Determinism: both rankings use round-6 cosines with the (cosine desc,
# cand_id) total tie-break, so the two top-k SETS are identical across
# engines and the overlap join is exact-integer.
#
# Scale: both rankings pass shard_topk_prune (no corpus-sized per-query
# window); the overlap join is on (query, cand) over <= Q*k rows. The
# corpus is scanned twice (once per ranking) — still linear, no
# all-pairs beyond the fixed Q query rows.

MATRYOSHKA_DIMS = 16
MATRYOSHKA_K = 10

_DOT_N = (
    "aggregate(zip_with(slice({a}, 1, {d}), slice({b}, 1, {d}),"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_NORM_N = (
    "sqrt(aggregate(transform(slice({a}, 1, {d}), x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
)
_DOT_N_SQL = (
    "list_sum(list_transform(range(1, {d} + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORM_N_SQL = (
    "sqrt(list_sum(list_transform(range(1, {d} + 1),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
)


def _topk_at_dims(emb: DataFrame, d: int, k: int) -> DataFrame:
    """(query_id, cand_id) — exact top-k by cosine over the first ``d``
    dims (renormalized), shard-pruned before the final ranking window."""
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.expr(_NORM_N.format(a="embedding", d=d)).alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.expr(_NORM_N.format(a="embedding", d=d)).alias("cn"),
    )
    cos = F.round(
        F.expr(_DOT_N.format(a="qv", b="cv", d=d)) / (F.col("qn") * F.col("cn")), 6
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("cosine", cos)
    )
    pruned = shard_topk_prune(
        scored, ["query_id"], [F.col("cosine").desc(), F.col("cand_id")], k, "cand_id"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id")
    )


def matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, k, n_overlap, overlap_frac): per-query overlap@k between
    the full-dim top-k and the truncated-prefix top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    full = _topk_at_dims(emb, 64, MATRYOSHKA_K)
    trunc = _topk_at_dims(emb, MATRYOSHKA_DIMS, MATRYOSHKA_K)
    hits = (
        full.join(trunc, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    qs = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id")
    )
    return (
        qs.join(F.broadcast(hits), "query_id", "left")
        .fillna(0, subset=["n_overlap"])
        .select(
            "query_id",
            F.lit(MATRYOSHKA_K).cast("int").alias("k"),
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double") / F.lit(float(MATRYOSHKA_K)), 6
            ).alias("overlap_frac"),
        )
        .orderBy("query_id")
    )


def _matryoshka_topk_sql(d: int) -> str:
    return f"""
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
    FROM (
      SELECT q.query_id, c.cand_id,
             round({_DOT_N_SQL.format(a="q.qv", b="c.cv", d=d)}
                   / ({_NORM_N_SQL.format(a="q.qv", d=d)}
                      * {_NORM_N_SQL.format(a="c.cv", d=d)}), 6) AS cosine
      FROM (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id < {N_QUERIES}) q,
           (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings) c
      WHERE q.query_id <> c.cand_id
    )
  ) WHERE rank <= {MATRYOSHKA_K}
"""


MATRYOSHKA_SQL = f"""
WITH full_k AS ({_matryoshka_topk_sql(64)}),
trunc_k AS ({_matryoshka_topk_sql(MATRYOSHKA_DIMS)}),
hits AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM full_k JOIN trunc_k USING (query_id, cand_id)
  GROUP BY 1
)
SELECT q.vec_id AS query_id,
       CAST({MATRYOSHKA_K} AS INTEGER) AS k,
       COALESCE(n_overlap, 0) AS n_overlap,
       round(CAST(COALESCE(n_overlap, 0) AS DOUBLE) / {MATRYOSHKA_K}.0, 6) AS overlap_frac
FROM (SELECT vec_id FROM embeddings WHERE vec_id < {N_QUERIES}) q
LEFT JOIN hits ON q.vec_id = hits.query_id
ORDER BY query_id
"""
