"""Bradley–Terry preference ranking from pairwise comparisons.

The aggregation model behind preference data in RLHF-style pipelines
(Bradley & Terry 1952; the same likelihood a reward model fits):
given pairwise win counts w_ij, find strengths π with
P(i beats j) = π_i / (π_i + π_j). Fitted here with the classical
MM/Zermelo update

    π_i ← W_i / Σ_j n_ij / (π_i + π_j),  then renormalize Σπ.

Comparisons are mined from the warehouse: within each order, brand A
beats brand B when A's total quantity in that order exceeds B's
(equal-quantity pairs are dropped). Candidate generation is keyed by
orderkey, so the fan-out per order is C(brands-in-order, 2) — bounded
by order size², the repo's Σb² blocking argument; the duel matrix
itself is ≤ |brands|² rows.

Portability: the ENTIRE iteration is integer arithmetic — strengths are
10⁶-scaled BIGINTs, each reciprocal term is an exact BIGINT floor
division (n_ij·10⁹) div (p_i+p_j), so the per-group sums are order-free
and the driver rounds and the DuckDB oracle produce bit-identical
strengths after any number of rounds (the integer-k-means discipline; a float MM sum over j would be
summation-order-sensitive). Magnitudes: n·10⁹ ≤ ~3e16 at sf1 « 2⁶³.

Scale: one corpus shuffle to (orderkey, brand, qty), one orderkey-keyed
self-join with bounded fan-out, then ONE collect of the ≤|brands|²-row
duel matrix: the 5 rounds run on the driver in Python ints (exact, the
same floor divisions), and only the final 10⁻⁶ double projection runs
in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_dw_spark.etl.store import rows_frame
from etl_mini_dw_spark.sources.tables import stage_memo, typed_table

BT_SCALE = 1_000_000  # strength fixed-point scale
BT_TERM = 1_000_000_000  # reciprocal-term fixed-point scale
BT_ROUNDS = 5


def bradley_terry_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand, n_games, n_wins, strength, bt_rank): Bradley–Terry brand
    strengths after 5 integer MM rounds over within-order quantity
    duels; strength is the 10⁻⁶-quantized π (mean 1 by construction)."""

    def train() -> list[tuple[str, int, int, int, int]]:
        li = typed_table(spark, sf_dir, "lineitem")
        part = typed_table(spark, sf_dir, "part")
        oq = (
            li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
            .groupBy(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
            .agg(F.sum("l_quantity").alias("qty"))
        )
        a = oq.select(F.col("ok"), F.col("brand").alias("ba"), F.col("qty").alias("qa"))
        b = oq.select(F.col("ok"), F.col("brand").alias("bb"), F.col("qty").alias("qb"))
        # directed duels: one row per ordered pair with a strict winner
        duels = (
            a.join(b, "ok")
            .filter((F.col("ba") != F.col("bb")) & (F.col("qa") != F.col("qb")))
            .groupBy(F.col("ba").alias("i"), F.col("bb").alias("j"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.when(F.col("qa") > F.col("qb"), 1).otherwise(0))
                .cast("bigint")
                .alias("w"),
            )
        )
        # the rounds run on the driver over the collected ≤|brands|² duel
        # matrix: Python `//` is the floor `div` of the SQL spelling (every
        # operand is positive), and ints never overflow
        rows = [(r["i"], r["j"], int(r["n"]), int(r["w"])) for r in duels.collect()]
        games: dict[str, int] = {}
        wins: dict[str, int] = {}
        for i, _, n, w in rows:
            games[i] = games.get(i, 0) + n
            wins[i] = wins.get(i, 0) + w
        p = dict.fromkeys(games, BT_SCALE)
        target = sum(p.values())
        for _ in range(BT_ROUNDS):
            d = dict.fromkeys(games, 0)
            for i, j, n, _ in rows:
                d[i] += (n * BT_TERM) // (max(p[i], 1) + max(p[j], 1))
            praw = {i: (wins[i] * BT_TERM) // d[i] for i in games}
            tot = sum(praw.values())
            p = {i: (v * target) // tot for i, v in praw.items()}
        order = sorted(games, key=lambda i: (-p[i], i))
        return [(i, games[i], wins[i], p[i], rank) for rank, i in enumerate(order, 1)]

    # staged once per (session, sf-dir): a second call runs no round
    ranked = rows_frame(
        spark,
        stage_memo(spark, sf_dir, "bt_strengths", train),
        "brand string, n_games bigint, n_wins bigint, p bigint, bt_rank int",
    )
    return ranked.select(
        "brand",
        "n_games",
        "n_wins",
        F.round(F.col("p").cast("double") / BT_SCALE, 6).alias("strength"),
        "bt_rank",
    )


def bradley_terry_brands_sql() -> str:
    rounds = []
    prev = "p0"
    for r in range(1, BT_ROUNDS + 1):
        rounds.append(
            f"""
denom{r} AS MATERIALIZED (
  SELECT d.i,
         CAST(SUM((d.n * {BT_TERM}) // (greatest(pa.p, 1) + greatest(pb.p, 1))) AS BIGINT) AS d
  FROM duels d JOIN {prev} pa ON pa.i = d.i JOIN {prev} pb ON pb.i = d.j
  GROUP BY d.i
),
praw{r} AS MATERIALIZED (
  SELECT w.i, CAST((w.W * {BT_TERM}) // d.d AS BIGINT) AS praw
  FROM wins w JOIN denom{r} d ON d.i = w.i
),
p{r} AS MATERIALIZED (
  SELECT i, CAST((praw * (SELECT SUM(p) FROM p0)) // (SELECT SUM(praw) FROM praw{r}) AS BIGINT) AS p
  FROM praw{r}
)"""
        )
        prev = f"p{r}"
    chain = ",".join(rounds)
    return f"""
WITH oq AS MATERIALIZED (
  SELECT l_orderkey AS ok, p_brand AS brand, SUM(l_quantity) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
duels AS MATERIALIZED (
  SELECT a.brand AS i, b.brand AS j,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a.qty > b.qty THEN 1 ELSE 0 END) AS BIGINT) AS w
  FROM oq a JOIN oq b ON a.ok = b.ok AND a.brand <> b.brand AND a.qty <> b.qty
  GROUP BY 1, 2
),
wins AS MATERIALIZED (
  SELECT i, CAST(SUM(n) AS BIGINT) AS G, CAST(SUM(w) AS BIGINT) AS W
  FROM duels GROUP BY i
),
p0 AS MATERIALIZED (
  SELECT i, CAST({BT_SCALE} AS BIGINT) AS p FROM wins
),{chain}
SELECT brand, n_games, n_wins, strength,
       CAST(row_number() OVER (ORDER BY _p DESC, brand) AS INTEGER) AS bt_rank
FROM (
  SELECT w.i AS brand, w.G AS n_games, w.W AS n_wins,
         round(CAST(p.p AS DOUBLE) / {BT_SCALE}, 6) AS strength, p.p AS _p
  FROM wins w JOIN {prev} p ON p.i = w.i
)
ORDER BY bt_rank
"""
