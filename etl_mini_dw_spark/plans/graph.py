"""Iterative graph algorithms on warehouse-derived graphs (extension).

PageRank over the part co-occurrence graph (`plans/olap.py::
part_cooccurrence` builds the same edge base): "which parts sit at the
center of the basket network" — the standard item-importance signal for
recommendations, and the repo's demonstration that *iterative* algorithms
run Spark-first as a sequence of joins + aggregates (the same pattern as
the min-label-propagation connected components in `functions/dedup.py`).

Determinism: textbook PageRank is double math and a distributed double
sum is reduction-order-dependent — not reproducible, not oracle-
checkable. Ranks here are INTEGER-scaled (10^12): contributions use
integer floor-division ``r div deg``, the damping update is
``(15·S) div 100 + (85·Σ) div 100`` — every operation exact, so the
fixpoint trajectory is bit-identical on any cluster layout and in the
DuckDB mirror (3 unrolled CTE iterations).

Scale: per iteration one shuffle (contributions aggregate on dst) over
|E| rows — the classic Pregel-as-joins shape. The three rounds form one
lazy plan: each round reads the previous rank once, so no round is
recomputed, and exchange reuse shares the edges⋈degree and node subplans
across the rounds; building the frame runs no job. At
100 TB |E| sums are promoted to DECIMAL(38,0) (int64 carries ~9.2e18;
Σ r ≤ N·10^12 caps N at ~9M nodes before promotion is needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_dw_spark.etl.store import rows_frame
from etl_mini_dw_spark.sources.tables import stage_memo, typed_table

PR_SCALE = 1_000_000_000_000  # 10^12 fixed-point
PR_ITERS = 3
MIN_COOCCUR_ORDERS = 2  # edge threshold: co-occur in ≥ 2 orders


def _edges_sql() -> str:
    return f"""
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
g AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {MIN_COOCCUR_ORDERS}
),
edges AS (
  SELECT pa AS src, pb AS dst FROM g
  UNION ALL
  SELECT pb AS src, pa AS dst FROM g
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM edges)
"""


def cooccur_edges_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-occurrence graph as directed (src, dst) rows, both
    orientations of every edge, staged once per (session, sf-dir).

    The four graph operators (pagerank, triangle count, k-core peel,
    degree assortativity) all start from this distinct-incidence
    self-join — the most expensive stage of each — so it runs once, and
    one `inline` emits both orientations (billed to bench's
    `memo:graph_edges` line).
    """

    def build() -> DataFrame:
        li = (
            typed_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        both = F.array(
            F.struct(F.col("pa").alias("src"), F.col("pb").alias("dst")),
            F.struct(F.col("pb").alias("src"), F.col("pa").alias("dst")),
        )
        return cooccurrence_edges(li).select(F.inline(both)).localCheckpoint(eager=False)

    return stage_memo(spark, sf_dir, "graph_cooccur_edges", build)


def pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-scaled PageRank (3 iterations) over part co-occurrence.

    Returns (p_partkey, rank_scaled) — rank in 10^12 fixed-point.
    """
    edges = cooccur_edges_memo(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(deg, "src")
    nodes = edges.select(F.col("src").alias("node")).distinct()

    rank = nodes.select("node", F.lit(PR_SCALE).cast("bigint").alias("r"))
    base = (15 * PR_SCALE) // 100
    for _ in range(PR_ITERS):
        contrib = (
            edges_deg.join(rank.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("r div deg")).cast("bigint").alias("contrib"))
        )
        rank = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base).cast("bigint")
                + F.expr("(85 * coalesce(contrib, 0)) div 100")
            ).alias("r"),
        )
    return rank.select(F.col("node").alias("p_partkey"), F.col("r").alias("rank_scaled"))


def pagerank_parts_sql() -> str:
    scale, base = PR_SCALE, (15 * PR_SCALE) // 100
    sql = f"WITH {_edges_sql()}, r0 AS (SELECT node, CAST({scale} AS BIGINT) AS r FROM nodes)"
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        sql += f""",
c{i} AS (
  SELECT e.dst AS node, SUM(p.r // d.deg) AS contrib
  FROM edges e JOIN {prev} p ON e.src = p.node JOIN deg d ON e.src = d.src
  GROUP BY 1
),
r{i} AS (
  SELECT n.node,
         CAST({base} + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN c{i} c USING (node)
)"""
        prev = f"r{i}"
    sql += f"\nSELECT node AS p_partkey, r AS rank_scaled FROM {prev}"
    return sql


# --- triangle counting (degree-ordered orientation) -------------------------
DEG_KEY_BASE = 4_294_967_296  # 2^32: key = deg·2^32 + node, a total order


def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-occurrence graph, top-20.

    The canonical scale-out triangle algorithm: orient every undirected
    edge from its lower-(degree, id) endpoint to the higher one, join
    oriented wedges (u→v, u→w with key(v) < key(w)) against oriented
    edges (v→w). Orientation bounds every vertex's out-degree by
    O(√|E|), so the wedge join materializes Σ outdeg² = O(|E|^1.5)
    candidates — the difference between feasible and cartesian at
    100 TB, same Σb² discipline as the LSH band joins. Each triangle is
    produced exactly once (u, v, w strictly increasing by key), then
    credited to all three corners.

    Graph base = `pagerank_parts`' edge set (parts co-occurring in ≥ 2
    orders); ties in the (deg, node) order are broken by node id via the
    composite integer key deg·2³² + node, portable to the oracle.
    """

    def build() -> DataFrame:
        edges = cooccur_edges_memo(spark, sf_dir)
        g = edges.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("pa"), F.col("dst").alias("pb")
        )
        return orient_edges(g)

    oriented = stage_memo(spark, sf_dir, "graph_oriented_edges", build)
    return (
        _corner_counts(oriented)
        .orderBy(F.col("n_triangles").desc(), "p_partkey")
        .limit(20)
    )


def cooccurrence_edges(
    li: DataFrame, min_orders: int = MIN_COOCCUR_ORDERS
) -> DataFrame:
    """(pa, pb) undirected edge set (pa < pb) from a distinct
    (l_orderkey, l_partkey) incidence frame — parts co-occurring in
    ≥ ``min_orders`` orders. Shared by the pagerank/triangle graph base
    and by skew tests that drive it with adversarial incidence data."""
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_orders)
        .select("pa", "pb")
    )


def orient_edges(g: DataFrame) -> DataFrame:
    """Degree-orient an undirected (pa, pb) edge set: every edge points
    from its lower-(deg, id) endpoint to the higher one via the composite
    key deg·2³² + node. The load-bounding step: a vertex with oriented
    out-degree d has d neighbors of degree ≥ d, so d² ≤ Σ deg = 2|E| and
    **max out-degree ≤ √(2|E|)** — a hub of degree H gets ALL its edges
    oriented inward (out-degree ~0) and can never own an H² wedge task.
    Pinned on adversarial input by tests/test_skew.py. Under AQE the
    checkpoint runs the degree-join stages when it is called (4 jobs on
    the co-occurrence graph), so ``triangle_count_parts`` stages it."""
    incidence = g.select(F.col("pa").alias("node")).unionAll(
        g.select(F.col("pb").alias("node"))
    )
    deg = incidence.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    keyed = (
        g.join(deg.withColumnRenamed("node", "pa").withColumnRenamed("deg", "dega"), "pa")
        .join(deg.withColumnRenamed("node", "pb").withColumnRenamed("deg", "degb"), "pb")
        .select(
            "pa",
            "pb",
            (F.col("dega") * DEG_KEY_BASE + F.col("pa")).alias("ka"),
            (F.col("degb") * DEG_KEY_BASE + F.col("pb")).alias("kb"),
        )
    )
    return keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        F.least("ka", "kb").alias("ksrc"),
        F.greatest("ka", "kb").alias("kdst"),
    ).localCheckpoint(eager=False)  # read 3× (two wedge sides + closure)


def triangle_corner_counts(g: DataFrame) -> DataFrame:
    """(p_partkey, n_triangles) for every vertex of an undirected
    (pa, pb) edge set, each triangle credited to all three corners."""
    return _corner_counts(orient_edges(g))


def _corner_counts(oriented: DataFrame) -> DataFrame:
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.kdst") < F.col("e2.kdst")),
    ).select(
        F.col("e1.src").alias("u"),
        F.col("e1.dst").alias("v"),
        F.col("e2.dst").alias("w"),
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tris = wedges.join(closing, ["v", "w"])
    corners = (
        tris.select(F.col("u").alias("p_partkey"))
        .unionAll(tris.select(F.col("v").alias("p_partkey")))
        .unionAll(tris.select(F.col("w").alias("p_partkey")))
    )
    return corners.groupBy("p_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def triangle_count_parts_sql() -> str:
    return f"""
WITH {_edges_sql()},
keyed AS (
  SELECT g.pa, g.pb,
         da.deg * {DEG_KEY_BASE} + g.pa AS ka,
         db.deg * {DEG_KEY_BASE} + g.pb AS kb
  FROM g JOIN deg da ON da.src = g.pa JOIN deg db ON db.src = g.pb
),
oriented AS (
  SELECT CASE WHEN ka < kb THEN pa ELSE pb END AS src,
         CASE WHEN ka < kb THEN pb ELSE pa END AS dst,
         least(ka, kb) AS ksrc,
         greatest(ka, kb) AS kdst
  FROM keyed
),
wedges AS (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM oriented e1 JOIN oriented e2
    ON e1.src = e2.src AND e1.kdst < e2.kdst
),
tris AS (
  SELECT wg.u, wg.v, wg.w
  FROM wedges wg JOIN oriented o ON o.src = wg.v AND o.dst = wg.w
),
corners AS (
  SELECT u AS p_partkey FROM tris
  UNION ALL SELECT v FROM tris
  UNION ALL SELECT w FROM tris
)
SELECT p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY 1
ORDER BY n_triangles DESC, p_partkey
LIMIT 20
"""


# --- k-core decomposition -------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 8


def kcore_peel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(peel_round, n_nodes, n_edges): the k-core peeling trace of the
    part co-occurrence graph at k=3 — repeatedly delete vertices of
    degree < k; what survives is the maximal subgraph where every part
    co-occurs with ≥ k other core parts (the "dense basket nucleus"
    community-detection primitive)."""
    return kcore_peel_trace(cooccur_edges_memo(spark, sf_dir))


def kcore_peel_trace(edges: DataFrame) -> DataFrame:
    """The KCORE_ROUNDS-row peeling trace of a directed (src, dst) edge
    list holding both orientations of every edge (so edge counts are
    directed; the undirected count is half).

    The textbook distributed k-core: per round one degree aggregate + two
    semi-joins, each a single |E|-row shuffle. A round's surviving edges
    and degree table are each read twice, so both are checkpointed; its
    trace row is one driver read of count / sum / min over the degree
    table. Once every survivor has degree ≥ k (or none survives), later
    rounds peel nothing: their rows repeat the last one and never run.
    At 100 TB rounds needed ≈ O(log N) for power-law graphs.
    """

    def degrees(e: DataFrame) -> DataFrame:
        return e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(eager=False)

    deg = degrees(edges)
    trace: list[tuple[int, int, int]] = []
    for r in range(1, KCORE_ROUNDS + 1):
        alive = deg.filter(F.col("deg") >= KCORE_K).select(F.col("src").alias("node"))
        edges = (
            edges.join(alive, edges.src == alive.node, "left_semi")
            .join(alive, F.col("dst") == alive.node, "left_semi")
            .localCheckpoint(eager=False)
        )
        deg = degrees(edges)
        n_nodes, n_edges, min_deg = deg.agg(
            F.count(F.lit(1)), F.sum("deg"), F.min("deg")
        ).first()
        trace.append((r, n_nodes, n_edges or 0))
        if n_nodes == 0 or min_deg >= KCORE_K:
            break
    trace += [(r, *trace[-1][1:]) for r in range(len(trace) + 1, KCORE_ROUNDS + 1)]
    return rows_frame(
        edges.sparkSession,
        trace,
        "peel_round int NOT NULL, n_nodes bigint NOT NULL, n_edges bigint NOT NULL",
    )


def kcore_peel_report_sql() -> str:
    # each round references the previous THREE times; without
    # materialization DuckDB inlines the chain into ~3^R copies of the
    # base parquet scan (fd exhaustion at R=8) — MATERIALIZED pins each
    # round to one evaluation, mirroring the Spark-side localCheckpoint
    parts = [f"WITH {_edges_sql()}, e0 AS MATERIALIZED (SELECT src, dst FROM edges)"]
    for r in range(1, KCORE_ROUNDS + 1):
        p = r - 1
        parts.append(
            f""", d{r} AS (SELECT src, COUNT(*) AS deg FROM e{p} GROUP BY 1),
a{r} AS (SELECT src AS node FROM d{r} WHERE deg >= {KCORE_K}),
e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{p} e
  JOIN a{r} s ON e.src = s.node JOIN a{r} t ON e.dst = t.node
),
s{r} AS (
  SELECT CAST({r} AS INTEGER) AS peel_round,
         CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
         CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM e{r}
)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT * FROM s{r}" for r in range(1, KCORE_ROUNDS + 1)
    )
    return "".join(parts) + f"\n{sel}\nORDER BY peel_round"


# --- degree assortativity ---------------------------------------------------


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row degree-assortativity report over the part co-occurrence
    graph: Newman's r (Phys. Rev. Lett. 89, 208701) — the Pearson
    correlation of end-point degrees over edges. r > 0 means hub parts
    co-occur with other hubs (assortative basket structure); r < 0 means
    hubs attach to the periphery (the typical retail long-tail shape).

    Determinism: over the both-orientations directed edge list (M rows,
    symmetric in u/v) the correlation reduces to THREE exact BIGINT
    sufficient statistics — Sx = Σ deg(u), Sxx = Σ deg(u)², Sxy =
    Σ deg(u)·deg(v) — so r = (M·Sxy − Sx²) / (M·Sxx − Sx²). Every sum
    stays < 2^53 at any plausible catalog size (deg ≤ √(2|E|) dominates
    after orientation-free counting; Σ deg³ is the binding term), so the
    final double products are IEEE-identical cross-engine; round-6 per
    repo convention, gated on a positive denominator (regular graphs
    have zero degree variance).

    Scale: the degree aggregate and the two degree-enrichment joins are
    the SAME shuffles the pagerank/triangle family already pays; the
    output is one row. No window, no sort, no all-pairs.
    """
    edges = cooccur_edges_memo(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    enriched = (
        edges.join(deg.withColumnRenamed("src", "u").withColumnRenamed("deg", "du"),
                   edges.src == F.col("u"))
        .join(deg.withColumnRenamed("src", "v").withColumnRenamed("deg", "dv"),
              edges.dst == F.col("v"))
    )
    stats = enriched.agg(
        F.count(F.lit(1)).cast("bigint").alias("m_edges"),
        F.count_distinct(F.col("u")).cast("bigint").alias("n_nodes"),
        F.sum("du").cast("bigint").alias("sx"),
        F.sum(F.col("du") * F.col("du")).cast("bigint").alias("sxx"),
        F.sum(F.col("du") * F.col("dv")).cast("bigint").alias("sxy"),
    )
    m = F.col("m_edges").cast("double")
    sx = F.col("sx").cast("double")
    num = m * F.col("sxy").cast("double") - sx * sx
    den = m * F.col("sxx").cast("double") - sx * sx
    return stats.select(
        "n_nodes",
        "m_edges",
        "sx",
        "sxx",
        "sxy",
        F.round(sx / m, 6).alias("mean_degree"),
        F.when(den > 0, F.round(num / den, 6)).alias("assortativity"),
    )


def degree_assortativity_sql() -> str:
    return f"""
WITH {_edges_sql()},
enr AS (
  SELECT e.src, e.dst, du.deg AS du, dv.deg AS dv
  FROM edges e JOIN deg du ON du.src = e.src JOIN deg dv ON dv.src = e.dst
),
st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_edges,
         CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
         CAST(SUM(du) AS BIGINT) AS sx,
         CAST(SUM(du * du) AS BIGINT) AS sxx,
         CAST(SUM(du * dv) AS BIGINT) AS sxy
  FROM enr
)
SELECT n_nodes, m_edges, sx, sxx, sxy,
       round(CAST(sx AS DOUBLE) / CAST(m_edges AS DOUBLE), 6) AS mean_degree,
       CASE WHEN CAST(m_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            THEN round((CAST(m_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       / (CAST(m_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
       END AS assortativity
FROM st
"""
