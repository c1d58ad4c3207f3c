"""Independent checks for the r4 additions that have non-trivial
algorithmic structure: the degree-oriented triangle count (vs a naive
unoriented triple join), the k-core peel (vs a pure-Python peel) and the
Merkle-bucket diff digest (the incremental-equals-full invariant must
read as 64 matching buckets)."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from etl_mini_dw_spark.plans import diff, graph


def test_fact_diff_digest_all_buckets_match(spark, sf_dir):
    rows = diff.fact_diff_digest(spark, sf_dir).collect()
    assert rows, "digest frame is empty"
    assert all(r["is_match"] for r in rows), [r for r in rows if not r["is_match"]]
    total_full = sum(r["n_rows_full"] for r in rows)
    total_inc = sum(r["n_rows_inc"] for r in rows)
    assert total_full == total_inc > 0


def test_triangle_count_matches_naive(spark, sf_dir):
    """The oriented algorithm must agree with the O(n³)-ish naive count
    (three-way join over the undirected edge set with a < b < c) — an
    INDEPENDENT formulation, not a replay of the same plan."""
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    g = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= graph.MIN_COOCCUR_ORDERS)
        .select("pa", "pb")
        .cache()
    )
    e1 = g.select(F.col("pa").alias("x"), F.col("pb").alias("y"))
    e2 = g.select(F.col("pa").alias("y"), F.col("pb").alias("z"))
    e3 = g.select(F.col("pa").alias("x"), F.col("pb").alias("z"))
    tris = e1.join(e2, "y").join(e3, ["x", "z"]).select("x", "y", "z")
    naive_per_node = (
        tris.select(F.col("x").alias("p"))
        .unionAll(tris.select(F.col("y").alias("p")))
        .unionAll(tris.select(F.col("z").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    naive = {r["p"]: r["n"] for r in naive_per_node.collect()}
    got = graph.triangle_count_parts(spark, sf_dir).collect()
    for r in got:
        assert naive.get(r["p_partkey"]) == r["n_triangles"], r
    # the top-20 really are the top of the naive ranking
    if got:
        top_naive = sorted(naive.items(), key=lambda kv: (-kv[1], kv[0]))[: len(got)]
        assert [(r["p_partkey"], r["n_triangles"]) for r in got] == top_naive


def test_kcore_trace_monotone_and_valid(spark, sf_dir):
    """Peeling can only shrink the graph: node/edge counts must be
    monotone non-increasing round over round, edges stay symmetric
    (directed count even), and a stable round means every survivor has
    degree >= k (checked by re-deriving the final degree frame)."""
    rows = graph.kcore_peel_report(spark, sf_dir).orderBy("peel_round").collect()
    assert len(rows) == graph.KCORE_ROUNDS
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_nodes"] <= prev["n_nodes"]
        assert cur["n_edges"] <= prev["n_edges"]
    assert all(r["n_edges"] % 2 == 0 for r in rows), "directed edge count must be even"
    # fixture-scale fixpoint: the sf0.001 graph is dense (min degree 5 >
    # k), so the trace must be flat == nothing ever peels there
    if sf_dir.rstrip("/").endswith("sf0.001"):
        assert rows[0]["n_nodes"] == rows[-1]["n_nodes"]
        assert rows[0]["n_edges"] == rows[-1]["n_edges"]


def _peel_reference(undirected: list[tuple[int, int]]) -> list[tuple[int, int, int]]:
    """The k-core trace by plain set arithmetic: every round drops the
    vertices of degree < k, all of them at once."""
    edges = {(a, b) for a, b in undirected} | {(b, a) for a, b in undirected}
    trace = []
    for r in range(1, graph.KCORE_ROUNDS + 1):
        deg = Counter(src for src, _ in edges)
        alive = {v for v, d in deg.items() if d >= graph.KCORE_K}
        edges = {(s, d) for s, d in edges if s in alive and d in alive}
        trace.append((r, len({s for s, _ in edges}), len(edges)))
    return trace


def _random_gnp(rng: random.Random, n: int, p: float) -> list[tuple[int, int]]:
    return [(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < p]


def _random_band(rng: random.Random, n: int, first: int) -> list[tuple[int, int]]:
    """A path whose every vertex also links to the one two steps on, under
    shuffled labels: each peel round removes only the two ends."""
    label = list(range(first, first + n))
    rng.shuffle(label)
    return [(label[i], label[j]) for i in range(n) for j in (i + 1, i + 2) if j < n]


def _random_tree(rng: random.Random, n: int) -> list[tuple[int, int]]:
    return [(rng.randrange(i), i) for i in range(1, n)]


def _fixpoint_round(trace: list[tuple[int, int, int]]) -> int | None:
    """The first round that repeats the one before it, if any."""
    for prev, cur in zip(trace, trace[1:]):
        if prev[1:] == cur[1:]:
            return cur[0]
    return None


_KCORE_CASES = {
    # case: (seed, undirected edge list of a random graph)
    "fixpoint_midway": (3, lambda rng: _random_gnp(rng, 40, 0.1)),
    "no_fixpoint_in_rounds": (
        4,
        lambda rng: _random_gnp(rng, 12, 0.6) + _random_band(rng, 40, 100),
    ),
    "peels_to_empty": (4, lambda rng: _random_tree(rng, 30)),
    "empty_graph": (0, lambda rng: []),
}


@pytest.mark.parametrize("case", sorted(_KCORE_CASES))
def test_kcore_peel_matches_python_reference(spark, case):
    seed, build = _KCORE_CASES[case]
    undirected = build(random.Random(seed))
    expected = _peel_reference(undirected)
    # the generated graph really is the case it is named for
    fixpoint = _fixpoint_round(expected)
    if case == "fixpoint_midway":
        assert fixpoint is not None and 2 < fixpoint < graph.KCORE_ROUNDS, expected
    elif case == "no_fixpoint_in_rounds":
        assert fixpoint is None, expected
    elif case == "peels_to_empty":
        assert expected[0][1] > 0 and expected[-1][1:] == (0, 0), expected
    else:
        assert all(r[1:] == (0, 0) for r in expected)
    directed = [(a, b) for a, b in undirected] + [(b, a) for a, b in undirected]
    edges = spark.createDataFrame(directed, "src bigint, dst bigint")
    got = graph.kcore_peel_trace(edges).collect()
    assert [tuple(r) for r in got] == expected


def test_drilldown_localizes_geometrically(spark, sf_dir):
    """The Merkle recovery path must (a) find exactly the one dropped
    row (the min sales_id), and (b) shrink the rescan set geometrically
    level over level — that shrinkage IS the 100 TB argument."""
    from etl_mini_dw_spark.operators import fact
    from etl_mini_dw_spark.plans import diff

    rows = {r["level"]: r for r in diff.fact_diff_drilldown(spark, sf_dir).collect()}
    n_total = fact.fact_initial(spark, sf_dir).count()
    vid = fact.fact_initial(spark, sf_dir).agg({"sales_id": "min"}).collect()[0][0]
    assert rows["rescan"]["rows_diff"] == 1
    assert rows["rescan"]["diff_sales_id"] == vid
    # exactly one bucket mismatches at each level (single corrupted row)
    assert rows["l1"]["mismatched"] == 1
    assert rows["l2"]["mismatched"] == 1
    # geometric shrinkage: each level touches far less than the last
    assert rows["l2"]["rows_scanned"] < n_total / 16
    assert rows["rescan"]["rows_scanned"] < rows["l2"]["rows_scanned"] / 8
