"""Equivalence tests for functions/quantiles.py.

The histogram selection must be VALUE-IDENTICAL to the ntile spelling it
replaced — same boundary lists (duplicates preserved) and same per-row
labels — across heavy ties, n < K, and n % K != 0 shapes; and
``values_at_ranks`` / ``cum_below`` must match a Python sorted-list and
prefix-sum reference per group, weighted or not. Seeded generators, no
fixture data.
"""

from __future__ import annotations

import random

from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from etl_mini_dw_spark.functions.quantiles import (
    cum_below,
    ntile_bounds,
    ntile_label_cols,
    values_at_ranks,
)


def _bounds_via_ntile(df, k):
    tile = F.ntile(k).over(Window.orderBy("val"))
    return (
        df.select("val", tile.alias("tile"))
        .filter(F.col("tile") < k)
        .groupBy("tile")
        .agg(F.max("val").alias("b"))
        .agg(F.array_sort(F.collect_list("b")).alias("barr"))
        .collect()[0]["barr"]
    )


def test_ntile_bounds_matches_ntile_across_shapes(spark):
    rng = random.Random(20260815)
    cases = [
        # (values, k): heavy ties, spread, n % k != 0, n < k,
        # constant column (min == max → width floor kicks in)
        ([rng.randint(0, 10) for _ in range(257)], 10),
        ([rng.uniform(0, 1000) for _ in range(301)], 10),
        ([5.0] * 40 + [7.0] * 3, 10),  # one value spans many tiles
        ([rng.randint(0, 3) for _ in range(23)], 5),
        ([1.0, 2.0, 3.0], 10),  # n < k: only n-1 edges exist
        ([4.2], 4),  # single row: no edges
        ([9.0] * 31, 4),  # constant: zero range
        ([rng.uniform(-1e9, 1e9) for _ in range(101)], 7),  # wide range
    ]
    for vals, k in cases:
        df = spark.createDataFrame([Row(val=float(v)) for v in vals])
        expected = _bounds_via_ntile(df, k)
        got = ntile_bounds(df, k)
        assert got == expected, (vals[:10], k, got, expected)


def test_ntile_bounds_empty_input(spark):
    df = spark.createDataFrame([], "val double")
    got = ntile_bounds(df, 10)
    assert got == []


def test_ceil_rank_bounds_matches_row_number_rank(spark):
    """ceil_rank_bounds must equal the value at sorted rank ⌈i·n/K⌉ —
    the RFM quintile spelling (min val whose row_number == rank, with
    any total ordering: boundary VALUES are multiset-determined)."""
    from etl_mini_dw_spark.functions.quantiles import ceil_rank_bounds

    rng = random.Random(99)
    cases = [
        ([rng.randint(0, 6) for _ in range(83)], 5),
        ([rng.uniform(0, 100) for _ in range(40)], 5),
        ([2.0] * 17, 5),  # all-ties
        ([1.0, 2.0], 5),  # n < k: ranks repeat
    ]
    for vals, k in cases:
        df = spark.createDataFrame([Row(val=float(v)) for v in vals])
        n = len(vals)
        sv = sorted(vals)
        expected = sorted(sv[((i * n + k - 1) // k) - 1] for i in range(1, k))
        got = ceil_rank_bounds(df, k)
        assert got == expected, (vals[:10], k, got, expected)


def test_ntile_label_cols_matches_ntile(spark):
    rng = random.Random(7)
    rows = []
    for g, n in (("a", 25), ("b", 7), ("c", 100), ("d", 10), ("e", 1)):
        for i in range(n):
            rows.append(Row(g=g, id=i, val=float(rng.randint(0, 5))))
    df = spark.createDataFrame(rows)
    k = 10
    w = Window.partitionBy("g").orderBy("val", "id")
    expected = df.withColumn("decile", F.ntile(k).over(w).cast("int"))
    # closed-form path: exact rank within g via the same total ordering
    ranked = df.withColumn("rank", F.row_number().over(w).cast("bigint")).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("g")).cast("bigint")
    )
    got = ranked.select(
        "g", "id", "val", ntile_label_cols(F.col("n"), F.col("rank"), k).alias("decile")
    )
    exp = {(r.g, r.id): r.decile for r in expected.collect()}
    for r in got.collect():
        assert r.decile == exp[(r.g, r.id)], (r, exp[(r.g, r.id)])


def _ref_values_at_ranks(rows, ranks):
    """Python reference: per group, the sorted multiset with each value
    repeated by its weight, read at the 1-indexed ranks."""
    groups: dict = {}
    for g, v, w in rows:
        if v is not None:
            groups.setdefault((g,), []).extend([v] * w)
    out = {}
    for key, vals in groups.items():
        vals.sort()
        out[key] = (len(vals), [vals[r - 1] for r in ranks(len(vals))])
    return out


def test_values_at_ranks_matches_sorted_list_per_group(spark):
    rng = random.Random(20261019)
    rows = []
    shapes = {
        "neg": lambda: rng.uniform(-500.0, -1.0),
        "const": lambda: 3.5,
        "small": lambda: float(rng.randint(0, 9)),  # n < K below
        "ties": lambda: float(rng.choice([1, 1, 1, 2, 40])),
        "wide": lambda: rng.uniform(-1e9, 1e9),
    }
    sizes = {"neg": 301, "const": 40, "small": 4, "ties": 250, "wide": 173}
    for g, gen in shapes.items():
        rows += [(g, gen(), rng.randint(0, 3)) for _ in range(sizes[g])]
    rows.append(("one", 7.25, 2))  # one-row group
    df = spark.createDataFrame(rows, "g string, val double, w bigint")
    for weight in (None, "w"):
        ref_rows = [(g, v, 1 if weight is None else w) for g, v, w in rows]

        def ranks(n):
            return [r for r in (1, (n + 1) // 2, (3 * n + 3) // 4, n) if 1 <= r <= n]

        got = values_at_ranks(df, ["g"], ranks, weight)
        assert got == _ref_values_at_ranks(ref_rows, ranks), weight


def test_group_keys_match_by_value_and_type(spark):
    """Group keys reach Spark as literals: a null key, quotes and
    backslashes in a string, and int and date key columns each find
    their own group."""
    import datetime

    d1, d2 = datetime.date(1995, 3, 1), datetime.date(2001, 12, 31)
    keys = [(None, 1, d1), ("it's", 1, d1), ("a\\b", 1, d1), ("a\\b", 2, d1), ("a\\b", 2, d2)]
    rows = [(*k, float(i * 10 + j), 1) for i, k in enumerate(keys) for j in range(3)]
    df = spark.createDataFrame(rows, "s string, i int, d date, val double, w bigint")
    got = values_at_ranks(df, ["s", "i", "d"], lambda n: [1, n])
    assert got == {k: (3, [i * 10.0, i * 10.0 + 2]) for i, k in enumerate(keys)}
    below = cum_below(df, ["s", "i", "d"], "w").collect()
    assert sorted((r["val"], r["below"], r["total"]) for r in below) == [
        (i * 10.0 + j, j, 3) for i in range(len(keys)) for j in range(3)
    ]


def test_values_at_ranks_empty_input(spark):
    df = spark.createDataFrame([], "g string, val double")
    assert values_at_ranks(df, ["g"], lambda n: [1]) == {}
    assert values_at_ranks(df, [], lambda n: [1]) == {}


def test_cum_below_matches_prefix_sums(spark):
    rng = random.Random(5)
    rows = [
        (i, g, float(rng.choice([-1e9, 0.0, 1e9]) if g == "x" else rng.randint(-5, 5)), rng.randint(0, 4))
        for i, g in enumerate(["x"] * 60 + ["y"] * 80 + ["z"])
    ]
    df = spark.createDataFrame(rows, "id int, g string, val double, w bigint")
    for weight in (None, "w"):
        wt = {i: (1 if weight is None else w) for i, _, _, w in rows}
        got = {
            r["id"]: (r["below"], r["total"])
            for r in cum_below(df, ["g"], weight).collect()
        }
        for i, g, v, _ in rows:
            below = sum(wt[j] for j, h, u, _ in rows if h == g and u < v)
            total = sum(wt[j] for j, h, _, _ in rows if h == g)
            assert got[i] == (below, total), (weight, i, g, v)
    # no groups: one total over all rows
    got = cum_below(df.select("id", "val"), []).collect()
    vals = [v for _, _, v, _ in rows]
    assert sorted((r["below"], r["total"]) for r in got) == sorted(
        (sum(u < v for u in vals), len(vals)) for v in vals
    )


def test_n_below_counts_strictly_smaller_bounds(spark):
    from decimal import Decimal

    from etl_mini_dw_spark.functions.quantiles import n_below

    df = spark.createDataFrame(
        [(Decimal("1.00"),), (Decimal("5.00"),), (Decimal("12.50"),)], "val decimal(12,2)"
    )
    bounds = [Decimal("5.00"), Decimal("5.00"), Decimal("12.49")]
    got = df.select("val", n_below(bounds, F.col("val")).alias("k"), n_below([], F.col("val")).alias("z"))
    assert sorted((r.val, r.k, r.z) for r in got.collect()) == [
        (Decimal("1.00"), 0, 0),
        (Decimal("5.00"), 0, 0),
        (Decimal("12.50"), 3, 0),
    ]
