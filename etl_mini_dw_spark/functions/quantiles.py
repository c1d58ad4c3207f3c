"""Exact order statistics over a coarse histogram read on the driver.

Two rank questions recur across the package: the value at a sorted rank
(ntile edges, medians, quintile cuts) and the weight below a value
(midranks, cumulative shares, per-row tile labels). Both rest on one
pass. Each group's values are keyed by a monotone coarse bucket
``hb = floor((t − min) / width)`` of ``t = sign(val)·ln(1 + |val|)``
with ``width = (max − min) / 1024`` over t, so bucket order is value
order and a group has at most 1,025 buckets at any data range. The log
was measured on Theil–Sen's pairwise slopes, whose extreme values
stretched equal-width buckets on val over the bulk (18 s against 5 s,
sf0.1, 4 cores); on t their largest bucket holds 30,672 of 2.9M pairs.
It bounds no bucket in general: values packed far from zero relative
to their spread still share one bucket, and that bucket one task.

The input is checkpointed once (lazily, so the first pass fills it),
and two small collects over it hand the driver everything the rank
arithmetic needs, which then runs in Python ints (CLAUDE.md's
bounded-state rule):

1. one aggregate: (n, min, max) per group, n the total weight;
2. the coarse histogram: the weight per (group, bucket), at most
   groups × 1,025 rows.

On that pass:

- ``values_at_ranks`` finds the bucket of each target rank on the
  driver, then reads only the rows of those buckets: one partial-
  aggregable rollup to their value dictionary (heavy ties cost one
  entry) and one window partitioned by (group, bucket), collecting at
  most K rows per group.
- ``cum_below`` inlines each group's bucket prefix sums as a literal
  array and adds, per row, the weight strictly below its value: one
  window partitioned by (group, bucket).

No window runs without a partition and nothing is joined to the
statistics: they reach Spark as literal arrays, one per table, picked
by one CASE over the group keys. The expressions are SQL text, so a
call costs a few gateway round trips rather than several per group.
Groups must be few (the driver holds groups × 1,025 bucket rows); group
keys match null-safely; rows with a null ``val`` are not counted. One
bucket's rows bound the in-bucket pass.

``ntile_bounds`` and ``ceil_rank_bounds`` are rank rules over
``values_at_ranks``. A boundary value depends only on the value
multiset (CLAUDE.md's ntile-boundary note), so the DuckDB oracles keep
the ntile / row_number spelling as the spec; ``n_below`` is the
re-bucketing rule those bounds feed. ``ntile_label_cols`` maps an exact
(rank, n) to the ntile label.
"""

from __future__ import annotations

from bisect import bisect_left
from collections.abc import Callable
from itertools import accumulate

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StringType

_N_COARSE = 1024
# semi-monotonic (Java's log1p contract), so t keeps val's order
_T = "signum(CAST(val AS DOUBLE)) * log1p(abs(CAST(val AS DOUBLE)))"


def _q(name: str) -> str:
    return f"`{name}`"


def _sql(x) -> str:
    """A number, or a list or dict of them, as a Spark SQL literal."""
    if isinstance(x, dict):
        return f"map({', '.join(f'{_sql(k)}, {_sql(v)}' for k, v in x.items())})"
    if isinstance(x, list):
        return f"array({', '.join(map(_sql, x))})"
    # repr round-trips a double exactly; the D suffix keeps it one
    return f"{x!r}D" if isinstance(x, float) else str(int(x))


def _key(v, t: DataType) -> str:
    """A group key value as a literal of its column's type."""
    if v is None:
        return "NULL"
    s = "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
    return s if isinstance(t, StringType) else f"CAST({s} AS {t.simpleString()})"


def _picker(
    staged: DataFrame, by: list[str], keys: list[tuple]
) -> Callable[[list, str], str]:
    """``pick(values, type)``: SQL for ``values[i]`` typed ``type`` on a
    row whose group key is ``keys[i]`` (matched null-safely): one
    literal array indexed by one CASE over the few groups (index 1
    without group columns). With no groups every pick is null."""
    gi = "1"
    if by:
        types = [staged.schema[c].dataType for c in by]
        gi = "CASE " + " ".join(
            "WHEN "
            + " AND ".join(f"{_q(c)} <=> {_key(k, t)}" for c, k, t in zip(by, key, types))
            + f" THEN {i}"
            for i, key in enumerate(keys, 1)
        ) + " END"

    def pick(values: list, type_: str) -> str:
        if not keys:
            return f"CAST(NULL AS {type_})"
        return f"element_at(CAST({_sql(values)} AS array<{type_}>), {gi})"

    return pick


def _coarse(staged: DataFrame, by: list[str], w: str):
    """The shared pass over a checkpointed frame that carries ``_t``
    (``_T``), ``w`` being the SQL of the row weight. Returns the SQL of
    the bucket ``hb``, ``pick`` (see ``_picker``) and per group key
    ``(n, prefix)`` in ``pick``'s order, ``prefix[h]`` being the weight
    in buckets < h."""
    known = staged.filter("val IS NOT NULL")
    stats = {
        tuple(r[c] for c in by): r
        for r in known.groupBy(*by)
        .agg(F.expr(f"sum({w}) AS n"), F.expr("min(_t) AS mn"), F.expr("max(_t) AS mx"))
        .collect()
        if r["mn"] is not None  # the one row a global aggregate of nothing gives
    }
    pick = _picker(staged, by, list(stats))
    mn = pick([r["mn"] for r in stats.values()], "double")
    width = pick([max((r["mx"] - r["mn"]) / _N_COARSE, 1e-12) for r in stats.values()], "double")
    # monotone in val and within [0, _N_COARSE] for every group
    hb = f"CAST(floor((_t - {mn}) / {width}) AS INT)"
    counts = {k: [0] * (_N_COARSE + 1) for k in stats}
    for r in known.groupBy(*by, F.expr(hb).alias("hb")).agg(F.expr(f"sum({w}) AS c")).collect():
        counts[tuple(r[c] for c in by)][r["hb"]] += r["c"]
    groups = {
        k: (stats[k]["n"], [0, *accumulate(c[:-1])]) for k, c in counts.items()
    }
    return hb, pick, groups


def _below(by: list[str], w: str, prefix: str) -> str:
    """SQL of the weight strictly below ``val`` in its group, on rows
    carrying the coarse bucket ``hb``: ``prefix``, the weight in the
    lower buckets, plus the in-bucket cumulative weight, less the ties
    (one window spec, two frames)."""
    spec = f"PARTITION BY {', '.join(map(_q, [*by, 'hb']))} ORDER BY val RANGE BETWEEN"
    return (
        f"{prefix} + sum({w}) OVER ({spec} UNBOUNDED PRECEDING AND CURRENT ROW)"
        f" - sum({w}) OVER ({spec} CURRENT ROW AND CURRENT ROW)"
    )


def values_at_ranks(
    rows: DataFrame,
    by: list[str],
    ranks: Callable[[int], list[int]],
    weight: str | None = None,
) -> dict[tuple, tuple[int, list]]:
    """Per group key (a tuple of the ``by`` values): ``(n, values)``, the
    values of ``val`` at the 1-indexed weighted ranks ``ranks(n)`` (each
    in [1, n], in the order given), n being the group's total weight.

    ``weight`` names a nonnegative integer column (default: each row
    weighs 1). A value at weighted rank r is the one whose ties span r:
    weight strictly below it < r ≤ that plus its own weight. The
    (group, val, weight, t) rows are checkpointed once, so the three
    passes read them, not ``rows``' lineage."""
    staged = (
        rows.filter("val IS NOT NULL")
        .selectExpr(*map(_q, by), "val", f"{_q(weight) if weight else 1} AS w", f"{_T} AS _t")
        .localCheckpoint(eager=False)
    )
    hb, pick, groups = _coarse(staged, by, "w")
    if not groups:
        return {}
    want = {k: ranks(n) for k, (n, _) in groups.items()}
    # the bucket of rank r is the last one whose prefix is below r; the
    # target buckets' prefixes go to Spark as one small map per group
    targets = pick(
        [
            {h: p[h] for h in sorted({bisect_left(p, r) - 1 for r in want[k]})}
            for k, (_, p) in groups.items()
        ],
        "map<int, bigint>",
    )
    hits = (
        staged.filter(f"map_contains_key({targets}, {hb})")
        .groupBy(*by, F.expr(hb).alias("hb"), "val")
        .agg(F.expr("sum(w) AS w"))
        .selectExpr(
            *map(_q, by), "val", "w", f"{_below(by, 'w', f'element_at({targets}, hb)')} AS below"
        )
        .filter(
            f"exists({pick(list(want.values()), 'array<bigint>')},"
            " r -> r > below AND r <= below + w)"
        )
        .collect()
    )
    found: dict[tuple, list] = {k: [] for k in groups}
    for h in hits:
        found[tuple(h[c] for c in by)].append(h)
    return {
        k: (
            n,
            [next(h["val"] for h in found[k] if h["below"] < r <= h["below"] + h["w"])
             for r in want[k]],
        )
        for k, (n, _) in groups.items()
    }


def cum_below(rows: DataFrame, by: list[str], weight: str | None = None) -> DataFrame:
    """``rows`` plus ``below``, the weight of the rows in the same group
    whose ``val`` is strictly smaller (ties share it), and ``total``,
    the group's whole weight. ``weight`` as in ``values_at_ranks``.

    The collects run now, over ``rows`` (plus t) checkpointed once; the
    returned frame reads that checkpoint, and its one window is
    partitioned by (group, bucket). Pass a value dictionary rather than
    raw rows where ties are heavy: a bucket's rows share one task."""
    w = _q(weight) if weight else "1"
    staged = rows.withColumn("_t", F.expr(_T)).localCheckpoint(eager=False)
    hb, pick, groups = _coarse(staged, by, w)
    prefix = f"element_at({pick([p for _, p in groups.values()], 'array<bigint>')}, hb + 1)"
    return staged.withColumn("hb", F.expr(hb)).selectExpr(
        *map(_q, rows.columns),
        f"CAST({_below(by, w, prefix)} AS BIGINT) AS below",
        f"{pick([n for n, _ in groups.values()], 'bigint')} AS total",
    )


def ntile_bounds(base: DataFrame, k: int) -> list:
    """The sorted K−1 boundaries equal to ``max(val)`` per ``ntile(k)``
    tile < k over ``base.val``. Duplicate edges are kept, exactly like
    max-per-tile. Tile i ends at rank ``i·(n div K) + least(i, n mod K)``;
    tiles beyond n rows are empty and emit no edge."""

    def rule(n: int) -> list[int]:
        return [i * (n // k) + min(i, n % k) for i in range(1, min(k - 1, n) + 1)]

    return values_at_ranks(base, [], rule).get((), (0, []))[1]


def ceil_rank_bounds(base: DataFrame, k: int) -> list:
    """The sorted values of ``base.val`` at ranks ``⌈i·n/K⌉`` for
    i = 1..K−1: the RFM-style quintile cuts. For n ≥ 1 every rank is in
    [1, n], so no empty-tile filter (ranks repeat when n < K)."""

    def rule(n: int) -> list[int]:
        return [(i * n + k - 1) // k for i in range(1, k)]

    return values_at_ranks(base, [], rule).get((), (0, []))[1]


def n_below(bounds: list, col: Column) -> Column:
    """How many of ``bounds`` lie strictly below ``col``: the boundary
    rule, against one literal array."""
    return F.size(F.filter(F.array(*[F.lit(b) for b in bounds]), lambda x: x < col))


def _idiv(a: Column, b: Column) -> Column:
    # exact floor division for nonnegative a, positive b via the repo's
    # pmod identity (theil_sen precedent): (a - a mod b) / b is an exact
    # integral double well under 2^53, never a truncated float quotient.
    return ((a - F.pmod(a, b)) / b).cast("bigint")


def ntile_label_cols(n: Column, rank: Column, k: int) -> Column:
    """Closed-form ntile label for a row of global ``rank`` (1-indexed)
    among ``n`` rows: the first ``n mod K`` tiles hold ``n div K + 1``
    rows, the rest ``n div K`` — identical to ``ntile(k)`` over a total
    ordering. The tail-branch divisor is ``greatest(q, 1)``: q=0 implies
    every rank fits the head branch, and the guard keeps the expression
    throw-free under ANSI (CLAUDE.md pmod/CASE rule)."""
    q = _idiv(n, F.lit(k))
    m = F.pmod(n, F.lit(k))
    head = m * (q + F.lit(1))
    return (
        F.when(rank <= head, _idiv(rank - 1, q + F.lit(1)) + 1)
        .otherwise(m + _idiv(rank - head - 1, F.greatest(q, F.lit(1))) + 1)
        .cast("int")
    )
