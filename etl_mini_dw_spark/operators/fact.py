"""FactSales loader (SURVEY §2.11 X5; reference `code/SQL_1…sql:1339–1539`).

The reference's fact pipeline: delta view (OrderLines⋈Orders + derived
measures + composite NK + GREATEST change-ts, `code/SQL_1…sql:488–510`) →
UPDATE pass for changed/late-resolved facts (F6) → INSERT pass with
temporal as-of dim resolution, unknown-member fallback, and an
*intentional* inner DimDate join (`code/SQL_1…sql:1446–1447`).

Spark-first design decisions:
- **As-of joins are broadcast range-joins.** The fact side is the 100 TB
  side; each dim is dimension-sized. We broadcast the dim and join on
  ``nk`` equality + half-open interval residual — a BroadcastHashJoin on
  nk with a range filter, never a shuffle of the fact. (SURVEY §7
  hard-part 6: the half-open convention is standardized here; the
  reference's initial load used inclusive BETWEEN, its incremental used
  half-open — we use half-open everywhere, documented deviation.)
- **Exact decimal measures.** qty*price*(1-tax) in DECIMAL — identical
  under any partitioning, and identical to the DuckDB oracle
  (P2 `code/SQL_1…sql:498–499`; the formula's minus is reproduced).
- **Surrogate keys are key-derived**: ``sales_id = l_orderkey *
  LINE_MULT + l_linenumber`` — deterministic, collision-free (linenumber
  < LINE_MULT), needs NO global window/sort and no cross-batch max-SK
  coordination: the one SK strategy that scales to 100 TB and stays
  oracle-checkable. (The reference's IDENTITY produces a dense sequence;
  density is not part of its observable contract — uniqueness and
  stability are. Documented deviation.)
- **Storage partitioning** (orchestrator): FactSales is written
  partitioned by order-date prefix so date filters become partition
  pruning — the reference only had a date index (SURVEY §4).
- **One load step.** ``load_step`` is the one lifecycle step;
  ``fact_two_phase`` and the orchestrator's ``load_fact`` both call it.
"""

from __future__ import annotations

from functools import reduce
from operator import or_
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_dw_spark import fixtures_spec as spec
from etl_mini_dw_spark.functions.dimdate import build_dim_date
from etl_mini_dw_spark.operators import scd2
from etl_mini_dw_spark.sources.tables import stage_memo, typed_table

# (fact column, dim spec, dim nk column in the fact source)
DIM_LINKS = [
    ("sales_customerid", spec.CUSTOMER, "customer_nk"),
    ("sales_salespersonid", spec.SALESPERSON, "salesperson_nk"),
    ("sales_productid", spec.PRODUCT, "product_nk"),
]

# l_linenumber < LINE_MULT everywhere (TPC-H max is 7) — key-derived SK
LINE_MULT = 10

MEASURES = [
    "sales_quantity",
    "sales_unitprice",
    "sales_taxrate",
    "sales_value",
    "sales_value_aftertax",
]


def _ts(lit: str) -> Column:
    return F.lit(lit).cast("timestamp")


def src_sales(
    spark: SparkSession, sf_dir: str, watermark: str, as_of: str | None = None
) -> DataFrame:
    """The ``src_sales`` delta view (S2 fact, `code/SQL_1…sql:488–510`).

    J1 inner join OrderLines⋈Orders; P5 composite NK; P2 exact-decimal
    measures; P3 GREATEST change-ts; F2 watermark predicate. The
    synthesized edit stream (fixtures_spec.FACT_EDIT_MOD) plus a
    latest-per-NK window reproduce a mutable source table the driver's
    immutable testdata doesn't have.
    """
    def build_hist() -> DataFrame:
        li = typed_table(spark, sf_dir, "lineitem")
        orders = typed_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )
        raw = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "inner").select(
            "l_orderkey",
            "l_linenumber",
            "o_custkey",
            "l_suppkey",
            "l_partkey",
            "o_orderdate",
            F.col("l_quantity").alias("qty"),
            F.col("l_extendedprice").alias("price"),
            F.col("l_tax").alias("tax"),
            # P3 greatest-of-two change timestamp (`code/SQL_1…sql:500–501`)
            F.greatest("l_shipdate", "o_orderdate").alias("lastedit"),
        )
        edits = raw.filter((F.col("l_orderkey") % spec.FACT_EDIT_MOD) == 0).select(
            "l_orderkey",
            "l_linenumber",
            "o_custkey",
            "l_suppkey",
            "l_partkey",
            "o_orderdate",
            (F.col("qty") + F.lit(1)).cast("decimal(12,2)").alias("qty"),
            "price",
            "tax",
            F.timestamp_add(
                "DAY", F.lit(spec.FACT_EDIT_DAYS), F.col("lastedit")
            ).alias("lastedit"),
        )
        # lazily checkpointed once per (session, sf-dir): the initial and
        # incremental phases of a two-phase run (and the orchestrator's
        # repeated loads) all consume this same staged frame — at 100 TB
        # this is the staged edit-history table between the join and the
        # per-batch aggregates
        return raw.unionByName(edits).localCheckpoint(eager=False)
    # The testdata's lineitem is NOT unique on (orderkey, linenumber) —
    # latest-per-NK-wins is the engine's documented adaptation of the
    # reference's unique OrderLines key. The ordering is TOTAL within a
    # partition (the six tiebreakers determine the row; o_custkey and
    # o_orderdate are functions of l_orderkey), so a lexicographic
    # max(struct(...)) picks the SAME winner as the previous
    # row_number-desc formulation. Physically this is a SortAggregate
    # (struct-typed buffers are not hash-aggregable — measured, and
    # max_by compiles the same way), but unlike the window version it
    # partial-aggregates map-side: the shuffle carries one row per NK,
    # not every version. At 100 TB only the delta batch flows through it.
    hist = stage_memo(spark, sf_dir, "fact_hist", build_hist)
    if as_of is not None:
        hist = hist.filter(F.col("lastedit") <= _ts(as_of))
    # F2 watermark predicate applied BEFORE the latest-per-NK aggregate —
    # value-identical to filtering after it because ``lastedit`` is the
    # FIRST field of the ordering struct: the winner always carries the
    # group-max lastedit, so (a) if the winner clears the watermark it
    # survives the pre-filter and stays the max of the kept subset, and
    # (b) if it doesn't, no row of the group does and the group vanishes
    # either way. The payoff is the scale contract: an incremental run
    # aggregates ONLY rows newer than the watermark (cost ∝ delta), not
    # the whole edit history.
    hist = hist.filter(F.col("lastedit") > _ts(watermark))
    winner = F.max(
        F.struct(
            "lastedit", "l_partkey", "l_suppkey", "qty", "price", "tax",
            "o_custkey", "o_orderdate",
        )
    ).alias("w")
    latest = (
        hist.groupBy("l_orderkey", "l_linenumber")
        .agg(winner)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("w.o_custkey").alias("o_custkey"),
            F.col("w.l_suppkey").alias("l_suppkey"),
            F.col("w.l_partkey").alias("l_partkey"),
            F.col("w.o_orderdate").alias("o_orderdate"),
            F.col("w.qty").alias("qty"),
            F.col("w.price").alias("price"),
            F.col("w.tax").alias("tax"),
            F.col("w.lastedit").alias("lastedit"),
        )
    )
    value = (F.col("qty") * F.col("price")).cast("decimal(18,4)")
    aftertax = (value * (F.lit(1).cast("decimal(4,2)") - F.col("tax"))).cast("decimal(18,6)")
    return (
        latest.select(
            # key-derived surrogate (see module docstring)
            (F.col("l_orderkey") * LINE_MULT + F.col("l_linenumber"))
            .cast("bigint")
            .alias("sales_id"),
            # P5 composite natural key (`code/SQL_1…sql:490`)
            F.concat_ws(
                "-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
            ).alias("sales_nk"),
            F.col("o_custkey").alias("customer_nk"),
            # unknown-member trigger: some rows point outside the dim
            F.when(
                (F.col("l_orderkey") % spec.UNKNOWN_SUPP_MOD) == 0,
                F.col("l_suppkey") + spec.UNKNOWN_SUPP_OFFSET,
            )
            .otherwise(F.col("l_suppkey"))
            .alias("salesperson_nk"),
            F.col("l_partkey").alias("product_nk"),
            F.col("o_orderdate").alias("order_date"),
            F.col("qty").alias("sales_quantity"),
            F.col("price").cast("decimal(14,4)").alias("sales_unitprice"),
            (F.col("tax") * 100).cast("decimal(10,4)").alias("sales_taxrate"),
            value.alias("sales_value"),
            aftertax.alias("sales_value_aftertax"),
            F.col("lastedit").alias("sales_lasteditedwhen"),
        )
    )


def resolve_dimensions(facts: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """J3 as-of (half-open) broadcast joins + P6/P12 unknown fallback.

    ``dims`` maps fact FK column → SCD2 dim DataFrame. The unknown SK is
    read per-dim via a broadcast of the NK=-1 row (P12's scalar-hoist,
    `code/SQL_1…sql:861–866`) — no driver collect, stays one lazy plan.
    """
    out = facts
    for fk_col, dim_spec, nk_col in DIM_LINKS:
        dim = dims[fk_col]
        d = dim.select(
            F.col(dim_spec.nk).alias(f"_d_{nk_col}"),
            F.col(dim_spec.sk).alias(f"_d_{fk_col}"),
            F.col("active_from").alias("_d_from"),
            F.col("active_to").alias("_d_to"),
        )
        unk = dim.filter(F.col(dim_spec.nk) == spec.UNKNOWN_NK).select(
            F.col(dim_spec.sk).alias(f"_unk_{fk_col}")
        )
        out = (
            out.join(
                F.broadcast(d),
                (F.col(nk_col) == F.col(f"_d_{nk_col}"))
                & (F.col("sales_lasteditedwhen") >= F.col("_d_from"))
                & (F.col("sales_lasteditedwhen") < F.col("_d_to")),
                "left",
            )
            .crossJoin(F.broadcast(unk))
            .withColumn(fk_col, F.coalesce(F.col(f"_d_{fk_col}"), F.col(f"_unk_{fk_col}")))
            .drop(f"_d_{nk_col}", f"_d_{fk_col}", "_d_from", "_d_to", f"_unk_{fk_col}")
        )
    return out


FACT_COLS = [
    "sales_id",
    "sales_nk",
    "sales_customerid",
    "sales_salespersonid",
    "sales_productid",
    "sales_order_datekey",
    *MEASURES,
    "sales_lasteditedwhen",
]


def resolve_facts(
    facts: DataFrame, dims: dict[str, DataFrame], dim_date: DataFrame
) -> DataFrame:
    """Source sales rows → fact rows: dimension SKs resolved as of each
    row's edit time, then the date key by an intentional inner DimDate
    join (drops out-of-horizon facts, `code/SQL_1…sql:1446–1447`;
    DimDate is broadcast), projected to ``FACT_COLS``."""
    dd = dim_date.select(
        F.col("date_value").alias("_dd_date"), F.col("date_key").alias("sales_order_datekey")
    )
    return (
        resolve_dimensions(facts, dims)
        .join(F.broadcast(dd), F.col("order_date").cast("date") == F.col("_dd_date"), "inner")
        .select(*FACT_COLS)
    )


def fact_initial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial fact load (`code/SQL_1…sql:804–902`), half-open as-of joins:
    the load step with no prior state."""
    dims = {fk: scd2.dim_initial(spark, sf_dir, ds) for fk, ds, _ in DIM_LINKS}
    dd = build_dim_date(spark, spec.DATE_START, spec.DATE_END)
    return load_step(spark, sf_dir, None, spec.LOW, None, dims, dd)[0].drop("change_tag")


def fact_initial_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One lazily-checkpointed resolved initial fact per (session, sf-dir).

    Shared by every consumer that needs the resolved initial fact as an
    INPUT (validations, mart, reconcile, the Merkle diff pair) — the
    build is billed once (bench's `memo:fact_initial_resolved` line);
    ``fact_sales_initial`` itself stays un-memoized so its bench line
    keeps measuring the real build.
    """
    return stage_memo(
        spark,
        sf_dir,
        "fact_initial_resolved",
        lambda: fact_initial(spark, sf_dir).localCheckpoint(eager=False),
    )


def fact_two_phase_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One lazily-checkpointed two-phase (split + incremental) fact
    post-state per (session, sf-dir) — same pattern as
    ``fact_initial_memo`` (r10, VERDICT r9 item 4).

    Consumed by paths that need the two-phase result as an INPUT (the
    Merkle diff digest); the build is billed to bench's
    `memo:fact_two_phase_resolved` warmer line. ``fact_sales_two_phase``
    itself stays un-memoized so its bench line keeps measuring the real
    merge (its state0 sub-build is staged separately — see
    BENCH_NOTES.md build-payer table)."""
    return stage_memo(
        spark,
        sf_dir,
        "fact_two_phase_resolved",
        lambda: fact_two_phase(spark, sf_dir).localCheckpoint(eager=False),
    )


def fact_increment(
    state0: DataFrame, resolved: DataFrame, dims: dict[str, DataFrame]
) -> DataFrame:
    """One incremental fact merge pass → post-state tagged kept/updated/inserted.

    Mirrors `code/SQL_1…sql:1339–1539`: UPDATE pass for matched NKs where
    measures changed or a dim SK was unknown and the source row is newer
    (F6), INSERT pass for new NKs (J5 anti-join); no deletes by design
    (`code/SQL_1…sql:1464–1474`).
    """
    src = resolved.select([F.col(c).alias(f"src_{c}") for c in FACT_COLS])
    unknowns = {
        fk: dims[fk]
        .filter(F.col(ds.nk) == spec.UNKNOWN_NK)
        .select(F.col(ds.sk).alias(f"_unk_{fk}"))
        for fk, ds, _ in DIM_LINKS
    }

    # F6 update predicate (`code/SQL_1…sql:1394–1402`): measures differ OR
    # any dim SK resolved to unknown, AND the source row is newer.
    # The delta is unbounded (backfill / first run after downtime makes it
    # fact-sized) so it must NOT carry a broadcast hint — AQE picks
    # broadcast at runtime when the delta is genuinely small, and falls
    # back to a shuffle hash join on the NK when it isn't.
    joined = state0.join(src, state0.sales_nk == F.col("src_sales_nk"), "left")
    for fk, _, _ in DIM_LINKS:
        joined = joined.crossJoin(F.broadcast(unknowns[fk]))
    measure_changed = reduce(or_, [~(F.col(m).eqNullSafe(F.col(f"src_{m}"))) for m in MEASURES])
    was_unknown = reduce(or_, [F.col(fk) == F.col(f"_unk_{fk}") for fk, _, _ in DIM_LINKS])
    should_update = (
        F.col("src_sales_nk").isNotNull()
        & (measure_changed | was_unknown)
        & (F.col("src_sales_lasteditedwhen") > F.col("sales_lasteditedwhen"))
    )
    # the keys stay, and so does the date key: the reference's UPDATE pass
    # does not touch it
    kept = ("sales_id", "sales_nk", "sales_order_datekey")
    updated_cols = [
        F.col(c) if c in kept
        else F.when(should_update, F.col(f"src_{c}")).otherwise(F.col(c)).alias(c)
        for c in FACT_COLS
    ]
    base = joined.select(
        *updated_cols,
        F.when(should_update, F.lit("updated")).otherwise(F.lit("kept")).alias("change_tag"),
    )

    # INSERT pass: new NKs only (J5 anti-join, `code/SQL_1…sql:1448–1460`);
    # key-derived SKs need no max-SK offset or ordering window
    inserted = (
        resolved.join(state0.select("sales_nk"), on="sales_nk", how="left_anti")
        .select(*FACT_COLS)
        .withColumn("change_tag", F.lit("inserted"))
    )
    return base.unionByName(inserted)


def load_step(
    spark: SparkSession,
    sf_dir: str,
    state: Callable[[DataFrame], DataFrame] | None,
    wm: str,
    as_of: str | None,
    dims: dict[str, DataFrame],
    dim_date: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """One fact load (X5) → ``(post tagged with change_tag, delta)``, the
    only code that tells an initial load from an increment. Source rows
    resolve against ``dims`` and ``dim_date``. ``state is None`` loads the
    full history from the seed watermark; otherwise the delta past ``wm``
    merges into ``state(resolved)``, the prior rows it may touch (so a
    stored table reads only the partitions the delta names). The caller
    picks the next watermark."""
    delta = src_sales(spark, sf_dir, spec.LOW if state is None else wm, as_of=as_of)
    resolved = resolve_facts(delta, dims, dim_date)
    if state is None:
        return resolved.withColumn("change_tag", F.lit("inserted")), delta
    return fact_increment(state(resolved), resolved, dims), delta


def fact_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial load as-of FACT_SPLIT + one incremental pass (X5 lifecycle)."""
    dims = {fk: scd2.dim_initial(spark, sf_dir, ds) for fk, ds, _ in DIM_LINKS}
    dd = build_dim_date(spark, spec.DATE_START, spec.DATE_END)

    # phase 1: what the warehouse looked like after loading up to the split;
    # materialized once PER SESSION, eagerly (as in scd2.dim_two_phase) —
    # it feeds the watermark read, the update join and the insert
    # anti-join, the in-session analog of reading the stored table back
    def build_state0() -> DataFrame:
        f0, _ = load_step(spark, sf_dir, None, spec.LOW, spec.FACT_SPLIT, dims, dd)
        return f0.drop("change_tag").localCheckpoint()

    state0 = stage_memo(spark, sf_dir, "fact_state0", build_state0)

    # data-driven watermark advance (`code/SQL_1…sql:1493–1500`), read back
    # to the driver like the reference's scalar tracker lookup (P11);
    # empty phase 1 ⇒ seed watermark (same fallback as dim_two_phase).
    # Phase 2's delta resolves at the *new* edit time (late-dim repair path)
    wm = state0.agg(F.max("sales_lasteditedwhen")).first()[0]
    return load_step(spark, sf_dir, lambda _: state0, spec.ts_literal(wm), None, dims, dd)[0]
