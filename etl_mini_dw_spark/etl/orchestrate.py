"""Warehouse orchestration (SURVEY §2.11 X6/X9; `code/SQL_1…sql:1799–1811`).

``Warehouse`` owns the stateful side of the engine: the parquet table
store, tracker, run log, and the run-order DAG (dims first, fact ALWAYS
last; DimDate on demand — the reference's scheduling contract). Loaders
stay pure; this layer is the only one that performs actions.

Each load calls its table kind's one load step (``scd2.load_step``,
``fact.load_step``) with the stored state (``None`` when the table is
missing) and the tracker watermark, then writes the post-state.

Failure semantics (X6): each load computes the full post-state, writes it
to a temp generation and swaps — on any exception nothing is swapped, a
FAIL row is appended to the run log, and the error re-raised
(`code/SQL_1…sql:1026–1044`). The tracker advances only after a
successful swap, uniformly (fixing the reference's dim-vs-fact
inconsistency, SURVEY §3.3).

Scale notes: FactSales is stored partitioned by order-date *year* so date
predicates become partition pruning (the reference only had a date index;
SURVEY §4 physical-design decision). Dims are single-directory (tiny,
always broadcast).
"""

from __future__ import annotations

from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_mini_dw_spark import fixtures_spec as spec
from etl_mini_dw_spark.etl import runlog, tracker
from etl_mini_dw_spark.etl.store import ParquetStore
from etl_mini_dw_spark.functions.dimdate import build_dim_date
from etl_mini_dw_spark.operators import fact, scd2


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


@contextmanager
def _stages_fixed_by_plan(spark: SparkSession):
    """Turn off AQE's runtime empty-relation pruning, which drops a stage
    only if an empty sibling finished before the stage was submitted, so
    a load's job count followed stage finish order."""
    key = "spark.sql.adaptive.optimizer.excludedRules"
    prev = spark.conf.get(key, None)
    rule = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
    spark.conf.set(key, f"{prev},{rule}" if prev else rule)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _tag_counts(post: "DataFrame") -> dict:
    return {
        r["change_tag"]: r["cnt"]
        for r in post.groupBy("change_tag").agg(F.count("*").alias("cnt")).collect()
    }


# Stage 5.1 expected-catalog manifest (`code/SQL_1…sql:1626–1638`, plus the
# run log the reference checks separately at `:1795`)
EXPECTED_TABLES = [
    "dim_date",
    "dim_customer",
    "dim_salesperson",
    "dim_product",
    "fact_sales",
    "etl_load_tracker",
    "etl_run_log",
]


class Warehouse:
    def __init__(self, spark: SparkSession, base_dir: str, sf_dir: str) -> None:
        self.spark = spark
        self.store = ParquetStore(base_dir)
        self.sf_dir = sf_dir

    def missing_tables(self) -> list[str]:
        """Stage 5.1 structure check against the actual store. Expect []."""
        return [t for t in EXPECTED_TABLES if not self.store.exists(t)]

    # --- bootstrap (Stage 1) ---------------------------------------------
    def init(self) -> None:
        tracker.seed(self.spark, self.store)
        if not self.store.exists("dim_date"):
            self.store.write(
                build_dim_date(self.spark, spec.DATE_START, spec.DATE_END), "dim_date"
            )

    # --- one load run (X6–X8), shared by the dims and the fact -------------
    def _run_load(self, table: str, updated_tag: str, wm_col: str, plan) -> dict:
        """Load ``table``: ``plan(wm)`` gets the tracker watermark and returns
        ``(post, write, delta)`` — the ``change_tag``-tagged post-state
        (``None`` when there is nothing to load), the call that swaps it
        in, and the extracted delta.

        The post-state is materialized once for the run-log metrics (X7)
        and the write; an empty one writes nothing at all. The watermark
        moves to the delta's max ``wm_col`` only if rows were inserted or
        ``updated_tag``-ged (X8), and the tracker advances after the swap.
        """
        start = _utcnow()
        run_name = f"etl_load_{table}"
        try:
            wm = tracker.read_watermark(self.spark, self.store, table)
            post, write, delta = plan(wm)
            metrics = {}
            if post is not None:
                with _stages_fixed_by_plan(self.spark):
                    post = post.localCheckpoint()  # materialize once: metrics + write + wm
                metrics = _tag_counts(post)
            new_wm = (
                delta.agg(F.max(wm_col)).first()[0]
                if metrics.get("inserted") or metrics.get(updated_tag)
                else None
            )
            if metrics:
                write(post.drop("change_tag"))
            tracker.advance(self.spark, self.store, table, new_wm, _utcnow())
            runlog.append(
                self.spark,
                self.store,
                run_name,
                start,
                _utcnow(),
                rows_inserted=metrics.get("inserted", 0),
                rows_updated=metrics.get(updated_tag, 0),
                rows_deleted=metrics.get("deleted", 0),  # only dims tag deletes
            )
            return metrics
        except Exception as e:  # X6 FAIL row + rethrow
            runlog.append(
                self.spark, self.store, run_name, start, _utcnow(), status="FAIL", error=str(e)[:500]
            )
            raise

    # --- dimension loads (Stages 2–3, X2–X4) ------------------------------
    def load_dim(self, dim_key: str, as_of: str | None = None, now_ts: str | None = None) -> dict:
        dim = spec.DIMS[dim_key]

        def plan(wm: str):
            state = self.store.read(self.spark, dim.name) if self.store.exists(dim.name) else None
            now = now_ts or spec.ts_literal(_utcnow())
            post, delta = scd2.load_step(self.spark, self.sf_dir, dim, state, wm, as_of, now)
            return post, lambda df: self.store.write(df, dim.name), delta

        return self._run_load(dim.name, "closed", "valid_from", plan)

    # --- fact load (X5) ----------------------------------------------------
    def load_fact(self, as_of: str | None = None) -> dict:
        year = (F.col("sales_order_datekey") / 10000).cast("int")

        def plan(wm: str):
            dims = {fk: self.store.read(self.spark, ds.name) for fk, ds, _ in fact.DIM_LINKS}
            dd = self.store.read(self.spark, "dim_date")
            # MERGE-shaped incremental: the delta determines the touched
            # year-partitions (update never moves a row's datekey, so a
            # matched NK lives in its delta row's year); prior state is
            # read with a PARTITION-PRUNED scan and only those partition
            # dirs are swapped — cost ∝ touched partitions, never table
            # size.
            touched: list[int] = []

            def prior(resolved: DataFrame) -> DataFrame:
                touched.extend(sorted(r[0] for r in resolved.select(year).distinct().collect()))
                state = self.store.read(self.spark, "fact_sales")
                return state.filter(F.col("sales_year").isin(touched)).drop("sales_year")

            initial = not self.store.exists("fact_sales")
            post, delta = fact.load_step(
                self.spark, self.sf_dir, None if initial else prior, wm, as_of, dims, dd
            )

            def write(df: DataFrame) -> None:
                df = df.withColumn("sales_year", year)
                if initial:
                    self.store.write(df, "fact_sales", partition_by=["sales_year"])
                else:
                    self.store.swap_partitions(df, "fact_sales", "sales_year", touched)

            return (post if initial or touched else None), write, delta

        return self._run_load("fact_sales", "updated", "sales_lasteditedwhen", plan)

    # --- full run (X9 DAG: dims first, fact always last) -------------------
    def run_all(self, as_of: str | None = None, now_ts: str | None = None) -> dict[str, dict]:
        self.init()
        out = {}
        for dim_key in spec.DIMS:
            out[dim_key] = self.load_dim(dim_key, as_of=as_of, now_ts=now_ts)
        out["fact_sales"] = self.load_fact(as_of=as_of)
        return out

    def table(self, name: str) -> DataFrame:
        return self.store.read(self.spark, name)


def publish_guarded(
    wh: "Warehouse",
    df: "DataFrame",
    name: str,
    checks: dict[str, "Callable[[DataFrame], DataFrame]"],
) -> dict:
    """Write-audit-publish: audit the CANDIDATE frame, publish (atomic
    swap) only if every check returns zero rows; otherwise leave the
    currently-published generation untouched and report the violations.

    The pattern every serious warehouse converges on (WAP / blue-green
    tables): validations run against the not-yet-visible candidate, so
    readers never observe a state that failed its contract. The
    candidate is a checkpointed frame + the store's swap protocol.
    Violations are counted in one pass per check (the frames
    are usually conditional aggregates, cheap by construction).
    """
    staged = df.localCheckpoint()
    violations = {cname: fn(staged).count() for cname, fn in checks.items()}
    ok = all(v == 0 for v in violations.values())
    if ok:
        wh.store.write(staged, name)
    return {"published": ok, "violations": violations}
