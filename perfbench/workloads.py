"""The benchmark's workloads. Each returns (setup_s, runner, checks, extra).

``setup_s`` runs from the first call into the package (``get_spark``) to
the first timed op, less input generation and warm-up: session start
plus the workload's own set-up step, which is the median of
``SETUP_REPS`` runs of ``Warehouse.init`` on a fresh store, or one build
of the memo the query mix reads (a rebuild needs a new input directory
and would not fit a run).

The timed window is whole passes, at least ``ETL_WINDOW_CYCLES`` or
``WQ_WINDOW_PASSES`` of them. They outlast the benchmark's ``--seconds``
on a 4-core host, so every run at one seed times the same ops.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import statistics
import time
from contextlib import nullcontext
from datetime import date

from perfbench import oracle
from perfbench.harness import Op, Runner
from perfbench.trace import Counters, Tracer

SETUP_REPS = 3

# --- etl_incremental -------------------------------------------------------
ETL_SF = 0.001
# orders span 1995-01..2001-07 and edits land up to ~2002-02; the first
# cut leaves a year of history for the initial load (an initial fact
# load over an empty delta writes a table that cannot be read back)
ETL_FIRST_CUT = date(1996, 1, 1)
ETL_LAST_CUT = date(2002, 3, 1)
ETL_WARMUP_DIM = "customer"
ETL_WINDOW_CYCLES = 1

# --- warehouse_queries -----------------------------------------------------
WQ_SF = 0.001
WQ_WINDOW_PASSES = 2
# TPC-H-style classics and star-schema lines, three of them over the
# memoised resolved fact. Their warm latencies lie between ~0.1 and
# ~1.2 s and crowd around the median, so the median does not jump
# between lines when the host's speed moves a little.
WQ_MIX = [
    "q1_pricing_summary",
    "order_priority_with_returns",
    "customer_order_distribution",
    "promo_revenue_ratio",
    "product_line_profit",
    "flagship_revenue_by_month_segment",
    "fact_order_lifecycle",
    "validate_fact_orphans_customer",
    "validate_fact_nk_dups",
    "mart_fact",
]


def _monthly_cuts(first: date, last: date) -> list[str]:
    out, y, m = [], first.year, first.month
    while (y, m) <= (last.year, last.month):
        out.append(f"{y:04d}-{m:02d}-01 00:00:00")
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def _du(path: str) -> tuple[int, int]:
    """Bytes and data files under ``path`` (hidden and marker files excluded)."""
    size = files = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for f in filenames:
            if not f.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, f))
                files += 1
    return size, files


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def etl_incremental(ctx):
    from pyspark.sql import functions as F

    from etl_mini_dw_spark import fixtures_spec as spec
    from etl_mini_dw_spark.etl import runlog, tracker
    from etl_mini_dw_spark.etl.orchestrate import Warehouse
    from etl_mini_dw_spark.plans import validation

    sf_dir = ctx.generate(ETL_SF)
    ctx.log("generated inputs")
    spark, session_s = ctx.start_session()
    inits = []
    for rep in range(SETUP_REPS):
        wh = Warehouse(spark, ctx.path(f"store{rep}"), sf_dir)
        inits.append(_timed(wh.init))
        if rep < SETUP_REPS - 1:
            shutil.rmtree(ctx.path(f"store{rep}"))
    setup_s = session_s + statistics.median(inits)
    ctx.log(f"set up: session {session_s:.2f}s, init {[round(x, 2) for x in inits]}")

    tracer = Tracer(spark) if ctx.trace else None
    if tracer is not None:
        store = wh.store

        def on_write(rec, df, name, *args, **kwargs):
            size, files = _du(store.path(name))
            rec.update(mb=size / 2**20, files=files)

        def on_swap(rec, df, name, col, values):
            sizes = [_du(os.path.join(store.path(name), f"{col}={v}")) for v in values]
            rec.update(mb=sum(s for s, _ in sizes) / 2**20, files=sum(f for _, f in sizes))

        tracer.wrap(store, "read", "store.read")
        tracer.wrap(store, "write", "store.write", on_write)
        tracer.wrap(store, "swap_partitions", "store.swap_partitions", on_swap)
        tracer.wrap(tracker, "read_watermark", "tracker.read_watermark")
        tracer.wrap(tracker, "advance", "tracker.advance")
        tracer.wrap(runlog, "append", "runlog.append")

    cuts = _monthly_cuts(ETL_FIRST_CUT, ETL_LAST_CUT)
    last_cut = []

    def dim_op(key: str, cut: str) -> Op:
        return Op(key, "load_dim", lambda: wh.load_dim(key, as_of=cut, now_ts=spec.NOW_FIXED))

    def cycle(cut: str) -> list[Op]:
        def fact():
            last_cut[:] = [cut]
            return wh.load_fact(as_of=cut)

        return [dim_op(k, cut) for k in spec.DIMS] + [Op("fact_sales", "load_fact", fact)]

    def gen_passes():
        # the initial load; then, to warm the incremental SCD2 merge, one
        # dimension at the next cut (the three share the merge code); then
        # full cycles
        yield cycle(cuts[0])
        yield [dim_op(ETL_WARMUP_DIM, cuts[1])]
        for c in cuts[2:]:
            yield cycle(c)

    passes = gen_passes()
    runner = Runner(spark, tracer)
    extra = runner.run_warmup(passes, 2)
    ctx.log(f"warmed up: {extra}")
    runner.run_window(passes, 2 if tracer else ETL_WINDOW_CYCLES, ctx.seconds)
    ctx.log(f"timed window: {runner.window}")

    # correctness, outside the timed window
    checks: dict[str, str | None] = {}

    def check(label: str, fn) -> None:
        t0 = time.perf_counter()
        try:
            checks[label] = fn()
        except Exception as exc:  # a check that cannot run has failed
            checks[label] = f"{type(exc).__name__}: {exc}"[:300]
        ctx.log(f"check {label} {time.perf_counter() - t0:.1f}s")

    def empty(frame):
        n = frame.count()
        return None if n == 0 else f"{n} violating rows"

    def stage5_validations():
        # the CLI's Stage-5 battery, counted in one action
        frames = []
        for key, dim in spec.DIMS.items():
            table = wh.table(dim.name)
            for label, frame in (
                ("dup_current", validation.duplicate_current_per_nk(table, dim.nk)),
                ("dup_versions", validation.duplicate_version_windows(table, dim.nk)),
                ("overlaps", validation.overlapping_windows(table, dim.nk, dim.sk)),
            ):
                frames.append(frame.select(F.lit(f"{key}.{label}").alias("check")))
        bad = functools.reduce(lambda a, b: a.unionAll(b), frames)
        rows = bad.groupBy("check").count().collect()
        return None if not rows else f"violations {sorted(map(tuple, rows))}"

    check("stage5_validations", stage5_validations)
    check("expected_tables", lambda: None if not wh.missing_tables() else f"missing {wh.missing_tables()}")
    check(
        "run_log_no_fail",
        lambda: empty(wh.table("etl_run_log").filter(F.col("run_status") != "SUCCESS")),
    )

    def fact_equals_full_load():
        # a one-shot load of the same sources at the same cut, resolved
        # against the same dimension tables
        ref_dir = ctx.path("ref_store")
        for name in ("dim_date", *(d.name for d in spec.DIMS.values())):
            shutil.copytree(wh.store.path(name), os.path.join(ref_dir, name))
        ref = Warehouse(spark, ref_dir, sf_dir)
        ref.init()
        ref.load_fact(as_of=last_cut[0])
        a, b = wh.table("fact_sales"), ref.table("fact_sales")
        extra_rows, missing_rows = a.exceptAll(b).count(), b.exceptAll(a).count()
        if extra_rows or missing_rows or a.count() == 0:
            return f"{extra_rows} rows not in the full load, {missing_rows} missing"
        return None

    check("fact_equals_full_load", fact_equals_full_load)
    ctx.log("checked")
    size, files = _du(wh.store.base_dir)
    extra.update(store_mb_on_disk=size / 2**20, store_files=files)
    return setup_s, runner, checks, extra


def warehouse_queries(ctx):
    from etl_mini_dw_spark.operators import fact
    from etl_mini_dw_spark.registry import ORACLE_SQL, QUERIES

    sf_dir = ctx.generate(WQ_SF)
    ctx.log("generated inputs")
    spark, session_s = ctx.start_session()
    # the one memo warmer (bench.py ``_memo_warmers``) the mix reads; the
    # lines over ``dim_states`` are left out, its 61-job build would not
    # fit a run
    counters = Counters(spark)
    j0 = counters.jobs()
    memo_s = _timed(lambda: fact.fact_initial_memo(spark, sf_dir).count())
    memos = {"fact_initial_resolved": {"build_s": memo_s, "build_jobs": counters.jobs() - j0}}
    setup_s = session_s + memo_s
    ctx.log(f"set up: session {session_s:.2f}s, memos {memos}")

    tracer = Tracer(spark) if ctx.trace else None

    def query(name: str):
        def run():
            with tracer.span("construct") if tracer else nullcontext():
                df = QUERIES[name](spark, sf_dir)
            with tracer.span("execute") if tracer else nullcontext():
                df.write.format("noop").mode("overwrite").save()
            return df

        return run

    con = oracle.connect(sf_dir)
    bad: dict[str, str | None] = {}

    def checked(name: str):
        def run():
            bad[name] = oracle.mismatch(QUERIES[name](spark, sf_dir), con, ORACLE_SQL[name])

        return run

    def gen_passes():
        # the warm-up pass compares every line with its oracle; each timed
        # pass runs the mix in its own seeded order
        yield [Op(n, "query", checked(n)) for n in WQ_MIX]
        k = 0
        while True:
            order = list(WQ_MIX)
            random.Random(f"{ctx.seed}:{k}").shuffle(order)
            yield [Op(n, "query", query(n)) for n in order]
            k += 1

    passes = gen_passes()
    runner = Runner(spark, tracer)
    extra = runner.run_warmup(passes, 1)
    ctx.log(f"warmed up: {extra}")
    runner.run_window(passes, WQ_WINDOW_PASSES, ctx.seconds)
    ctx.log(f"timed window: {runner.window}")
    con.close()
    checks = {f"oracle.{n}": bad.get(n, "not checked") for n in WQ_MIX}
    for r in runner.timed:
        if r["ok"] and checks[f"oracle.{r['name']}"] is not None:
            r["ok"] = False
    extra["memos"] = memos
    return setup_s, runner, checks, extra


WORKLOADS = {
    "etl_incremental": etl_incremental,
    "warehouse_queries": warehouse_queries,
}
