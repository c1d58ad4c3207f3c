"""Warehouse lifecycle: initial load → incremental → idempotent re-run.

Port of the reference's test strategy (SURVEY §5): zero-row Stage 5
invariants after any run, the README-documented idempotence property
(re-run ⇒ 0 inserted/updated/deleted), and run-log/tracker observability.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from etl_mini_dw_spark import fixtures_spec as spec
from etl_mini_dw_spark.etl import tracker
from etl_mini_dw_spark.etl.orchestrate import EXPECTED_TABLES, Warehouse
from etl_mini_dw_spark.etl.store import ParquetStore
from etl_mini_dw_spark.plans import validation


@pytest.fixture(scope="module")
def wh(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("warehouse"))
    w = Warehouse(spark, base, sf_dir)
    w.init()
    # phase 1: world as of MID; phase 2: present
    w.run_all(as_of=spec.MID, now_ts=spec.NOW_FIXED)
    w.run_all(now_ts=spec.NOW_FIXED)
    return w


def test_idempotent_rerun(wh):
    metrics = wh.run_all(now_ts=spec.NOW_FIXED)
    for table, m in metrics.items():
        assert m.get("inserted", 0) == 0, (table, m)
        assert m.get("updated", 0) == 0, (table, m)
        assert m.get("closed", 0) == 0, (table, m)
        assert m.get("deleted", 0) == 0, (table, m)


def test_scd2_invariants(wh):
    for key, dim in spec.DIMS.items():
        df = wh.table(dim.name)
        assert validation.duplicate_current_per_nk(df, dim.nk).count() == 0, key
        assert validation.duplicate_version_windows(df, dim.nk).count() == 0, key
        assert validation.overlapping_windows(df, dim.nk, dim.sk).count() == 0, key
        assert validation.null_validity(df, dim.nk).count() == 0, key
        # unknown member present and current
        unk = df.filter(F.col(dim.nk) == spec.UNKNOWN_NK)
        assert unk.count() == 1 and unk.first()["is_current"], key


def test_fact_invariants(wh):
    f = wh.table("fact_sales")
    assert validation.duplicate_fact_nk(f).count() == 0
    for fk, dim, _ in __import__(
        "etl_mini_dw_spark.operators.fact", fromlist=["DIM_LINKS"]
    ).DIM_LINKS:
        d = wh.table(dim.name)
        assert validation.fact_orphans(f, d, fk, dim.sk).count() == 0, fk


def test_incremental_matches_direct_build(wh, spark, sf_dir):
    """Two-phase warehouse state ≡ the oracle-checked two-phase plan."""
    from etl_mini_dw_spark.operators import scd2

    for key, dim in spec.DIMS.items():
        direct = scd2.dim_two_phase(spark, sf_dir, dim, spec.MID, spec.NOW_FIXED).drop(
            "change_tag"
        )
        stored = wh.table(dim.name)
        assert stored.count() == direct.count(), key
        assert (
            stored.exceptAll(direct.select(*stored.columns)).count() == 0
            and direct.select(*stored.columns).exceptAll(stored).count() == 0
        ), key


def test_expected_tables_present(wh):
    assert wh.missing_tables() == []


def test_runlog_and_tracker(wh, spark):
    log = wh.table("etl_run_log")
    assert log.filter(F.col("run_status") == "FAIL").count() == 0
    # 3 full runs × 4 tables
    assert log.count() == 12
    tr = wh.table("etl_load_tracker")
    rows = {r["table_name"]: r for r in tr.collect()}
    assert set(rows) == {"dim_customer", "dim_salesperson", "dim_product", "fact_sales"}
    for r in rows.values():
        assert r["last_successful_execution_time"] is not None
        assert r["last_successful_load"].year > 1900  # advanced past seed


def test_stored_tables_read_as_their_files_infer(wh, spark):
    """Every table reads with the schema its writer recorded: the schema,
    nullability included, and the rows of a schema-less read of its files."""
    for name in EXPECTED_TABLES:
        got = wh.store.read(spark, name)
        inferred = spark.read.parquet(wh.store.path(name))
        assert got.schema == inferred.schema, name
        assert got.exceptAll(inferred).count() == 0, name
        assert inferred.exceptAll(got).count() == 0, name


def test_copied_tables_read_without_a_job(wh, spark, tmp_path):
    """A table dir copied into a fresh store carries its recorded schema,
    so reading it fires no schema-inference job."""
    store = ParquetStore(str(tmp_path))
    for name in EXPECTED_TABLES:
        shutil.copytree(wh.store.path(name), store.path(name))
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    frames = [store.read(spark, name) for name in EXPECTED_TABLES]
    assert sched.nextJobId() == before
    assert [f.count() for f in frames] == [wh.table(n).count() for n in EXPECTED_TABLES]


def test_fail_logging(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("warehouse_fail"))
    w = Warehouse(spark, base, "/nonexistent/dir")
    w.init()
    with pytest.raises(Exception):
        w.load_dim("customer")
    log = w.table("etl_run_log")
    assert log.filter(F.col("run_status") == "FAIL").count() == 1


def _assert_equals_one_shot_fact(w, spark, sf_dir, ref_dir, as_of=None):
    """``w``'s fact_sales equals a one-shot load of the same cut into a
    fresh store holding the same dimension tables."""
    for name in ("dim_date", *(d.name for d in spec.DIMS.values())):
        shutil.copytree(w.store.path(name), os.path.join(ref_dir, name))
    ref = Warehouse(spark, ref_dir, sf_dir)
    ref.init()
    ref.load_fact(as_of=as_of)
    a, b = w.table("fact_sales"), ref.table("fact_sales")
    assert a.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_empty_initial_fact_load_then_later_cut(spark, sf_dir, tmp_path_factory):
    """A first load at a cut before the first order has an empty fact
    delta, which writes nothing at all (the incremental branch's rule).
    The next cut's load is then the initial one: it must read no
    schema-less table and equal a one-shot load of that cut against the
    same dimension tables."""
    early, later = "1994-06-01 00:00:00", spec.MID
    w = Warehouse(spark, str(tmp_path_factory.mktemp("wh_empty_first")), sf_dir)
    w.run_all(as_of=early, now_ts=spec.NOW_FIXED)
    missing_after_empty = w.missing_tables()
    w.run_all(as_of=later, now_ts=spec.NOW_FIXED)

    _assert_equals_one_shot_fact(
        w, spark, sf_dir, str(tmp_path_factory.mktemp("wh_one_shot")), as_of=later
    )
    assert missing_after_empty == ["fact_sales"]


def test_dropped_fact_reloads_full_history(wh, spark, sf_dir, tmp_path_factory):
    """With fact_sales gone, the next fact load is an initial one from the
    seed watermark, as for a dimension — not an increment past the
    tracker's watermark, which would keep only rows newer than it."""
    base = str(tmp_path_factory.mktemp("wh_dropped_fact"))
    shutil.copytree(wh.store.base_dir, base, dirs_exist_ok=True)
    w = Warehouse(spark, base, sf_dir)
    w.store.drop("fact_sales")
    w.load_fact()
    _assert_equals_one_shot_fact(w, spark, sf_dir, str(tmp_path_factory.mktemp("wh_one_shot")))


def test_watermark_keeps_microseconds(spark, tmp_path):
    """A sub-second watermark casts back exactly: a truncated one would
    re-extract its own rows on every run."""
    store = ParquetStore(str(tmp_path))
    tracker.seed(spark, store)
    ts = datetime(1999, 5, 6, 7, 8, 9, 123456)
    tracker.advance(spark, store, "fact_sales", ts, datetime(2002, 1, 1))
    wm = tracker.read_watermark(spark, store, "fact_sales")
    assert spark.range(1).select(F.lit(wm).cast("timestamp")).first()[0] == ts
