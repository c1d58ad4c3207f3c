"""scd2_increment edge cases on hand-built micro-frames.

The lifecycle tests exercise the synthesized corpus; these pin down the
merge semantics rows-by-row: empty delta, unchanged rows, multi-version
batches for a brand-new key, delete detection, and idempotent re-apply.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_mini_dw_spark import fixtures_spec as spec
from etl_mini_dw_spark.operators import scd2

DIM = spec.PRODUCT  # single tracked attr keeps fixtures small
NOW = "2002-01-01 00:00:00"

DIM_SCHEMA = (
    "product_id int, product_skunumber_nk bigint, product_name string,"
    " is_current boolean, active_from timestamp, active_to timestamp"
)
STAGED_SCHEMA = (
    "product_skunumber_nk bigint, product_name string, is_current boolean,"
    " valid_from timestamp, valid_to timestamp"
)


def _ts(s):
    from datetime import datetime

    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


HIGH = _ts("9999-12-31 00:00:00")


@pytest.fixture()
def dim_df(spark):
    rows = [
        (1, -1, "Unknown", True, _ts("1900-01-01 00:00:00"), HIGH),
        (2, 10, "widget", True, _ts("1994-01-01 00:00:00"), HIGH),
        (3, 20, "gadget", True, _ts("1994-01-01 00:00:00"), HIGH),
    ]
    return spark.createDataFrame(rows, DIM_SCHEMA)


@pytest.fixture(params=["ordered"], autouse=True)
def sk_strategy(request):
    # every edge case runs on the one SK-assignment path, the ordered
    # row_number window; the param names it in each test id
    return request.param


def _apply(spark, dim_df, staged_rows, snapshot_keys):
    staged = spark.createDataFrame(staged_rows, STAGED_SCHEMA) if staged_rows else (
        spark.createDataFrame([], STAGED_SCHEMA)
    )
    snapshot = spark.createDataFrame(
        [(k,) for k in snapshot_keys], "product_skunumber_nk bigint"
    )
    return scd2.scd2_increment(dim_df, staged, snapshot, DIM, NOW)


def test_empty_delta_all_kept(spark, dim_df):
    out = _apply(spark, dim_df, [], [10, 20]).collect()
    assert all(r["change_tag"] == "kept" for r in out)
    assert len(out) == 3


def test_unchanged_staged_row_not_reinserted(spark, dim_df):
    staged = [(10, "widget", True, _ts("1994-01-01 00:00:00"), HIGH)]
    out = _apply(spark, dim_df, staged, [10, 20]).collect()
    assert sorted(r["change_tag"] for r in out) == ["kept", "kept", "kept"]


def test_change_closes_and_inserts_contiguously(spark, dim_df):
    staged = [(10, "widget v2", True, _ts("1999-06-01 00:00:00"), HIGH)]
    out = {(r["product_skunumber_nk"], r["change_tag"]): r for r in _apply(
        spark, dim_df, staged, [10, 20]).collect()}
    closed = out[(10, "closed")]
    inserted = out[(10, "inserted")]
    assert closed["active_to"] == inserted["active_from"]  # half-open contiguity
    assert not closed["is_current"] and inserted["is_current"]
    assert inserted["product_id"] == 4  # max SK + 1


def test_new_key_two_versions_in_one_batch(spark, dim_df):
    staged = [
        (30, "doohickey", False, _ts("1994-01-01 00:00:00"), _ts("1998-01-01 00:00:00")),
        (30, "doohickey v2", True, _ts("1998-01-01 00:00:00"), HIGH),
    ]
    out = [r for r in _apply(spark, dim_df, staged, [10, 20, 30]).collect()
           if r["product_skunumber_nk"] == 30]
    assert sorted(r["change_tag"] for r in out) == ["inserted", "inserted"]
    # SKs ordered by active_from, appended after existing max
    by_from = sorted(out, key=lambda r: r["active_from"])
    assert [r["product_id"] for r in by_from] == [4, 5]
    assert [r["is_current"] for r in by_from] == [False, True]


def test_delete_detection_closes_at_now(spark, dim_df):
    out = {r["product_skunumber_nk"]: r for r in _apply(
        spark, dim_df, [], [10]).collect()}  # 20 vanished
    assert out[20]["change_tag"] == "deleted"
    assert not out[20]["is_current"]
    assert out[20]["active_to"] == _ts(NOW)
    # the unknown member is never delete-closed
    assert out[-1]["change_tag"] == "kept" and out[-1]["is_current"]


def test_reapply_after_delete_is_noop(spark, dim_df):
    first = _apply(spark, dim_df, [], [10]).drop("change_tag")
    # the archive row of the deleted key re-qualifies forever under a
    # stale watermark — the overlap guard must keep the state stable
    stale_archive = [(20, "gadget", False, _ts("1994-01-01 00:00:00"), _ts(NOW))]
    second = _apply(spark, first, stale_archive, [10])
    assert second.filter(F.col("change_tag") == "inserted").count() == 0
    assert second.count() == first.count()
