"""Focused tests for the r09 streaming-machinery knobs
(etl_mini_dw_spark/streaming/machinery.py): state-sized stream shuffle
partitions and tmpfs-preferring scratch dirs. These are optimization
internals — values of the streaming queries themselves are pinned by
tests/test_oracle_parity.py."""

from __future__ import annotations

import os

from etl_mini_dw_spark.streaming import machinery


def test_stream_shuffle_sets_and_restores(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    expect = max(1, min(8, spark.sparkContext.defaultParallelism))
    with machinery.stream_shuffle(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(expect)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_shuffle_restores_on_error(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with machinery.stream_shuffle(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_scratch_dir_env_override(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", str(tmp_path))
    d = machinery.scratch_dir("unit_test_")
    assert d.startswith(str(tmp_path))
    assert os.path.isdir(d)


def test_scratch_dir_unique_per_call(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", str(tmp_path))
    assert machinery.scratch_dir("a_") != machinery.scratch_dir("a_")


def test_scratch_dir_skips_full_shm(monkeypatch, tmp_path):
    # ADVICE r9: a small/full /dev/shm must fall back to the system
    # tempdir instead of ENOSPC-ing mid-query
    monkeypatch.delenv("SPARK_GRAFT_STREAM_TMP", raising=False)
    monkeypatch.setattr(machinery, "_shm_usable", lambda path="/dev/shm": False)
    monkeypatch.setattr(
        machinery.tempfile, "gettempdir", lambda: str(tmp_path)
    )
    d = machinery.scratch_dir("unit_full_shm_")
    assert not d.startswith("/dev/shm")
    assert os.path.isdir(d)


def test_scratch_purges_only_stale_entries(monkeypatch, tmp_path):
    # only old scratch this module created is swept; an old entry of the
    # user's own under the SPARK_GRAFT_STREAM_TMP base survives
    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", str(tmp_path))
    owned = tmp_path / "etl_mini_dw_scratch"
    stale = owned / "old_run"
    foreign = tmp_path / "old_run"
    fresh = owned / "live_run"
    old = 2 * machinery._PURGE_AGE_SECONDS
    for d in (stale, foreign, fresh):
        d.mkdir(parents=True)
    for d in (stale, foreign):
        os.utime(d, (os.path.getmtime(d) - old, os.path.getmtime(d) - old))
    machinery.scratch_dir("unit_purge_")
    assert foreign.exists()
    assert not stale.exists()
    assert fresh.exists()
