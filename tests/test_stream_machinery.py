"""Focused tests for the bounded-replay streaming machinery
(etl_mini_dw_spark/streaming/machinery.py): state-sized stream shuffle
partitions, tmpfs-preferring scratch dirs, and the drive's cleanup of
its own scratch. Values of the streaming queries themselves are pinned
by tests/test_oracle_parity.py."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from etl_mini_dw_spark.streaming import machinery

REPO = Path(__file__).resolve().parents[1]


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


@pytest.mark.parametrize(
    "name",
    [
        "ext_streaming_dedup_users",  # parquet sink
        "ext_streaming_merge_totals",  # keyed-MERGE sink
        "ext_streaming_stateful_user_totals",  # keyed-MERGE sink, Python state
        "ext_streaming_dedup_within_watermark",  # sentinel landing dir
        "ext_streaming_cms_activity",  # split landing dir + MERGE
    ],
)
def test_streaming_line_leaves_only_its_sink(spark, sf_dir, monkeypatch, tmp_path, name):
    # checkpoint, replay-guard markers and landing dir go when the query
    # stops; the sink/store dir stays, because the returned frame reads it
    from etl_mini_dw_spark.registry import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", str(tmp_path))
    df = QUERIES[name](spark, sf_dir)
    left = os.listdir(tmp_path / "etl_mini_dw_scratch")
    assert len(left) == 1 and left[0].startswith(("stream_sink_", "stream_store_")), left
    assert df.count() > 0


def test_streaming_scratch_removed_at_exit(sf_dir, tmp_path):
    # a script that runs one streaming line and just ends (no spark.stop())
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from etl_mini_dw_spark.registry import QUERIES
        from etl_mini_dw_spark.session import get_spark

        spark = get_spark("scratch-at-exit", cpus=2)
        n = QUERIES["ext_streaming_left_outer_attribution"](spark, {sf_dir!r}).count()
        print("ok", n, flush=True)
        """
    )
    env = dict(os.environ, SPARK_GRAFT_STREAM_TMP=str(tmp_path), SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "ok" in proc.stdout, proc.stderr[-3000:]
    assert os.listdir(tmp_path / "etl_mini_dw_scratch") == []


def test_failing_sink_reraises_and_cleans_up(spark, sf_dir, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", str(tmp_path))
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def _fail(batch_df, batch_id):
        raise RuntimeError("sink failed on purpose")

    stream = machinery.replay_events(spark, sf_dir).select("event_id")
    with pytest.raises(Exception, match="sink failed on purpose"):
        machinery.drive(stream, "append", _fail)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert os.listdir(tmp_path / "etl_mini_dw_scratch") == []
