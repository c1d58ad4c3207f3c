"""Store seam: keyed MERGE / DELETE semantics, compaction, clustered
writes and the idempotent foreachBatch guard.

`merge_upsert`: rows in the delta replace same-key current rows,
unmatched current rows survive, new keys insert (the reference's
UPDATE-from-join + INSERT pair, `code/SQL_1…sql:924–990`, as one call).
Crash safety of the swap protocol is swept in test_store_crash_safety.
"""

from __future__ import annotations

import pytest

from etl_mini_dw_spark.etl.store import ParquetStore


@pytest.fixture()
def store(tmp_path):
    return ParquetStore(str(tmp_path / "store"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, grp string, v double")


def test_merge_upsert_bootstraps_missing_table(spark, store):
    store.merge_upsert(spark, _df(spark, [(1, "a", 1.0)]), "t", ["k"])
    assert store.read(spark, "t").count() == 1


def test_merge_upsert_updates_inserts_and_preserves(spark, store):
    store.write(_df(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]), "t")
    store.merge_upsert(spark, _df(spark, [(2, "a", 20.0), (4, "b", 4.0)]), "t", ["k"])
    got = {r["k"]: r["v"] for r in store.read(spark, "t").collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0, 4: 4.0}


def test_merge_upsert_composite_key(spark, store):
    store.write(_df(spark, [(1, "a", 1.0), (1, "b", 2.0)]), "t")
    store.merge_upsert(spark, _df(spark, [(1, "b", 20.0)]), "t", ["k", "grp"])
    got = {(r["k"], r["grp"]): r["v"] for r in store.read(spark, "t").collect()}
    assert got == {(1, "a"): 1.0, (1, "b"): 20.0}


def test_merge_upsert_is_idempotent(spark, store):
    store.write(_df(spark, [(1, "a", 1.0)]), "t")
    delta = _df(spark, [(1, "a", 10.0), (2, "a", 2.0)])
    store.merge_upsert(spark, delta, "t", ["k"])
    first = sorted(map(tuple, store.read(spark, "t").collect()))
    store.merge_upsert(spark, delta, "t", ["k"])
    assert sorted(map(tuple, store.read(spark, "t").collect())) == first


def test_compact_reduces_files_and_preserves_values(spark, store):
    df = spark.range(10_000).selectExpr(
        "cast(id as int) k", "cast(id % 7 as string) grp", "cast(id as double) v"
    )
    store.write(df.repartition(40), "t")
    assert len(store.data_files("t")) == 40
    before, after = store.compact(spark, "t", target_file_bytes=256 * 2**20)
    assert before == 40 and after < 5
    got = store.read(spark, "t")
    assert got.count() == 10_000
    assert got.selectExpr("sum(v)").first()[0] == sum(range(10_000))


def test_compact_keeps_partitioning(spark, store):
    """A partitioned table compacts partition by partition: the ``y=``
    dirs remain, the rows are unchanged, and a later partition swap
    replaces one partition with no flat file beside the dirs."""
    import os

    df = spark.range(300).selectExpr(
        "cast(id as int) k", "cast(id % 3 as int) y", "cast(id as double) v"
    )
    store.write(df.repartition(5), "t", partition_by=["y"])
    before_rows = store.read(spark, "t").localCheckpoint()
    before, after = store.compact(spark, "t")
    assert before == 15 and after < before
    # compacted already: a second call rewrites nothing
    files = store.data_files("t")
    assert store.compact(spark, "t") == (after, after)
    assert store.data_files("t") == files
    top = store.path("t")
    assert sorted(d for d in os.listdir(top) if not d.startswith((".", "_"))) == [
        "y=0",
        "y=1",
        "y=2",
    ]
    got = store.read(spark, "t")
    assert got.exceptAll(before_rows).count() == 0
    assert before_rows.exceptAll(got).count() == 0
    repl = spark.createDataFrame([(1000, 1, -1.0)], "k int, y int, v double")
    store.swap_partitions(repl, "t", "y", [1])
    assert all(os.sep + "y=" in f[len(top):] for f in store.data_files("t"))
    rows = store.read(spark, "t")
    assert rows.filter("y = 1").collect() == [(1000, -1.0, 1)]
    assert rows.count() == 201


def test_compact_noop_when_already_compact(spark, store):
    store.write(spark.range(100).selectExpr("id k").coalesce(1), "t")
    before, after = store.compact(spark, "t")
    assert (before, after) == (1, 1)


def test_write_clustered_files_are_disjoint_on_cluster_key(spark, store):
    import pyarrow.parquet as pq

    df = spark.range(50_000).selectExpr("cast(id * 37 % 50000 as bigint) ck", "id v")
    store.write_clustered(df, "t", ["ck"], n_files=8)
    files = store.data_files("t")
    assert len(files) == 8
    # footer min/max per file — the zone map a skipping reader prunes on
    ranges = []
    total = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        total += md.num_rows
        ranges.append((lo, hi))
    assert total == 50_000
    ranges.sort()
    for (_, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b  # pairwise disjoint ⇒ any point predicate hits ONE file


def test_delete_keys_removes_only_matches(spark, store):
    store.write(_df(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]), "t")
    store.delete_keys(spark, "t", spark.createDataFrame([(2,), (9,)], "k int"), ["k"])
    got = sorted(r["k"] for r in store.read(spark, "t").collect())
    assert got == [1, 3]


def test_delete_keys_missing_table_is_noop(spark, store):
    store.delete_keys(spark, "nope", spark.createDataFrame([(1,)], "k int"), ["k"])
    assert not store.exists("nope")


def test_idempotent_foreach_batch_skips_replayed_ids(spark, store, tmp_path):
    from etl_mini_dw_spark.etl.store import IdempotentForeachBatch

    applied = []

    def fn(batch_df, batch_id):
        applied.append(batch_id)
        store.merge_upsert(spark, batch_df, "t", ["k"])

    sink = IdempotentForeachBatch(str(tmp_path / "commits"), fn)
    b0 = _df(spark, [(1, "a", 1.0)])
    sink(b0, 0)
    sink(b0, 0)  # streaming replay after restart: same batch id
    sink(_df(spark, [(2, "a", 2.0)]), 1)
    assert applied == [0, 1]
    assert sink.skipped == [0]
    assert store.read(spark, "t").count() == 2
