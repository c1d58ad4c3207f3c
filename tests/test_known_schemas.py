"""Reads without schema inference.

A schema-less ``spark.read.parquet`` runs one Spark job to read a
footer, on every call. Source reads infer once per (session, path, file
fingerprint) through ``sources.tables.read_parquet``; stored tables read
the schema their writer recorded in a ``_schema.json`` sidecar. These
tests pin both, and that a changed input is noticed; the lint test keeps
schema-less reads from creeping back into the package.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_mini_dw_spark.etl.store import SCHEMA_FILE, ParquetStore
from etl_mini_dw_spark.sources.tables import TABLES, load_table, typed_table

PKG = Path(__file__).resolve().parents[1] / "etl_mini_dw_spark"


def _jobs(spark, fn) -> int:
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    fn()
    return sched.nextJobId() - before


def test_second_source_read_fires_no_job(spark, sf_dir):
    for name in TABLES:
        typed_table(spark, sf_dir, name)
    again = {name: _jobs(spark, lambda: typed_table(spark, sf_dir, name)) for name in TABLES}
    assert again == dict.fromkeys(TABLES, 0)


def test_rewritten_source_shows_its_new_column(spark, tmp_path):
    """A source rewritten in the middle of a session is inferred again: a
    schema cached on the path alone would drop the added column."""
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y"]


def _frame(spark, n: int):
    return spark.range(n).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
        (F.col("id") % 2).cast("int").alias("y"),
    )


def test_recorded_schema_is_what_inference_returns(spark, tmp_path):
    """The sidecar holds the schema a schema-less read of the files
    returns: every field nullable, the partition column last."""
    store = ParquetStore(str(tmp_path))
    df = _frame(spark, 6).select("y", F.col("k"), "v")  # not nullable, y first
    store.write(df, "t", partition_by=["y"])
    inferred = spark.read.parquet(store.path("t"))
    got = store.read(spark, "t")
    assert os.path.isfile(os.path.join(store.path("t"), SCHEMA_FILE))
    assert got.schema == inferred.schema and got.columns == ["k", "v", "y"]
    assert sorted(got.collect()) == sorted(inferred.collect())


def test_snapshot_reads_use_the_recorded_schema(spark, tmp_path):
    store = ParquetStore(str(tmp_path))
    for n in (2, 3, 4):
        store.write(_frame(spark, n), "t", keep_generations=2)
    assert _jobs(spark, lambda: store.read_generation(spark, "t", back=1)) == 0
    assert store.read_generation(spark, "t", back=2).count() == 2


def test_table_without_a_record_reads_by_inference(spark, tmp_path):
    """A dir written by other code has no sidecar: it is inferred, once
    per file fingerprint, and again after a rewrite."""
    store = ParquetStore(str(tmp_path))
    _frame(spark, 3).write.parquet(store.path("t"))
    assert store.read(spark, "t").columns == ["k", "v", "y"]
    assert _jobs(spark, lambda: store.read(spark, "t")) == 0
    _frame(spark, 3).drop("v").write.mode("overwrite").parquet(store.path("t"))
    assert store.read(spark, "t").columns == ["k", "y"]


def test_swap_partitions_rejects_a_frame_of_another_schema(spark, tmp_path):
    store = ParquetStore(str(tmp_path))
    store.write(_frame(spark, 4), "t", partition_by=["y"])
    wider = _frame(spark, 4).withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="recorded"):
        store.swap_partitions(wider, "t", "y", [0])
    assert store.read(spark, "t").count() == 4
    store.swap_partitions(_frame(spark, 2), "t", "y", [0, 1])
    assert store.read(spark, "t").count() == 2


# --- lint: no schema-less parquet read in the package ----------------------

# (module, function) sites allowed to infer a parquet schema
ALLOWED = {
    # the one cached inference: once per (session, path, fingerprint)
    ("sources/tables.py", "read_parquet"),
    # schema evolution: the union of the files' schemas is the point
    ("sources/formats.py", "read_parquet_evolved"),
}


def _chain(node: ast.expr) -> list[str]:
    """Attribute names along a call chain's receiver, outermost first."""
    names = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            node = node.func
    return names


def _inferring_reads() -> list[tuple[str, str, int]]:
    """(module, enclosing function, line) of every ``.read….parquet(`` or
    ``.read….load(`` call whose receiver chain sets no ``.schema(``."""
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("parquet", "load")
            ):
                continue
            chain = _chain(node.func.value)
            if not {"read", "readStream"} & set(chain) or "schema" in chain:
                continue
            fn = node
            while fn in parent and not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = parent[fn]
            name = fn.name if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) else ""
            sites.append((path.relative_to(PKG).as_posix(), name, node.lineno))
    return sites


def test_package_reads_parquet_only_with_a_known_schema():
    sites = _inferring_reads()
    found = {(m, f) for m, f, _ in sites}
    assert found >= ALLOWED, "the allowed sites were not found — fix the test"
    stray = [s for s in sites if s[:2] not in ALLOWED]
    assert not stray, (
        f"schema-less parquet read(s) at {stray}: each fires a schema-inference "
        "job on every call — read through sources.tables.read_parquet or pass a schema"
    )
