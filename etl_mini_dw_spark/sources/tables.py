"""Source table registry (SURVEY §2.1 S1; reference `code/SQL_1…sql:275–504`).

The reference scans 10 SQL Server tables cross-database. Our sources are
the driver-provided parquet tables (TESTDATA.md). Two contracts live here:

1. **Typed ingest.** Money-like columns arrive as ``double`` but are exact
   2-decimal values (verified against the data). We cast them to
   ``DECIMAL`` *at the scan* and never do floating-point math on them
   afterwards — all derived measures are exact decimal arithmetic, which
   is what makes Spark results bit-identical to the DuckDB oracle (and,
   at 100 TB, makes aggregation results independent of partitioning /
   reduction order — a float SUM is not reproducible across shuffles,
   a decimal SUM is).

2. **Single source of truth for scales.** ``TYPED_DECIMALS`` drives both
   the Spark-side casts (`typed_table`) and the oracle-side SQL text
   (`typed_source_sql`), so the two sides cannot drift.

Scale note: these are plain parquet scans — Catalyst pushes filters and
prunes columns into the parquet reader, so every downstream operator
automatically benefits (check ``PushedFilters`` / ``ReadSchema`` in
`.explain("formatted")`). No collect, and no inference past the first
read: a schema-less ``spark.read.parquet`` runs one Spark job to read a
footer, on every call. ``read_parquet`` runs it once per (session,
path, ``fingerprint``) and reads with ``spark.read.schema(...)`` from
then on; a rewritten file changes the fingerprint and is inferred again.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# column -> DECIMAL(p, s) applied at ingest (all verified exact 2-decimal in data)
TYPED_DECIMALS: dict[str, dict[str, str]] = {
    "lineitem": {
        "l_quantity": "decimal(12,2)",
        "l_extendedprice": "decimal(14,2)",
        "l_discount": "decimal(4,2)",
        "l_tax": "decimal(4,2)",
    },
    "orders": {"o_totalprice": "decimal(14,2)"},
    "customer": {"c_acctbal": "decimal(14,2)"},
    "supplier": {"s_acctbal": "decimal(14,2)"},
    "part": {"p_retailprice": "decimal(14,2)"},
    "events": {"value": "decimal(14,2)"},
}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make queries self-sufficient under a caller-provided session.

    The external driver constructs its own SparkSession; these two confs
    are load-bearing for correctness and are runtime-settable:
    - ``nanosAsLong``: events.ts is parquet TIMESTAMP(NANOS) — without it
      every events scan throws PARQUET_TYPE_ILLEGAL.
    - UTC session tz: all formatted-timestamp outputs are compared
      against the (timezone-naive) DuckDB oracle.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def fingerprint(path: str) -> tuple[tuple[str, int, int], ...]:
    """Sorted (name, size, mtime_ns) of every file under ``path`` (or of
    ``path`` itself): rewriting any file changes it. Empty when nothing
    local is there."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    files = []
    for dirpath, _, names in os.walk(path):
        for n in names:
            full = os.path.join(dirpath, n)
            st = os.stat(full)
            files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


_SCHEMAS: dict[tuple[str, str, tuple], StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A parquet read whose schema is inferred once per (session, path,
    file fingerprint), then reused. The package's only schema-less
    parquet read; a path with no local files is inferred every time."""
    fp = fingerprint(path)
    if not fp:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path, fp)
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(_SCHEMAS[key]).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Raw parquet scan for one source table."""
    _ensure_session_confs(spark)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


T = TypeVar("T")

_STAGE_MEMO: dict[tuple[str, str, str], Any] = {}


def stage_memo(spark: SparkSession, sf_dir: str, stage: str, build: Callable[[], T]) -> T:
    """One shared staged value per (session, sf-dir): the package's only memo.

    The in-session analog of a staged intermediate table: expensive
    upstream stages (shingle digests, the fact edit-history union) are
    built once — usually a lazily checkpointed frame, or the catalog
    names of tables the build wrote — and every consumer plan references
    the materialized result. Stage names are global — keep them unique
    across modules.
    """
    key = (spark.sparkContext.applicationId, sf_dir, stage)
    if key not in _STAGE_MEMO:
        _STAGE_MEMO[key] = build()
    return _STAGE_MEMO[key]


def fanout_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin fanout for CPU-bound pipelines over small scans.

    A small parquet table arrives as ONE input split, so a hash-heavy
    downstream projection (md5 shingling, regex batteries) runs on one
    core no matter how many exist. Repartition to ``defaultParallelism``
    ONLY when the scan under-parallelizes; on a real cluster reading
    100 TB the scan already yields thousands of splits and this branch
    never fires — no shuffle is added at scale. Locally the shuffle
    moves only the raw scan output (<1 MB) and buys a cores× speedup
    of the hashing stage that follows.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def events_ts_to_timestamp(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-tz TIMESTAMP, whatever it scanned as.

    The driver's generated events parquet has carried both TIMESTAMP(NANOS)
    (read as ns-long under ``nanosAsLong``) and plain TIMESTAMP(MICROS)
    (read as TIMESTAMP_NTZ) across rounds; branch on the scanned dtype so
    ingest is schema-version-proof. Mirrored by ``CAST(ts AS TIMESTAMP)``
    oracle-side in both cases. Works on batch and streaming frames alike.
    """
    from pyspark.sql import types as T

    if isinstance(df.schema["ts"].dataType, T.LongType):
        # ns-long → µs truncation
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def typed_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Source table with the exact-decimal ingest casts applied."""
    df = load_table(spark, sf_dir, name)
    for col, dtype in TYPED_DECIMALS.get(name, {}).items():
        df = df.withColumn(col, F.col(col).cast(dtype))
    if name == "events":
        df = events_ts_to_timestamp(df)
    return df


def typed_source_sql(name: str) -> str:
    """DuckDB-side SELECT applying the identical casts to the registered view.

    The driver pre-registers each parquet table as a view named ``name``;
    this returns a sub-select string usable inside a CTE.
    """
    casts = TYPED_DECIMALS.get(name, {})
    if not casts:
        return f"SELECT * FROM {name}"
    cols = ", ".join(
        f"CAST({c} AS {t.upper()}) AS {c}" if c in casts else c for c, t in _ordered(name, casts)
    )
    return f"SELECT {cols} FROM {name}"


def _ordered(name: str, casts: dict[str, str]):
    # we only know cast columns statically; use * EXCLUDE-free portable form:
    # emit cast columns plus passthroughs via explicit list per table
    passthrough = {
        "lineitem": [
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        ],
        "orders": [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ],
        "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
        "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    }
    return [(c, casts.get(c, "")) for c in passthrough[name]]


def register_sources(spark: SparkSession, sf_dir: str, typed: bool = True) -> None:
    """Register every source table as a temp view (typed by default)."""
    for name in TABLES:
        df = typed_table(spark, sf_dir, name) if typed else load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
