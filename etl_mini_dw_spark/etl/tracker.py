"""Watermark tracker (SURVEY §2.11 X8; reference `code/SQL_1…sql:242–257`).

One row per target table: ``last_successful_load`` (MAX source change-ts
ingested — *data-driven*, never wall-clock, `code/SQL_1…sql:643–651`) and
``last_successful_execution_time``. Seeded at 1900-01-01 so the first run
ingests full history (`code/SQL_1…sql:250–255`).

The tracker is tiny (one row per table): a plain parquet table read into
Python in one ``collect()`` with the code's ``SCHEMA`` (the
reference's scalar-subquery lookup, P11) and rewritten from Python rows
as one file, one job each way. Updated only *after* the target table's swap commits,
uniformly for dims and fact (the reference is inconsistent here — SURVEY
§3.3 — we fix that deliberately).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from etl_mini_dw_spark.etl.store import ParquetStore, rows_frame
from etl_mini_dw_spark.fixtures_spec import LOW, ts_literal

TRACKER_TABLE = "etl_load_tracker"

SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("last_successful_load", T.TimestampType(), True),
        T.StructField("last_successful_execution_time", T.TimestampType(), True),
    ]
)

TRACKED_TABLES = ["dim_customer", "dim_salesperson", "dim_product", "fact_sales"]


def seed(spark: SparkSession, store: ParquetStore) -> None:
    """G3 VALUES-constructor seed rows, idempotent (S10 guard)."""
    if store.exists(TRACKER_TABLE):
        return
    low = datetime.strptime(LOW, "%Y-%m-%d %H:%M:%S")
    rows = [(t, low, None) for t in TRACKED_TABLES]
    store.write(rows_frame(spark, rows, SCHEMA), TRACKER_TABLE)


def _rows(spark: SparkSession, store: ParquetStore) -> list:
    return store.read(spark, TRACKER_TABLE, SCHEMA).collect()


def read_watermark(spark: SparkSession, store: ParquetStore, table: str) -> str:
    load = next(r.last_successful_load for r in _rows(spark, store) if r.table_name == table)
    return ts_literal(load)


def advance(
    spark: SparkSession,
    store: ParquetStore,
    table: str,
    new_load_ts: datetime | None,
    exec_time: datetime,
) -> None:
    """Execution time always; load watermark only if the batch was non-empty
    (`code/SQL_1…sql:643–651,887–894`)."""
    rows = []
    for name, load, executed in _rows(spark, store):
        if name == table:
            executed = exec_time
            if new_load_ts is not None:
                # MONOTONIC advance: a delta batch can contain only old rows
                # (e.g. a re-qualifying closed archive row), whose
                # MAX(valid_from) lies BEFORE the current watermark — the
                # reference's raw MAX would regress the tracker and re-open
                # already-ingested history (`code/SQL_1…sql:643–651` has
                # this latent bug; we fix it).
                load = max(load, new_load_ts)
        rows.append((name, load, executed))
    store.write(rows_frame(spark, rows, SCHEMA), TRACKER_TABLE)
