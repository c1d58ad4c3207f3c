"""Run log (SURVEY §2.11 X7; reference `code/SQL_1…sql:574–586,1012–1023`).

One row per run: name, start/end, rows inserted/updated/deleted,
SUCCESS/FAIL + error message. The reference counts via ``@@ROWCOUNT``;
here the loaders tag every output row with ``change_tag`` and the
orchestrator aggregates the tags in the same action that materializes the
table — metrics cost no extra pass over the data.

Scale notes: counters are LongType (a 100 TB fact load overflows int32),
and each run APPENDS one new parquet file to the log directory — O(1)
per run, never a read+rewrite of the whole history. ``run_id`` (the
reference's IDENTITY) is max+1 over one known-schema ``collect()`` of
the tiny ``run_id`` column (1 row/run).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from etl_mini_dw_spark.etl.store import ParquetStore, rows_frame

RUNLOG_TABLE = "etl_run_log"

SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.LongType(), False),
        T.StructField("run_name", T.StringType(), False),
        T.StructField("start_time", T.TimestampType(), True),
        T.StructField("end_time", T.TimestampType(), True),
        T.StructField("rows_inserted", T.LongType(), True),
        T.StructField("rows_updated", T.LongType(), True),
        T.StructField("rows_deleted", T.LongType(), True),
        T.StructField("run_status", T.StringType(), True),
        T.StructField("run_error_message", T.StringType(), True),
    ]
)


def append(
    spark: SparkSession,
    store: ParquetStore,
    run_name: str,
    start_time: datetime,
    end_time: datetime,
    rows_inserted: int = 0,
    rows_updated: int = 0,
    rows_deleted: int = 0,
    status: str = "SUCCESS",
    error: str | None = None,
) -> None:
    """S8 literal-row append; run_id = IDENTITY replacement (max+1)."""
    exists = store.exists(RUNLOG_TABLE)
    next_id = 1
    if exists:
        ids = store.read(spark, RUNLOG_TABLE, SCHEMA).select("run_id").collect()
        next_id = max((r.run_id for r in ids), default=0) + 1
    row = (next_id, run_name, start_time, end_time)
    row += (rows_inserted, rows_updated, rows_deleted, status, error)
    frame = rows_frame(spark, [row], SCHEMA)
    if exists:  # one new file per run — never a rewrite of the existing log
        frame.write.mode("append").parquet(store.path(RUNLOG_TABLE))
    else:  # the first run writes the log with its recorded schema
        store.write(frame, RUNLOG_TABLE)
