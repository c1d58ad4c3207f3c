"""SparkSession bootstrap (SURVEY §7 M0; reference `code/SQL_1…sql:103–132` X10/X11).

The reference bootstraps a SQL Server database with manual file sizing and
session locale settings. The Spark-native equivalent is a session with:

- UTC session timezone — the reference uses ``SYSUTCDATETIME()`` everywhere
  (`SQL:187,527`), and UTC is required for DuckDB-oracle timestamp parity.
- AQE on — replaces every manual physical-design trick in the reference
  (index disable/rebuild, pre-sizing): runtime join selection, partition
  coalescing, skew-join splitting.
- shuffle partitions sized to the machine, not the 200 default. At 100 TB
  on a real cluster this would be set to ~2–3× total executor cores (or
  left to AQE's coalescing with a high initial value); locally it is the
  core count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "etl_mini_dw_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # events.parquet carries TIMESTAMP(NANOS) which the Spark reader
        # rejects; read as long and convert at the typed-ingest layer
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python workers (mapInPandas, applyInPandasWithState) unpickle
        # functions of this package: let them import it from any cwd
        .config("spark.executorEnv.PYTHONPATH", _PKG_PARENT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
