"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no streaming at all; this is the extension point for
operators Structured Streaming's built-ins can't express: arbitrary
per-key state evolved batch-by-batch in Python (Arrow-batched). The demo
keeps a running per-user event count + value sum in ``GroupState``; with
a single input file (= one micro-batch) the update-mode output equals
the batch aggregate, so even this UDF-stateful path is oracle-checked.

Scale: state lives in the executor state store keyed by user; watermark
+ timeout (`GroupStateTimeout`) bound it. The same function body serves
a Kafka source unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from etl_mini_dw_spark.sources.tables import _ensure_session_confs, events_ts_to_timestamp
from etl_mini_dw_spark.streaming.machinery import scratch_dir, stream_shuffle

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"
STATE_SCHEMA = "n bigint, total double"


def _update_user_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, round(total, 2)))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful per-user running totals, driven to completion on the
    events parquet; returns the final update-mode output."""
    _ensure_session_confs(spark)
    path = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .transform(events_ts_to_timestamp)
        .select("user_id", F.col("value").cast("double").alias("value"))
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )

    from pyspark.sql import Window

    out_dir = scratch_dir(prefix="stream_user_totals_out_")
    ckpt_dir = scratch_dir(prefix="stream_user_totals_ckpt_")

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # update mode emits only keys touched this batch → append tagged
        # with the batch id; the reader takes the latest row per key.
        # Distributed write, no result row through the driver.
        batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_dir
        )

    with stream_shuffle(spark):
        q = (
            out.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt_dir)
            .foreachBatch(_write_batch)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # latest state per user (counts are monotone → n_events tiebreak)
    w = Window.partitionBy("user_id").orderBy(
        F.col("_batch_id").desc(), F.col("n_events").desc()
    )
    return (
        spark.read.parquet(out_dir)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


# single micro-batch ⇒ update output == batch totals (value summed as
# double in arrival order on both engines would NOT be deterministic —
# hence the round(…, 2): inputs are exact 2-decimal values, so the sum
# is exact in double far beyond this data size and rounding is a no-op
# guard)
STREAMING_USER_TOTALS_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       round(SUM(CAST(value AS DOUBLE)), 2) AS total_value
FROM events GROUP BY user_id
"""


# --- transformWithState (Spark 4 typed-state API) ---------------------------
#
# Dependency-gated: the state-server protocol needs the protobuf
# bindings (ImportError at stream start when they are absent); tests
# skip when unavailable;
# the topology itself is complete and runs wherever `google.protobuf`
# is importable.

TWS_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_cents bigint"


def tws_available() -> bool:
    """True iff transformWithState's python state-server deps exist."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        return False
    return True


def _make_user_cents_processor():
    """Factory for the typed-state processor (imported lazily so the
    module stays importable on older PySpark)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    class UserCentsProcessor(StatefulProcessor):
        """Per-user running (count, integer-cent total) in a ValueState.

        Money is carried as int64 cents — exact, overflow-safe to
        ~9·10¹⁶ cents, and bit-reproducible regardless of batch/row
        order (the reason NOT to keep a float in state).
        """

        def init(self, handle: StatefulProcessorHandle) -> None:
            schema = StructType(
                [StructField("n", LongType()), StructField("cents", LongType())]
            )
            self._totals = handle.getValueState("totals", schema)

        def handleInputRows(self, key, rows, timerValues):
            n, cents = self._totals.get() if self._totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self._totals.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self) -> None:
            pass

    return UserCentsProcessor()


def streaming_user_cents_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seventh streaming topology: ``transformWithStateInPandas`` —
    Spark 4's typed-state processor API (ValueState + RocksDB-backed
    state store), maintaining exact per-user integer-cent totals.

    Versus ``applyInPandasWithState``: state is schema-typed and
    composable (multiple named states, timers, TTL), and the RocksDB
    provider spills state off-heap — the API to reach for when per-key
    state outgrows what GroupState comfortably holds. Update-mode sink
    tags batches; reader keeps the latest row per user (monotone count
    tiebreak). Output stays in integer cents so the oracle comparison
    is exact integer equality, not float tolerance.
    """
    _ensure_session_confs(spark)
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        path = f"{sf_dir}/events.parquet"
        raw_schema = spark.read.parquet(path).schema
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .transform(events_ts_to_timestamp)
            .select(
                "user_id",
                (F.col("value").cast("decimal(14,2)") * 100)
                .cast("long")
                .alias("cents"),
            )
        )
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_make_user_cents_processor(),
            outputStructType=TWS_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )

        from pyspark.sql import Window

        out_dir = scratch_dir(prefix="stream_tws_out_")
        ckpt_dir = scratch_dir(prefix="stream_tws_ckpt_")

        def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out_dir)

        with stream_shuffle(spark):
            q = (
                out.writeStream.outputMode("update")
                .option("checkpointLocation", ckpt_dir)
                .foreachBatch(_write_batch)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        w = Window.partitionBy("user_id").orderBy(
            F.col("_batch_id").desc(), F.col("n_events").desc()
        )
        return (
            spark.read.parquet(out_dir)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "n_events", "total_cents")
        )
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


STREAMING_TWS_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(14,2)) * 100) AS BIGINT) AS total_cents
FROM events GROUP BY user_id
"""
