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

from etl_mini_dw_spark.streaming.machinery import merge_sink, replay_events

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
    events parquet. Update mode emits one cumulative row per key a batch
    touched, so the keyed-MERGE sink holds the latest row per user."""
    stream = replay_events(spark, sf_dir).select(
        "user_id", F.col("value").cast("double").alias("value")
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return merge_sink(out, ["user_id"])


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
