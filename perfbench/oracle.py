"""Compare a query line's Spark output with its DuckDB oracle.

Same rule as the repository's oracle tests: equal column names, equal
row count, and equal values once columns are sorted by name and rows are
sorted, with floats compared to the last bit.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal


def connect(sf_dir: str):
    import duckdb

    from etl_mini_dw_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _rows(frame) -> list[tuple]:
    cols = sorted(frame.columns)
    return sorted(tuple(_cell(v) for v in row) for row in frame[cols].itertuples(index=False))


def mismatch(spark_df, con, sql: str) -> str | None:
    """None when the outputs agree, else a one-line description."""
    got, want = spark_df.toPandas(), con.execute(sql).df()
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    a, b = _rows(got), _rows(want)
    if a != b:
        first = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"row {first}: {a[first]} != oracle {b[first]}"
    return None
