"""Timestamp / calendar functions (SURVEY.md §2.8 F1-F2).

Reference behavior being re-expressed:
- F1 ms-epoch → timestamp: the reference used
  ``udf(lambda x: datetime.fromtimestamp(float(x)/1000), TimestampType())``
  (transform-data.py:126-129). That is a Python-row UDF (serde per row,
  optimizer barrier) and silently uses the *local* timezone. Rebuilt as
  the built-in ``timestamp_millis`` on a UTC-pinned session.
- F2 calendar breakdown: day/month/year/hour/minute/second/week/weekday
  (transform-data.py:170-177) — identical built-ins.

Conventions (SURVEY.md §7 hard-parts #4): Spark ``weekofyear`` is
ISO-8601 (DuckDB ``week`` matches); Spark ``dayofweek`` is 1=Sunday
(DuckDB ``dayofweek`` is 0=Sunday, so oracles use ``dayofweek(ts)+1``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# name -> builder; all cast to long so schemas line up with the
# (int64-producing) DuckDB oracle regardless of Spark's int32 returns.
CALENDAR_COLS = {
    "year": lambda c: F.year(c).cast("long"),
    "month": lambda c: F.month(c).cast("long"),
    "day": lambda c: F.dayofmonth(c).cast("long"),
    "hour": lambda c: F.hour(c).cast("long"),
    "minute": lambda c: F.minute(c).cast("long"),
    "second": lambda c: F.second(c).cast("long"),
    "week": lambda c: F.weekofyear(c).cast("long"),
    "weekday": lambda c: F.dayofweek(c).cast("long"),
}


def ts_from_epoch_ms(col: Column | str) -> Column:
    """ms-epoch (string or numeric) → TimestampType, JVM-side.

    Replaces the reference's Python UDF (transform-data.py:128): same
    intent, no Python boundary, explicit UTC semantics.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_millis(c.cast("long"))


def epoch_ms(col: Column | str) -> Column:
    """Timestamp → ms-epoch bigint (truncating, matches DuckDB epoch_ms).

    Accepts TIMESTAMP and TIMESTAMP_NTZ (parquet timestamps not marked
    UTC-adjusted arrive as NTZ); the cast interprets NTZ wall-clock in
    the session timezone, which the registry wrapper pins to UTC
    (ensure_runtime_conf) — exactly the UTC-naive oracle convention.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(c.cast("timestamp"))


def with_calendar_cols(df: DataFrame, ts_col: str, prefix: str = "") -> DataFrame:
    """Append the reference's full calendar breakdown of ``ts_col``."""
    out = df
    for name, fn in CALENDAR_COLS.items():
        out = out.withColumn(prefix + name, fn(F.col(ts_col)))
    return out
