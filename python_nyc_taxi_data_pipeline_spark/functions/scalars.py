"""Scalar function library — SURVEY.md §2.8 (F1–F9).

Every helper returns a Column built only from JVM-side
``pyspark.sql.functions`` (whole-stage-codegen friendly; no Python UDFs
on the hot path).

Semantic decisions vs the reference (documented per SURVEY §2.8):
- F4 month names are UNPADDED ("May", not Postgres' 9-char "May      ").
- F5 minute durations use explicit FLOOR before the int cast (Postgres
  int casts round-half-even; Spark truncates — FLOOR is deterministic
  and identical in both engines and in the DuckDB oracle).
- Money arithmetic accumulates in DECIMAL(18,2) and reports DOUBLE.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY_DECIMAL = "decimal(18,2)"


def decimal_sum(col: str | Column, alias: str, dec: str = MONEY_DECIMAL) -> Column:
    """Order-independent exact sum of a money/measure column.

    Accumulates in DECIMAL (exact → hash-stable regardless of
    partitioning / shuffle order), reports DOUBLE. Mirrors the reference
    summing Postgres NUMERIC (`gold_aggregate_layer.sql:7`).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(dec)).cast("double").alias(alias)


def decimal_avg(
    col: str | Column, alias: str, scale: int = 2, dec: str = MONEY_DECIMAL
) -> Column:
    """round(exact_sum / count, scale) — the reference's ROUND(AVG(x), 2)
    (`gold_aggregate_layer.sql:8`) made order-independent."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.sum(c.cast(dec)).cast("double")
    return F.round(s / F.count(c), scale).alias(alias)


def case_decode(col: str | Column, mapping: dict, otherwise=None) -> Column:
    """F1 — CASE WHEN id THEN name … END decode
    (`silver_full_refresh_transformation.sql:4-9`); unmatched → NULL."""
    if not mapping:
        raise ValueError("case_decode needs a non-empty mapping")
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for k, v in mapping.items():
        expr = F.when(c == k, v) if expr is None else expr.when(c == k, v)
    return expr.otherwise(otherwise) if otherwise is not None else expr


def month_start(col: str | Column) -> Column:
    """F2 — DATE_TRUNC('month', ts) (`bronze_incremental_load.sql:22`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc("month", c)


def add_one_month(col: str | Column) -> Column:
    """F3 — ts + INTERVAL '1 month' (`bronze_incremental_load.sql:24`)."""
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("timestamp_ntz") + F.expr("INTERVAL 1 MONTH"))


def month_name(col: str | Column, padded: bool = False) -> Column:
    """F4 — English month name. Default UNPADDED (see module docstring);
    ``padded=True`` right-pads to 9 chars with spaces, matching
    Postgres ``TO_CHAR(ts, 'Month')``
    (`/root/reference/src/sql/gold_aggregate_layer.sql:17,22`)
    bit-for-bit for a user diffing against reference output."""
    c = F.col(col) if isinstance(col, str) else col
    name = F.date_format(c, "MMMM")
    return F.rpad(name, 9, " ") if padded else name


def minutes_into_month(col: str | Column) -> Column:
    """F5-analog on single-timestamp fixtures: whole minutes between a
    timestamp and its month start, as INT. Pure field arithmetic
    ((day-1)*1440 + hour*60 + minute) — exact and identical in DuckDB,
    with no epoch/timezone coupling."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        (F.dayofmonth(c) - F.lit(1)) * 1440 + F.hour(c) * 60 + F.minute(c)
    ).cast("int")


def duration_minutes(start: str | Column, end: str | Column) -> Column:
    """F5 — minute duration between two timestamps, as INT (floor).

    The reference computes EXTRACT(EPOCH FROM (dropoff-pickup))/60 cast
    to integer (`silver_full_refresh_transformation.sql:54`).
    """
    s = F.col(start) if isinstance(start, str) else start
    e = F.col(end) if isinstance(end, str) else end
    # NTZ cannot cast to BIGINT in Spark 4; timestamp_diff is the
    # NTZ-safe, timezone-free whole-seconds difference.
    secs = F.timestamp_diff("SECOND", s, e)
    return F.floor(secs / 60).cast("int")


def text_to_int(col: str | Column) -> Column:
    """F6 — CAST(text AS NUMERIC)::INTEGER, tolerating "1.0"-style text
    (`silver_full_refresh_transformation.sql:57`). Truncates toward zero
    via FLOOR on non-negative ids (the reference's ids are ≥ 0)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c.cast("double")).cast("int")
