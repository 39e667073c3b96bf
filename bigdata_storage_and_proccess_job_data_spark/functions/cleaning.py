"""Cleaning / canonicalization expressions.

Reference semantics (SURVEY.md §2.3, citations into /root/reference/):
- numeric-with-garbage strip: regexp_replace("[^0-9.]","") + cast
  (bigdata-project/src/spark_job.py:45,47)
- truncate-at-comma location clean (spark_job.py:50)
- upper+trim canonicalization (spark_batch_v2.py:68-71)
- epoch-ms -> date (spark_job.py:51), epoch-s -> timestamp
  (spark_streaming_v2.py:71-74)
- required-field validation (spark_job.py:64-66, spark_batch_v2.py:53-60)

All are pure Column expressions: Catalyst folds them into one projection
and they run inside whole-stage codegen -- no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NON_NUMERIC = r"[^0-9.]"


def clean_numeric_string(col: Column | str) -> Column:
    """Strip currency symbols/commas from a numeric string and cast to
    double: ``"$85,000.50"`` -> ``85000.5``. Empty result -> null.

    Reference: spark_job.py:45,47 (min/max salary cleaning).
    """
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, NON_NUMERIC, "")
    return F.when(stripped == "", None).otherwise(stripped).cast("double")


def truncate_at(col: Column | str, sep: str = ",") -> Column:
    """Keep text before the first separator: ``"Austin, TX"`` -> ``"Austin"``.

    Reference: spark_job.py:50 (location truncation at comma).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, f"{sep}.*$", "")


def canonicalize(col: Column | str) -> Column:
    """Upper-case + trim a dimension string for stable grouping keys.

    Reference: spark_batch_v2.py:68-71 (company/location canonicalization).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.trim(c))


def epoch_ms_to_date(col: Column | str) -> Column:
    """Epoch milliseconds -> date. Reference: spark_job.py:51."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_date(F.from_unixtime(c / 1000))


def epoch_s_to_timestamp(col: Column | str) -> Column:
    """Epoch seconds (double) -> timestamp, keeping fractional seconds
    and independent of the session time zone (no round trip through a
    local-time string, which drops the fraction and shifts the repeated
    hour of a DST fall-back).

    Reference: spark_streaming_v2.py:71-74.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_seconds(c)


def non_blank(col: Column | str) -> Column:
    """Predicate: value is neither null nor empty-after-trim.

    Reference: spark_batch_v2.py:53-60 (required-field filter).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & (F.trim(c) != "")


def require_fields(df: DataFrame, *cols: str) -> DataFrame:
    """Drop rows whose required string fields are null/blank.

    Reference: spark_job.py:64-66 (v1: one field), spark_batch_v2.py:53-60
    (v2: job_id AND company_name AND title).
    """
    pred = None
    for c in cols:
        p = non_blank(c)
        pred = p if pred is None else (pred & p)
    return df.filter(pred) if pred is not None else df


def positive_or_null(col: Column | str) -> Column:
    """Treat non-positive numbers as null (reference treats <=0 salary as
    invalid before averaging -- spark_batch_v2.py:76-80)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c > 0, c)
