"""Enrichment / derivation expressions.

Reference semantics (SURVEY.md §2.3 F8-F14, citations into /root/reference/):
- conditional currency conversion (spark_batch_v2.py:83-89)
- hand-rolled coalesce midpoint: avg = (min+max)/2 else max else min else
  null (spark_batch_v2.py:97-103) -- null only when BOTH bounds null
- range = max - min (spark_batch_v2.py:106-110)
- ratio with divide-by-zero guard (spark_batch_v2.py:191-195)
- first-match-wins regex classifier chains (spark_batch_v2.py:123-158)
- bucketing by numeric thresholds (spark_batch_v2.py:139-149)
- fallback/priority merge: prefer source value unless null/sentinel
  (spark_batch_v2.py:131-135)
- date derivations: days-since, day-of-week, month, quarter
  (spark_batch_v2.py:164-180)

Classifiers are table-driven (ordered (pattern, label) rules) instead of
hand-written when-chains, but compile to the same first-match-wins CASE
expression, so Catalyst sees identical semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def convert_currency(
    amount: Column | str,
    currency: Column | str,
    rates: dict[str, float],
) -> Column:
    """Multiply by a per-currency rate (reference: GBP*1.27,
    spark_batch_v2.py:83-89). Table-driven when-chain; unknown -> unchanged."""
    a = F.col(amount) if isinstance(amount, str) else amount
    c = F.col(currency) if isinstance(currency, str) else currency
    expr: Column | None = None
    for code, rate in rates.items():
        cond = c == code
        expr = F.when(cond, a * rate) if expr is None else expr.when(cond, a * rate)
    return a * 1.0 if expr is None else expr.otherwise(a * 1.0)


def midpoint_coalesce(lo: Column | str, hi: Column | str) -> Column:
    """(lo+hi)/2 if both present, else hi, else lo, else null.

    Exactly the reference's hand-rolled when-chain
    (spark_batch_v2.py:97-103) -- expressed as F.coalesce, which has
    identical null semantics and folds better.
    """
    lo_c = F.col(lo) if isinstance(lo, str) else lo
    hi_c = F.col(hi) if isinstance(hi, str) else hi
    return F.coalesce((lo_c + hi_c) / 2, hi_c, lo_c)


def value_range(lo: Column | str, hi: Column | str) -> Column:
    """hi - lo (null if either null). Reference: spark_batch_v2.py:106-110."""
    lo_c = F.col(lo) if isinstance(lo, str) else lo
    hi_c = F.col(hi) if isinstance(hi, str) else hi
    return hi_c - lo_c


def safe_ratio(num: Column | str, den: Column | str) -> Column:
    """(num/den)*100 with null (not error/inf) when den is 0 or null.

    Reference: competition score (applies/views)*100,
    spark_batch_v2.py:191-195.
    """
    n = F.col(num) if isinstance(num, str) else num
    d = F.col(den) if isinstance(den, str) else den
    return F.when(d > 0, (n / d) * 100.0)


def regex_classify(
    col: Column | str,
    rules: Sequence[tuple[str, str]],
    default: str = "Other",
) -> Column:
    """First-match-wins case-insensitive regex classifier as one CASE
    expression.

    ``rules`` is an ordered [(pattern, label), ...]; order matters exactly
    as in the reference's when-chains (spark_batch_v2.py:124-148 checks
    Junior before Senior -- SURVEY.md §7.3).
    """
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for pattern, label in rules:
        cond = c.rlike(f"(?i){pattern}")
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return F.lit(default) if expr is None else expr.otherwise(default)


def bucketize(
    col: Column | str,
    thresholds: Sequence[tuple[float, str]],
    default: str = "unknown",
    null_label: str | None = None,
) -> Column:
    """Bucket a numeric into ordered labels: first threshold whose bound
    exceeds the value wins: [(50000,'low'),(100000,'mid')] -> <50000 low,
    <100000 mid, else default.

    Reference: salary buckets spark_batch_v2.py:139-149, freshness buckets
    :169-173.
    """
    c = F.col(col) if isinstance(col, str) else col
    expr = F.when(c.isNull(), F.lit(null_label))
    for bound, label in thresholds:
        expr = expr.when(c < bound, label)
    return expr.otherwise(default)


def prefer_unless(
    primary: Column | str,
    fallback: Column | str,
    sentinels: Sequence[str] = ("Not Specified",),
) -> Column:
    """Prefer ``primary`` unless it is null or a sentinel value, else use
    ``fallback``. Reference: experience-level merge,
    spark_batch_v2.py:131-135."""
    p = F.col(primary) if isinstance(primary, str) else primary
    f_ = F.col(fallback) if isinstance(fallback, str) else fallback
    bad = p.isNull()
    for s in sentinels:
        bad = bad | (p == s)
    return F.when(bad, f_).otherwise(p)


def date_derivations(date_col: Column | str, as_of: Column | str) -> dict[str, Column]:
    """The reference's temporal derivation set (spark_batch_v2.py:162-180):
    days-since-posted, day-of-week, month, quarter."""
    d = F.col(date_col) if isinstance(date_col, str) else date_col
    a = F.col(as_of) if isinstance(as_of, str) else as_of
    return {
        "days_since_posted": F.datediff(a, d),
        "posted_day_of_week": F.dayofweek(d),
        "posted_month": F.month(d),
        "posted_quarter": F.quarter(d),
    }
