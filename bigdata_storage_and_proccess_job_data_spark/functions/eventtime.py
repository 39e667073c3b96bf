"""Event-time type normalization (TIMESTAMP_NTZ -> TIMESTAMP_LTZ).

Spark 4.1 reads micros-annotated parquet with isAdjustedToUTC=false as
TIMESTAMP_NTZ (spark.sql.parquet.inferTimestampNTZ.enabled defaults on),
and createDataFrame infers NTZ from naive datetimes. Three engine idioms
are illegal on NTZ: ``cast("long")`` epoch extraction, ``unix_micros``,
and ``withWatermark`` (event time must be TIMESTAMP). The session TZ is
pinned UTC (session.py), so NTZ -> LTZ is wall-clock-preserving and the
DuckDB oracle (which reads the same parquet as naive timestamps) stays
in agreement; output edges that surface timestamps re-pin them to NTZ
(streaming/windows.py flatten) so collected values remain tz-naive.

This is the ONE seam for the fix: batch loads normalize in
catalog.load_table, streaming/watermark builders normalize their
event-time column here before withWatermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensure_ltz(df: DataFrame, *cols: str) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP_LTZ.

    With explicit ``cols``, only those columns are considered (a non-NTZ
    column among them passes through untouched -- the call is idempotent
    and safe on already-LTZ frames). With no ``cols``, every NTZ column
    in the frame is normalized (the load-seam mode).

    Single ``withColumns`` pass: no extra projection nodes per column.
    """
    dtypes = dict(df.dtypes)
    targets = [
        c
        for c in (cols or dtypes.keys())
        if dtypes.get(c) == "timestamp_ntz"
    ]
    if not targets:
        return df
    return df.withColumns(
        {c: F.col(c).cast("timestamp_ltz") for c in targets}
    )


_INTERVAL_RE = None


def interval_expr(spec: str):
    """A validated ``INTERVAL`` Column from a user-supplied duration
    string ("10 minutes", "1 hour 30 minutes"). The operators that
    accept duration parameters (as-of tolerance, burst gap,
    stream-stream join bound) interpolate the string into a SQL
    expression; restricting it to value-unit pairs keeps that
    interpolation from ever being a SQL seam (the same discipline as
    the bootstrap salt's charset check) and turns a typo'd duration
    into a clear ValueError instead of a parser stack trace."""
    import re

    from pyspark.sql import functions as F

    global _INTERVAL_RE
    if _INTERVAL_RE is None:
        _INTERVAL_RE = re.compile(
            r"^\s*\d+\s+[A-Za-z]+(\s+\d+\s+[A-Za-z]+)*\s*$"
        )
    if not isinstance(spec, str) or not _INTERVAL_RE.match(spec):
        raise ValueError(
            f"invalid interval {spec!r}: expected value-unit pairs like "
            "'10 minutes' or '1 hour 30 minutes'"
        )
    return F.expr(f"INTERVAL {spec}")
