"""Windowed aggregation builders (reference W1-W5).

Each builder takes ANY DataFrame -- static or streaming -- and returns
the aggregated frame: F.window is the identical expression in both
modes, which is how the engine tests streaming semantics in batch
(SURVEY.md §5) and how batch backfill shares code with the live path
(the reference duplicated ~150 lines between its batch and streaming
jobs; here it's one function).

Reference: tumbling/sliding windows + watermarks,
spark_streaming_v2.py:223-359, spark_streaming.py:62-74.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.functions.eventtime import ensure_ltz


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    measures: dict[str, Column],
    slide: str | None = None,
    dims: list[str] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """window(ts, duration[, slide]) x dims -> agg(measures), with
    window.start/window.end projected to window_start / window_end
    (timestamp_ntz, so values are tz-stable) -- reference W4.

    ``watermark`` is applied only on streaming frames (a static frame
    ignores withWatermark, but we skip it entirely for clarity).
    """
    # withWatermark requires TIMESTAMP event time; Spark 4.1 infers NTZ
    # from naive-datetime fixtures and NTZ-annotated parquet, so pin LTZ
    # at this boundary (wall-clock-preserving under the UTC session TZ).
    df = ensure_ltz(df, ts_col)
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = (
        F.window(ts_col, duration, slide) if slide else F.window(ts_col, duration)
    )
    keys = [win.alias("window"), *(dims or [])]
    aggs = [expr.alias(name) for name, expr in measures.items()]
    return df.groupBy(*keys).agg(*aggs).select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        F.col("window.end").cast("timestamp_ntz").alias("window_end"),
        *(dims or []),
        *measures.keys(),
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    measures: dict[str, Column],
    dims: list[str] | None = None,
) -> DataFrame:
    """Session windows (gap-based): F.session_window(ts, gap) x dims.
    Sessions close after ``gap`` of inactivity; session_end = last event
    + gap. Works on static frames and on streams (a streaming caller
    applies withWatermark upstream) -- beyond the reference surface
    (SURVEY.md §2.5: no session windows there), standard for
    user-activity analytics."""
    df = ensure_ltz(df, ts_col)
    win = F.session_window(ts_col, gap)
    aggs = [expr.alias(name) for name, expr in measures.items()]
    out = df.groupBy(win.alias("session"), *(dims or [])).agg(*aggs)
    return out.select(
        F.col("session.start").cast("timestamp_ntz").alias("session_start"),
        F.col("session.end").cast("timestamp_ntz").alias("session_end"),
        *(dims or []),
        *measures.keys(),
    )


def upsert_key(dims: list[str]) -> Column:
    """Synthetic per-window upsert doc id: concat_ws('_', dims...,
    window_start-as-string) -- reference S8
    (spark_streaming_v2.py:243,279,313,350)."""
    return F.concat_ws(
        "_", *[F.col(d) for d in dims], F.col("window_start").cast("string")
    )
