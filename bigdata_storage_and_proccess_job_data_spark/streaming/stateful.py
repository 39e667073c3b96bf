"""Stateful streaming dedup.

The reference has no streaming dedup (SURVEY.md §2.5); plain
dropDuplicates on a stream keeps its key state forever. The watermark-
scoped form here evicts state as event time advances, so the state store
holds live keys only, not stream history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bigdata_storage_and_proccess_job_data_spark.functions.eventtime import ensure_ltz


def dedup_within_watermark(
    df: DataFrame, keys: list[str], ts_col: str, delay: str
) -> DataFrame:
    """Built-in watermark-scoped streaming dedup: one row per key within
    the watermark horizon, state evicted as event time advances (the
    eviction follows the data clock, not the wall clock; plain
    dropDuplicates on a stream retains state forever)."""
    return (
        ensure_ltz(df, ts_col)
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(keys)
    )
