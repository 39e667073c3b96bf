"""Deduplication operators: exact and deterministic keyed dedup here;
near-dup (MinHash/SimHash/Jaccard/embedding) in this module too -- all
designed for 100 TB (no driver collects, bounded shuffles).

Reference anchor: dropDuplicates(['job_id']) with an arbitrary winner
(spark_batch_v2.py:49 -- SURVEY.md P3). At scale, arbitrary winners are
non-reproducible across retries, so the engine's keyed dedup is the
deterministic row_number variant.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.functions.eventtime import interval_expr


def dedup_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column] | None = None,
) -> DataFrame:
    """Keep one row per key.

    With ``order_by``: deterministic winner via row_number over
    (partitionBy keys, orderBy order_by) -- one shuffle on the keys, no
    driver involvement, reproducible across retries (what the reference's
    dropDuplicates should have been at scale).
    Without: plain dropDuplicates (arbitrary winner, cheapest).
    """
    if order_by is None:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def first_of_burst(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    gap: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Event-time burst dedup: per key, keep the FIRST row of every
    burst, where a new burst starts whenever the gap from the previous
    row (same key, event-time order) exceeds ``gap`` (an INTERVAL
    string, e.g. ``"30 minutes"``). The alert-storm / retransmission
    collapse: row at t is a duplicate of the burst's opener, not a new
    signal, while it arrives within ``gap`` of its predecessor.

    This is the deterministic BATCH analogue of the streaming
    ``dedup_within_watermark`` (streaming/stateful.py, built on
    dropDuplicatesWithinWatermark): the streaming form keeps a key's
    first arrival and drops duplicates while its state lives, evicting
    state as the watermark passes; when the watermark advances between
    bursts (the steady-state shape -- bursts are short, inter-burst
    gaps are long), both definitions keep exactly the burst openers.
    tests/test_streaming_joins.py pins that equivalence on a multi-batch
    file stream.

    Plan shape: ONE shuffle on ``keys``, a per-key sort for the lag
    window, a codegen filter -- no joins, no driver state. At 100 TB the
    per-key partitions are user/session sized, far under executor
    memory. ``tiebreak`` columns order equal timestamps reproducibly.
    """
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    keep = prev.isNull() | (
        F.col(ts_col) > prev + interval_expr(gap)
    )
    return (
        df.withColumn("_keep", keep)
        .filter(F.col("_keep"))
        .drop("_keep")
    )


def duplicate_groups(
    df: DataFrame,
    content_col: str,
    id_col: str,
) -> DataFrame:
    """Summary of exact-duplicate clusters: one row per distinct content
    hash (of the trimmed, lowercased content) with the cluster size and
    the surviving (minimum) id."""
    return (
        df.withColumn(
            "content_hash", F.md5(F.lower(F.trim(F.col(content_col))))
        )
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_col).alias("keep_id"),
        )
    )
