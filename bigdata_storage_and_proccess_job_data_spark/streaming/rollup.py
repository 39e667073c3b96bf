"""Continuous rollup: a windowed aggregate maintained as a queryable
table while the stream runs.

The reference's update-mode windowed aggs upsert into Elasticsearch by a
synthetic doc id (S8, spark_streaming_v2.py:243-252); the engine's
lake-native equivalent composes three primitives it already has:

    windowed_agg (streaming, update mode)        streaming/windows.py
      -> foreachBatch append to an upsert log     sources/lake.py
      -> latest-wins read / versioned compaction  sources/versioned.py

Each micro-batch emits updated (dims x window) rows; they append to the
log stamped with the batch id as the version column, so re-emissions of
a still-open window supersede earlier ones and replayed batches (after
a restart, foreachBatch is at-least-once) are idempotent -- same key,
same-or-newer version, latest wins either way. Readers see every closed
and still-open window at its most recent value; compaction periodically
folds the log into a committed snapshot without blocking either side.

This is the timeseries-db "continuous aggregate" pattern on plain
Spark + parquet: no serving store, no custom state backend beyond the
windowed agg's own StateStore.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bigdata_storage_and_proccess_job_data_spark.sources import lake
from bigdata_storage_and_proccess_job_data_spark.streaming import pipeline, windows


def continuous_rollup(
    stream_df: DataFrame,
    ts_col: str,
    duration: str,
    measures: dict[str, Column],
    log_path: str,
    checkpoint_dir: str,
    dims: list[str] | None = None,
    watermark: str | None = None,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start the rollup stream. The log at ``log_path`` is readable at
    any time via ``read_rollup``; ``compact_rollup`` folds it.

    ``watermark=None`` keeps all window state alive (exact rollup over
    arbitrarily out-of-order input -- state grows with window count).
    Set a watermark on unbounded streams to bound state; windows older
    than the horizon then stop updating (late rows drop, W1 semantics)."""
    agg = windows.windowed_agg(
        stream_df, ts_col, duration, measures, dims=dims, watermark=watermark
    )
    key_cols = ["window_start", *(dims or [])]

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df.withColumn(
            "_key", windows.upsert_key(dims or [], "window_start")
        ).withColumn("_version", F.lit(batch_id).cast("long"))
        lake.upsert_by_key(batch_df.sparkSession, out, log_path, "_key", "_version")

    query = pipeline._start(
        agg.writeStream.foreachBatch(upsert).outputMode("update"),
        checkpoint_dir,
        trigger_available_now,
        processing_time,
    )
    query._rollup_key_cols = key_cols  # introspection for tests
    return query


def read_rollup(spark: SparkSession, log_path: str) -> DataFrame:
    """Latest value of every (dims x window) row emitted so far."""
    return lake.read_upserted(spark, log_path, "_key", "_version").drop(
        "_key", "_version"
    )


def compact_rollup(spark: SparkSession, log_path: str, table_dir: str) -> int:
    """Fold the rollup log into a committed snapshot (readers of the
    previous snapshot unaffected); returns the new version."""
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    return versioned.compact_log_versioned(
        spark, log_path, table_dir, "_key", "_version"
    )
