"""End-to-end archive continuity: the reference's Kafka -> MinIO archive
leg (kafka_to_minio.py:47-80) as a file-source-backed pipeline,

    source files -> archive_stream (checkpointed, partitioned)

resumed from its checkpoint across "restarts" (new driver runs of
availableNow): each run lands only the new source files, never a second
copy of the old ones.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from bigdata_storage_and_proccess_job_data_spark.sources import lake
from bigdata_storage_and_proccess_job_data_spark.streaming import pipeline

SRC_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts_raw", StringType()),
        StructField("value", LongType()),
    ]
)


def _emit(spark, src: str, rows) -> None:
    spark.createDataFrame(rows, SRC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)


def _with_ts(df):
    return df.withColumn("ts", F.to_timestamp("ts_raw")).withColumn(
        "event_date", F.to_date("ts")
    )


def _drain_archive(spark, src: str, archive: str, ckpt: str) -> None:
    stream = _with_ts(pipeline.file_stream(spark, src, SRC_SCHEMA))
    q = lake.archive_stream(stream, archive, ckpt, ["event_date"], None)
    q.awaitTermination(120)


def test_archive_to_rollup_continuity(spark, tmp_path):
    src = str(tmp_path / "src")
    archive = str(tmp_path / "archive")
    ckpt_a = str(tmp_path / "ckpt_archive")

    # --- phase 1: two users, two windows
    _emit(
        spark,
        src,
        [
            (1, "2024-03-01 10:01:00", 5),
            (1, "2024-03-01 10:04:00", 7),
            (2, "2024-03-01 10:02:00", 1),
            (1, "2024-03-01 10:12:00", 3),
        ],
    )
    _drain_archive(spark, src, archive, ckpt_a)
    assert spark.read.parquet(archive).count() == 4

    # --- phase 2 ("restart"): new files, including a late row
    _emit(
        spark,
        src,
        [
            (1, "2024-03-01 10:07:00", 100),
            (2, "2024-03-01 10:25:00", 9),
        ],
    )
    _drain_archive(spark, src, archive, ckpt_a)  # same checkpoint: delta only

    # the archive only grew by the delta (checkpointed resume, no
    # reprocessing): 4 + 2 rows
    archived = spark.read.parquet(archive)
    assert archived.count() == 6
    assert archived.agg(F.sum("value")).first()[0] == 125
