"""Watermark-scoped streaming dedup across two micro-batches (mtime-
ordered single files)."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
)

from bigdata_storage_and_proccess_job_data_spark.streaming import pipeline, stateful


@pytest.fixture(autouse=True)
def few_shuffle_partitions(spark):
    # each micro-batch runs a state-store task per shuffle partition;
    # 32 partitions for 5 rows is pure overhead in these tests
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run(df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    # stateful batches are slow to warm up on a cold JVM, hence the
    # generous bound
    q.awaitTermination(240)
    assert not q.isActive
    return q


def test_dedup_within_watermark(spark, tmp_path):
    import datetime as dt

    from pyspark.sql.types import TimestampType

    schema = StructType(
        [
            StructField("user", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = str(tmp_path / "src")
    b1 = [("alice", base), ("alice", base + dt.timedelta(minutes=1)),
          ("bob", base)]
    b2 = [("alice", base + dt.timedelta(minutes=2)),
          ("carol", base + dt.timedelta(minutes=3))]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = pipeline.file_stream(spark, src, schema, max_files_per_trigger=1)
    out = stateful.dedup_within_watermark(stream, ["user"], "ts", "10 minutes")
    name = f"wmdedup_{uuid.uuid4().hex[:8]}"
    _run(out, name, "append")
    rows = spark.sql(f"SELECT user FROM {name}").collect()
    # every duplicate lands inside the 10-min horizon -> one row per user
    assert sorted(r.user for r in rows) == ["alice", "bob", "carol"]
