"""Stream-static join + update-mode upsert sink round trip + Kafka
builder gating -- the remaining streaming surface (S3/S8 semantics)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.sources import lake
from bigdata_storage_and_proccess_job_data_spark.streaming import pipeline, windows


def test_stream_static_join(spark, sf_dir, tmp_path):
    """Enrich a stream with a broadcast static dimension (beyond the
    reference surface -- it had no joins at all, SURVEY.md §2.6)."""
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev")
    events.write.parquet(src)

    dim = spark.createDataFrame(
        [(t, t.upper()) for t in ["click", "view", "purchase", "signup", "error"]],
        ["event_type", "type_label"],
    )
    stream = pipeline.file_stream(spark, src, events.schema)
    joined = stream.join(F.broadcast(dim), "event_type")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = pipeline.memory_sink(joined, name, output_mode="append")
    q.awaitTermination(60)
    got = spark.sql(f"SELECT * FROM {name}")
    assert got.count() == events.count()
    assert got.filter(F.col("type_label").isNull()).count() == 0


def test_update_mode_upsert_round_trip(spark, sf_dir, tmp_path):
    """Reference S8: update-mode windowed aggregates upserted by a
    synthetic doc id. Parquet can't update in place; the engine appends
    per-batch results via foreachBatch and reads latest-wins
    (sources/lake.py) -- final state must equal the batch aggregate."""
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev")
    # two files => two micro-batches, so windows get written twice with
    # increasing partial counts (genuine upsert pressure)
    half = events.filter(F.col("event_id") % 2 == 0)
    rest = events.filter(F.col("event_id") % 2 == 1)
    half.write.mode("append").parquet(src)
    import time as _t

    _t.sleep(1.1)
    rest.write.mode("append").parquet(src)

    sink = str(tmp_path / "agg_sink")

    def agg_builder(batch_df):
        return windows.windowed_agg(
            batch_df,
            "ts",
            "5 minutes",
            {"event_count": F.count(F.lit(1))},
            dims=["event_type"],
        ).withColumn(
            "doc_id", windows.upsert_key(["event_type"])
        )

    def agg_writer(df, batch_id):
        # per-window-upsert: append with batch version; latest wins
        df.withColumn("_v", F.lit(batch_id)).write.mode("append").parquet(sink)

    stream = pipeline.file_stream(spark, src, events.schema, max_files_per_trigger=1)
    q = pipeline.fan_out_foreach_batch(
        stream,
        None,
        {"agg": agg_builder},
        {"agg": agg_writer},
        checkpoint_dir=str(tmp_path / "chk"),
        trigger_available_now=True,
    )
    q.awaitTermination(90)
    assert not q.isActive

    # NOTE: per-micro-batch aggregation of the batch frame alone is NOT
    # cumulative; cumulative update-mode state lives in the stateful agg.
    # Here each batch writes ITS OWN counts, so latest-wins gives batch-2
    # counts for re-written windows -- this test asserts upsert mechanics
    # (one row per doc_id, highest version wins), not cumulative counts.
    latest = lake.read_upserted(spark, sink, "doc_id", "_v")
    assert latest.groupBy("doc_id").count().filter("count > 1").count() == 0
    dup_windows = (
        spark.read.parquet(sink)
        .groupBy("doc_id")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup_windows > 0, "fixture should produce overwritten windows"


def test_stateful_update_mode_cumulative(spark, sf_dir, tmp_path):
    """The REAL S8: a stateful windowed aggregation in update mode,
    upserted per micro-batch by doc_id. After two micro-batches the
    latest-wins view must equal the batch aggregate over all data
    (cumulative counts, since update mode re-emits changed windows from
    the state store)."""
    import time as _t

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev")
    # exactly one file per half => exactly two micro-batches (events are
    # unordered across files, so more batches would legitimately trigger
    # watermark late-drops and the cumulative assertion would not hold)
    events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _t.sleep(1.1)
    events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    sink = str(tmp_path / "upsert_sink")
    stream = pipeline.file_stream(spark, src, events.schema, max_files_per_trigger=1)
    agg = windows.windowed_agg(
        stream,
        "ts",
        "5 minutes",
        {"event_count": F.count(F.lit(1))},
        dims=["event_type"],
        watermark="10 minutes",
    ).withColumn("doc_id", windows.upsert_key(["event_type"]))

    def upsert_writer(batch_df, batch_id):
        batch_df.withColumn("_v", F.lit(batch_id)).write.mode("append").parquet(
            sink
        )

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(upsert_writer)
        .option("checkpointLocation", str(tmp_path / "chk2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(90)
    assert not q.isActive

    latest = lake.read_upserted(spark, sink, "doc_id", "_v")
    got = {
        (r.window_start, r.event_type): r.event_count for r in latest.collect()
    }
    expected_df = windows.windowed_agg(
        events, "ts", "5 minutes", {"event_count": F.count(F.lit(1))},
        dims=["event_type"],
    )
    expected = {
        (r.window_start, r.event_type): r.event_count
        for r in expected_df.collect()
    }
    assert got == expected


def test_kafka_builder_fails_clearly_without_package(spark):
    """The gate message must name the exact --packages coordinate for
    this Spark build (VERDICT r6 #8), not just re-raise Spark's
    data-source-not-found error."""
    from bigdata_storage_and_proccess_job_data_spark.domain.schemas import (
        NORMALIZED_POSTING_SCHEMA,
    )

    with pytest.raises(
        RuntimeError,
        match=r"spark-sql-kafka-0-10_2\.13:" + spark.version.replace(".", r"\."),
    ):
        pipeline.kafka_stream(
            spark, "localhost:9092", "jobs-topic", NORMALIZED_POSTING_SCHEMA
        )


def test_stream_stream_interval_join(spark, tmp_path):
    """Impressions |X| clicks within 10 minutes: the canonical
    stream-stream join. Both sides watermarked (state eviction), the
    interval bound in the join condition, and the streaming result must
    equal the same join run in batch."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    imp_schema = StructType(
        [StructField("ad_id", LongType()), StructField("imp_ts_raw", StringType())]
    )
    clk_schema = StructType(
        [StructField("ad_id", LongType()), StructField("clk_ts_raw", StringType())]
    )
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    spark.createDataFrame(
        [(1, "2024-05-01 10:00:00"), (2, "2024-05-01 10:00:00"),
         (3, "2024-05-01 11:00:00")],
        imp_schema,
    ).coalesce(1).write.parquet(imp_dir)
    spark.createDataFrame(
        [(1, "2024-05-01 10:04:00"),   # within 10 min -> match
         (2, "2024-05-01 10:20:00"),   # outside window -> no match
         (3, "2024-05-01 10:59:00"),   # BEFORE the impression -> no match
         (9, "2024-05-01 10:01:00")],  # unknown ad -> no match
        clk_schema,
    ).coalesce(1).write.parquet(clk_dir)

    def prep(df, raw, out):
        return df.withColumn(out, F.to_timestamp(raw)).drop(raw)

    imp_s = prep(pipeline.file_stream(spark, imp_dir, imp_schema), "imp_ts_raw", "imp_ts")
    clk_s = prep(pipeline.file_stream(spark, clk_dir, clk_schema), "clk_ts_raw", "clk_ts")
    joined = pipeline.stream_stream_interval_join(
        imp_s, clk_s, "ad_id", "imp_ts", "clk_ts",
        "30 minutes", "30 minutes", "10 MINUTES",
    ).select(imp_s["ad_id"].alias("ad_id"), "imp_ts", "clk_ts")

    q = pipeline.memory_sink(joined, "ssjoin", output_mode="append")
    q.awaitTermination(120)
    got = {(r.ad_id, str(r.clk_ts)) for r in spark.sql("select * from ssjoin").collect()}
    assert got == {(1, "2024-05-01 10:04:00")}

    # batch equivalence: same condition on static frames
    imp_b = prep(spark.read.parquet(imp_dir), "imp_ts_raw", "imp_ts")
    clk_b = prep(spark.read.parquet(clk_dir), "clk_ts_raw", "clk_ts")
    batch = imp_b.alias("i").join(
        clk_b.alias("c"),
        (F.col("i.ad_id") == F.col("c.ad_id"))
        & (F.col("c.clk_ts") >= F.col("i.imp_ts"))
        & (F.col("c.clk_ts") <= F.col("i.imp_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select(F.col("i.ad_id"), "clk_ts")
    assert {(r.ad_id, str(r.clk_ts)) for r in batch.collect()} == got


def test_stream_stream_join_same_ts_name_analyzes(spark, tmp_path):
    """Both streams naming their event-time column 'ts' (the canonical
    case) must analyze cleanly -- the interval bound is built from the
    frame-qualified column, not an ambiguous expr string."""
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    schema = StructType(
        [StructField("k", LongType()), StructField("ts", TimestampType())]
    )
    d1, d2 = str(tmp_path / "l"), str(tmp_path / "r")
    empty = spark.createDataFrame([], schema)
    empty.write.parquet(d1)
    empty.write.parquet(d2)
    left = pipeline.file_stream(spark, d1, schema)
    right = pipeline.file_stream(spark, d2, schema)
    joined = pipeline.stream_stream_interval_join(
        left, right, "k", "ts", "ts",
        "10 minutes", "10 minutes", "5 MINUTES",
    )
    _ = joined.schema  # forces analysis; ambiguous refs raise here


def test_stream_stream_left_outer_join(spark, tmp_path):
    """LEFT-OUTER stream-stream join: the unmatched impression must be
    emitted with a NULL click -- but only after the watermark proves no
    match can still arrive (state-store eviction). Sentinel events on
    BOTH streams advance the global watermark past imp_ts + within, and
    a final sentinel batch triggers the null emission. The emitted set
    must equal the batch left-outer join of the same frames."""
    import datetime as dt
    import time as _t

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    imp_schema = StructType(
        [StructField("ad_id", LongType()), StructField("imp_ts", TimestampType())]
    )
    clk_schema = StructType(
        [StructField("ad_id", LongType()), StructField("clk_ts", TimestampType())]
    )
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    t = dt.datetime(2024, 5, 1, 10, 0, 0)

    def write(path, schema, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    # b1: the real data -- ad 1 matches, ad 2 never will
    write(imp_dir, imp_schema, [(1, t), (2, t)])
    write(clk_dir, clk_schema, [(1, t + dt.timedelta(minutes=4))])
    _t.sleep(1.1)  # mtime granularity: files must sort in write order
    # b2: sentinels on BOTH streams -> watermark 13:00 - 30m = 12:30,
    # far past ad 2's emission horizon (10:10)
    far = t + dt.timedelta(hours=3)
    write(imp_dir, imp_schema, [(99, far)])
    write(clk_dir, clk_schema, [(98, far)])
    _t.sleep(1.1)
    # b3: one more right-side sentinel so a batch RUNS at the advanced
    # watermark and flushes the unmatched-left state
    write(clk_dir, clk_schema, [(97, far + dt.timedelta(minutes=30))])

    imp_s = pipeline.file_stream(
        spark, imp_dir, imp_schema, max_files_per_trigger=1
    )
    clk_s = pipeline.file_stream(
        spark, clk_dir, clk_schema, max_files_per_trigger=1
    )
    joined = pipeline.stream_stream_interval_join(
        imp_s, clk_s, "ad_id", "imp_ts", "clk_ts",
        "30 minutes", "30 minutes", "10 MINUTES",
        how="left_outer",
    ).select(
        imp_s["ad_id"].alias("ad_id"),
        "imp_ts",
        "clk_ts",
    )
    name = f"ssloj_{uuid.uuid4().hex[:8]}"
    q = pipeline.memory_sink(joined, name, output_mode="append")
    q.awaitTermination(120)
    got = {
        (r.ad_id, str(r.imp_ts), str(r.clk_ts) if r.clk_ts else None)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
        if r.ad_id < 90  # sentinel imps can't flush (watermark ends)
    }
    assert got == {
        (1, "2024-05-01 10:00:00", "2024-05-01 10:04:00"),
        (2, "2024-05-01 10:00:00", None),
    }

    # batch equivalence: identical builder call on static frames
    # (withWatermark is a no-op in batch) must produce the same set
    imp_b = spark.read.parquet(imp_dir)
    clk_b = spark.read.parquet(clk_dir)
    batch = pipeline.stream_stream_interval_join(
        imp_b, clk_b, "ad_id", "imp_ts", "clk_ts",
        "30 minutes", "30 minutes", "10 MINUTES",
        how="left_outer",
    ).select(imp_b["ad_id"].alias("ad_id"), "imp_ts", "clk_ts")
    batch_got = {
        (r.ad_id, str(r.imp_ts), str(r.clk_ts) if r.clk_ts else None)
        for r in batch.collect()
        if r.ad_id < 90
    }
    assert batch_got == got


def test_stream_stream_full_outer_join(spark, tmp_path):
    """FULL-OUTER stream-stream join: unmatched rows on EITHER side are
    emitted with NULLs for the other -- each only after the watermark
    proves no match can still arrive. ad 1 matches; ad 2 is an
    impression that never clicks (right NULLs); ad 3 is a click with no
    impression (left NULLs). Same sentinel choreography as the
    left-outer test; the emitted set must equal the batch full-outer
    join of the same frames."""
    import datetime as dt
    import time as _t

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    imp_schema = StructType(
        [StructField("ad_id", LongType()), StructField("imp_ts", TimestampType())]
    )
    clk_schema = StructType(
        [StructField("ad_id", LongType()), StructField("clk_ts", TimestampType())]
    )
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    t = dt.datetime(2024, 5, 1, 10, 0, 0)

    def write(path, schema, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    write(imp_dir, imp_schema, [(1, t), (2, t)])
    write(
        clk_dir,
        clk_schema,
        [(1, t + dt.timedelta(minutes=4)), (3, t + dt.timedelta(minutes=2))],
    )
    _t.sleep(1.1)
    far = t + dt.timedelta(hours=3)
    write(imp_dir, imp_schema, [(99, far)])
    write(clk_dir, clk_schema, [(98, far)])
    _t.sleep(1.1)
    write(clk_dir, clk_schema, [(97, far + dt.timedelta(minutes=30))])

    imp_s = pipeline.file_stream(
        spark, imp_dir, imp_schema, max_files_per_trigger=1
    )
    clk_s = pipeline.file_stream(
        spark, clk_dir, clk_schema, max_files_per_trigger=1
    )

    def project(joined, imp, clk):
        return joined.select(
            imp["ad_id"].alias("imp_ad"),
            clk["ad_id"].alias("clk_ad"),
            "imp_ts",
            "clk_ts",
        )

    joined = project(
        pipeline.stream_stream_interval_join(
            imp_s, clk_s, "ad_id", "imp_ts", "clk_ts",
            "30 minutes", "30 minutes", "10 MINUTES",
            how="full_outer",
        ),
        imp_s,
        clk_s,
    )
    name = f"ssfoj_{uuid.uuid4().hex[:8]}"
    q = pipeline.memory_sink(joined, name, output_mode="append")
    q.awaitTermination(120)

    def canon(rows):
        return {
            (
                r.imp_ad,
                r.clk_ad,
                str(r.imp_ts) if r.imp_ts else None,
                str(r.clk_ts) if r.clk_ts else None,
            )
            for r in rows
            # sentinels can't flush before the stream ends (the watermark
            # never passes their own horizon)
            if (r.imp_ad or r.clk_ad) < 90
        }

    got = canon(spark.sql(f"SELECT * FROM {name}").collect())
    assert got == {
        (1, 1, "2024-05-01 10:00:00", "2024-05-01 10:04:00"),
        (2, None, "2024-05-01 10:00:00", None),
        (None, 3, None, "2024-05-01 10:02:00"),
    }

    imp_b = spark.read.parquet(imp_dir)
    clk_b = spark.read.parquet(clk_dir)
    batch = project(
        pipeline.stream_stream_interval_join(
            imp_b, clk_b, "ad_id", "imp_ts", "clk_ts",
            "30 minutes", "30 minutes", "10 MINUTES",
            how="full_outer",
        ),
        imp_b,
        clk_b,
    )
    assert canon(batch.collect()) == got


def test_dedup_stream_batch_equivalence(spark, tmp_path):
    """dropDuplicatesWithinWatermark (stateful.dedup_within_watermark)
    must keep exactly the burst openers that the batch analogue
    (operators/dedup.py:first_of_burst) keeps: duplicates inside a
    burst collapse while the key's state lives; the state evicts as the
    watermark passes (filler batches advance it), so the next burst's
    opener is kept again."""
    import datetime as dt
    import time as _t

    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from bigdata_storage_and_proccess_job_data_spark.operators import dedup
    from bigdata_storage_and_proccess_job_data_spark.streaming import stateful

    schema = StructType(
        [StructField("user", StringType()), StructField("ts", TimestampType())]
    )
    src = str(tmp_path / "src")
    t = dt.datetime(2024, 5, 1, 10, 0, 0)

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    m = dt.timedelta(minutes=1)
    # b1: burst 1 -- openers A@10:00, B@10:00; dups within 30m dropped
    write([("A", t), ("A", t + 5 * m), ("A", t + 8 * m), ("B", t)])
    _t.sleep(1.1)
    # b2/b3: fillers advance the watermark past burst 1's state expiry
    # (10:30); two fillers so eviction is certain even if it lags a batch
    write([("C", t + 90 * m)])
    _t.sleep(1.1)
    write([("D", t + 150 * m)])
    _t.sleep(1.1)
    # b4: burst 2 -- state evicted, openers kept again
    write([("A", t + 180 * m), ("A", t + 182 * m), ("B", t + 180 * m)])

    stream = pipeline.file_stream(
        spark, src, schema, max_files_per_trigger=1
    )
    name = f"wmdedup_{uuid.uuid4().hex[:8]}"
    q = pipeline.memory_sink(
        stateful.dedup_within_watermark(stream, ["user"], "ts", "30 minutes"),
        name,
    )
    q.awaitTermination(120)

    got = {
        (r.user, str(r.ts))
        for r in spark.sql(f"SELECT user, ts FROM {name}").collect()
    }
    expected_batch = dedup.first_of_burst(
        spark.read.parquet(src), ["user"], "ts", "30 minutes"
    )
    want = {(r.user, str(r.ts)) for r in expected_batch.collect()}
    assert got == want, f"stream={sorted(got)} batch={sorted(want)}"
    assert len(got) == 6  # A,B openers x2 bursts + C + D


def test_stream_stream_right_outer_join(spark, tmp_path):
    """RIGHT-OUTER completes the stream-stream outer matrix: an orphan
    click (no impression within the interval) must emit with NULL
    impression columns after the watermark proves none can arrive,
    while matched pairs emit normally -- and the set equals the batch
    right-outer join."""
    import datetime as dt
    import time as _t

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    imp_schema = StructType(
        [StructField("ad_id", LongType()), StructField("imp_ts", TimestampType())]
    )
    clk_schema = StructType(
        [StructField("ad_id", LongType()), StructField("clk_ts", TimestampType())]
    )
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    t = dt.datetime(2024, 5, 1, 10, 0, 0)

    def write(path, schema, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    write(imp_dir, imp_schema, [(1, t)])
    write(
        clk_dir,
        clk_schema,
        [(1, t + dt.timedelta(minutes=4)), (3, t + dt.timedelta(minutes=2))],
    )
    _t.sleep(1.1)
    far = t + dt.timedelta(hours=3)
    write(imp_dir, imp_schema, [(99, far)])
    write(clk_dir, clk_schema, [(98, far)])
    _t.sleep(1.1)
    write(imp_dir, imp_schema, [(97, far + dt.timedelta(minutes=30))])

    imp_s = pipeline.file_stream(
        spark, imp_dir, imp_schema, max_files_per_trigger=1
    )
    clk_s = pipeline.file_stream(
        spark, clk_dir, clk_schema, max_files_per_trigger=1
    )

    def project(joined, imp, clk):
        return joined.select(
            imp["ad_id"].alias("imp_ad"),
            clk["ad_id"].alias("clk_ad"),
            "imp_ts",
            "clk_ts",
        )

    joined = project(
        pipeline.stream_stream_interval_join(
            imp_s, clk_s, "ad_id", "imp_ts", "clk_ts",
            "30 minutes", "30 minutes", "10 MINUTES",
            how="right_outer",
        ),
        imp_s,
        clk_s,
    )
    name = f"ssroj_{uuid.uuid4().hex[:8]}"
    q = pipeline.memory_sink(joined, name, output_mode="append")
    q.awaitTermination(120)

    def canon(rows):
        return {
            (
                r.imp_ad,
                r.clk_ad,
                str(r.imp_ts) if r.imp_ts else None,
                str(r.clk_ts) if r.clk_ts else None,
            )
            for r in rows
            if (r.clk_ad or r.imp_ad) < 90
        }

    got = canon(spark.sql(f"SELECT * FROM {name}").collect())
    assert got == {
        (1, 1, "2024-05-01 10:00:00", "2024-05-01 10:04:00"),
        (None, 3, None, "2024-05-01 10:02:00"),
    }

    imp_b = spark.read.parquet(imp_dir)
    clk_b = spark.read.parquet(clk_dir)
    batch = project(
        pipeline.stream_stream_interval_join(
            imp_b, clk_b, "ad_id", "imp_ts", "clk_ts",
            "30 minutes", "30 minutes", "10 MINUTES",
            how="right_outer",
        ),
        imp_b,
        clk_b,
    )
    assert canon(batch.collect()) == got


def test_stream_stream_semi_join(spark, tmp_path):
    """LEFT-SEMI stream-stream join completes the matrix (inner/left/
    right/full/semi): 'impressions that converted', left columns only,
    each matched left row emitted once even with several matching
    clicks. Batch call of the identical builder produces the same
    set."""
    import datetime as dt
    import time as _t

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    imp_schema = StructType(
        [StructField("ad_id", LongType()), StructField("imp_ts", TimestampType())]
    )
    clk_schema = StructType(
        [StructField("ad_id", LongType()), StructField("clk_ts", TimestampType())]
    )
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    t = dt.datetime(2024, 5, 1, 10, 0, 0)

    def write(path, schema, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    # ad 1 converts TWICE (one emission expected); ad 2 never does;
    # ad 3's click is outside the attribution window
    write(imp_dir, imp_schema, [(1, t), (2, t), (3, t)])
    write(
        clk_dir,
        clk_schema,
        [
            (1, t + dt.timedelta(minutes=4)),
            (1, t + dt.timedelta(minutes=6)),
            (3, t + dt.timedelta(minutes=40)),  # > within
        ],
    )
    _t.sleep(1.1)
    far = t + dt.timedelta(hours=3)
    write(imp_dir, imp_schema, [(99, far)])
    write(clk_dir, clk_schema, [(98, far)])

    imp_s = pipeline.file_stream(
        spark, imp_dir, imp_schema, max_files_per_trigger=1
    )
    clk_s = pipeline.file_stream(
        spark, clk_dir, clk_schema, max_files_per_trigger=1
    )
    joined = pipeline.stream_stream_interval_join(
        imp_s, clk_s, "ad_id", "imp_ts", "clk_ts",
        "30 minutes", "30 minutes", "10 MINUTES",
        how="left_semi",
    )
    assert set(joined.columns) == {"ad_id", "imp_ts"}  # left side only
    name = f"sssemi_{uuid.uuid4().hex[:8]}"
    q = pipeline.memory_sink(joined, name, output_mode="append")
    q.awaitTermination(120)
    got = {
        (r.ad_id, str(r.imp_ts))
        for r in spark.sql(f"SELECT * FROM {name}").collect()
        if r.ad_id < 90
    }
    assert got == {(1, "2024-05-01 10:00:00")}
    # exactly one emission despite two qualifying clicks
    n = spark.sql(
        f"SELECT COUNT(*) AS n FROM {name} WHERE ad_id = 1"
    ).collect()[0].n
    assert n == 1

    batch = pipeline.stream_stream_interval_join(
        spark.read.parquet(imp_dir),
        spark.read.parquet(clk_dir),
        "ad_id", "imp_ts", "clk_ts",
        "30 minutes", "30 minutes", "10 MINUTES",
        how="left_semi",
    )
    batch_got = {
        (r.ad_id, str(r.imp_ts))
        for r in batch.collect()
        if r.ad_id < 90
    }
    assert batch_got == got
