"""Real Structured Streaming runs (not just batch-equivalent forms):
file source -> windowed agg / enrichment -> memory or foreachBatch sinks.

- stream/batch equivalence: the SAME builder (streaming/windows.py,
  _enrich_events) run under readStream must produce the batch result.
- watermark semantics: with maxFilesPerTrigger=1, each file is one
  micro-batch; a late event arriving after the watermark passed its
  window is dropped in append mode (reference W1).
- foreachBatch fan-out: one source read feeding detail + 2 agg sinks
  (the reference ran 6 queries re-reading Kafka -- S10 anti-pattern).
"""

from __future__ import annotations

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.streaming import pipeline, windows
from bigdata_storage_and_proccess_job_data_spark.plans.streaming_queries import (
    _enrich_events,
)


def _await(query, timeout=60):
    query.awaitTermination(timeout)
    assert not query.isActive, "stream did not finish in time"


@pytest.fixture()
def events_stream_dir(spark, sf_dir, tmp_path):
    """events table re-written as a plain parquet dir (micro-us ts) so
    readStream can consume it with an explicit schema."""
    out = str(tmp_path / "events_stream")
    load_table(spark, sf_dir, "events").write.parquet(out)
    return out


def test_stream_batch_equivalence_windowed(spark, sf_dir, events_stream_dir):
    batch_events = load_table(spark, sf_dir, "events")
    schema = batch_events.schema
    measures = {
        "event_count": F.count(F.lit(1)),
        "avg_value": F.avg("value"),
    }

    stream = pipeline.file_stream(spark, events_stream_dir, schema)
    agg = windows.windowed_agg(
        stream, "ts", "5 minutes", measures, dims=["event_type"],
        watermark="10 minutes",
    )
    name = f"win_{uuid.uuid4().hex[:8]}"
    q = pipeline.memory_sink(agg, name, output_mode="complete")
    _await(q)
    got = {
        (r.window_start, r.event_type): (r.event_count, round(r.avg_value, 6))
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    expected_df = windows.windowed_agg(
        batch_events, "ts", "5 minutes", measures, dims=["event_type"]
    )
    expected = {
        (r.window_start, r.event_type): (r.event_count, round(r.avg_value, 6))
        for r in expected_df.collect()
    }
    assert got == expected


def test_stream_batch_equivalence_enrichment(spark, sf_dir, events_stream_dir):
    batch_events = load_table(spark, sf_dir, "events")
    stream = pipeline.file_stream(spark, events_stream_dir, batch_events.schema)
    name = f"detail_{uuid.uuid4().hex[:8]}"
    q = pipeline.memory_sink(_enrich_events(stream), name, output_mode="append")
    _await(q)
    got = {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    expected = {tuple(r) for r in _enrich_events(batch_events).collect()}
    assert got == expected


def test_watermark_drops_late_events(spark, tmp_path):
    """One availableNow run, two files, maxFilesPerTrigger=1 => two
    micro-batches in mtime order. Batch 1 advances the watermark far past
    the first window; batch 2's late event for that window must be
    dropped from the append-mode aggregation (reference W1)."""
    import datetime as dt

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    src = tmp_path / "late_src"

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # Watermark lifecycle (one batch per file, mtime-ordered):
    #   b0: two events in window [00:00, 00:05)
    #   b1: event at 01:00 -> watermark for b2 becomes 00:50
    #   b2: filler -> at END of b2 window0 is finalized (n=2) + evicted
    #   b3: late event for the evicted window -> DROPPED (the drop is
    #       only guaranteed post-eviction; a late row arriving while
    #       state is alive legitimately merges -- Spark's one-directional
    #       watermark guarantee)
    write_file([(1, t0), (2, t0 + dt.timedelta(minutes=1))])
    time.sleep(1.1)  # mtime granularity: files must sort in write order
    write_file([(3, t0 + dt.timedelta(hours=1))])
    time.sleep(1.1)
    write_file([(5, t0 + dt.timedelta(hours=1, minutes=1))])
    time.sleep(1.1)
    write_file([(4, t0 + dt.timedelta(minutes=2))])

    agg = windows.windowed_agg(
        pipeline.file_stream(spark, str(src), schema, max_files_per_trigger=1),
        "ts",
        "5 minutes",
        {"n": F.count(F.lit(1))},
        watermark="10 minutes",
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)

    rows = spark.sql(f"SELECT * FROM {name}").collect()
    t0_rows = [r for r in rows if r.window_start == t0]
    # the late event (id=4) must NOT appear: window [00:00,00:05) was
    # finalized (n=2) and evicted before the late event arrived, and no
    # second emission of the window may occur
    assert len(t0_rows) == 1 and t0_rows[0].n == 2, (
        f"late event leaked into closed window: {rows}"
    )


def test_foreach_batch_fan_out(spark, sf_dir, events_stream_dir, tmp_path):
    batch_events = load_table(spark, sf_dir, "events")
    stream = pipeline.file_stream(spark, events_stream_dir, batch_events.schema)

    out = {
        "detail": str(tmp_path / "detail"),
        "by_type": str(tmp_path / "by_type"),
        "by_user": str(tmp_path / "by_user"),
    }

    def detail_writer(df, batch_id):
        _enrich_events(df).write.mode("append").parquet(out["detail"])

    builders = {
        "by_type": lambda df: df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ),
        "by_user": lambda df: df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n")
        ),
    }
    writers = {
        name: (lambda p: lambda df, bid: df.write.mode("append").parquet(p))(
            path
        )
        for name, path in out.items()
        if name != "detail"
    }

    q = pipeline.fan_out_foreach_batch(
        stream,
        detail_writer,
        builders,
        writers,
        checkpoint_dir=str(tmp_path / "chk_fan"),
        trigger_available_now=True,
    )
    _await(q)

    n_events = batch_events.count()
    assert spark.read.parquet(out["detail"]).count() == n_events
    by_type = {
        r.event_type: r.n
        for r in spark.read.parquet(out["by_type"])
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"))
        .withColumn("n", F.col("n").cast("long"))
        .collect()
    }
    expected = {
        r.event_type: r.n
        for r in batch_events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_type == expected
    assert os.path.isdir(out["by_user"])


def test_rate_source_through_windowed_agg(spark):
    """Throughput smoke on the built-in deterministic rate source
    (rate-micro-batch: exactly rowsPerBatch rows per trigger, monotonic
    timestamps): the shared windowed_agg builder runs unchanged on it,
    and a bounded run moves a known row volume end to end."""
    import time
    import uuid

    name = f"rate_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1000)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 30000)
        .load()
    )
    agg = windows.windowed_agg(
        stream,
        "timestamp",
        "1 minute",
        {"n": F.count(F.lit(1)), "max_v": F.max("value")},
        watermark="0 seconds",
    )
    q = pipeline.memory_sink(
        agg, name, output_mode="complete", trigger_available_now=False
    )
    try:
        deadline = time.time() + 60
        total = 0
        while time.time() < deadline:
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            total = sum(r.n for r in rows)
            if total >= 3000:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert total >= 3000, f"only {total} rows flowed through"
    # windows partition the value space cleanly: per-window counts are
    # the 2 batches/minute x 1000 rows (the last open window may be partial)
    done = [r for r in rows if r.n == 2000]
    assert done, rows


def test_observe_expectations_on_stream_progress(spark):
    """Streaming variant of observe_expectations: the counters surface
    per micro-batch in StreamingQueryProgress.observedMetrics (Spark's
    Observation helper is batch-only), summing to the full input volume
    -- the zero-extra-cost DQ monitoring hook for a long-running
    ingest."""
    import time
    import uuid

    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    name = f"obs_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 500)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    observed, obs = aggregates.observe_expectations(
        stream,
        {"value_nonneg": F.col("value") >= 0, "impossible": F.col("value") < 0},
        name="dq",
    )
    assert obs is None  # streaming: metrics come via progress, not Observation
    q = (
        observed.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        seen_rows = 0
        violations = 0
        batches = 0
        while time.time() < deadline and batches < 3:
            time.sleep(1)
            batches = len(
                [p for p in q.recentProgress if p["observedMetrics"].get("dq")]
            )
        assert batches >= 3, q.recentProgress
        for p in q.recentProgress:
            m = p["observedMetrics"].get("dq")
            if m:
                seen_rows += m["n_rows"]
                violations += m["value_nonneg"]
                assert m["impossible"] == m["n_rows"]
        assert seen_rows >= 1500 and seen_rows % 500 == 0
        assert violations == 0
    finally:
        q.stop()


# --- shuffle partitions sized to the largest micro-batch (_start) --------


@pytest.fixture()
def four_shuffle_partitions(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def _posting_schema():
    from pyspark.sql.types import StringType, StructField, StructType, TimestampType

    return StructType(
        [StructField("id", StringType()), StructField("ts", TimestampType())]
    )


def _write_postings(src, name, ids):
    """One small parquet file of (id, ts) rows, all in the same minute."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    table = pa.table(
        {"id": list(ids), "ts": [ts] * len(ids)},
        schema=pa.schema([("id", pa.string()), ("ts", pa.timestamp("us", tz="UTC"))]),
    )
    pq.write_table(table, os.path.join(src, f".{name}"))  # hidden until whole
    os.rename(os.path.join(src, f".{name}"), os.path.join(src, name))


def _state_partitions(query) -> list[int]:
    return [
        op["numShufflePartitions"]
        for p in query.recentProgress
        for op in p.get("stateOperators", [])
    ]


def test_stream_partitions_rule(spark, tmp_path, four_shuffle_partitions):
    """Unit cases of the partition rule: ceil(B / advisory size) clamped
    to [1, session count], where B bounds one micro-batch's bytes."""
    schema = _posting_schema()
    src = str(tmp_path / "small")
    for i in range(3):
        _write_postings(src, f"f{i}.parquet", [f"e{i}-{j}" for j in range(20)])
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    rule = pipeline._stream_partitions

    # 40 files x ~1 KB is far below the 64 MB advisory size
    assert rule(pipeline.file_stream(spark, src, schema, max_files_per_trigger=40)) == 1
    # a byte cap far above the session count's worth of advisory slices
    huge = spark.readStream.schema(schema).option("maxBytesPerTrigger", str(1 << 40))
    assert rule(huge.parquet(src)) == 4
    small = spark.readStream.schema(schema).option("maxBytesPerTrigger", "1000")
    assert rule(small.parquet(src)) == 1
    # no bound: uncapped file source, rate source, capped but empty dir
    assert rule(pipeline.file_stream(spark, src, schema)) == 4
    assert rule(spark.readStream.format("rate").load()) == 4
    assert rule(pipeline.file_stream(spark, empty, schema, max_files_per_trigger=1)) == 4
    # one unbounded leaf keeps the session count for the whole query
    capped = pipeline.file_stream(spark, src, schema, max_files_per_trigger=1)
    assert rule(capped.unionByName(pipeline.file_stream(spark, src, schema))) == 4


def test_capped_stream_runs_one_state_partition(spark, tmp_path, four_shuffle_partitions):
    """fan_out_foreach_batch over a capped file source starts with one
    shuffle partition: one state partition, one detail file per
    micro-batch, and the session's own count is left as it was."""
    from bigdata_storage_and_proccess_job_data_spark.streaming import stateful

    src, detail = str(tmp_path / "src"), str(tmp_path / "detail")
    for i in range(3):
        _write_postings(src, f"f{i}.parquet", [f"e{i}-{j}" for j in range(20)])
    stream = stateful.dedup_within_watermark(
        pipeline.file_stream(spark, src, _posting_schema(), max_files_per_trigger=1),
        ["id"], "ts", "1 hour",
    )
    q = pipeline.fan_out_foreach_batch(
        stream,
        lambda df, _bid: df.write.mode("append").parquet(detail),
        {}, {},
        checkpoint_dir=str(tmp_path / "chk"),
        trigger_available_now=True,
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    _await(q)
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 1
    assert set(_state_partitions(q)) == {1}
    live = [p for p in q.recentProgress if p["numInputRows"] > 0]
    files = [n for n in os.listdir(detail) if n.endswith(".parquet")]
    assert len(live) == 3 and len(files) == 3
    assert spark.read.parquet(detail).count() == 60


def test_restart_keeps_recorded_partition_count(spark, tmp_path, four_shuffle_partitions):
    """A checkpoint created at the session count keeps that count when
    the stream restarts capped (where the rule alone would pick 1), and
    the dedup state it carries still drops the re-sent events."""
    from bigdata_storage_and_proccess_job_data_spark.streaming import stateful

    src, detail = str(tmp_path / "src"), str(tmp_path / "detail")
    chk = str(tmp_path / "chk")

    def run(max_files):
        stream = stateful.dedup_within_watermark(
            pipeline.file_stream(
                spark, src, _posting_schema(), max_files_per_trigger=max_files
            ),
            ["id"], "ts", "1 hour",
        )
        q = pipeline.fan_out_foreach_batch(
            stream,
            lambda df, _bid: df.write.mode("append").parquet(detail),
            {}, {}, checkpoint_dir=chk, trigger_available_now=True,
        )
        _await(q)
        return q

    _write_postings(src, "f0.parquet", [f"a{j}" for j in range(20)])
    first = run(None)  # uncapped: the session count
    assert set(_state_partitions(first)) == {4}
    # re-sends of every first-run event, plus 10 new ones
    _write_postings(src, "f1.parquet", [f"a{j}" for j in range(20)] + [f"b{j}" for j in range(10)])
    assert pipeline._stream_partitions(
        pipeline.file_stream(spark, src, _posting_schema(), max_files_per_trigger=1)
    ) == 1
    second = run(1)
    assert set(_state_partitions(second)) == {4}
    ids = [r.id for r in spark.read.parquet(detail).collect()]
    assert sorted(ids) == sorted([f"a{j}" for j in range(20)] + [f"b{j}" for j in range(10)])
