"""Streaming pipeline wiring: sources, sinks, and the multi-query /
foreachBatch fan-out patterns (reference S7-S11).

Key scale decision vs the reference: its v2 streaming job runs 6
concurrent queries that each re-read Kafka (spark_streaming_v2.py:211-369
-- SURVEY.md §4 anti-pattern). Here the default is ONE query with
foreachBatch: the micro-batch is cached once, the detail sink and every
windowed aggregate are computed from that cache, and update-mode upserts
become deterministic partition overwrites keyed by the upsert id.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from bigdata_storage_and_proccess_job_data_spark.functions.eventtime import (
    ensure_ltz,
    interval_expr,
)
from bigdata_storage_and_proccess_job_data_spark.sources.lake import parse_byte_conf


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source (test/backfill stand-in for Kafka;
    one file per micro-batch when max_files_per_trigger=1 -- that is how
    the tests drive watermark semantics deterministically).

    ``max_files_per_trigger`` also sizes the stream's shuffle
    partitions when a library sink starts it (``_start``): the cap times
    the largest file already in ``path``, in advisory-sized
    (``spark.sql.adaptive.advisoryPartitionSizeInBytes``) partitions,
    at most ``spark.sql.shuffle.partitions``. Uncapped, or with
    ``path`` still empty at start, the stream keeps the session count.
    A restart from an existing checkpoint keeps the count recorded
    there."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    value_schema: StructType,
    starting_offsets: str = "latest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Kafka source -> parsed typed frame (reference S3+S4:
    spark_streaming_v2.py:57-68): CAST(value AS STRING) -> from_json ->
    flatten. Requires the spark-sql-kafka package on the classpath (not
    installed in the test container -- covered by construct-only tests);
    when absent, the load() failure is re-raised naming the EXACT
    --packages coordinate for this Spark build."""
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .option("failOnDataLoss", str(fail_on_data_loss).lower())
            .load()
        )
    except Exception as e:
        if "kafka" not in str(e).lower():
            raise
        coord = (
            "org.apache.spark:spark-sql-kafka-0-10_2.13:" + spark.version
        )
        raise RuntimeError(
            "the Kafka data source is not on this session's classpath; "
            f"launch with: spark-submit --packages {coord} (or add the "
            "same coordinate to spark.jars.packages before the session "
            "starts). File/rate/memory sources drive the identical "
            "parse+window pipeline in tests."
        ) from e
    return raw.selectExpr("CAST(value AS STRING) AS _json").select(
        F.from_json(F.col("_json"), value_schema).alias("data")
    ).select("data.*")


def _batch_bytes_bound(spark: SparkSession, leaf) -> int | None:
    """Upper bound on the bytes one micro-batch reads from ``leaf``, a
    leaf of an analyzed streaming plan: a file source's
    ``maxBytesPerTrigger``, else its ``maxFilesPerTrigger`` times the
    largest file already in its local directory. None for anything else:
    Kafka, rate, an uncapped file source, an empty or non-local
    directory, a static relation joined to the stream."""
    if leaf.nodeName() != "StreamingRelation" or not leaf.sourceName().startswith(
        "FileSource["
    ):
        return None
    options = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        leaf.dataSource().options()
    )
    opts = {k.lower(): v for k, v in dict(options).items()}
    if "maxbytespertrigger" in opts:
        return parse_byte_conf(opts["maxbytespertrigger"])
    path = opts.get("path", "")
    if "maxfilespertrigger" not in opts or not os.path.isdir(path):
        return None
    sizes = []
    for root, dirs, files in os.walk(path):
        # the names the file source skips: hidden, _spark_metadata, ...
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        sizes += [
            os.path.getsize(os.path.join(root, f))
            for f in files
            if not f.startswith((".", "_"))
        ]
    return int(opts["maxfilespertrigger"]) * max(sizes) if sizes else None


def _stream_partitions(df: DataFrame) -> int:
    """Shuffle partitions for a stream over ``df``: ceil(B /
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``) clamped to
    [1, ``spark.sql.shuffle.partitions``], where B sums
    ``_batch_bytes_bound`` over the leaves of the analyzed plan (where
    non-file sources are resolved); the session count when any leaf has
    no bound."""
    spark = df.sparkSession
    session_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    total, stack = 0, [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        children = node.children()
        if children.size():
            stack += [children.apply(i) for i in range(children.size())]
            continue
        bound = _batch_bytes_bound(spark, node)
        if bound is None:
            return session_n
        total += bound
    advisory = parse_byte_conf(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return max(1, min(session_n, -(-total // advisory)))


def _start(
    writer: DataStreamWriter,
    checkpoint_dir: str | None,
    available_now: bool,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Start a library stream: checkpoint at ``checkpoint_dir`` (None
    leaves Spark's temporary one, as the memory sink wants), then the
    availableNow trigger (drain what is there, stop), else a
    ``processing_time`` trigger, else Spark's default micro-batch
    cadence.

    Partitions: the query starts with ``_stream_partitions`` shuffle
    partitions, one per advisory-sized slice of its largest micro-batch
    rather than one per core. That count sizes its state store, its
    shuffles and the shuffles its foreachBatch callbacks run on the
    batch; Spark plans a stream's stateful stage without AQE, so nothing
    coalesces them later, and every state partition commits its own
    delta and checksum files per batch. The count is set on the session
    only around ``writer.start()`` (which returns after the query has
    cloned the session) and then restored, so another thread planning
    on the same session during the call sees it too. Spark records the
    count in the offset log at batch 0: a restart from an existing
    checkpoint keeps the recorded count, whatever the rule picks now,
    and a directory whose files grow after the first start keeps the
    count its first files gave."""
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    spark = writer._df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(_stream_partitions(writer._df))
    )
    try:
        return writer.start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def fan_out_foreach_batch(
    stream_df: DataFrame,
    detail_writer: Callable[[DataFrame, int], None] | None,
    agg_builders: dict[str, Callable[[DataFrame], DataFrame]],
    agg_writers: dict[str, Callable[[DataFrame, int], None]],
    checkpoint_dir: str,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """ONE streaming query fanning out to N sinks per micro-batch.

    Replaces the reference's 6-query/6-checkpoint/6-Kafka-reader design
    (S10) with: cache the micro-batch, write detail, compute each agg
    from the cache, write it, unpersist. Exactly one source read per
    batch regardless of sink count.

    The callbacks' shuffles on the batch run at the stream's partition
    count, which ``_start`` sizes to the largest micro-batch of a capped
    file source (one partition per advisory size) instead of the core
    count; a restart from an existing checkpoint keeps the count
    recorded there. A callback that shuffles a whole table should read
    it through its own session, not ``batch_df.sparkSession``.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if detail_writer is not None:
                detail_writer(batch_df, batch_id)
            for name, build in agg_builders.items():
                agg_writers[name](build(batch_df), batch_id)
        finally:
            batch_df.unpersist()

    return _start(
        stream_df.writeStream.foreachBatch(process),
        checkpoint_dir,
        trigger_available_now,
    )


def memory_sink(
    df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """In-memory sink for tests (reference used console, S9)."""
    writer = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
    )
    return _start(writer, None, trigger_available_now)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    left_watermark: str,
    right_watermark: str,
    within: str,
    how: str = "inner",
    right_key: str | None = None,
) -> DataFrame:
    """Stream-stream join with an event-time interval condition -- the
    impressions|X|clicks shape: match right rows whose timestamp falls in
    [left_ts, left_ts + within]. BOTH sides need watermarks plus the time
    bound: that is what lets the state store evict buffered rows (an
    unconstrained stream-stream join would buffer both streams forever).
    Outer modes emit the unmatched row only after the watermark proves no
    match can still arrive -- Spark enforces the constraint; this builder
    just makes it impossible to express the unbounded form.

    ``right_key`` names the right side's join column when it differs
    from the left's -- the self-join case (both sides carved from one
    source, e.g. views |X| clicks of one events stream) NEEDS distinct
    names, because identically-named columns from a shared lineage
    resolve to the same expression id and the output would be ambiguous.

    The builder is watermark-transparent on BATCH frames (withWatermark
    is a no-op there), so the exact same call expresses the batch
    backfill of a streaming attribution job -- one code path, proven by
    the view_click_attribution registered query + the streaming test."""
    lw = ensure_ltz(left, left_ts).withWatermark(left_ts, left_watermark)
    rw = ensure_ltz(right, right_ts).withWatermark(right_ts, right_watermark)
    cond = (
        (lw[key] == rw[right_key or key])
        & (rw[right_ts] >= lw[left_ts])
        # bound built from the frame-qualified column + a bare INTERVAL
        # literal: an f-string'd `expr("ts + INTERVAL ...")` would be
        # ambiguous whenever both streams name their event-time column
        # the same (the canonical case)
        & (rw[right_ts] <= lw[left_ts] + interval_expr(within))
    )
    return lw.join(rw, cond, how)
