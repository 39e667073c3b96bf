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

from bigdata_storage_and_proccess_job_data_spark.functions.eventtime import interval_expr
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType

from bigdata_storage_and_proccess_job_data_spark.functions.eventtime import ensure_ltz
from bigdata_storage_and_proccess_job_data_spark.sources.lake import parse_byte_conf


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
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
    reader = spark.readStream.schema(schema).format(fmt)
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
    sink_reads_tables: bool = False,
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
    count its first files gave. ``sink_reads_tables=True`` keeps the
    session count: those sinks fold whole tables (state, MERGE target,
    accepted corpus) through the batch's session, so the micro-batch
    does not bound their shuffles."""
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    spark = writer._df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n = int(prev) if sink_reads_tables else _stream_partitions(writer._df)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
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
    processing_time: str | None = None,
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
        processing_time,
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


def exactly_once_append(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    delay: str,
    path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Exactly-once keyed append sink: watermark-scoped dedup UPSTREAM
    (dropDuplicatesWithinWatermark via stateful.dedup_within_watermark
    -- duplicate deliveries from an at-least-once source collapse while
    their key's state lives) + an IDEMPOTENT per-batch write downstream:
    each micro-batch lands in its own ``batch_id=N`` hive-partition
    directory with mode=overwrite, so a batch replayed after a failure
    rewrites the same directory instead of appending a second copy.
    Dedup handles source-side duplicates; the keyed overwrite handles
    sink-side replays -- together, effectively-exactly-once on a plain
    parquet lake, no transactional table format required. Read the sink
    back with ``spark.read.parquet(path)`` (batch_id surfaces as a
    partition column; drop it for consumer-facing views)."""
    from bigdata_storage_and_proccess_job_data_spark.streaming.stateful import (
        dedup_within_watermark,
    )

    deduped = dedup_within_watermark(df, keys, ts_col, delay)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}"
        )

    return _start(
        deduped.writeStream.foreachBatch(write_batch),
        checkpoint_dir,
        trigger_available_now,
    )


def merge_stream(
    df: DataFrame,
    table_dir: str,
    key: str,
    checkpoint_dir: str,
    op_col: str = "_op",
    trigger_available_now: bool = True,
    compact_every: int | None = None,
    compact_small_bytes: int = 8 * 1024 * 1024,
) -> StreamingQuery:
    """Streaming MERGE sink: each micro-batch of change rows (the
    table's columns + ``op_col`` in {'upsert','delete'}) applies onto
    the versioned table as ONE copy-on-write apply_changes commit --
    the CDC-ingest shape (Kafka upsert topic -> serving table) that
    plain append sinks can't express because rows REPLACE and DELETE.

    Consistency: readers always see a committed snapshot (the pointer
    swap is the only publish); a micro-batch is one atomic commit, so
    there is no state where half a batch is visible. Replays after a
    failure re-apply the same change set, which is CONTENT-idempotent
    (upsert-replace and delete-absent converge to the same table) at
    the cost of an extra version in history -- vacuum() reclaims it.
    The checkpoint bounds replays to the last uncommitted batch.

    ``compact_every=N`` adds inline maintenance: after every Nth
    applied batch the sink bin-packs the snapshot's small files
    (versioned.compact_small_files -- right-sized files hard-link, so
    the extra commit costs O(small files)). The compaction runs inside
    the same foreachBatch callback, so it can never race its own
    stream's next MERGE; a failure between merge and compaction is
    benign (content identical, the next trigger compacts). Without it
    a long-running CDC stream accretes one small file set per batch
    until reads are metadata-bound.

    At 100 TB the copy-on-write rewrite pairs with partition pruning
    (only touched partitions rewrite); the per-batch commit cadence is
    the same trade Delta/Iceberg streaming MERGE makes."""
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    applied = {"n": 0}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        versioned.apply_changes(
            batch_df.sparkSession, table_dir, batch_df, key, op_col
        )
        applied["n"] += 1
        if compact_every and applied["n"] % compact_every == 0:
            versioned.compact_small_files(
                batch_df.sparkSession,
                table_dir,
                small_bytes=compact_small_bytes,
            )

    return _start(
        df.writeStream.foreachBatch(write_batch), checkpoint_dir, trigger_available_now,
        sink_reads_tables=True,
    )


def dedup_ingest_stream(
    df: DataFrame,
    docs_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    content_col: str = "text",
    ngram: int = 2,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Continuous corpus ingestion with near-duplicate suppression: the
    streaming composition of the batch dedup stack, closing the loop the
    incremental_dedup_pairs docstring describes. Each micro-batch:

      1. exact within-batch dedup (normalized-content md5, min-id keeper);
      2. NEAR-dup within the batch (minhash_dedup_pairs -> drop every
         id_b of an (id_a < id_b) pair -- keep the min of each pair
         chain);
      3. near-dup against EVERYTHING ACCEPTED SO FAR via the stored
         minhash index (incremental_dedup_pairs: only the batch is
         signed, the corpus is touched only on candidate verification);
      4. survivors land in ``docs_dir/batch_id=N`` and their
         minhash_index rows in ``index_dir/batch_id=N`` -- both
         mode=overwrite, so a replayed batch rewrites its own partition
         instead of appending a second copy (the exactly_once_append
         idempotence pattern; docs and index can't drift because both
         rewrite together on replay). Replay convergence: re-ingested
         ids are skipped as self-matches inside incremental_dedup_pairs;
         the one asymmetric case (a replayed row matching a DIFFERENT
         id from its own batch's partial write) can only over-suppress
         -- never double-accept -- and the partition overwrite removes
         the stale copy.

    The stored index is the scale lever: day N+1 never re-signs days
    1..N -- it equi-joins its own band rows against the index
    (O(batch), not O(corpus)). Readers see the corpus as
    ``spark.read.parquet(docs_dir)``.

    First-batch bootstrap: with no accepted docs yet, step 3 is skipped
    (nothing to collide with). Within-batch pair chains use the
    min-of-pair rule, not full connected components -- for the
    transitive-cluster variant run the batch through
    neardup.connected_components first (the corpus_pipeline example)."""
    import os

    from bigdata_storage_and_proccess_job_data_spark.operators import neardup

    params = dict(
        ngram=ngram, num_hashes=num_hashes, bands=bands, seed=seed
    )

    def _accepted(spark: SparkSession) -> DataFrame | None:
        # bootstrap probe: only "nothing accepted yet" may read as None
        # -- a corrupt corpus must FAIL the batch, not silently restart
        # dedup from scratch, so only the empty-dir shape is caught
        if not os.path.isdir(docs_dir):
            return None
        from pyspark.errors import AnalysisException

        try:
            return spark.read.parquet(docs_dir)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "UNABLE_TO_INFER_SCHEMA" in str(
                e
            ):
                return None  # dir exists but holds no data yet
            raise

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # 1. exact within-batch dedup, deterministic keeper
        from pyspark.sql import Window

        keeper = F.min(id_col).over(
            Window.partitionBy(
                F.md5(F.lower(F.trim(F.col(content_col))))
            )
        )
        batch = (
            batch_df.withColumn("_keep", keeper)
            .filter(F.col(id_col) == F.col("_keep"))
            .drop("_keep")
            .persist()
        )
        try:
            # 2. near-dup within the batch: drop the larger id of each pair
            within = neardup.minhash_dedup_pairs(
                batch, id_col, content_col,
                threshold=threshold, **params,
            ).select(F.col("id_b").alias(id_col)).distinct()
            batch2 = batch.join(within, id_col, "left_anti").persist()
            # 3. near-dup vs the accepted corpus through the stored index
            corpus = _accepted(spark)
            if corpus is not None:
                index = spark.read.parquet(index_dir)
                dup_new = neardup.incremental_dedup_pairs(
                    batch2, corpus, index, id_col, content_col,
                    threshold=threshold, **params,
                ).select(F.col("id_a").alias(id_col)).distinct()
                survivors = batch2.join(dup_new, id_col, "left_anti")
            else:
                survivors = batch2
            # 4. idempotent paired writes
            survivors.write.mode("overwrite").parquet(
                f"{docs_dir}/batch_id={batch_id}"
            )
            neardup.minhash_index(
                survivors, id_col, content_col, **params
            ).write.mode("overwrite").parquet(
                f"{index_dir}/batch_id={batch_id}"
            )
        finally:
            batch.unpersist()
            try:
                batch2.unpersist()
            except NameError:
                pass

    return _start(
        df.writeStream.foreachBatch(write_batch), checkpoint_dir, trigger_available_now,
        sink_reads_tables=True,
    )


def _fold_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_dir: str,
    partial: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> bool:
    """The exactly-once fold every maintained-state sink shares: build
    ``partial(batch_df)`` and commit ``merge(state, partial)`` over the
    current version (the partial alone on an empty table). Returns
    True if the batch was applied, False on an empty batch or a
    recognized replay.

    The sink records the batch id IN the snapshot it publishes
    (commit_version(meta={"last_batch": id}) -- the marker and the
    fold share one atomic pointer swap), so a replayed foreachBatch
    call after a crash either sees its own marker (skip) or the
    pre-batch state (apply) -- never half. The commit carries
    expected=<read version>, so an unrelated writer racing the table
    fails the sink loudly instead of losing either update."""
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    if batch_df.isEmpty():
        return False
    cur = versioned.current_version(table_dir)
    if cur is None:
        new_state = partial(batch_df)
    else:
        meta = versioned.commit_meta(table_dir, cur) or {}
        if meta.get("last_batch", -1) >= batch_id:
            return False  # replay of an already-folded batch
        state = versioned.read_version(batch_df.sparkSession, table_dir, cur)
        new_state = merge(state, partial(batch_df))
    versioned.commit_version(
        new_state, table_dir, expected=cur, meta={"last_batch": batch_id}
    )
    return True


def _apply_view_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_dir: str,
    keys: list[str],
    measures: list[str],
) -> bool:
    """One micro-batch of the maintained-view sink, factored out so the
    exactly-once guard is directly testable (see _fold_batch).

    Exactly-once without content-idempotence: folding the same rows
    into count/sum state twice double-counts, so the batch-id marker
    is what makes a replayed batch no-op."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    return _fold_batch(
        batch_df, batch_id, table_dir,
        lambda b: aggregates.agg_state_init(b, keys, measures),
        lambda state, p: aggregates.agg_state_merge(state, p, keys, measures),
    )


def maintain_view_stream(
    df: DataFrame,
    table_dir: str,
    keys: list[str],
    measures: list[str],
    checkpoint_dir: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Continuously-maintained aggregate view: every micro-batch of
    APPEND rows folds into the versioned count/sum/avg state table via
    agg_state_merge -- O(batch + |state|) per trigger, never a rescan
    of history, and readers query the view with
    agg_state_result(read_version(...)) at full snapshot isolation.
    The streaming composition of the batch incremental-maintenance
    stack (agg_state_* + the measured incr_agg_refresh bench twin);
    for streams carrying updates/deletes, land them with merge_stream
    and refresh the view from diff_versions instead.

    Exactly-once: see _apply_view_batch -- the applied batch id rides
    the snapshot's atomic commit, so failure replays converge instead
    of double-counting (pinned by a direct double-apply test)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _apply_view_batch(batch_df, batch_id, table_dir, keys, measures)

    return _start(
        df.writeStream.foreachBatch(write_batch), checkpoint_dir, trigger_available_now,
        sink_reads_tables=True,
    )


def _apply_sketch_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_dir: str,
    key: str,
    dims: list[str] | None,
    k: int,
) -> bool:
    """One micro-batch of the maintained-sketch sink (the _fold_batch
    shape, directly testable like _apply_view_batch).

    Unlike count/sum state, the KMV fold is CONTENT-idempotent (merge
    is a set union: folding the same batch twice cannot change the
    k-smallest set), so the batch-id marker here only saves the
    wasted work of a replayed merge -- correctness never depended on
    it. Still recorded: an exactly-once audit trail costs one meta
    field."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    return _fold_batch(
        batch_df, batch_id, table_dir,
        lambda b: aggregates.kmv_sketch(b, key, dims=dims, k=k),
        lambda state, p: aggregates.kmv_merge(state.unionByName(p), dims=dims, k=k),
    )


def maintain_sketch_stream(
    df: DataFrame,
    table_dir: str,
    key: str,
    checkpoint_dir: str,
    dims: list[str] | None = None,
    k: int = 256,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Continuously-maintained DISTINCT-COUNT sketches: every
    micro-batch builds per-group KMV partials and set-unions them into
    a versioned artifact table -- the streaming distinct-users
    dashboard that exact streaming COUNT DISTINCT cannot give without
    unbounded state. Per trigger the work is O(batch) + a merge over
    (groups x k) longs; the raw stream is never re-read, and readers
    take kmv_estimate / kmv_set_ops over read_version(...) at full
    snapshot isolation (segment-overlap questions -- "urgent AND
    mobile users this hour" -- fall out of the stored arrays, the
    register-based HLL's blind spot).

    The merge law makes the fold exact: merge(batch sketches) ==
    sketch of all rows ever seen, bit-for-bit (the Hypothesis-pinned
    KMV subset law), so the maintained artifact equals the monolithic
    batch build -- asserted end to end in the test, not just claimed.
    Replay safety is content-level (set union is idempotent) plus the
    batch-id marker audit (see _apply_sketch_batch)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _apply_sketch_batch(batch_df, batch_id, table_dir, key, dims, k)

    return _start(
        df.writeStream.foreachBatch(write_batch), checkpoint_dir, trigger_available_now,
        sink_reads_tables=True,
    )


def _apply_dd_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_dir: str,
    col: str,
    dims: list[str] | None,
    gamma: float,
) -> bool:
    """One micro-batch of the maintained-quantile sink (the _fold_batch
    shape).

    CONTRAST with the KMV sink: DDSketch merge is ADDITIVE (bin counts
    SUM), not a set union -- folding the same batch twice double-counts
    every bin and silently skews every quantile. The batch-id marker is
    therefore correctness-critical here, not just a wasted-work saver."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    return _fold_batch(
        batch_df, batch_id, table_dir,
        lambda b: aggregates.dd_sketch(b, col, gamma=gamma, dims=dims),
        lambda state, p: aggregates.dd_merge(state.unionByName(p), dims=dims),
    )


def maintain_quantile_stream(
    df: DataFrame,
    table_dir: str,
    col: str,
    checkpoint_dir: str,
    dims: list[str] | None = None,
    gamma: float = 1.02,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Continuously-maintained QUANTILE sketches: every micro-batch
    builds per-group DDSketch bin counts and sums them into a versioned
    artifact table -- the streaming p50/p99 dashboard that exact
    streaming percentiles cannot give without unbounded state. Per
    trigger the work is O(batch) + a merge over (groups x bins) longs;
    the raw stream is never re-read, and readers take
    aggregates.dd_quantile over read_version(...) at full snapshot
    isolation. Completes the maintained-artifact pair with
    maintain_sketch_stream (KMV distinct counts): distinct + quantiles,
    both O(changes) per trigger.

    Exactness: bin counts are integers and the merge law is exact
    (dd_merge sums), so the maintained artifact is BIT-EQUAL to the
    monolithic batch sketch over all rows ever seen -- asserted end to
    end in the test. Replay safety comes from the batch-id marker
    committed atomically with the state (see _apply_dd_batch: additive
    merges make the marker correctness-critical, unlike KMV's
    idempotent union)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _apply_dd_batch(batch_df, batch_id, table_dir, col, dims, gamma)

    return _start(
        df.writeStream.foreachBatch(write_batch), checkpoint_dir, trigger_available_now,
        sink_reads_tables=True,
    )


def _apply_cms_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_dir: str,
    key: str,
    width: int,
    depth: int,
    weight_col: str | None,
) -> bool:
    """One micro-batch of the maintained-frequency sink (the _fold_batch
    shape; CMS merge is ADDITIVE like DDSketch, so the batch-id marker
    is correctness-critical -- a replay would inflate every cell and
    CMS's one-sided guarantee would silently widen)."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    return _fold_batch(
        batch_df, batch_id, table_dir,
        lambda b: aggregates.cms_sketch(
            b, key, width=width, depth=depth, weight_col=weight_col
        ),
        lambda state, p: aggregates.cms_merge(state.unionByName(p)),
    )


def maintain_frequency_stream(
    df: DataFrame,
    table_dir: str,
    key: str,
    checkpoint_dir: str,
    width: int = 2048,
    depth: int = 5,
    weight_col: str | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Continuously-maintained FREQUENCY sketch: per micro-batch CMS
    partials sum cell-wise into a versioned artifact table, completing
    the maintained-sketch trio (maintain_sketch_stream = KMV distinct,
    maintain_quantile_stream = DDSketch quantiles, this = CMS point
    frequencies): "how often has key X appeared, ever" at O(batch) per
    trigger with the raw stream never re-read. Readers take
    aggregates.cms_lookup over read_version(...) with CMS's one-sided
    guarantee intact, because cell-wise sums of per-batch sketches
    equal the monolithic sketch EXACTLY (integer counts, exact merge
    law -- asserted end to end in the test)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _apply_cms_batch(
            batch_df, batch_id, table_dir, key, width, depth, weight_col
        )

    return _start(
        df.writeStream.foreachBatch(write_batch), checkpoint_dir, trigger_available_now,
        sink_reads_tables=True,
    )
