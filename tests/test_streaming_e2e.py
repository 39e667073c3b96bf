"""End-to-end streaming continuity (VERDICT r1 item 7): the reference's
full loop -- Kafka -> MinIO archive -> batch/serving rollup
(kafka_to_minio.py:47-80 + spark_batch_v2.py) -- as one file-source-backed
pipeline:

    source files -> archive_stream (checkpointed, partitioned)
                 -> readStream over the archive
                 -> continuous_rollup (windowed agg -> upsert log)
                 -> read_rollup == batch recompute over the same archive

Both stages resume from checkpoints across "restarts" (new driver runs of
availableNow), late rows re-emit their window, and latest-wins reads stay
equal to a from-scratch batch recompute at every step.
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
from bigdata_storage_and_proccess_job_data_spark.streaming import (
    pipeline,
    rollup,
    windows,
)

SRC_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts_raw", StringType()),
        StructField("value", LongType()),
    ]
)

def _measures():
    # built lazily: Column exprs need an active SparkContext at import
    return {
        "n_events": F.count(F.lit(1)),
        "total_value": F.sum("value").cast("long"),
    }


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


def _drain_rollup(spark, archive: str, log: str, ckpt: str) -> None:
    # stream FROM the archive -- the serving stage reads what the
    # archiver landed, exactly the reference's MinIO -> batch hop
    archived_schema = spark.read.parquet(archive).schema
    stream = spark.readStream.schema(archived_schema).parquet(archive)
    q = rollup.continuous_rollup(
        stream,
        "ts",
        "10 minutes",
        _measures(),
        log,
        ckpt,
        dims=["user_id"],
        trigger_available_now=True,
    )
    q.awaitTermination(120)


def _batch_recompute(spark, archive: str):
    return windows.windowed_agg(
        spark.read.parquet(archive), "ts", "10 minutes", _measures(),
        dims=["user_id"],
    )


def _as_dict(df):
    return {
        (r.window_start, r.user_id): (r.n_events, r.total_value)
        for r in df.collect()
    }


def test_archive_to_rollup_continuity(spark, tmp_path):
    src = str(tmp_path / "src")
    archive = str(tmp_path / "archive")
    log = str(tmp_path / "rollup_log")
    ckpt_a = str(tmp_path / "ckpt_archive")
    ckpt_r = str(tmp_path / "ckpt_rollup")

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
    _drain_rollup(spark, archive, log, ckpt_r)

    got = _as_dict(rollup.read_rollup(spark, log))
    want = _as_dict(_batch_recompute(spark, archive))
    assert got == want and len(got) == 3

    # --- phase 2 ("restart"): new files -- a new window AND a late row
    # into the already-emitted 10:00 window of user 1
    _emit(
        spark,
        src,
        [
            (1, "2024-03-01 10:07:00", 100),  # late: re-opens 10:00 window
            (2, "2024-03-01 10:25:00", 9),    # new window
        ],
    )
    _drain_archive(spark, src, archive, ckpt_a)  # same checkpoint: delta only
    _drain_rollup(spark, archive, log, ckpt_r)   # same checkpoint + log

    got2 = _as_dict(rollup.read_rollup(spark, log))
    want2 = _as_dict(_batch_recompute(spark, archive))
    assert got2 == want2 and len(got2) == 4
    # the late row really superseded the earlier emission (latest wins,
    # not double-count): 2 original events + 1 late = 3, value 5+7+100
    w1 = [k for k in got2 if k[1] == 1 and str(k[0]).endswith("10:00:00")]
    assert len(w1) == 1 and got2[w1[0]] == (3, 112)

    # the archive itself only grew by the delta (checkpointed resume,
    # no reprocessing): 4 + 2 rows
    assert spark.read.parquet(archive).count() == 6

    # --- serving compaction: fold the log into a versioned snapshot and
    # check the committed table equals the live view
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    table_dir = str(tmp_path / "rollup_table")
    v = rollup.compact_rollup(spark, log, table_dir)
    snap = versioned.read_version(spark, table_dir).drop("_key", "_version")
    assert v >= 1
    assert _as_dict(snap) == got2


def test_dedup_ingest_stream_suppresses_near_dups(spark, tmp_path):
    """Continuous dedup ingestion across two driver runs of the same
    checkpointed stream: batch 2's near-copy of an ACCEPTED batch-1 doc
    is suppressed through the STORED index (not by re-signing the
    corpus), its exact within-batch twin collapses to the min id, and
    the fresh doc lands. Index rows exist for exactly the accepted
    docs."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    in_dir = str(tmp_path / "in")
    docs_dir = str(tmp_path / "docs")
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    a_text = "the quick brown fox jumps over the lazy dog"
    spark.createDataFrame(
        [(1, a_text), (2, "completely different content about spark engines")],
        schema,
    ).coalesce(1).write.mode("append").parquet(in_dir)

    def run_once():
        q = pipeline.dedup_ingest_stream(
            pipeline.file_stream(spark, in_dir, schema),
            docs_dir,
            index_dir,
            ckpt,
            threshold=0.8,
            num_hashes=64,
            bands=16,
        )
        q.awaitTermination()

    run_once()
    first = {r.doc_id for r in spark.read.parquet(docs_dir).collect()}
    assert first == {1, 2}

    spark.createDataFrame(
        [
            (3, a_text + " tonight"),  # near-copy of accepted doc 1
            (4, "a fresh unrelated document mentioning graphs and ranking"),
            (5, "twin text payload for the exact pair"),
            (6, "twin text payload for the exact pair"),  # exact dup of 5
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(in_dir)

    run_once()
    final = {r.doc_id for r in spark.read.parquet(docs_dir).collect()}
    assert final == {1, 2, 4, 5}

    indexed = {
        r._id for r in spark.read.parquet(index_dir).select("_id").distinct().collect()
    }
    assert indexed == final


def test_maintain_view_stream_folds_and_survives_replay(spark, tmp_path):
    """Continuously-maintained aggregate view: two driver runs of the
    checkpointed stream fold two file batches into the versioned state,
    the readable view equals the batch recompute over ALL rows, and a
    direct double-apply of the same batch id no-ops (the exactly-once
    marker rides the snapshot commit)."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    schema = StructType(
        [
            StructField("k", StringType()),
            StructField("v", LongType()),
        ]
    )
    in_dir = str(tmp_path / "in")
    view_dir = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt_view")
    keys, measures = ["k"], ["v"]

    batch1 = [("a", 1), ("a", 2), ("b", 10), ("c", None)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def run_once():
        q = pipeline.maintain_view_stream(
            pipeline.file_stream(spark, in_dir, schema),
            view_dir,
            keys,
            measures,
            ckpt,
        )
        q.awaitTermination()

    run_once()
    batch2 = [("a", 4), ("d", 7), ("b", None)]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run_once()

    view = aggregates.agg_state_result(
        versioned.read_version(spark, view_dir), keys, measures
    )
    want = aggregates.agg_state_result(
        aggregates.agg_state_init(
            spark.createDataFrame(batch1 + batch2, schema), keys, measures
        ),
        keys,
        measures,
    )
    got = {r.k: (r.cnt, r.sum_v, r.avg_v) for r in view.collect()}
    exp = {r.k: (r.cnt, r.sum_v, r.avg_v) for r in want.collect()}
    assert got == exp
    assert got["a"] == (3, 7, 7 / 3)
    assert got["c"][1] is None  # all-NULL group keeps SQL NULL sum

    # exactly-once: re-applying an already-folded batch id no-ops
    v_before = versioned.current_version(view_dir)
    meta = versioned.commit_meta(view_dir)
    applied = pipeline._apply_view_batch(
        spark.createDataFrame(batch2, schema),
        meta["last_batch"],
        view_dir,
        keys,
        measures,
    )
    assert applied is False
    assert versioned.current_version(view_dir) == v_before
    # ...and a NEW batch id applies and bumps the marker
    applied = pipeline._apply_view_batch(
        spark.createDataFrame([("a", 100)], schema),
        meta["last_batch"] + 1,
        view_dir,
        keys,
        measures,
    )
    assert applied is True
    after = {
        r.k: r.sum_v
        for r in aggregates.agg_state_result(
            versioned.read_version(spark, view_dir), keys, measures
        ).collect()
    }
    assert after["a"] == 107

    # maintenance must not reset the replay guard: optimize_table /
    # compact_small_files / the COW delete_where publish a NEW version
    # -- if the _commit_meta sidecar didn't travel, last_batch would
    # read -1 and a replayed micro-batch would double-fold. All three
    # carry it; the already-applied batch id still no-ops after.
    marker = meta["last_batch"] + 1
    versioned.optimize_table(spark, view_dir, target_files=1)
    assert versioned.commit_meta(view_dir)["last_batch"] == marker
    assert (
        pipeline._apply_view_batch(
            spark.createDataFrame([("a", 999)], schema),
            marker,
            view_dir,
            keys,
            measures,
        )
        is False
    )
    # compact path: force fresh small commits, then compact and re-check
    versioned.commit_version(
        versioned.read_version(spark, view_dir).repartition(4),
        view_dir,
        meta=versioned.commit_meta(view_dir),
    )
    versioned.compact_small_files(spark, view_dir, small_bytes=1 << 30)
    assert versioned.commit_meta(view_dir)["last_batch"] == marker
    # COW path: delete a group the fold never touches again
    v_cow = versioned.delete_where(spark, view_dir, "k", eq="c")["version"]
    assert v_cow == versioned.current_version(view_dir)
    assert versioned.commit_meta(view_dir)["last_batch"] == marker
    assert (
        pipeline._apply_view_batch(
            spark.createDataFrame([("a", 999)], schema),
            marker,
            view_dir,
            keys,
            measures,
        )
        is False
    )
    assert versioned.current_version(view_dir) == v_cow
    still = {
        r.k: r.sum_v
        for r in aggregates.agg_state_result(
            versioned.read_version(spark, view_dir), keys, measures
        ).collect()
    }
    assert still["a"] == 107  # replay after maintenance did not double-fold


def test_agg_state_merge_equals_union_init(spark):
    """merge(init(A), init(B)) == init(A union B) exactly -- the
    mergeable-summary law the streaming view sink relies on."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    a = spark.createDataFrame(
        [("x", 1), ("x", None), ("y", 5)], "k string, v long"
    )
    b = spark.createDataFrame(
        [("x", 2), ("z", None), (None, 9)], "k string, v long"
    )
    keys, ms = ["k"], ["v"]
    merged = aggregates.agg_state_result(
        aggregates.agg_state_merge(
            aggregates.agg_state_init(a, keys, ms),
            aggregates.agg_state_init(b, keys, ms),
            keys,
            ms,
        ),
        keys,
        ms,
    )
    direct = aggregates.agg_state_result(
        aggregates.agg_state_init(a.unionByName(b), keys, ms), keys, ms
    )
    assert sorted(merged.collect(), key=str) == sorted(
        direct.collect(), key=str
    )


def test_maintain_sketch_stream_equals_monolithic_build(spark, tmp_path):
    """Streaming KMV maintenance: two checkpointed runs fold two file
    batches into the versioned sketch table, and the maintained
    artifact is BIT-EQUAL to the monolithic batch sketch over all rows
    ever seen (the exact merge law, end to end through foreachBatch +
    commit); estimates and replay semantics ride along."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    schema = StructType(
        [
            StructField("seg", StringType()),
            StructField("uid", LongType()),
        ]
    )
    in_dir = str(tmp_path / "sk_in")
    table = str(tmp_path / "sk_table")
    ckpt = str(tmp_path / "sk_ckpt")
    k = 16

    batch1 = [("m", i % 40) for i in range(200)] + [
        ("w", i % 25) for i in range(100)
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def run_once():
        q = pipeline.maintain_sketch_stream(
            pipeline.file_stream(spark, in_dir, schema),
            table,
            "uid",
            ckpt,
            dims=["seg"],
            k=k,
        )
        q.awaitTermination()

    run_once()
    batch2 = [("m", 1000 + i) for i in range(30)] + [("w", i) for i in range(25, 31)]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run_once()

    got = {
        r.seg: list(r.sketch)
        for r in versioned.read_version(spark, table).collect()
    }
    mono = {
        r.seg: list(r.sketch)
        for r in aggregates.kmv_sketch(
            spark.createDataFrame(batch1 + batch2, schema),
            "uid",
            dims=["seg"],
            k=k,
        ).collect()
    }
    assert got == mono  # bit-equal: merge law end to end
    est = {
        r.seg: r.distinct_estimate
        for r in aggregates.kmv_estimate(
            versioned.read_version(spark, table), k=k
        ).collect()
    }
    # w saw 31 distinct uids (> k: estimated), m saw 70 (> k)
    assert est["w"] > 16 and est["m"] > 16
    # replay of an already-folded batch id no-ops
    v_before = versioned.current_version(table)
    meta = versioned.commit_meta(table)
    applied = pipeline._apply_sketch_batch(
        spark.createDataFrame(batch2, schema),
        meta["last_batch"],
        table,
        "uid",
        ["seg"],
        k,
    )
    assert applied is False
    assert versioned.current_version(table) == v_before


def test_maintain_quantile_stream_equals_monolithic_and_guards_replay(
    spark, tmp_path
):
    """Streaming DDSketch maintenance: two checkpointed runs fold two
    file batches into the versioned quantile table, the maintained
    artifact is BIT-EQUAL to the monolithic batch sketch (integer bin
    counts, exact additive merge), quantile readouts ride along, and a
    REPLAYED batch id is a no-op -- correctness-critical here, because
    an additive merge double-counts on replay (unlike the KMV union)."""
    from pyspark.sql.types import DoubleType

    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    schema = StructType(
        [
            StructField("seg", StringType()),
            StructField("v", DoubleType()),
        ]
    )
    in_dir = str(tmp_path / "dd_in")
    table = str(tmp_path / "dd_table")
    ckpt = str(tmp_path / "dd_ckpt")

    batch1 = [("m", float(1 + i % 97)) for i in range(300)] + [
        ("w", float(10 + i % 13)) for i in range(150)
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def run_once():
        q = pipeline.maintain_quantile_stream(
            pipeline.file_stream(spark, in_dir, schema),
            table,
            "v",
            ckpt,
            dims=["seg"],
            gamma=1.05,
        )
        q.awaitTermination()

    run_once()
    batch2 = [("m", 500.0 + i) for i in range(40)] + [("w", 0.0), ("w", -3.0)]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run_once()

    got = {
        (r.seg, r.bin): r.cnt
        for r in versioned.read_version(spark, table).collect()
    }
    mono = {
        (r.seg, r.bin): r.cnt
        for r in aggregates.dd_sketch(
            spark.createDataFrame(batch1 + batch2, schema),
            "v",
            gamma=1.05,
            dims=["seg"],
        ).collect()
    }
    assert got == mono  # bit-equal: exact additive merge end to end

    # quantile readout within the gamma guarantee on the true p50
    q50 = {
        r.seg: r.q
        for r in aggregates.dd_quantile(
            versioned.read_version(spark, table), 0.5, gamma=1.05,
            dims=["seg"],
        ).select("seg", F.col("quantile_estimate").alias("q")).collect()
    }
    import statistics

    true_m = statistics.median(
        [v for s, v in batch1 + batch2 if s == "m" and v > 0]
    )
    assert abs(q50["m"] - true_m) <= 0.07 * true_m  # ~gamma band

    # replay guard: same batch id again is a no-op (would double-count)
    cur = versioned.current_version(table)
    meta = versioned.commit_meta(table, cur)
    last = meta["last_batch"]
    replay = spark.createDataFrame(batch2, schema)
    assert (
        pipeline._apply_dd_batch(replay, last, table, "v", ["seg"], 1.05)
        is False
    )
    assert versioned.current_version(table) == cur
    # a NEW batch id applies
    assert (
        pipeline._apply_dd_batch(
            replay, last + 1, table, "v", ["seg"], 1.05
        )
        is True
    )


def test_maintain_frequency_stream_equals_monolithic(spark, tmp_path):
    """Streaming CMS maintenance: two checkpointed runs fold two file
    batches into the versioned frequency table, bit-equal to the
    monolithic batch sketch; point lookups keep the one-sided
    guarantee; replay is a no-op (additive merge, marker-guarded)."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    schema = StructType([StructField("k", StringType())])
    in_dir = str(tmp_path / "cms_in")
    table = str(tmp_path / "cms_table")
    ckpt = str(tmp_path / "cms_ckpt")

    batch1 = [(f"k{i % 30}",) for i in range(300)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def run_once():
        q = pipeline.maintain_frequency_stream(
            pipeline.file_stream(spark, in_dir, schema),
            table,
            "k",
            ckpt,
            width=256,
            depth=4,
        )
        q.awaitTermination()

    run_once()
    batch2 = [("hot",)] * 50 + [(f"k{i}",) for i in range(5)]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run_once()

    got = {
        (r.row, r.bucket): r.cnt
        for r in versioned.read_version(spark, table).collect()
    }
    mono = {
        (r.row, r.bucket): r.cnt
        for r in aggregates.cms_sketch(
            spark.createDataFrame(batch1 + batch2, schema),
            "k",
            width=256,
            depth=4,
        ).collect()
    }
    assert got == mono  # bit-equal: exact additive merge end to end

    est = {
        r.k: r.estimate
        for r in aggregates.cms_lookup(
            versioned.read_version(spark, table),
            spark.createDataFrame([("hot",), ("k0",)], schema),
            "k",
            width=256,
            depth=4,
        ).collect()
    }
    assert est["hot"] >= 50  # one-sided: never undercounts
    assert est["k0"] >= 11

    cur = versioned.current_version(table)
    last = versioned.commit_meta(table, cur)["last_batch"]
    assert (
        pipeline._apply_cms_batch(
            spark.createDataFrame(batch2, schema), last, table, "k",
            256, 4, None,
        )
        is False
    )
    assert versioned.current_version(table) == cur
