"""Partitioned data lake IO (reference §2.1 mapped to Parquet).

| Reference                                   | Here                        |
|---------------------------------------------|-----------------------------|
| S1 daily JSON dirs, partition in path       | Parquet partitionBy(key);   |
|   (s3a://.../event_date=D/*.json)           |   filter => partition prune |
| S5 ES detail upsert by doc id               | upsert_by_key: append +     |
|                                             |   latest-wins view, or      |
|                                             |   dynamic partition overwrite|
| S6 Cassandra agg tables                     | keyed parquet dirs          |
| S11 Kafka->MinIO archiver (50 rec/60 s)     | Structured Streaming        |
|                                             |   partitionBy + trigger     |

Scale notes: writers never coalesce(1); partition counts follow the
upstream parallelism and AQE. Readers rely on Catalyst partition
pruning -- tests/test_lake.py asserts the pruned-scan plan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# the footer key Spark's parquet writer stores the written schema under
_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(spark: SparkSession, paths: tuple) -> StructType | None:
    """The schema Spark's schema inference would settle on for
    ``paths``, answered from the driver: Spark infers a non-merging
    parquet read from the first data file in path order and, when that
    footer carries Spark's row metadata, takes the schema from it. None
    when that shortcut does not apply -- mergeSchema on, a path that is
    not a local file or a flat dir of ``*.parquet`` files (partition
    discovery must run), or a footer without the key (pyarrow- or other-
    written files)."""
    import pyarrow.parquet as pq

    merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false")
    if merge.lower() == "true":
        return None
    files = []
    for path in paths:
        if os.path.isfile(path):
            files.append(os.path.abspath(path))
        elif os.path.isdir(path):
            entries = [
                e for e in os.scandir(path) if not e.name.startswith(("_", "."))
            ]
            flat = [
                os.path.abspath(e.path)
                for e in entries
                if e.name.endswith(".parquet")
            ]
            if not flat or any(e.is_dir() for e in entries):
                return None
            files.extend(flat)
        else:
            return None
    if not files:
        return None
    try:
        footer = pq.read_metadata(min(files)).metadata or {}
    except (OSError, ValueError):  # unreadable footer: Spark reports it
        return None
    raw = footer.get(_SPARK_ROW_METADATA.encode())
    if raw is None:
        return None
    try:
        return StructType.fromJson(json.loads(raw))
    except ValueError:  # a pre-JSON legacy schema string: let Spark parse it
        return None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job
    when the files are Spark-written: the schema comes from the first
    data file's footer row metadata (_footer_schema) and is handed to
    the reader, so building the frame launches no Spark job. The file
    source makes every field nullable, exactly as it does for an
    inferred schema, so the frame's schema equals the inferred one.
    Falls back to plain inference for pyarrow-written files,
    hive-partitioned dirs and mergeSchema sessions."""
    schema = _footer_schema(spark, paths)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "append",
    fmt: str = "parquet",
) -> None:
    """Hive-style partitioned columnar write (the canonical store; the
    reference encoded the partition key in the path by hand,
    kafka_to_minio.py:64-65). ``fmt``: parquet (default) or orc -- both
    get the same pruning/pushdown from Catalyst."""
    df.write.mode(mode).partitionBy(*partition_by).format(fmt).save(path)


def read_partition(
    spark: SparkSession, path: str, fmt: str = "parquet", **partition_values
) -> DataFrame:
    """Read with partition-pruning filters (replaces the reference's
    path-glob construction, spark_job.py:31 -- a filter on the partition
    column prunes at planning time, PruneFileSourcePartitions)."""
    df = spark.read.format(fmt).load(path)
    for k, v in partition_values.items():
        df = df.filter(F.col(k) == v)
    return df


def read_json_lake(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """JSON ingest with an EXPLICIT schema -- never inference (the
    reference's spark.read.json(path) schema-inference pass reads all
    data twice; at 100 TB that is a doubled scan, SURVEY.md §4)."""
    return spark.read.schema(schema).json(path)


class SchemaMismatchError(TypeError):
    """Raised when an append would mix incompatible file schemas in one
    log dir (parquet readers infer the table schema from a sample file,
    so a drifted append poisons every subsequent scan nondeterministically)."""


def upsert_by_key(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str,
    version_col: str,
) -> None:
    """Idempotent keyed upsert onto an append-only parquet dir: append
    the batch; readers resolve latest-wins via read_upserted (the
    ES es.mapping.id doc-upsert semantics, spark_job.py:78-80, without a
    mutable store). Append is O(batch); compaction can fold the log into
    a snapshot offline.

    Schema is enforced on write (like any real table format): an append
    whose column names/types differ from the existing log is rejected
    with SchemaMismatchError instead of silently corrupting reads."""
    if os.path.isdir(path) and any(
        n.endswith(".parquet") for n in os.listdir(path)
    ):
        existing = read_parquet(spark, path).schema
        incoming = df.schema
        want = {f.name: f.dataType for f in existing}
        got = {f.name: f.dataType for f in incoming}
        if want != got:
            drift = sorted(
                f"{n}: {want.get(n)} -> {got.get(n)}"
                for n in set(want) | set(got)
                if want.get(n) != got.get(n)
            )
            raise SchemaMismatchError(
                f"append to {path} drifts from the table schema: {drift}"
            )
    df.write.mode("append").parquet(path)


def read_upserted(
    spark: SparkSession, path: str, key: str, version_col: str
) -> DataFrame:
    """Latest-wins view over an upsert log written by upsert_by_key:
    row_number over (key, version desc) = 1 -- same deterministic-winner
    dedup as operators/dedup.py."""
    from bigdata_storage_and_proccess_job_data_spark.operators import dedup

    df = read_parquet(spark, path)
    return dedup.dedup_by_key(
        df, [key], order_by=[F.col(version_col).desc(), F.col(key).asc()]
    )


def archive_stream(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_by: list[str],
    processing_interval: str | None = "60 seconds",
    fmt: str = "parquet",
):
    """The Kafka->lake archiver (reference S11/X4, kafka_to_minio.py:47-80):
    its hand-rolled count-or-time micro-batcher collapses to a
    processing-time trigger + partitionBy; checkpointing replaces the
    manual consumer-group offset management. ``processing_interval=None``
    runs one availableNow drain instead (backfill / tests)."""
    from bigdata_storage_and_proccess_job_data_spark.streaming import pipeline

    w = (
        stream_df.writeStream.format(fmt)
        .option("path", path)
        .partitionBy(*partition_by)
    )
    return pipeline._start(
        w, checkpoint_dir, processing_interval is None, processing_interval
    )


def write_with_bloom(
    df: DataFrame,
    path: str,
    bloom_cols: dict[str, int],
    fpp: float = 0.01,
    mode: str = "overwrite",
) -> None:
    """Write parquet with per-column BLOOM FILTERS for the given columns
    (``bloom_cols`` maps column name -> expected distinct values per
    file, which sizes the filter).

    This is the POINT-LOOKUP complement to zorder.write_zordered: min/max
    row-group stats only skip when the data is range-clustered on the
    filter column, so an equality probe on a
    high-cardinality UNSORTED key (doc ids, session ids, content
    hashes) reads every row group. A bloom filter gives each row group
    a probabilistic absence proof instead -- the reader (Spark's
    parquet-mr path honors them out of the box) skips every row group
    whose filter rules the value out, no re-layout or table format
    required. At 100 TB this is the "find one document by id in the
    raw corpus" path: blooms cost ~1.2 bytes/value at fpp=1% in file
    footers and turn a full-corpus scan into a handful of row groups.

    Sizing: ndv is per FILE (not global) -- overshooting wastes footer
    bytes, undershooting inflates the false-positive rate; either way
    reads stay CORRECT (bloom hits fall back to reading the group).
    tests/test_lake.py:test_bloom_filter_skips_point_lookup measures
    the skip on a scattered key."""
    w = df.write.mode(mode)
    for col, ndv in bloom_cols.items():
        w = (
            w.option(f"parquet.bloom.filter.enabled#{col}", "true")
            .option(f"parquet.bloom.filter.expected.ndv#{col}", str(int(ndv)))
            .option(f"parquet.bloom.filter.fpp#{col}", str(float(fpp)))
        )
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 32,
    path: str | None = None,
    sort_key: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table (hash-partitioned ON DISK by ``bucket_key``
    into ``n_buckets`` files per write task, catalog-registered so the
    reader knows the layout).

    This is the co-located join primitive for the 100 TB fact-fact case:
    two tables bucketed by their join key with the SAME bucket count
    join with ZERO Exchange on either side -- the shuffle is paid once
    at write time and amortized over every subsequent join/aggregate on
    that key. ``sort_key`` additionally pre-sorts within buckets so
    sort-merge join skips its sort. tests/test_bucketing.py asserts the
    exchange-free plan.
    """
    w = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, bucket_key)
    )
    if sort_key:
        w = w.sortBy(sort_key)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def local_dir_stats(path: str) -> tuple[int, int] | None:
    """(n_parquet_files, total_bytes) for a LOCAL file or dir, or None
    when the path isn't local (s3://, hdfs:// -- callers should then
    trust the scan's own file-split planning). Feeds catalog._spread's
    narrowness estimate."""
    import glob

    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    if os.path.isdir(path):
        files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        return len(files), sum(
            os.path.getsize(f) for f in files if os.path.exists(f)
        )
    return None


def parse_byte_conf(raw: str | int, default: int = 128 * 1024 * 1024) -> int:
    """Parse a Spark byte conf value ('134217728b', '128m', '1g', plain
    int). Digit-stripping alone would read '128m' as 128 BYTES and wreck
    any estimate built on it."""
    if isinstance(raw, int):
        return raw
    s = str(raw).strip().lower()
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4, "b": 1}
    num, mult = s, 1
    # longest recognized suffix first ('kb' before 'b')
    for suf in ("kb", "mb", "gb", "tb", "k", "m", "g", "t", "b"):
        if s.endswith(suf):
            num, mult = s[: -len(suf)], units[suf[0]]
            break
    try:
        return int(float(num) * mult)
    except ValueError:
        return default


def write_training_shards(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    order_col: str,
    shard_rows: int,
) -> DataFrame:
    """The loader's last mile after epoch_shuffle / curriculum_order:
    materialize a totally-ordered frame as size-bounded ORDERED shards a
    training loader can stream sequentially without sorting anything.
    Shard k holds positions [k * shard_rows + 1, (k + 1) * shard_rows]
    of the 1-based ``order_col``; rows inside each shard file are
    PHYSICALLY sorted by position (parquet preserves row order, and the
    hash-by-shard repartition puts a whole shard in one task, so the
    partitionBy writer emits one sorted file per shard; the writer
    pins maxRecordsPerFile=0 locally so a session-level split setting
    cannot break the one-file-per-shard loader contract).

    Scale shape: one hash shuffle on the shard id (uniform by
    construction -- equal-size blocks of a permutation), one
    within-task sort bounded at shard_rows rows; no global sort, no
    driver rows. Returns the manifest read back FROM DISK (shard,
    n_rows, min/max position) -- self-verifying metadata, one row per
    shard; write it beside the corpus if the loader wants it."""
    if shard_rows < 1:
        raise ValueError(f"shard_rows must be >= 1: {shard_rows}")
    shard = (
        (F.col(order_col).cast("long") - F.lit(1)) / F.lit(int(shard_rows))
    ).cast("long")
    (
        df.withColumn("shard", shard)
        .repartition(F.col("shard"))
        .sortWithinPartitions("shard", order_col)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 0)  # pin the one-file contract
        .partitionBy("shard")
        .parquet(path)
    )
    return (
        read_parquet(spark, path)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(order_col).alias("min_pos"),
            F.max(order_col).alias("max_pos"),
        )
    )
