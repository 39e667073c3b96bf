"""Testdata catalog: load the driver's parquet tables as DataFrames.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings -- one parquet file per table under
/root/testdata/sf{0.001,0.01,0.1}/.

At 100 TB the same API points at a partitioned lake (see sources/lake.py);
here the scan is a plain parquet read so Catalyst gets pushdown/pruning
for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Schema memo: a real lake serves table schemas from its metastore /
# table-format metadata; re-running parquet footer inference on every
# load_table call is a test-fixture artifact that costs a driver round
# trip per query. Keyed on (path, mtime, size) so a rewritten fixture
# invalidates naturally. Local filesystem paths only -- non-local URIs
# skip the memo (no cheap stat) and infer as before.
_SCHEMA_CACHE: dict = {}

# Floor under which _spread never repartitions: for a frame this small
# the round-robin exchange -- a full shuffle stage plus its tasks --
# costs more wall-clock than ANY single-core pass over the bytes (even
# a regex-heavy projection streams 256 KiB in single-digit ms), and such
# frames are dim-table-shaped (nation/region/supplier/part): consumed
# via a broadcast that a 16-way spread only delays. Bytes-based, so the
# guard is scale-adaptive by itself -- the same table at a bigger scale
# factor crosses the floor and spreads as before (the sf0.1
# documents/embeddings tables, whose per-row work is tokenization and
# vector math, sit above it).
_SPREAD_MIN_BYTES = 256 * 1024


def _read_parquet_cached(spark: SparkSession, path: str):
    """Returns ``(df, schema)`` -- schema is the StructType either from
    the memo or freshly inferred, so callers can answer type questions
    (NTZ targets, the events bigint guard) in pure Python instead of a
    per-call ``df.dtypes`` driver round trip."""
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    cached = _SCHEMA_CACHE.get(key) if key is not None else None
    if cached is not None:
        return spark.read.schema(cached).parquet(path), cached
    df = spark.read.parquet(path)
    schema = df.schema
    if key is not None:
        _SCHEMA_CACHE[key] = schema
    return df, schema


def _spread(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """The driver fixtures are ONE parquet file per table (often a single
    row group), so the scan yields a single partition and every per-row
    expression runs on one core. Spread once after read so downstream
    work uses the full machine. On a real lake this is unnecessary --
    file splits provide scan parallelism -- so only repartition when the
    scan is genuinely narrower than the cluster.

    Narrowness is estimated from filesystem metadata the same way
    FilePartition planning does (file count + bytes/maxPartitionBytes) --
    no ``df.rdd`` probe, which would be a per-load plan-to-RDD conversion
    on the driver. Non-local paths (s3://, ...)
    are left alone: the lake's own file splits provide scan parallelism
    there, and an unconditional repartition would add a full shuffle."""
    from bigdata_storage_and_proccess_job_data_spark.sources.lake import (
        local_dir_stats,
        parse_byte_conf,
    )

    parallelism = min(spark.sparkContext.defaultParallelism, 16)
    stats = local_dir_stats(path)
    if stats is None:
        return df
    n_files, total = stats
    if total < _SPREAD_MIN_BYTES:
        return df
    max_bytes = parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    # mirror FilePartition packing: each file also costs openCostInBytes,
    # so many small files split across more partitions than raw bytes
    # alone suggest (without it the estimate under-counts splits for
    # small-file dirs and repartitions when the scan is already wide
    # enough)
    open_cost = parse_byte_conf(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304b"),
        default=4 * 1024 * 1024,
    )
    splits = max(n_files, -(-(total + n_files * open_cost) // max_bytes))
    if splits < parallelism:
        return df.repartition(parallelism)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Older fixtures wrote events.ts as parquet timestamp[ns], which
        # Spark's reader rejects; read nanos as long, truncate to micros
        # with exact integer math (double division would lose sub-us
        # precision at 1.7e18), rebuild the timestamp. DuckDB truncates
        # ns->us the same way. Current fixtures are micros (NTZ-inferred),
        # so the bigint branch is a no-op guard.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        path = f"{sf_dir}/{name}.parquet"
        df, schema = _read_parquet_cached(spark, path)
        if any(
            f.name == "ts" and f.dataType.simpleString() == "bigint"
            for f in schema.fields
        ):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _spread(spark, _ltz_from_schema(df, schema), path)
    path = f"{sf_dir}/{name}.parquet"
    df, schema = _read_parquet_cached(spark, path)
    return _spread(spark, _ltz_from_schema(df, schema), path)


def _ltz_from_schema(df: DataFrame, schema) -> DataFrame:
    """ensure_ltz with the NTZ targets read off the already-known
    StructType (no df.dtypes round trip)."""
    targets = [
        f.name
        for f in schema.fields
        if f.dataType.simpleString() == "timestamp_ntz"
    ]
    if not targets:
        return df
    return df.withColumns(
        {c: F.col(c).cast("timestamp_ltz") for c in targets}
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
