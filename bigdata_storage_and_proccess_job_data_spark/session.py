"""SparkSession builder tuned for the engine.

The reference ran stock Spark 3.4.1 standalone with tiny executors and no
tuning (reference: bigdata-project/src/spark_batch_v2.py:16-29). Here we
centralize the session config we actually want at scale:

- AQE on (runtime coalescing, skew-join splitting) -- free re-planning.
- shuffle partitions sized to the local test harness; on a real cluster
  AQE coalesces, so a higher initial number is safe.
- Arrow enabled so any Pandas-UDF path is vectorized.
- UTC session timezone so date/window semantics are reproducible against
  the DuckDB oracle regardless of machine TZ.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "bigdata-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) writes NO column stats, so timestamp
        # predicates can never row-group-prune; micros is the modern
        # footprint every engine (Iceberg/Delta/DuckDB) stats-prunes on
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # filter-free MIN/MAX/COUNT aggregates answer from parquet
        # footers instead of scanning row groups (off by default)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 wraps EVERY DataFrame/Column call in a call-site
        # capture (stack inspection + a Py4J origin push) so error
        # messages can cite the user's line. Measured ~40-60% of plan-
        # CONSTRUCTION latency on expression-heavy queries. A production
        # engine prefers fast planning; errors still carry the full JVM
        # analysis context, just not the Python file:line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # AQE posts an explain string to the listener bus on EVERY plan
        # update (AdaptiveSparkPlanExec.onUpdatePlan), built eagerly and
        # unbounded by default (2^31 chars). A deep funnel plan -- dozens
        # of chained stages re-deriving shared lineage -- can OOM an 8g
        # driver just STRINGIFYING its own tree (observed: PlanStringConcat
        # heap blowout in the corpus workbench). 1 MiB keeps explain/UI
        # text useful while bounding the debug-string cost; truncation
        # only ever affects the rendered string, never the plan.
        .config("spark.sql.maxPlanStringLength", str(1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-built session.

    The driver harness constructs its own SparkSession; these are the
    conf keys that are safe to set post-construction and that our
    queries' semantics rely on (TZ for date/window reproducibility).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    # externally-built sessions default to 200 shuffle partitions; on this
    # harness that's 6x the cores -- AQE coalesces most of it, but the
    # iterative operators (connected components) pay per-round scheduling
    # for empty partitions. Runtime-settable, so align with get_spark.
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS)
    )
    # bound AQE's per-update explain strings (see get_spark): deep plan
    # trees must not OOM the driver rendering debug text
    spark.conf.set("spark.sql.maxPlanStringLength", str(1024 * 1024))
    return spark


def local_frame(
    spark: SparkSession, rows: list, schema: StructType | str
) -> DataFrame:
    """A DataFrame over driver-held ``rows`` (a list of tuples or Rows, in
    ``schema`` order; ``schema`` a StructType or a DDL string) that
    runs no Spark job. ``createDataFrame(<list>, schema)`` plans an
    RDD scan over ``parallelize``, so every action on it -- collect,
    or a broadcast of it -- launches a job through a Python worker;
    built from a pyarrow Table the same rows become a LocalRelation
    that Spark answers in the driver. Same schema and rows as
    ``createDataFrame(rows, schema)`` for the types the package builds
    this way (numbers, strings, decimals, dates, NULLs); timestamps
    would be read as UTC wall time."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=field.type)
            for i, field in enumerate(arrow)
        ],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
