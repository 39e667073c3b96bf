"""Runtime optimizations the 100 TB plan depends on: dynamic partition
pruning (scan skips partitions based on a join-time filter) and AQE
skew-join splitting (hot shuffle partitions split at runtime). These are
plan/behavior assertions, not row-value oracles."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.sources import lake


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """A filter on the DIM side prunes FACT partitions at runtime: the
    fact scan's PartitionFilters must carry a dynamicpruning expression
    (no literal year filter exists on the fact side at all)."""
    path = str(tmp_path / "fact_by_year")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    lake.write_partitioned(orders, path, ["o_year"])

    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(y, "keep" if y == 1995 else "drop") for y in range(1992, 1999)],
        "d_year INT, tag STRING",
    ).filter(F.col("tag") == "keep")

    joined = fact.join(dim, fact.o_year == dim.d_year).groupBy("d_year").agg(
        F.count(F.lit(1)).alias("n")
    )
    rows = joined.collect()
    expect = orders.filter(F.col("o_year") == 1995).count()
    assert [(r.d_year, r.n) for r in rows] == [(1995, expect)]

    plan = joined._jdf.queryExecution().executedPlan().toString()
    part_filters = plan.split("PartitionFilters")[1].split("]")[0]
    assert "dynamicpruning" in part_filters, part_filters


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """A 90%-one-key skewed fact joined sort-merge: with the skew
    thresholds lowered to fixture scale, AQE must mark the hot partition
    split (``skew=true`` in the final plan) and still return exact rows."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # repartition(16): OptimizeSkewedJoin splits a hot reduce
        # partition at MAP-BLOCK boundaries, so the fact side must come
        # from multiple map tasks -- true for any at-scale scan, but
        # the sf0.001 fixture sits under catalog._SPREAD_MIN_BYTES
        # (r14) and would otherwise scan as ONE block AQE cannot split
        lineitem = load_table(spark, sf_dir, "lineitem").repartition(
            16
        ).withColumn(
            # poison: 90% of rows share one join key -- the classic hot key
            "skew_key",
            F.when(F.col("l_orderkey") % 10 != 0, F.lit(1)).otherwise(
                F.col("l_orderkey")
            ),
        ).select("skew_key", "l_extendedprice")
        # keyed dim built as a plain frame: OptimizeSkewedJoin pattern-matches
        # SMJ whose children are Sort-over-shuffle-stage; an aggregate between
        # sort and shuffle (e.g. .distinct()) opts the join out of skew handling
        keys = [r.skew_key for r in lineitem.select("skew_key").distinct().collect()]
        right = spark.createDataFrame(
            [(k, 1.0) for k in keys], "skew_key LONG, weight DOUBLE"
        )
        joined = lineitem.join(right, "skew_key")
        rows = joined.collect()
        assert len(rows) == lineitem.count()  # right side is distinct keys: 1:1
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_injected_on_selective_join(spark, sf_dir):
    """Runtime row-level filtering (InjectRuntimeFilter): a selective
    filter on one join side builds a bloom filter that pre-filters the
    big side BEFORE its shuffle -- the row-level sibling of DPP for
    non-partition keys. Thresholds lowered to fixture scale; results
    must be identical to the unfiltered plan."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # raw scans, not load_table: its _spread repartition counts as an
        # existing shuffle on the application side and InjectRuntimeFilter
        # declines (it only guards scan-shaped subtrees)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        rows = joined.count()
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # parity against the plain plan (bloom filter is a may-contain
    # pre-filter; the exact join predicate still applies)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    assert rows == li.join(orders, li.l_orderkey == orders.o_orderkey).count()
