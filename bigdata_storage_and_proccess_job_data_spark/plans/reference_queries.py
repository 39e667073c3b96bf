"""Reference-parity queries: every batch operator family from SURVEY.md §2
instantiated on the driver's star-schema testdata (column mapping per
FIXTURES.md §3: customer≈company dim, orders/lineitem≈postings facts,
o_totalprice≈salary, o_orderdate≈listed date, '1-URGENT'≈remote flag,
'4-NOT SPECIFIED'≈the "Not Specified" sentinel).

Parity rules (see plans/registry.py): identical aliases both sides,
stable_round/sql_round for every float output (cross-engine bit-identical
-- functions/numeric.py), BIGINT counts, deterministic winners.

DuckDB/Spark dialect notes encoded here once:
- dayofweek: Spark 1..7 (Sun=1) vs DuckDB 0..6 (Sun=0) -> oracle adds 1
- datediff: Spark datediff(end,start) -> DuckDB date_diff('day',start,end)
- regexp: Spark rlike('(?i)x') -> DuckDB regexp_matches(c,'(?i)x') (RE2)
- regexp_replace: DuckDB needs explicit 'g' flag for replace-all
- derived ints are cast to BIGINT on the Spark side (DuckDB's default)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.functions import cleaning, enrich
from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
    sql_round,
    stable_round,
)
from bigdata_storage_and_proccess_job_data_spark.operators import aggregates, dedup
from bigdata_storage_and_proccess_job_data_spark.plans.registry import register

# Ordered first-match-wins classifier over part names -- analogue of the
# reference's job-title classifier (spark_batch_v2.py:139-149; order
# matters, SURVEY.md §7.3).
PART_RULES = [
    (r"widget", "Widgets"),
    (r"bolt|rod", "Hardware"),
    (r"blue|red|green", "Colored"),
]
PART_RULES_SQL = """
    CASE
      WHEN regexp_matches(p_name, '(?i)widget') THEN 'Widgets'
      WHEN regexp_matches(p_name, '(?i)bolt|rod') THEN 'Hardware'
      WHEN regexp_matches(p_name, '(?i)blue|red|green') THEN 'Colored'
      ELSE 'Other'
    END
"""


# ---------------------------------------------------------------------------
# Flagship scan + hash-aggregate (TPC-H Q1 shape; reference A1/A2 measures)
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    headline=True,
    tags=("agg", "scan", "filter"),
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_round('SUM(l_quantity)', 2)}          AS sum_qty,
               {sql_round('SUM(l_extendedprice)', 2)}     AS sum_base_price,
               {sql_round('SUM(l_extendedprice * (1 - l_discount))', 2)}
                                                          AS sum_disc_price,
               {sql_round('AVG(l_quantity)', 4)}          AS avg_qty,
               {sql_round('AVG(l_extendedprice)', 4)}     AS avg_price,
               {sql_round('AVG(l_discount)', 4)}          AS avg_disc,
               COUNT(*)                                   AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '2001-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter -> single-shuffle partial+final hash aggregate. The filter
    and 7-column projection reach the parquet scan (PushedFilters +
    ReadSchema); everything else is whole-stage codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            stable_round(F.sum("l_quantity"), 2).alias("sum_qty"),
            stable_round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            stable_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            stable_round(F.avg("l_quantity"), 4).alias("avg_qty"),
            stable_round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            stable_round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# A1 + P2: company stats v1 (groupBy count/avg after required-field filter)
# ---------------------------------------------------------------------------
@register(
    "company_stats_v1",
    tags=("agg", "filter", "join"),
    oracle=f"""
        SELECT c_name AS company_name,
               COUNT(o_orderkey)                      AS job_count,
               {sql_round('AVG(o_totalprice)', 4)}    AS avg_salary,
               DATE '2024-01-01'                      AS report_date
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_name IS NOT NULL AND TRIM(c_name) <> ''
        GROUP BY c_name
    """,
)
def company_stats_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A1 (spark_job.py:84-87) + P2 validation (spark_job.py:64-66)
    over the star schema: the company dimension is a broadcast join, so the
    only shuffle is the final aggregation on company_name."""
    orders = load_table(spark, sf_dir, "orders")
    customer = cleaning.require_fields(
        load_table(spark, sf_dir, "customer"), "c_name"
    )
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .groupBy(F.col("c_name").alias("company_name"))
        .agg(
            F.count("o_orderkey").alias("job_count"),
            stable_round(F.avg("o_totalprice"), 4).alias("avg_salary"),
        )
        .withColumn("report_date", F.lit("2024-01-01").cast("date"))
    )


# ---------------------------------------------------------------------------
# A2: company stats v2 -- full measure set incl. stddev + conditional count
# ---------------------------------------------------------------------------
@register(
    "company_stats_v2",
    headline=True,
    tags=("agg", "join"),
    oracle=f"""
        SELECT c_name AS company_name,
               COUNT(o_orderkey)                        AS job_count,
               {sql_round('AVG(o_totalprice)', 4)}      AS avg_salary,
               {sql_round('MIN(o_totalprice)', 2)}      AS min_salary,
               {sql_round('MAX(o_totalprice)', 2)}      AS max_salary,
               {sql_round('STDDEV(o_totalprice)', 4)}   AS salary_stddev,
               COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
                                                        AS remote_count
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_name
    """,
)
def company_stats_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A2 (spark_batch_v2.py:261-270): count/avg/min/max/stddev +
    sum(when(remote,1)) conditional count, one hash aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    )
    return aggregates.cube(
        joined.withColumn("company_name", F.col("c_name")),
        ["company_name"],
        {
            "job_count": F.count("o_orderkey"),
            "avg_salary": stable_round(F.avg("o_totalprice"), 4),
            "min_salary": stable_round(F.min("o_totalprice"), 2),
            "max_salary": stable_round(F.max("o_totalprice"), 2),
            "salary_stddev": stable_round(F.stddev("o_totalprice"), 4),
            "remote_count": aggregates.conditional_count(
                F.col("o_orderpriority") == "1-URGENT"
            ),
        },
    )


# ---------------------------------------------------------------------------
# P3: deterministic keyed dedup (row_number winner, full tiebreak)
# ---------------------------------------------------------------------------
@register(
    "dedup_latest",
    tags=("dedup", "window"),
    oracle=f"""
        SELECT l_orderkey, l_linenumber,
               {sql_round('l_extendedprice', 2)} AS price
        FROM (
          SELECT l_orderkey, l_linenumber, l_extendedprice,
                 ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_linenumber DESC, l_partkey ASC, l_suppkey ASC,
                            l_extendedprice ASC
                 ) AS rn
          FROM lineitem
        ) WHERE rn = 1
    """,
)
def dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference P3 (dropDuplicates(['job_id']), spark_batch_v2.py:49) made
    deterministic: row_number winner with a total-order tiebreak
    (l_linenumber alone is not unique in the fixture) -- reproducible
    across engines and retries, single shuffle on the key."""
    li = load_table(spark, sf_dir, "lineitem")
    return dedup.dedup_by_key(
        li,
        ["l_orderkey"],
        order_by=[
            F.col("l_linenumber").desc(),
            F.col("l_partkey").asc(),
            F.col("l_suppkey").asc(),
            F.col("l_extendedprice").asc(),
        ],
    ).select(
        "l_orderkey",
        "l_linenumber",
        stable_round("l_extendedprice", 2).alias("price"),
    )


# ---------------------------------------------------------------------------
# F2: first-match-wins regex classifier chain
# ---------------------------------------------------------------------------
@register(
    "classify_text",
    tags=("expr", "classify", "agg"),
    oracle=f"""
        SELECT {PART_RULES_SQL} AS category,
               COUNT(*) AS part_count,
               {sql_round('AVG(p_retailprice)', 4)} AS avg_price
        FROM part
        GROUP BY 1
    """,
)
def classify_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F2 (job-category classifier, spark_batch_v2.py:139-149):
    ordered case-insensitive rlike chain, table-driven, first match wins."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.withColumn(
            "category", enrich.regex_classify("p_name", PART_RULES, default="Other")
        )
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("part_count"),
            stable_round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# F14: fallback/priority merge with sentinel
# ---------------------------------------------------------------------------
@register(
    "merge_fallback",
    tags=("expr",),
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_orderpriority IS NULL
                         OR o_orderpriority = '4-NOT SPECIFIED'
                    THEN CASE WHEN o_totalprice >= 200000 THEN '2-HIGH'
                              ELSE '5-LOW' END
                    ELSE o_orderpriority
               END AS priority_final
        FROM orders
    """,
)
def merge_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F14 (spark_batch_v2.py:131-135): prefer the source value
    unless null/sentinel ('4-NOT SPECIFIED'), else a derived fallback."""
    orders = load_table(spark, sf_dir, "orders")
    derived = F.when(F.col("o_totalprice") >= 200000, "2-HIGH").otherwise("5-LOW")
    return orders.select(
        "o_orderkey",
        enrich.prefer_unless(
            "o_orderpriority", derived, sentinels=("4-NOT SPECIFIED",)
        ).alias("priority_final"),
    )


# ---------------------------------------------------------------------------
# F8 + F9: arithmetic derivations, midpoint-coalesce, safe ratio
# ---------------------------------------------------------------------------
@register(
    "derive_salary_fields",
    tags=("expr",),
    oracle=f"""
        SELECT l_orderkey, l_linenumber,
               {sql_round('COALESCE((lo + hi) / 2, hi, lo)', 4)}  AS salary_avg,
               {sql_round('hi - lo', 4)}                          AS salary_range,
               {sql_round('CASE WHEN den > 0 THEN (l_quantity / den) * 100 END', 4)}
                                                                  AS competition_score
        FROM (
          SELECT l_orderkey, l_linenumber, l_quantity,
                 CASE WHEN l_discount > 0
                      THEN l_extendedprice * (1 - l_discount) END AS lo,
                 CASE WHEN l_tax > 0
                      THEN l_extendedprice * (1 + l_tax) END      AS hi,
                 CAST(FLOOR(l_discount * 100) AS DOUBLE)          AS den
          FROM lineitem
        )
    """,
)
def derive_salary_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F8/F9 (spark_batch_v2.py:97-110,191-195): null-gated
    bounds, midpoint with coalesce fallback (null only when BOTH bounds
    null), range, and a divide-by-zero-guarded ratio."""
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.when(
        F.col("l_discount") > 0,
        F.col("l_extendedprice") * (1 - F.col("l_discount")),
    )
    hi = F.when(
        F.col("l_tax") > 0, F.col("l_extendedprice") * (1 + F.col("l_tax"))
    )
    den = F.floor(F.col("l_discount") * 100).cast("double")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        lo.alias("lo"),
        hi.alias("hi"),
        den.alias("den"),
    )
    return base.select(
        "l_orderkey",
        "l_linenumber",
        stable_round(enrich.midpoint_coalesce("lo", "hi"), 4).alias("salary_avg"),
        stable_round(enrich.value_range("lo", "hi"), 4).alias("salary_range"),
        stable_round(enrich.safe_ratio("l_quantity", "den"), 4).alias(
            "competition_score"
        ),
    )


# ---------------------------------------------------------------------------
# A3: location stats (multi-key groupBy over a dim snowflake)
# ---------------------------------------------------------------------------
@register(
    "location_stats",
    headline=True,
    tags=("agg", "join"),
    oracle=f"""
        SELECT r_name AS region, n_name AS country,
               COUNT(*)                            AS customer_count,
               {sql_round('AVG(c_acctbal)', 4)}    AS avg_balance,
               COUNT(CASE WHEN c_acctbal > 0 THEN 1 END) AS positive_count
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
)
def location_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A3 (location_stats, spark_batch_v2.py:279-283): multi-key
    groupBy after a two-level dimension join (both broadcast)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return aggregates.cube(
        joined.select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("country"),
            "c_acctbal",
        ),
        ["region", "country"],
        {
            "customer_count": F.count(F.lit(1)),
            "avg_balance": stable_round(F.avg("c_acctbal"), 4),
            "positive_count": aggregates.conditional_count(F.col("c_acctbal") > 0),
        },
    )


# ---------------------------------------------------------------------------
# A4: category × class stats with exact percentiles
# ---------------------------------------------------------------------------
@register(
    "category_percentiles",
    headline=True,
    tags=("agg", "join", "percentile"),
    oracle=f"""
        SELECT category, p_brand AS brand,
               COUNT(*)                              AS item_count,
               {sql_round('AVG(l_extendedprice)', 4)}    AS avg_price,
               {sql_round('quantile_cont(l_extendedprice, 0.25)', 4)} AS p25,
               {sql_round('quantile_cont(l_extendedprice, 0.50)', 4)} AS p50,
               {sql_round('quantile_cont(l_extendedprice, 0.75)', 4)} AS p75
        FROM (
          SELECT {PART_RULES_SQL} AS category, p_brand, l_extendedprice
          FROM lineitem JOIN part ON l_partkey = p_partkey
        )
        GROUP BY category, p_brand
    """,
)
def category_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A4 (percentile_approx {0.25,0.5,0.75},
    spark_batch_v2.py:292-298) -- implemented with exact interpolated
    percentiles (F.percentile) so the oracle can hash-match; at 100 TB the
    library exposes approx_percentile as the default and exact as opt-in."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # classify on the DIM side, before the join: category is a function
    # of p_name alone, so the regex CASE chain runs once per part row
    # (|part|) instead of once per joined fact row (|lineitem|, ~30x
    # more at every SF) -- the broadcast then carries the tiny
    # (key, category, brand) projection instead of p_name
    part_c = part.select(
        "p_partkey",
        enrich.regex_classify("p_name", PART_RULES, default="Other").alias(
            "category"
        ),
        F.col("p_brand").alias("brand"),
    )
    joined = li.join(
        F.broadcast(part_c), li.l_partkey == part_c.p_partkey
    ).select("category", "brand", "l_extendedprice")
    # one percentile aggregate with an array of percentages: a single
    # sort buffer per group serves all three cut points -- three sibling
    # F.percentile calls each kept their own buffer (~15-20% slower at
    # sf0.1, identical values)
    agg = joined.groupBy("category", "brand").agg(
        F.count(F.lit(1)).alias("item_count"),
        stable_round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.percentile(
            "l_extendedprice",
            F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
        ).alias("_p"),
    )
    return agg.select(
        "category",
        "brand",
        "item_count",
        "avg_price",
        stable_round(F.col("_p")[0], 4).alias("p25"),
        stable_round(F.col("_p")[1], 4).alias("p50"),
        stable_round(F.col("_p")[2], 4).alias("p75"),
    )


# ---------------------------------------------------------------------------
# A5: worktype stats (conditional non-null count)
# ---------------------------------------------------------------------------
@register(
    "worktype_stats",
    tags=("agg",),
    oracle=f"""
        SELECT o_orderpriority AS work_type,
               COUNT(*)                           AS job_count,
               {sql_round('AVG(o_totalprice)', 4)}    AS avg_salary,
               COUNT(CASE WHEN o_totalprice > 150000 THEN 1 END) AS high_paid_count
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def worktype_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A5 (spark_batch_v2.py:307-311): per-worktype count/avg +
    count(when(cond)) conditional count."""
    orders = load_table(spark, sf_dir, "orders")
    return aggregates.cube(
        orders.withColumn("work_type", F.col("o_orderpriority")),
        ["work_type"],
        {
            "job_count": F.count(F.lit(1)),
            "avg_salary": stable_round(F.avg("o_totalprice"), 4),
            "high_paid_count": aggregates.conditional_count(
                F.col("o_totalprice") > 150000
            ),
        },
    )


# ---------------------------------------------------------------------------
# A6 + F11: temporal stats over derived calendar dims
# ---------------------------------------------------------------------------
@register(
    "temporal_stats",
    tags=("agg", "datetime"),
    oracle=f"""
        SELECT CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS posted_day_of_week,
               CAST(month(o_orderdate) AS BIGINT)         AS posted_month,
               CAST(quarter(o_orderdate) AS BIGINT)       AS posted_quarter,
               COUNT(*)                                   AS job_count,
               {sql_round('AVG(o_totalprice)', 4)}        AS avg_salary
        FROM orders
        GROUP BY 1, 2, 3
    """,
)
def temporal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A6/F11 (spark_batch_v2.py:177-180,321-324): group by
    day-of-week x month x quarter. Spark dayofweek is 1-based (Sun=1);
    the oracle shifts DuckDB's 0-based value to match."""
    orders = load_table(spark, sf_dir, "orders")
    d = enrich.date_derivations("o_orderdate", F.current_date())
    return (
        orders.select(
            d["posted_day_of_week"].cast("long").alias("posted_day_of_week"),
            d["posted_month"].cast("long").alias("posted_month"),
            d["posted_quarter"].cast("long").alias("posted_quarter"),
            "o_totalprice",
        )
        .groupBy("posted_day_of_week", "posted_month", "posted_quarter")
        .agg(
            F.count(F.lit(1)).alias("job_count"),
            stable_round(F.avg("o_totalprice"), 4).alias("avg_salary"),
        )
    )


# ---------------------------------------------------------------------------
# A7 + F2 bucketing: value distribution
# ---------------------------------------------------------------------------
@register(
    "value_distribution",
    tags=("agg", "expr"),
    oracle="""
        SELECT CASE WHEN o_totalprice IS NULL   THEN 'unknown'
                    WHEN o_totalprice < 50000   THEN 'low'
                    WHEN o_totalprice < 150000  THEN 'medium'
                    WHEN o_totalprice < 300000  THEN 'high'
                    ELSE 'very_high' END AS salary_category,
               o_orderstatus AS status,
               COUNT(*) AS job_count
        FROM orders
        GROUP BY 1, 2
    """,
)
def value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A7 (salary_distribution, spark_batch_v2.py:333-335) with
    the F2 salary-bucket classifier (spark_batch_v2.py:139-149)."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = enrich.bucketize(
        "o_totalprice",
        [(50000, "low"), (150000, "medium"), (300000, "high")],
        default="very_high",
        null_label="unknown",
    )
    return (
        orders.select(
            bucket.alias("salary_category"),
            F.col("o_orderstatus").alias("status"),
        )
        .groupBy("salary_category", "status")
        .agg(F.count(F.lit(1)).alias("job_count"))
    )


# ---------------------------------------------------------------------------
# F10 + F2: freshness buckets from date arithmetic
# ---------------------------------------------------------------------------
@register(
    "freshness_buckets",
    tags=("expr", "datetime", "agg"),
    oracle="""
        SELECT CASE WHEN days_since IS NULL THEN 'unknown'
                    WHEN days_since < 365  THEN 'fresh'
                    WHEN days_since < 1095 THEN 'recent'
                    ELSE 'stale' END AS freshness,
               COUNT(*) AS job_count
        FROM (
          SELECT CAST(date_diff('day', o_orderdate, DATE '2002-01-01') AS BIGINT)
                 AS days_since
          FROM orders
        )
        GROUP BY 1
    """,
)
def freshness_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference F10 + freshness classifier (spark_batch_v2.py:164-173):
    datediff against a fixed as-of date, bucketed."""
    orders = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate"))
    bucket = enrich.bucketize(
        "days_since",
        [(365, "fresh"), (1095, "recent")],
        default="stale",
        null_label="unknown",
    )
    return (
        orders.select(days.cast("long").alias("days_since"))
        .select(bucket.alias("freshness"))
        .groupBy("freshness")
        .agg(F.count(F.lit(1)).alias("job_count"))
    )


# ---------------------------------------------------------------------------
# X1: multi-source normalization + unionByName
# ---------------------------------------------------------------------------
@register(
    "union_normalize",
    tags=("union", "normalize", "agg"),
    oracle=f"""
        SELECT source,
               COUNT(*)                        AS entity_count,
               {sql_round('AVG(acctbal)', 4)}  AS avg_balance,
               COUNT(segment)                  AS with_segment
        FROM (
          SELECT 'customer' AS source, c_name AS name, c_acctbal AS acctbal,
                 c_mktsegment AS segment
          FROM customer
          UNION ALL BY NAME
          SELECT 'supplier' AS source, s_name AS name, s_acctbal AS acctbal,
                 CAST(NULL AS VARCHAR) AS segment
          FROM supplier
        )
        GROUP BY source
    """,
)
def union_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference X1 (producer_v2.py:34-100): two heterogeneous sources
    projected to one canonical schema and unioned by name with missing
    columns allowed, then aggregated per source tag."""
    customer = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("source"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("source"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
    )
    unioned = customer.unionByName(supplier, allowMissingColumns=True)
    return unioned.groupBy("source").agg(
        F.count(F.lit(1)).alias("entity_count"),
        stable_round(F.avg("acctbal"), 4).alias("avg_balance"),
        F.count("segment").alias("with_segment"),
    )


# ---------------------------------------------------------------------------
# X2: mean imputation (deterministic, broadcast of the global mean)
# ---------------------------------------------------------------------------
@register(
    "impute_mean",
    tags=("impute", "join"),
    oracle=f"""
        SELECT o_orderkey,
               {sql_round('COALESCE(val, global_mean)', 4)} AS imputed_salary
        FROM (
          SELECT o_orderkey,
                 CASE WHEN o_orderstatus <> 'F' THEN o_totalprice END AS val,
                 AVG(CASE WHEN o_orderstatus <> 'F' THEN o_totalprice END)
                     OVER () AS global_mean
          FROM orders
        )
    """,
)
def impute_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference X2 (JobService.java:70-110) deterministic variant: fill
    missing values with the global mean of the valid pool. The mean is a
    1-row aggregate cross-joined (broadcast) back -- no driver collect.

    Scan-once: the ONE-ROW mean frame is localCheckpointed before the
    cross join, so the imputation plan scans orders exactly once --
    lazily, the mean subtree re-scanned the base table inside every
    job that consumed the joined frame. The bounded-post-agg rule:
    checkpoint the 1-row mean, never the corpus-sized base. Pinned in
    tests/test_plans.py::test_scan_once_pins."""
    orders = load_table(spark, sf_dir, "orders")
    val = F.when(F.col("o_orderstatus") != "F", F.col("o_totalprice"))
    base = orders.select("o_orderkey", val.alias("val"))
    mean = base.agg(F.avg("val").alias("global_mean")).localCheckpoint()
    return base.crossJoin(F.broadcast(mean)).select(
        "o_orderkey",
        stable_round(F.coalesce(F.col("val"), F.col("global_mean")), 4).alias(
            "imputed_salary"
        ),
    )


# ---------------------------------------------------------------------------
# A8: global reduce (the RDD demo, DataFrame-first)
# ---------------------------------------------------------------------------
@register(
    "global_reduce",
    tags=("agg",),
    oracle=f"""
        SELECT {sql_round('SUM(l_quantity)', 2)}  AS total_qty,
               COUNT(*)                           AS row_count
        FROM lineitem
    """,
)
def global_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A8 (k8s/job.py:24-35 parallelize/map/reduce) as a
    DataFrame global aggregate: partial sums per partition, single-row
    final -- same dataflow the RDD reduce hand-rolled."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        stable_round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.count(F.lit(1)).alias("row_count"),
    )


# ---------------------------------------------------------------------------
# Beyond-reference: ranking window function (top-k per group)
# ---------------------------------------------------------------------------
@register(
    "topk_per_group",
    headline=True,
    tags=("window", "rank"),
    oracle=f"""
        SELECT o_custkey, o_orderkey, rk,
               {sql_round('o_totalprice', 2)} AS price
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
                 ) AS rk
          FROM orders
        ) WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer (SURVEY.md §2.6 gap list: analytic window
    functions). Deterministic tie-break on the key; single shuffle on
    o_custkey, rank filter applied before any further stage."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("rk").cast("long").alias("rk"),
            stable_round("o_totalprice", 2).alias("price"),
        )
    )
