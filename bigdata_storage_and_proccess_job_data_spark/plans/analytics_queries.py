"""Beyond-reference analytics operators (SURVEY.md §2.6 gap list + north
star): multi-table joins, rollup/grouping sets, distinct aggregates,
JSON extraction, and the spark.sql surface. All oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import (
    load_table,
    register_views,
)
from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
    sql_round,
    stable_round,
)
from bigdata_storage_and_proccess_job_data_spark.plans.registry import register
from bigdata_storage_and_proccess_job_data_spark.session import local_frame


# ---------------------------------------------------------------------------
# Star join: segment revenue (TPC-H Q3 shape)
# ---------------------------------------------------------------------------
@register(
    "segment_revenue",
    headline=True,
    tags=("join", "agg"),
    oracle=f"""
        SELECT c_mktsegment AS segment,
               COUNT(DISTINCT o_orderkey)     AS order_count,
               {sql_round("SUM(l_extendedprice * (1 - l_discount))", 2)}
                                              AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderdate >= DATE '1996-01-01'
        GROUP BY c_mktsegment
    """,
)
def segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join with MANUAL aggregate-below-join: lineitem revenue
    is partially aggregated per order key BEFORE joining (Catalyst does
    not push aggregates through joins) -- the join input shrinks from
    |lineitem| rows to |orders| rows, and because the pre-agg makes the
    join 1:1, COUNT(DISTINCT o_orderkey) degrades to a plain count.
    Customer dim broadcasts; the only wide ops are the per-order partial
    agg and the orderkey join."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev_per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev")
    )
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).join(rev_per_order, rev_per_order.l_orderkey == orders.o_orderkey)
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("order_count"),
        stable_round(F.sum("_rev"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Distinct aggregate
# ---------------------------------------------------------------------------
@register(
    "distinct_customers",
    tags=("agg", "distinct"),
    oracle="""
        SELECT o_orderpriority AS priority,
               COUNT(DISTINCT o_custkey) AS distinct_customers,
               COUNT(*)                  AS order_count
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregate (expand + two-phase agg under the hood).
    The approximate variant (approx_count_distinct/HLL, the 100 TB
    default) is asserted within 5% of this in tests/test_analytics.py."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count_distinct("o_custkey").alias("distinct_customers"),
        F.count(F.lit(1)).alias("order_count"),
    )


# ---------------------------------------------------------------------------
# JSON extraction (events.props)
# ---------------------------------------------------------------------------
@register(
    "json_extract_props",
    tags=("expr", "json", "agg"),
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER))
                    AS BIGINT)            AS k_total,
               COUNT(props)               AS with_props
        FROM events
        GROUP BY event_type
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a string column (the batch analogue of
    the reference's from_json decode, S4/F13) -- get_json_object keeps it
    JVM-side; no Python."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.sum(
            F.get_json_object("props", "$.k").cast("int")
        ).cast("long").alias("k_total"),
        F.count("props").alias("with_props"),
    )


# ---------------------------------------------------------------------------
# spark.sql surface: one ANSI string that runs on BOTH engines unchanged
# ---------------------------------------------------------------------------
_SHARED_SQL = f"""
    SELECT n_name AS nation,
           COUNT(*)                                  AS order_count,
           {sql_round("SUM(o_totalprice)", 2)}       AS total_sales,
           {sql_round("AVG(o_totalprice)", 4)}       AS avg_sale
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


@register(
    "sql_surface_nation_sales",
    tags=("sql", "join", "agg"),
    oracle=_SHARED_SQL,
)
def sql_surface_nation_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point (SURVEY.md §3: the reference exposes none; the
    engine exposes both DataFrame and spark.sql over the same Catalyst
    plans). The query text is the SAME ANSI string the DuckDB oracle
    runs -- one dialect, two engines."""
    register_views(spark, sf_dir)
    return spark.sql(_SHARED_SQL)


# ---------------------------------------------------------------------------
# As-of join: latest prior purchase per click (point-in-time semantics)
# ---------------------------------------------------------------------------
@register(
    "asof_last_purchase",
    tags=("join", "asof", "window"),
    oracle="""
        WITH clicks AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ),
        purchases AS (
          SELECT user_id, ts, value FROM (
            SELECT user_id, ts, value,
                   ROW_NUMBER() OVER (
                     PARTITION BY user_id, ts ORDER BY event_id DESC
                   ) AS rn
            FROM events WHERE event_type = 'purchase'
          ) WHERE rn = 1
        )
        SELECT c.event_id,
               c.user_id,
               CAST(c.ts AS TIMESTAMP) AS click_time,
               p.value                 AS value_asof
        FROM clicks c
        ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/asof.py): for every click, the
    value of the user's most recent prior purchase. Spark lacks a native
    ASOF join; the union+last_value formulation is one shuffle on the
    key -- the DuckDB oracle uses its native ASOF JOIN, so this also
    cross-validates the operator's semantics engine-to-engine."""
    from bigdata_storage_and_proccess_job_data_spark.operators import asof
    from bigdata_storage_and_proccess_job_data_spark.operators import dedup

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.col("ts").cast("timestamp_ntz").alias("click_time")
    )
    purchases = dedup.dedup_by_key(
        events.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "value", "event_id"
        ),
        ["user_id", "ts"],
        order_by=[F.col("event_id").desc()],
    ).select("user_id", F.col("ts").cast("timestamp_ntz").alias("pts"), "value")
    return asof.asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="click_time",
        right_ts="pts",
        value_cols=["value"],
    )


# ---------------------------------------------------------------------------
# Set operation: intersect
# ---------------------------------------------------------------------------
@register(
    "setop_intersect",
    tags=("setop",),
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) -- customers with both finished and
    open orders. Spark plans it as a left-semi aggregate join."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    o = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return f.intersect(o)


# ---------------------------------------------------------------------------
# Pivot (wide conditional aggregation)
# ---------------------------------------------------------------------------
@register(
    "pivot_status_by_priority",
    tags=("agg", "pivot"),
    oracle="""
        SELECT o_orderpriority AS priority,
               COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_F,
               COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_O,
               COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_P
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (unbounded pivots force an extra
    distinct pass; always enumerate at scale). Equivalent to conditional
    counts, which is the oracle formulation."""
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return pivoted.select(
        "priority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
    )


# ---------------------------------------------------------------------------
# Analytic aggregate: running revenue per customer
# ---------------------------------------------------------------------------
@register(
    "running_total",
    tags=("window", "agg"),
    oracle=f"""
        SELECT o_custkey, o_orderkey,
               {sql_round('''SUM(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS UNBOUNDED PRECEDING)''', 2)} AS running_spend
        FROM orders
    """,
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) aggregate over an ordered window -- the
    analytic-aggregate family the reference lacks (SURVEY.md §2.6).
    Deterministic frame via (date, key) ordering."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        stable_round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# Correlated EXISTS subquery (TPC-H Q4 shape)
# ---------------------------------------------------------------------------
@register(
    "priority_with_late_lines",
    tags=("join", "subquery", "agg"),
    oracle="""
        SELECT o_orderpriority AS priority,
               COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= DATE '1997-01-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority
    """,
)
def priority_with_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS (SURVEY.md §2.6: subqueries absent from the
    reference) expressed as a left-semi join -- the same physical plan
    Catalyst de-correlates EXISTS into. Date filter pushed to the orders
    scan; the semi join shuffles only (orderkey, shipdate>date) pairs."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem")
    semi = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return semi.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).alias("order_count")
    )


# ---------------------------------------------------------------------------
# min_by / max_by (argmin/argmax aggregates, deterministic tiebreak)
# ---------------------------------------------------------------------------
@register(
    "extreme_orders",
    tags=("agg", "argminmax"),
    oracle="""
        SELECT o_orderpriority AS priority,
               CAST(MIN([o_totalprice, CAST(o_orderkey AS DOUBLE)])[2] AS BIGINT)
                   AS cheapest_order,
               CAST(MAX([o_totalprice, CAST(o_orderkey AS DOUBLE)])[2] AS BIGINT)
                   AS priciest_order
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def extreme_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmin/argmax aggregates (min_by/max_by). The ordering value is
    [price, orderkey] so price ties resolve deterministically on the key
    -- both engines compare arrays lexicographically (DuckDB 1.0's
    arg_min rejects list values, so its oracle extracts the embedded key
    from MIN/MAX of the composite instead -- same winner)."""
    orders = load_table(spark, sf_dir, "orders")
    val = F.array(F.col("o_totalprice"), F.col("o_orderkey").cast("double"))
    return orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.min_by("o_orderkey", val).alias("cheapest_order"),
        F.max_by("o_orderkey", val).alias("priciest_order"),
    )


# ---------------------------------------------------------------------------
# Multi-way join: cross-nation trade volume (TPC-H Q7 shape)
# ---------------------------------------------------------------------------
@register(
    "nation_trade_volume",
    tags=("join", "agg"),
    oracle=f"""
        SELECT n2.n_name AS supp_nation,
               n1.n_name AS cust_nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
               {sql_round('SUM(l.l_extendedprice * (1 - l.l_discount))', 2)}
                 AS revenue
        FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN supplier s  ON l.l_suppkey = s.s_suppkey
        JOIN nation n1   ON c.c_nationkey = n1.n_nationkey
        JOIN nation n2   ON s.s_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """,
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-nation trade revenue by (supplier nation, customer nation,
    order year) -- the 5-way join shape (TPC-H Q7). Scale plan: nation /
    supplier / customer are broadcast dims (no shuffle for them); only
    lineitem |X| orders shuffles, on the join key both sides already
    share. Cross-nation filter applies post-join on dim columns."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(
            stable_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Lead/lag window: inter-event gaps per user
# ---------------------------------------------------------------------------
@register(
    "event_gaps",
    tags=("window", "agg", "events"),
    oracle=f"""
        WITH gaps AS (
          SELECT user_id,
                 (epoch_us(ts) - epoch_us(
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 )) / 1e6 AS gap_s
          FROM events
        )
        SELECT user_id,
               CAST(COUNT(gap_s) AS BIGINT)      AS n_gaps,
               {sql_round('AVG(gap_s)', 3)}      AS avg_gap_s,
               {sql_round('MAX(gap_s)', 3)}      AS max_gap_s
        FROM gaps
        GROUP BY user_id
    """,
)
def event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap stats via lag over (ts, event_id) --
    the lead/lag analytic family on the event stream. Single shuffle:
    the window partition key is reused by the groupBy (no second
    Exchange; tests/test_plans.py pattern)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "user_id",
        (
            (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w))
            )
            / 1e6
        ).alias("gap_s"),
    )
    return gaps.groupBy("user_id").agg(
        F.count("gap_s").alias("n_gaps"),
        stable_round(F.avg("gap_s"), 3).alias("avg_gap_s"),
        stable_round(F.max("gap_s"), 3).alias("max_gap_s"),
    )


# ---------------------------------------------------------------------------
# Statistical moment aggregates: corr / covar / stddev
# ---------------------------------------------------------------------------
@register(
    "stat_moments",
    tags=("agg",),
    oracle=f"""
        SELECT l_returnflag,
               {sql_round('corr(l_quantity, l_extendedprice)', 4)}
                 AS qty_price_corr,
               {sql_round('covar_samp(l_quantity, l_extendedprice)', 2)}
                 AS qty_price_covar,
               {sql_round('stddev_samp(l_discount)', 4)}
                 AS discount_stddev
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def stat_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (Pearson corr, sample covariance,
    sample stddev) per return flag -- single-pass partial-aggregable
    statistics (each is a fold over (n, sum x, sum y, sum xy, ...), so
    map-side combine applies at scale like any sum/count)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        stable_round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "qty_price_corr"
        ),
        stable_round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        stable_round(F.stddev_samp("l_discount"), 4).alias("discount_stddev"),
    )


# ---------------------------------------------------------------------------
# Cube (all grouping-set combinations)
# ---------------------------------------------------------------------------
@register(
    "cube_segment_priority",
    tags=("agg", "cube"),
    oracle=f"""
        SELECT c_mktsegment AS segment,
               o_orderpriority AS priority,
               CAST(GROUPING(c_mktsegment) AS BIGINT) * 2
                 + CAST(GROUPING(o_orderpriority) AS BIGINT) AS gid,
               COUNT(*) AS order_count,
               {sql_round('SUM(o_totalprice)', 2)} AS total_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        GROUP BY CUBE (c_mktsegment, o_orderpriority)
    """,
)
def cube_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (segment, priority): all four grouping sets in one
    pass (Expand + single shuffle, not four scans). grouping_id
    disambiguates subtotal NULLs from data NULLs -- same bit order as
    DuckDB's GROUPING(a, b)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .cube(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("order_count"),
            stable_round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Exact WEIGHTED quantile per key (the weighted form Spark SQL lacks)
# ---------------------------------------------------------------------------
@register(
    "weighted_quantile",
    tags=("agg", "percentile", "window"),
    oracle=f"""
        WITH base AS (
          SELECT l_returnflag AS k, l_extendedprice AS v, l_quantity AS w
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
        ),
        c AS (
          SELECT k, v,
                 SUM(w) OVER (PARTITION BY k ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cw,
                 SUM(w) OVER (PARTITION BY k) AS tw
          FROM base
        )
        SELECT k AS l_returnflag, {sql_round('MIN(v)', 4)} AS wq
        FROM c WHERE cw >= 0.5 * tw GROUP BY k
    """,
)
def weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag (operators/
    aggregates.py:weighted_quantile): the smallest price whose
    cumulative quantity weight reaches half the group's total -- the
    left-continuous weighted percentile Spark SQL has no built-in for
    (percentile/percentile_approx weight every row equally; survey
    weights, token counts, and dollar weights need this form). One
    keyed ordered window for the weight cumsum + one hash agg; keyed
    windows spread across reducers, so no single-task melt. The weight
    sums are exact (integer-valued quantities), so the threshold
    comparison is bit-deterministic across engines."""
    from bigdata_storage_and_proccess_job_data_spark.operators import (
        aggregates,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return aggregates.weighted_quantile(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", q=0.5
    ).select("l_returnflag", stable_round(F.col("wq"), 4).alias("wq"))


# ---------------------------------------------------------------------------
# RFM customer segmentation (exact skew-free ntiles + rule-table labels)
# ---------------------------------------------------------------------------
@register(
    "rfm_scores",
    tags=("agg", "window", "rank"),
    oracle=f"""
        WITH per AS (
          SELECT user_id AS u,
                 date_diff('day', MAX(ts)::DATE, DATE '2024-07-01')
                   AS recency_days,
                 COUNT(*) AS frequency,
                 SUM(COALESCE(value, 0.0)) AS monetary
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
          GROUP BY 1
        ),
        n AS (SELECT COUNT(*)::DOUBLE AS c FROM per),
        sc AS (
          SELECT u, recency_days, frequency, monetary,
            CEIL(ROW_NUMBER() OVER (ORDER BY recency_days DESC, u)
                 * 5 / (SELECT c FROM n))::INT AS r_score,
            CEIL(ROW_NUMBER() OVER (ORDER BY frequency ASC, u)
                 * 5 / (SELECT c FROM n))::INT AS f_score,
            CEIL(ROW_NUMBER() OVER (ORDER BY monetary ASC, u)
                 * 5 / (SELECT c FROM n))::INT AS m_score
          FROM per
        )
        SELECT u AS user, CAST(recency_days AS INT) AS recency_days,
               CAST(frequency AS BIGINT) AS frequency,
               {sql_round('monetary', 4)} AS monetary,
               r_score, f_score, m_score,
               CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                    WHEN r_score >= 4 AND f_score <= 1 THEN 'new'
                    WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
                    WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                    ELSE 'regular' END AS segment
        FROM sc
    """,
)
def rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of event users (operators/aggregates.py:
    rfm_scores): recency/frequency/monetary per user, each scored 1..5
    by EXACT population quintile computed with the two-phase skew-free
    global_row_number (no single-task window -- the shape you actually
    run at 100 TB),
    plus the classic rule-table segment label. Ties break on the user
    id, so the scoring is bit-reproducible and engine-replayable."""
    from bigdata_storage_and_proccess_job_data_spark.operators import (
        aggregates,
    )

    events = load_table(spark, sf_dir, "events")
    return aggregates.rfm_scores(
        events, "user_id", "ts", "value", as_of="2024-07-01", n_bins=5
    ).select(
        "user",
        "recency_days",
        "frequency",
        stable_round(F.col("monetary"), 4).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        "segment",
    )


# ---------------------------------------------------------------------------
# Global ordered top-N (sort + limit => TakeOrdered, never a full sort)
# ---------------------------------------------------------------------------
@register(
    "top_revenue_customers",
    tags=("sort", "limit", "join"),
    oracle=f"""
        SELECT c_custkey AS custkey, c_name AS name,
               {sql_round('SUM(o_totalprice)', 2)} AS total_spend
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY 1, 2
        ORDER BY total_spend DESC, custkey ASC
        LIMIT 10
    """,
)
def top_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 customers by spend: orderBy+limit plans as
    TakeOrderedAndProject -- each partition keeps its local top-10 and
    only those reach the driver-side merge, so the global sort never
    materializes (the scale-safe form of ORDER BY ... LIMIT)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(stable_round(F.sum("o_totalprice"), 2).alias("total_spend"))
        .join(
            F.broadcast(
                customer.select(F.col("c_custkey"), F.col("c_name").alias("name"))
            ),
            F.col("custkey") == F.col("c_custkey"),
        )
        .select("custkey", "name", "total_spend")
        .orderBy(F.col("total_spend").desc(), F.col("custkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Range (interval) join: incident windows over the event stream
# ---------------------------------------------------------------------------
@register(
    "range_join_incidents",
    tags=("join", "range", "events"),
    headline=True,
    oracle=f"""
        SELECT i.incident_id,
               CAST(COUNT(*) AS BIGINT)               AS n_events,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
               {sql_round("SUM(e.value)", 2)}         AS total_value
        FROM events e
        JOIN (
          SELECT event_id AS incident_id,
                 ts                        AS start_ts,
                 ts + INTERVAL 10 MINUTE   AS end_ts
          FROM events
          WHERE event_type = 'error' AND value > 9.5
        ) i
          ON e.ts >= i.start_ts AND e.ts < i.end_ts
        GROUP BY i.incident_id
    """,
)
def range_join_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-range join (operators/rangejoin.py): high-severity error
    events open 10-minute incident windows; every event inside a window
    is attributed to it. Bin-and-verify turns the interval predicate into
    a shuffle equi-join on a long bin key (the naive predicate-only form
    plans as BroadcastNestedLoopJoin -- quadratic at 100 TB)."""
    from bigdata_storage_and_proccess_job_data_spark.operators.rangejoin import (
        point_in_range_join,
    )

    events = load_table(spark, sf_dir, "events")
    incidents = events.filter(
        (F.col("event_type") == "error") & (F.col("value") > 9.5)
    ).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"),
    )
    joined = point_in_range_join(
        events.select("ts", "user_id", "value"),
        incidents,
        point_ts="ts",
        start_ts="start_ts",
        end_ts="end_ts",
        bin_seconds=600,
    )
    return joined.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        stable_round(F.sum("value"), 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Model-eval gate: confusion counts + precision/recall/F1
# ---------------------------------------------------------------------------
@register(
    "classification_report",
    tags=("agg", "eval", "quality"),
    oracle=f"""
        WITH base AS (
          SELECT o_orderstatus AS k,
                 (o_custkey % 2 = 1) AS y,
                 (o_orderkey % 3 = 0) AS p
          FROM orders
        ),
        c AS (
          SELECT k, COUNT(*)::BIGINT AS n,
                 SUM(CASE WHEN y AND p THEN 1 ELSE 0 END)::BIGINT AS tp,
                 SUM(CASE WHEN NOT y AND p THEN 1 ELSE 0 END)::BIGINT AS fp,
                 SUM(CASE WHEN y AND NOT p THEN 1 ELSE 0 END)::BIGINT AS fn,
                 SUM(CASE WHEN NOT y AND NOT p THEN 1 ELSE 0 END)::BIGINT
                   AS tn
          FROM base GROUP BY k
        ),
        m AS (
          SELECT k, n, tp, fp, fn, tn,
                 (tp + tn) * 1.0 / n AS accuracy,
                 CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp) END
                   AS precision,
                 CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn) END
                   AS recall
          FROM c
        )
        SELECT k AS o_orderstatus, n, tp, fp, fn, tn,
               {sql_round('accuracy', 8)} AS accuracy,
               {sql_round('precision', 8)} AS precision,
               {sql_round('recall', 8)} AS recall,
               {sql_round(
                   'CASE WHEN precision IS NOT NULL AND recall IS NOT NULL '
                   'AND precision + recall > 0 THEN 2 * precision * recall '
                   '/ (precision + recall) END', 8
               )} AS f1
        FROM m
    """,
)
def classification_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice confusion matrix + precision/recall/F1
    (operators/aggregates.py:classification_report) over orders with
    deterministic key-derived label/prediction -- the model-eval gate a
    labeling pipeline runs before shipping a filter model. ONE
    conditional hash aggregation per key (tp/fp/fn/tn as sibling
    CASE-gated sums); degenerate slices report NULL, not 0 (no predicted
    positives -> precision NULL), and the oracle recomputes every metric
    from the same counts. Oracle lifted verbatim from
    tests/test_mining.py:test_classification_report_pins_and_parity."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        (F.col("o_custkey") % 2).cast("double").alias("y"),
        (F.col("o_orderkey") % 3 == 0).cast("double").alias("p"),
    )
    return aggregates.classification_report(
        orders, "y", "p", keys=["o_orderstatus"]
    ).select(
        "o_orderstatus",
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        stable_round(F.col("accuracy"), 8).alias("accuracy"),
        stable_round(F.col("precision"), 8).alias("precision"),
        stable_round(F.col("recall"), 8).alias("recall"),
        stable_round(F.col("f1"), 8).alias("f1"),
    )


# ---------------------------------------------------------------------------
# Frame-bounded window: per-customer moving average
# ---------------------------------------------------------------------------
@register(
    "rolling_order_avg",
    tags=("window", "frame"),
    oracle=f"""
        SELECT o_custkey, o_orderkey,
               {sql_round("AVG(o_totalprice) OVER ("
                          "PARTITION BY o_custkey "
                          "ORDER BY o_orderdate ASC, o_orderkey ASC "
                          "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)", 2)}
                   AS avg_last3
        FROM orders
        WHERE o_custkey < 200
    """,
)
def rolling_order_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS-frame moving average (3-order trailing window per customer)
    -- the frame-bounded analytic the reference lacks (§2.6). One
    shuffle on o_custkey; the frame is evaluated in a single sorted
    pass per partition, state = 3 rows."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-2, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        stable_round(F.avg("o_totalprice").over(w), 2).alias("avg_last3"),
    )


# ---------------------------------------------------------------------------
# Percent-of-total: nation revenue share (window over the whole frame)
# ---------------------------------------------------------------------------
@register(
    "nation_revenue_share",
    tags=("window", "agg", "join"),
    oracle=f"""
        WITH nat AS (
          SELECT n_name,
                 SUM(o_totalprice) AS revenue
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          GROUP BY n_name
        )
        SELECT n_name,
               {sql_round("revenue", 2)} AS revenue,
               {sql_round("100.0 * revenue / SUM(revenue) OVER ()", 4)}
                   AS pct_of_total
        FROM nat
    """,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total via an unpartitioned window over the PRE-AGGREGATED
    frame (25 nation rows) -- the global window costs a single-partition
    exchange of 25 rows, never of the fact table; the heavy lifting stays
    a partial+final hash agg after two broadcast dim joins."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    nat = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy()
    return nat.select(
        "n_name",
        stable_round(F.col("revenue"), 2).alias("revenue"),
        stable_round(100.0 * F.col("revenue") / F.sum("revenue").over(w), 4).alias(
            "pct_of_total"
        ),
    )


# ---------------------------------------------------------------------------
# Skewed-key aggregation: salted two-phase (the agg-side skew fix)
# ---------------------------------------------------------------------------
@register(
    "skewed_hot_key_agg",
    tags=("agg", "skew"),
    oracle="""
        SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 'MEGACORP'
                    ELSE 'supp_' || CAST(l_suppkey AS VARCHAR) END AS company,
               CAST(COUNT(*) AS BIGINT) AS line_count,
               SUM(l_quantity)          AS total_qty,
               MAX(l_extendedprice)     AS max_price
        FROM lineitem
        GROUP BY 1
    """,
)
def skewed_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over a deliberately pathological key: ~75% of lineitem
    rows map to one hot 'MEGACORP' company (the reference's company_name
    dimension has the same shape -- a handful of staffing agencies post
    most jobs, SURVEY.md §7.2.6). A plain groupBy sends every MEGACORP
    row to ONE reducer; operators/aggregates.py:salted_two_phase spreads
    them over 16 salted reducers and re-aggregates the partials, so the
    final shuffle carries key_cardinality x 16 partial rows instead of
    the fact table. Measures are exact-in-double (counts, integral
    quantities, max), so two-phase re-association cannot drift from the
    oracle's single-pass sums. Plan pinned by
    tests/test_plans.py::test_skewed_agg_is_two_phase_salted."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    li = load_table(spark, sf_dir, "lineitem")
    company = F.when(F.col("l_orderkey") % 4 != 0, F.lit("MEGACORP")).otherwise(
        F.concat(F.lit("supp_"), F.col("l_suppkey").cast("string"))
    )
    return aggregates.salted_two_phase(
        li,
        company,
        {
            "line_count": ("count", None),
            "total_qty": ("sum", "l_quantity"),
            "max_price": ("max", "l_extendedprice"),
        },
        key_name="company",
    )


# ---------------------------------------------------------------------------
# Interval coalescing: gaps-and-islands merge
# ---------------------------------------------------------------------------
@register(
    "merge_intervals",
    tags=("window", "range", "agg"),
    oracle="""
        WITH base AS (
          SELECT o_orderstatus AS k,
                 o_orderkey % 1000 AS s,
                 (o_orderkey % 1000) + (o_custkey % 50) AS e
          FROM orders
        ),
        f AS (
          SELECT k, s, e,
                 CASE WHEN MAX(e) OVER (
                        PARTITION BY k ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ) IS NULL
                      OR s > MAX(e) OVER (
                        PARTITION BY k ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      )
                      THEN 1 ELSE 0 END AS new
          FROM base
        ),
        i AS (
          SELECT k, s, e,
                 SUM(new) OVER (PARTITION BY k ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
          FROM f
        )
        SELECT k AS o_orderstatus,
               CAST(MIN(s) AS BIGINT) AS span_start,
               CAST(MAX(e) AS BIGINT) AS span_end,
               COUNT(*)::BIGINT AS n_spans
        FROM i GROUP BY k, island
    """,
)
def merge_intervals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalescing per key
    (operators/rangejoin.py:merge_intervals) on integer intervals
    derived from orders: overlapping or touching spans merge into one
    island via the running-max-of-prior-ends window, disjoint spans stay
    apart -- the span-consolidation step duplicate_ngram_spans' excision
    pipeline wants. One keyed sort-window pass + one hash agg per
    island; no join, no self-pairing. Oracle lifted verbatim from
    tests/test_joins.py:test_merge_intervals_islands_and_parity."""
    from bigdata_storage_and_proccess_job_data_spark.operators import rangejoin

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        (F.col("o_orderkey") % 1000).alias("s"),
        ((F.col("o_orderkey") % 1000) + (F.col("o_custkey") % 50)).alias(
            "e"
        ),
    )
    return rangejoin.merge_intervals(
        orders, "s", "e", keys=["o_orderstatus"]
    ).select(
        "o_orderstatus",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "n_spans",
    )


# ---------------------------------------------------------------------------
# Hot-key split join (known hot keys broadcast; fact rows never shuffle)
# ---------------------------------------------------------------------------
@register(
    "hot_key_split_join",
    tags=("join", "skew"),
    oracle="""
        WITH o AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 4 <> 0 THEN 7
                      ELSE o_custkey END AS c_custkey,
                 o_totalprice
          FROM orders
        )
        SELECT o.c_custkey, o.o_orderkey, o.o_totalprice, c.c_mktsegment
        FROM o JOIN customer c USING (c_custkey)
    """,
)
def hot_key_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-join via known-hot-key split (operators/joins.py:
    hot_key_split_join): three quarters of the fact's foreign keys are
    forced onto ONE customer, and the split routes that hot slice
    map-side against a broadcast of the single hot dimension row while
    the cold remainder takes a uniform shuffle -- the step past AQE's
    chunked skew split, because the hot fact rows never cross the wire
    at all. Value-identical to the oracle's plain inner join;
    test_joins.py pins the BroadcastHashJoin + shuffled-join union in
    the physical plan."""
    from bigdata_storage_and_proccess_job_data_spark.operators import joins

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 4 != 0, F.lit(7))
        .otherwise(F.col("o_custkey"))
        .alias("c_custkey"),
        "o_totalprice",
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return joins.hot_key_split_join(orders, customer, "c_custkey", [7])


# ---------------------------------------------------------------------------
# Time-series gap filling (calendar densification)
# ---------------------------------------------------------------------------
@register(
    "daily_activity_gapfill",
    tags=("timeseries", "explode", "join"),
    oracle="""
        WITH d AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ),
        span AS (
          SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM d GROUP BY 1
        ),
        cal AS (
          SELECT user_id,
                 CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                   AS day
          FROM span
        )
        SELECT c.user_id, c.day, COALESCE(d.n, 0) AS n_events
        FROM cal c LEFT JOIN d ON c.user_id = d.user_id AND c.day = d.day
    """,
)
def daily_activity_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: every day in each user's active span gets
    a row, zero-filled where no events happened -- the gap-filling step
    timeseries stores build in (and plain SQL lacks). sequence(lo, hi)
    explodes per user (bounded by span days), then a left join back to
    the daily counts; both sides shuffle on (user, day) only. The
    daily frame feeds the span agg AND the join back, so it is
    checkpointed (the bh_adjust convention) -- raw events scan and
    aggregate exactly once, not once per consumer."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    cal = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    return cal.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Unpivot (wide -> long)
# ---------------------------------------------------------------------------
@register(
    "part_measures_unpivot",
    tags=("reshape",),
    oracle="""
        SELECT p_partkey, 'retailprice' AS measure,
               CAST(p_retailprice AS DOUBLE) AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'size' AS measure, CAST(p_size AS DOUBLE) AS value
        FROM part
    """,
)
def part_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape via the native unpivot operator (Expand node
    -- one pass, no self-union re-scan like the SQL UNION ALL form the
    oracle uses). Pivot's inverse, completing the reshape pair."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    return part.unpivot(
        ["p_partkey"], ["retailprice", "size"], "measure", "value"
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (disjoint dimension margins in one pass)
# ---------------------------------------------------------------------------
@register(
    "grouping_sets_mix",
    tags=("agg", "rollup", "sql"),
    oracle="""
        SELECT c_mktsegment, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority))
    """,
)
def grouping_sets_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS -- two disjoint margins (per-segment and
    per-priority totals) from ONE Expand pass over one scan, where
    rollup/cube would force the full lattice. Runs through the spark.sql
    surface on registered views."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority))
        """
    )


# ---------------------------------------------------------------------------
# Window first/last/nth value (full-frame analytics)
# ---------------------------------------------------------------------------
@register(
    "order_window_extremes",
    tags=("window",),
    oracle="""
        SELECT DISTINCT o_custkey,
               first_value(o_totalprice) OVER w AS first_price,
               last_value(o_totalprice)  OVER w AS last_price,
               nth_value(o_totalprice, 3) OVER w AS third_price
        FROM orders
        WINDOW w AS (
          PARTITION BY o_custkey
          ORDER BY o_orderdate ASC, o_orderkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        )
    """,
)
def order_window_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over the FULL partition frame: each
    customer's first, latest, and third-ever order price in one window
    pass. The explicit UNBOUNDED FOLLOWING frame matters -- the default
    frame ends at CURRENT ROW, where last_value degenerates to the row
    itself (a classic silent-wrong-answer; both engines agree only with
    the frame spelled out)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 3).over(w).alias("third_price"),
    ).distinct()


# ---------------------------------------------------------------------------
# Data quality: cross-table FK audit
# ---------------------------------------------------------------------------
@register(
    "fk_integrity_report",
    tags=("agg", "join", "quality"),
    oracle=f"""
        WITH f AS (
          SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL
                      WHEN o_orderkey % 7 = 0 THEN o_custkey + 1000000
                      ELSE o_custkey END AS fk
          FROM orders
        ),
        fa AS (
          SELECT COUNT(*)::BIGINT AS n_fact,
                 COALESCE(SUM(CASE WHEN fk IS NULL THEN 1 ELSE 0 END),
                          0)::BIGINT AS n_null_fk
          FROM f
        ),
        o AS (
          SELECT COUNT(*)::BIGINT AS n_orphans
          FROM f WHERE fk IS NOT NULL
            AND fk NOT IN (SELECT c_custkey FROM customer)
        ),
        d AS (
          SELECT COUNT(*)::BIGINT AS n_dim,
                 (COUNT(c_custkey) - COUNT(DISTINCT c_custkey))::BIGINT
                   AS n_dup_pk,
                 COALESCE(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END),
                          0)::BIGINT AS n_null_pk
          FROM customer
        )
        SELECT n_fact, n_null_fk, n_orphans,
               {sql_round('n_orphans * 1.0 / (n_fact - n_null_fk)', 6)}
                 AS orphan_rate,
               n_dim, n_dup_pk, n_null_pk,
               n_orphans = 0 AND n_dup_pk = 0 AND n_null_pk = 0 AS ok
        FROM fa, o, d
    """,
)
def fk_integrity_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity gate (operators/aggregates.py:
    fk_integrity_report) on orders -> customer with deterministic
    planted defects: every 7th order's custkey shifted out of range
    (orphans) and every 13th NULLed (excused missingness) -- the
    cross-table join-health check. Scale shape: one fact scan
    projected to the fk, left-joined against the DISTINCT dim key set (one shuffle), one
    conditional-count hash agg per side, the two one-row frames meeting
    in a broadcast join."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    orders = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None).cast("long"))
        .when(F.col("o_orderkey") % 7 == 0, F.col("o_custkey") + 1_000_000)
        .otherwise(F.col("o_custkey"))
        .alias("fk")
    )
    customer = load_table(spark, sf_dir, "customer")
    return aggregates.fk_integrity_report(
        orders, customer, "fk", "c_custkey"
    ).select(
        "n_fact",
        "n_null_fk",
        "n_orphans",
        stable_round(F.col("orphan_rate"), 6).alias("orphan_rate"),
        "n_dim",
        "n_dup_pk",
        "n_null_pk",
        "ok",
    )


# ---------------------------------------------------------------------------
# Data quality: snapshot row-diff
# ---------------------------------------------------------------------------
@register(
    "table_diff",
    tags=("join", "quality", "setop"),
    oracle="""
        WITH o AS (
          SELECT o_orderkey AS k, o_orderstatus AS s, o_totalprice AS p
          FROM orders
        ),
        n AS (
          SELECT o_orderkey AS k, o_orderstatus AS s,
                 CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                      ELSE o_totalprice END AS p
          FROM orders WHERE o_orderkey % 11 <> 0
          UNION ALL
          SELECT * FROM (VALUES (10000001, 'O', 1.0),
                                (10000002, 'F', 2.0)) t(k, s, p)
        ),
        j AS (
          SELECT COALESCE(o.k, n.k) AS k,
                 o.k IS NOT NULL AS in_old,
                 n.k IS NOT NULL AS in_new,
                 list_filter([
                   CASE WHEN o.s IS DISTINCT FROM n.s THEN 's' END,
                   CASE WHEN o.p IS DISTINCT FROM n.p THEN 'p' END
                 ], x -> x IS NOT NULL) AS ch
          FROM o FULL OUTER JOIN n ON o.k = n.k
        )
        SELECT k AS o_orderkey,
               CASE WHEN NOT in_old THEN 'added'
                    WHEN NOT in_new THEN 'removed'
                    WHEN len(ch) > 0 THEN 'changed'
                    ELSE 'unchanged' END AS status,
               CASE WHEN in_old AND in_new AND len(ch) > 0
                    THEN list_aggregate(
                      list_transform(ch, x ->
                        CASE x WHEN 's' THEN 'o_orderstatus'
                               ELSE 'o_totalprice' END),
                      'string_agg', ',')
                    ELSE '' END AS changed_cols
        FROM j
    """,
)
def table_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff (operators/joins.py:table_diff) of
    orders against a deterministically mutated copy -- every 11th row
    deleted, every 5th price bumped, two rows inserted -- the
    data-regression readout a pipeline runs between yesterday's output
    and today's (snapshot_change_feed serves versioned tables; this
    serves ANY two frames). changed_cols is flattened to a CSV string
    so the driver's column-sorted value hash sees identical scalars on
    both engines. Scale shape: ONE full-outer join on the key,
    everything else codegen'd null-safe column comparisons -- no
    windows, no second shuffle."""
    from bigdata_storage_and_proccess_job_data_spark.operators import joins

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    mutated = (
        orders.filter(F.col("o_orderkey") % 11 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            local_frame(
                spark,
                [(10_000_001, "O", 1.0), (10_000_002, "F", 2.0)],
                "o_orderkey long, o_orderstatus string, o_totalprice double",
            )
        )
    )
    return joins.table_diff(orders, mutated, ["o_orderkey"]).select(
        "o_orderkey",
        "status",
        F.array_join("changed_cols", ",").alias("changed_cols"),
    )


# ---------------------------------------------------------------------------
# Data quality: column-profile drift diff (the column-level sibling
# of table_diff's row-level diff)
# ---------------------------------------------------------------------------
@register(
    "profile_diff",
    tags=("agg", "quality", "drift"),
    oracle=f"""
        WITH po AS (
          SELECT 'o_custkey' AS "column",
                 {sql_round('SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)', 4)} AS nf,
                 COUNT(DISTINCT o_custkey)::BIGINT AS nd,
                 {sql_round('AVG(o_custkey)', 4)} AS mean,
                 {sql_round('stddev_samp(o_custkey)', 4)} AS sd
          FROM orders
          UNION ALL
          SELECT 'o_totalprice',
                 {sql_round('SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)', 4)},
                 COUNT(DISTINCT o_totalprice)::BIGINT,
                 {sql_round('AVG(o_totalprice)', 4)},
                 {sql_round('stddev_samp(o_totalprice)', 4)}
          FROM orders
          UNION ALL
          SELECT 'o_orderstatus',
                 {sql_round('SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)', 4)},
                 COUNT(DISTINCT o_orderstatus)::BIGINT,
                 NULL, NULL
          FROM orders
        ),
        pn AS (
          SELECT 'o_custkey' AS "column",
                 {sql_round('SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)', 4)} AS nf,
                 COUNT(DISTINCT k)::BIGINT AS nd,
                 {sql_round('AVG(k)', 4)} AS mean,
                 {sql_round('stddev_samp(k)', 4)} AS sd
          FROM (SELECT CASE WHEN o_custkey % 13 <> 0 THEN o_custkey END AS k
                FROM orders)
          UNION ALL
          SELECT 'o_totalprice',
                 {sql_round('SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)', 4)},
                 COUNT(DISTINCT p)::BIGINT,
                 {sql_round('AVG(p)', 4)},
                 {sql_round('stddev_samp(p)', 4)}
          FROM (SELECT o_totalprice + 100000.0 AS p FROM orders)
          UNION ALL
          SELECT 'o_orderstatus',
                 {sql_round('SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)', 4)},
                 COUNT(DISTINCT o_orderstatus)::BIGINT,
                 NULL, NULL
          FROM orders
        ),
        d AS (
          SELECT po."column",
                 ABS(pn.nf - po.nf) > 0.01 AS nf_trip,
                 po.nd > 0 AND pn.nd > 0 AND (
                   pn.nd * 1.0 / po.nd > 1.5 OR po.nd * 1.0 / pn.nd > 1.5
                 ) AS nd_trip,
                 po.mean IS NOT NULL AND pn.mean IS NOT NULL
                   AND po.sd > 0
                   AND ABS(pn.mean - po.mean) > 0.25 * po.sd AS mean_trip,
                 po.nf AS null_frac_old, pn.nf AS null_frac_new,
                 po.nd AS n_distinct_old, pn.nd AS n_distinct_new,
                 po.mean AS mean_old, pn.mean AS mean_new
          FROM po JOIN pn USING ("column")
        )
        SELECT "column",
               CASE WHEN COALESCE(nf_trip, false) OR COALESCE(nd_trip, false)
                      OR COALESCE(mean_trip, false)
                    THEN 'drifted' ELSE 'stable' END AS status,
               COALESCE(list_aggregate(list_filter([
                 CASE WHEN COALESCE(nf_trip, false) THEN 'null_frac' END,
                 CASE WHEN COALESCE(nd_trip, false) THEN 'n_distinct' END,
                 CASE WHEN COALESCE(mean_trip, false) THEN 'mean' END
               ], x -> x IS NOT NULL), 'string_agg', ','), '') AS flags,
               null_frac_old, null_frac_new,
               n_distinct_old, n_distinct_new,
               mean_old, mean_new
        FROM d
    """,
)
def profile_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile drift diff
    (operators/aggregates.py:profile_diff) of orders against a
    deterministically mutated snapshot -- every 13th custkey nulled (a
    NULL influx that also halves distincts) and every price shifted by a
    constant (a mean shift) -- the schema/distribution drift alarm a
    pipeline runs beside table_diff's row-level one. Scale shape: one
    profile aggregation per side (sibling conditional sums per column,
    exact distincts here; approx_count_distinct is the stated scale
    default), then ONE full-outer sort-merge join on the BOUNDED
    per-column frames (columns x 1 rows a side; full outer cannot
    broadcast in Spark -- the SMJ inputs are column-count-sized, so
    the sort is free). flags flatten to CSV for the driver's scalar
    hash. Plan pinned in test_r13_promoted_query_plan_pins. Oracle
    lifted verbatim from
    tests/test_mining.py:test_profile_diff_statuses_and_parity."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderstatus"
    )
    mutated = orders.select(
        F.when(F.col("o_custkey") % 13 != 0, F.col("o_custkey")).alias(
            "o_custkey"
        ),
        (F.col("o_totalprice") + 100000.0).alias("o_totalprice"),
        "o_orderstatus",
    )
    return aggregates.profile_diff(
        orders, mutated, distinct="exact"
    ).select(
        "column",
        "status",
        F.array_join("flags", ",").alias("flags"),
        "null_frac_old",
        "null_frac_new",
        "n_distinct_old",
        "n_distinct_new",
        "mean_old",
        "mean_new",
    )


# ---------------------------------------------------------------------------
# Ordered event funnel: view -> click -> purchase
# ---------------------------------------------------------------------------
@register(
    "funnel_view_click_purchase",
    tags=("events", "funnel", "join"),
    oracle="""
        WITH s1 AS (
          SELECT user_id, MIN(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s1.t1
          GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          GROUP BY e.user_id
        )
        SELECT * FROM (VALUES
          (CAST(0 AS BIGINT), 'view',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s1)),
          (CAST(1 AS BIGINT), 'click',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)),
          (CAST(2 AS BIGINT), 'purchase',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM s3))
        ) AS t(step_index, step, users)
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel over the event stream
    (operators/funnel.py): users whose earliest click follows their
    earliest view, then earliest purchase after that click. One
    aggregation per step, every stage keyed by user_id so the exchange
    is reusable and each stage's input shrinks to the surviving
    funnel population."""
    from bigdata_storage_and_proccess_job_data_spark.operators import funnel

    events = load_table(spark, sf_dir, "events")
    return funnel.funnel_counts(events, ["view", "click", "purchase"])


# ---------------------------------------------------------------------------
# Cohort retention matrix: first-activity month x month offset
# ---------------------------------------------------------------------------
@register(
    "retention_matrix",
    tags=("events", "agg", "join"),
    oracle=f"""
        WITH active AS (
          SELECT DISTINCT user_id AS u,
                 CAST(date_trunc('day', ts) AS DATE) AS p
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        firsts AS (SELECT u, MIN(p) AS cohort FROM active GROUP BY u),
        cells AS (
          SELECT f.cohort,
                 CAST(date_diff('day', f.cohort, a.p) AS BIGINT)
                   AS period_offset,
                 CAST(COUNT(*) AS BIGINT) AS n_users
          FROM active a JOIN firsts f USING (u)
          GROUP BY 1, 2
        ),
        sizes AS (
          SELECT cohort, COUNT(*) AS sz FROM firsts GROUP BY cohort
        )
        SELECT c.cohort, c.period_offset, c.n_users,
               {sql_round('c.n_users * 1.0 / s.sz', 6)} AS retention
        FROM cells c JOIN sizes s USING (cohort)
    """,
)
def retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix at DAY grain (operators/funnel.py:
    retention_matrix): users grouped by their first-activity day,
    counted in every later day they show any event, with the retention
    ratio against broadcast cohort sizes -- the growth readout
    generalizing the former signup-anchored cohort_retention query.
    Day grain because the fixture's events span one month -- coarser
    grains collapse the matrix to a near-single cell;
    the week-grain and month-offset forms keep full DuckDB parity in
    tests/test_ranking_funnel.py. Scale shape: one (user, day)
    distinct (the value is its own salt), one min-per-user hash agg,
    one shuffle join on the user key, one hash agg to (cohort, offset),
    one broadcast join of the bounded cohort-size table."""
    from bigdata_storage_and_proccess_job_data_spark.operators import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel.retention_matrix(ev, period="day").select(
        "cohort",
        "period_offset",
        "n_users",
        stable_round(F.col("retention"), 6).alias("retention"),
    )


# ---------------------------------------------------------------------------
# Skewed-key distinct counting: naive hot-reducer form vs spread rewrite
# ---------------------------------------------------------------------------
# The same deliberately Zipf-ish key as skewed_hot_key_agg: ~75% of
# lineitem rows collapse onto one 'MEGACORP' company. Deterministic,
# generated in-engine from l_orderkey/l_suppkey -- no synthetic table.
_ZIPF_COMPANY_SQL = (
    "CASE WHEN l_orderkey % 4 <> 0 THEN 'MEGACORP' "
    "ELSE 'supp_' || CAST(l_suppkey AS VARCHAR) END"
)
_SKEW_DISTINCT_ORACLE = f"""
    SELECT {_ZIPF_COMPANY_SQL} AS company,
           CAST(COUNT(DISTINCT
             CAST(l_orderkey AS VARCHAR) || '-' ||
             CAST(l_linenumber AS VARCHAR)
           ) AS BIGINT) AS n_line_uids
    FROM lineitem
    GROUP BY 1
"""


def _zipf_company() -> "F.Column":
    return F.when(
        F.col("l_orderkey") % 4 != 0, F.lit("MEGACORP")
    ).otherwise(F.concat(F.lit("supp_"), F.col("l_suppkey").cast("string")))


def _line_uid() -> "F.Column":
    # per-row-unique string (the distinct session-id / user-id shape):
    # the WORST case for the naive collect_set path -- nothing dedups
    # map-side, the hot key's full value set funnels into one reducer
    return F.concat_ws(
        "-",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )


def _line_uid_long() -> "F.Column":
    # The same per-row-unique line uid packed INJECTIVELY into a long
    # (l_linenumber is 1..7 in the TPC-H-shaped fixtures, so *8 + ln
    # never collides with another line): COUNT(DISTINCT) over an
    # injective image is the identical number, and the skew twins'
    # distinct shuffle moves 8-byte longs instead of ~10-char strings
    # -- the guide's "narrower types" lever (~2x fewer exchange
    # bytes AND long-keyed hash aggs instead of string-keyed). The
    # string form stays for kmv_zipf_build, whose md5-keyed sketch
    # values are defined over the string uid.
    return F.col("l_orderkey") * 8 + F.col("l_linenumber")


@register(
    "skew_distinct_spread",
    headline=True,
    tags=("agg", "skew", "distinct"),
    oracle=_SKEW_DISTINCT_ORACLE,
)
def skew_distinct_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact distinct count via the skew-safe two-phase rewrite
    (operators/aggregates.py:count_distinct_spread): shuffle (key,
    value) pairs first -- the value spreads the hot key over every
    reducer -- then count pre-deduped pairs. Identical oracle to
    skew_distinct_naive; the bench pair's wall-time delta is the
    README's skew-machinery number."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    li = load_table(spark, sf_dir, "lineitem")
    return aggregates.count_distinct_spread(
        li,
        _zipf_company(),
        _line_uid_long(),
        key_name="company",
        out="n_line_uids",
    )


# ---------------------------------------------------------------------------
# Join planning: exact join-size + hot-key-share pre-flight
# ---------------------------------------------------------------------------
@register(
    "join_size_report",
    tags=("join", "skew", "agg"),
    oracle=f"""
        WITH f AS (
          SELECT CASE WHEN o_orderkey % 7 = 0
                      THEN o_custkey + 1000000
                      ELSE o_custkey END AS k
          FROM orders
        ),
        lk AS (SELECT k, COUNT(*) AS c FROM f GROUP BY k),
        rk AS (SELECT c_custkey AS k, COUNT(*) AS c FROM customer GROUP BY 1),
        ls AS (
          SELECT COALESCE(SUM(c), 0)::BIGINT AS n_left,
                 COALESCE(SUM(CASE WHEN k IS NULL THEN c END), 0)::BIGINT
                   AS n_left_null_key,
                 COUNT(CASE WHEN k IS NOT NULL THEN 1 END)::BIGINT
                   AS n_left_keys
          FROM lk
        ),
        rs AS (
          SELECT COALESCE(SUM(c), 0)::BIGINT AS n_right,
                 COALESCE(SUM(CASE WHEN k IS NULL THEN c END), 0)::BIGINT
                   AS n_right_null_key,
                 COUNT(CASE WHEN k IS NOT NULL THEN 1 END)::BIGINT
                   AS n_right_keys
          FROM rk
        ),
        ms AS (
          SELECT COUNT(*)::BIGINT AS n_matched_keys,
                 COALESCE(SUM(lk.c * rk.c), 0)::BIGINT AS n_out_inner,
                 COALESCE(MAX(lk.c * rk.c), 0)::BIGINT AS max_key_out
          FROM lk JOIN rk USING (k)
          WHERE k IS NOT NULL
        )
        SELECT n_left, n_right, n_left_null_key, n_right_null_key,
               n_left_keys, n_right_keys, n_matched_keys, n_out_inner,
               max_key_out,
               {sql_round(
                   'CASE WHEN n_out_inner > 0 '
                   'THEN max_key_out * 1.0 / n_out_inner END', 8
               )} AS top_share
        FROM ls, rs, ms
    """,
)
def join_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact inner-join size + hot-key-share pre-flight
    (operators/joins.py:join_size_report) over orders x customer with
    ~1/7 of the fk values perturbed into planted orphans: computes
    EXACTLY how many rows the equi-join would emit (sum over matched
    keys of cl*cr), NULL-key counts per side, and the hottest key's
    output share -- the number AQE only learns mid-query, read BEFORE
    the shuffle to pick broadcast vs salt vs bucket. Report ==
    executed-join equality, empty-side zero semantics, and full DuckDB
    replay are pinned in
    tests/test_joins.py:test_join_size_report_exactness_and_parity
    (same oracle). Scale shape: one key-grain hash agg per side, one
    equi-join of the two DISTINCT key frames (payloads never move),
    three bounded one-row aggregates met by one-row broadcast cross
    joins (the impute_mean waiver class)."""
    from bigdata_storage_and_proccess_job_data_spark.operators import joins

    orders = load_table(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_custkey") + 1_000_000
        ).otherwise(F.col("o_custkey")).alias("fk")
    )
    customer = load_table(spark, sf_dir, "customer")
    return joins.join_size_report(orders, customer, "fk", "c_custkey").select(
        "n_left",
        "n_right",
        "n_left_null_key",
        "n_right_null_key",
        "n_left_keys",
        "n_right_keys",
        "n_matched_keys",
        "n_out_inner",
        "max_key_out",
        stable_round(F.col("top_share"), 8).alias("top_share"),
    )
