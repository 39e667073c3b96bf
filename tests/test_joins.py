"""Join helpers: null-skew bypass equivalence and upsert-log compaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.operators import joins


def test_point_in_range_join_matches_naive_predicate_join(spark, sf_dir):
    from bigdata_storage_and_proccess_job_data_spark.operators.rangejoin import (
        point_in_range_join,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    ranges = (
        events.filter(F.col("event_id") % 97 == 0)
        .select(
            F.col("event_id").alias("range_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 7 MINUTES")).alias("end_ts"),
        )
    )
    fast = point_in_range_join(
        events, ranges, "ts", "start_ts", "end_ts", bin_seconds=180
    ).select("event_id", "range_id")
    naive = events.join(
        ranges,
        (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")),
    ).select("event_id", "range_id")
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, naive.collect()))


def test_point_in_range_join_half_open_and_partition_key(spark):
    from bigdata_storage_and_proccess_job_data_spark.operators.rangejoin import (
        point_in_range_join,
    )

    points = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7), (2, "2024-01-01 10:05:00", 7),
         (3, "2024-01-01 10:05:00", 8)],
        "pid INT, ts STRING, tenant INT",
    ).withColumn("ts", F.to_timestamp("ts"))
    ranges = spark.createDataFrame(
        [(100, "2024-01-01 10:00:00", "2024-01-01 10:05:00", 7)],
        "rid INT, s STRING, e STRING, rtenant INT",
    ).withColumn("s", F.to_timestamp("s")).withColumn("e", F.to_timestamp("e"))

    out = point_in_range_join(
        points, ranges, "ts", "s", "e", bin_seconds=60,
        partition_key=("tenant", "rtenant"),
    ).select("pid", "rid").collect()
    # start inclusive, end exclusive, tenant 8 filtered by the equi key
    assert sorted((r.pid, r.rid) for r in out) == [(1, 100)]


def test_point_in_range_join_left_keeps_unmatched_points(spark):
    """how='left': the containment predicate lives in the join condition,
    so unmatched points survive with null range columns instead of being
    eaten by a post-join filter (ADVICE r1)."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.operators.rangejoin import (
        point_in_range_join,
    )

    points = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 23:00:00")],
        "pid INT, ts STRING",
    ).withColumn("ts", F.to_timestamp("ts"))
    ranges = spark.createDataFrame(
        [(100, "2024-01-01 10:00:00", "2024-01-01 10:05:00")],
        "rid INT, s STRING, e STRING",
    ).withColumn("s", F.to_timestamp("s")).withColumn("e", F.to_timestamp("e"))

    out = point_in_range_join(
        points, ranges, "ts", "s", "e", bin_seconds=60, how="left"
    )
    rows = {r.pid: r.rid for r in out.collect()}
    assert rows == {1: 100, 2: None}, "unmatched point must pass through once"
    with pytest.raises(ValueError, match="inner"):
        point_in_range_join(points, ranges, "ts", "s", "e", how="full")


def test_asof_join_tolerance(spark):
    """merge_asof-style tolerance: the matched right row is nulled when
    it is staler than the bound; within the bound it is the normal
    backward match; a huge tolerance is identical to no tolerance.
    Plan shape unchanged (one window fill, no range join)."""
    import datetime as dt

    from bigdata_storage_and_proccess_job_data_spark.operators.asof import asof_join

    t = dt.datetime(2024, 3, 1, 9, 0, 0)

    def ts(minutes):
        return t + dt.timedelta(minutes=minutes)

    quotes = spark.createDataFrame(
        [(1, ts(0), 10.0), (1, ts(80), 11.0), (2, ts(0), 99.0)],
        "k LONG, qts TIMESTAMP, price DOUBLE",
    )
    trades = spark.createDataFrame(
        [(1, ts(60)), (1, ts(90)), (2, ts(300)), (3, ts(10))],
        "k LONG, tts TIMESTAMP",
    )

    def run(tol):
        rows = asof_join(
            trades, quotes, "k", "tts", "qts", ["price"], tolerance=tol
        ).collect()
        return {(r.k, r.tts.minute + 60 * r.tts.hour): r.price_asof for r in rows}

    plain = run(None)
    assert plain == {
        (1, 9 * 60 + 60): 10.0,   # 10:00 <- 9:00 quote
        (1, 9 * 60 + 90): 11.0,   # 10:30 <- 10:20 quote
        (2, 14 * 60): 99.0,       # stale but no bound
        (3, 9 * 60 + 10): None,   # no quote for key 3
    }

    tight = run("15 minutes")
    assert tight == {
        (1, 9 * 60 + 60): None,   # 9:00 quote is 60 min stale
        (1, 9 * 60 + 90): 11.0,   # 10 min old: within bound
        (2, 14 * 60): None,       # 5 h stale
        (3, 9 * 60 + 10): None,
    }

    assert run("1000 days") == plain


def test_asof_join_null_value_in_matched_row(spark):
    """merge_asof semantics when the matched right row carries a NULL
    value: the match is the ROW, not the last non-null value, so the
    result is NULL -- a per-column ignorenulls fill would reach back to
    an older row and hand out a value beyond the tolerance its own
    supplying row violates (ADVICE r6 repro: quote 9:00 price=5.0,
    quote 9:25 price=NULL, trade 9:30 tolerance 15 minutes)."""
    import datetime as dt

    from bigdata_storage_and_proccess_job_data_spark.operators.asof import asof_join

    t = dt.datetime(2024, 3, 1, 9, 0, 0)

    def ts(minutes):
        return t + dt.timedelta(minutes=minutes)

    quotes = spark.createDataFrame(
        [(1, ts(0), 5.0), (1, ts(25), None)],
        "k LONG, qts TIMESTAMP, price DOUBLE",
    )
    trades = spark.createDataFrame([(1, ts(30))], "k LONG, tts TIMESTAMP")

    for tol in (None, "15 minutes"):
        rows = asof_join(
            trades, quotes, "k", "tts", "qts", ["price"], tolerance=tol
        ).collect()
        assert len(rows) == 1
        # matched row is the 9:25 quote (within tolerance) whose price is
        # NULL; the stale 9:00 row's 5.0 must NOT leak through
        assert rows[0].price_asof is None


def test_interval_expr_rejects_non_duration_strings(spark):
    """Duration parameters are interpolated into SQL INTERVAL
    expressions; the shared validator must reject anything that is not
    value-unit pairs (the bootstrap-salt charset discipline), and the
    operators must surface it as a clear ValueError."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.functions.eventtime import (
        interval_expr,
    )

    for ok in ("10 minutes", "1 hour 30 minutes", " 2 days "):
        interval_expr(ok)  # must not raise
    for bad in ("10; drop", "minutes 10", "1) OR (1=1", "", "10", None):
        with pytest.raises((ValueError, TypeError)):
            interval_expr(bad)


# ---------------------------------------------------------------------------
# Hot-key split join
# ---------------------------------------------------------------------------
def _skewed_orders(spark, sf_dir):
    """Orders with a deliberately Zipf custkey: ~75% of rows map to one
    hot customer (the skewed_hot_key_agg shape, on a join key)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 4 != 0, F.lit(7))
            .otherwise(F.col("o_custkey"))
            .alias("c_custkey"),
            "o_totalprice",
        )
    )


def test_hot_key_split_join_matches_plain_inner(spark, sf_dir):
    orders = _skewed_orders(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    split = joins.hot_key_split_join(orders, customer, "c_custkey", [7])
    plain = orders.join(customer, "c_custkey", "inner")
    key = lambda r: (r.c_custkey, r.o_orderkey, r.c_mktsegment)  # noqa: E731
    assert sorted(split.columns) == sorted(plain.columns)
    assert sorted(map(key, split.collect())) == sorted(map(key, plain.collect()))


def test_hot_key_split_join_matches_plain_left_with_nulls(spark, sf_dir):
    orders = _skewed_orders(spark, sf_dir).withColumn(
        # poison some keys with NULL and some with an unmatched value
        "c_custkey",
        F.when(F.col("o_orderkey") % 11 == 0, None)
        .when(F.col("o_orderkey") % 13 == 0, F.lit(-1))
        .otherwise(F.col("c_custkey")),
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    split = joins.hot_key_split_join(orders, customer, "c_custkey", [7], how="left")
    plain = orders.join(customer, "c_custkey", "left")
    key = lambda r: (r.c_custkey, r.o_orderkey, r.c_mktsegment)  # noqa: E731
    skey = lambda t: tuple(str(x) for x in t)  # None-safe sort # noqa: E731
    got = sorted(map(key, split.collect()), key=skey)
    want = sorted(map(key, plain.collect()), key=skey)
    assert got == want
    # NULL and unmatched keys really are present with null right columns
    assert any(r[0] is None and r[2] is None for r in got)
    assert any(r[0] == -1 and r[2] is None for r in got)


def test_hot_key_split_join_duckdb_parity(spark, sf_dir):
    from tests.parity import compare, duckdb_connect

    orders = _skewed_orders(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    out = joins.hot_key_split_join(orders, customer, "c_custkey", [7])
    con = duckdb_connect(sf_dir)
    problems = compare(
        out,
        con,
        """
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
    assert problems == [], problems


def test_hot_key_split_join_plan_broadcasts_hot_slice(spark, sf_dir):
    """The physical plan must show the split: a BroadcastHashJoin (hot
    slice -- its fact rows never shuffle) unioned with a shuffled join
    for the cold slice."""
    orders = _skewed_orders(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # force the COLD path to stay a shuffle join: drop the broadcast
    # threshold so only the explicit F.broadcast survives
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        split = joins.hot_key_split_join(orders, customer, "c_custkey", [7])
        split.write.format("noop").mode("overwrite").save()
        plan = split._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_hot_key_split_join_rejections(spark, sf_dir):
    import pytest

    orders = _skewed_orders(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    with pytest.raises(ValueError, match="how"):
        joins.hot_key_split_join(orders, customer, "c_custkey", [7], how="full")
    with pytest.raises(ValueError, match="empty"):
        joins.hot_key_split_join(orders, customer, "c_custkey", [])
    with pytest.raises(ValueError, match="NULL"):
        joins.hot_key_split_join(orders, customer, "c_custkey", [7, None])
    with pytest.raises(ValueError, match="hot keys"):
        joins.hot_key_split_join(
            orders, customer, "c_custkey", list(range(1001))
        )
    with pytest.raises(ValueError, match="collide"):
        joins.hot_key_split_join(
            orders.withColumn("c_mktsegment", F.lit("x")),
            customer,
            "c_custkey",
            [7],
        )


def test_table_diff_statuses_and_parity(spark, sf_dir):
    """Snapshot diff: (1) hand pins -- added/removed/changed/unchanged,
    null-safe per-column change detection, NULL keys excluded,
    validation; (2) full DuckDB replay on orders vs a mutated orders
    snapshot (price bumps, deletes, inserts)."""
    import pytest

    from tests.parity import compare, duckdb_connect

    old = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (2, "b", None),
            (3, "c", 30.0),
            (4, "d", 40.0),
            (None, "x", 0.0),
        ],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10.0),      # unchanged
            (2, "b", 20.0),      # NULL -> value: changed
            (3, "zz", 30.0),     # s changed
            (5, "e", 50.0),      # added
            (None, "y", 1.0),
        ],
        "k long, s string, v double",
    )
    got = {
        r.k: (r.status, list(r.changed_cols))
        for r in joins.table_diff(old, new, ["k"]).collect()
    }
    assert got[1] == ("unchanged", [])
    assert got[2] == ("changed", ["v"])
    assert got[3] == ("changed", ["s"])
    assert got[4] == ("removed", [])
    assert got[5] == ("added", [])
    assert None not in got  # NULL keys excluded
    assert len(got) == 5

    # compare_cols narrows the diff: with only s compared, row 2 reads
    # unchanged
    narrowed = {
        r.k: r.status
        for r in joins.table_diff(old, new, ["k"], ["s"]).collect()
    }
    assert narrowed[2] == "unchanged" and narrowed[3] == "changed"

    with pytest.raises(ValueError, match="keys is empty"):
        joins.table_diff(old, new, [])
    with pytest.raises(ValueError, match="missing"):
        joins.table_diff(old, new, ["k"], ["nope"])

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    mutated = (
        orders.filter(F.col("o_orderkey") % 11 != 0)  # deletes
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0
            ).otherwise(F.col("o_totalprice")),
        )
    )
    inserts = spark.createDataFrame(
        [(10_000_001, "O", 1.0), (10_000_002, "F", 2.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    mutated = mutated.unionByName(inserts)
    got_big = joins.table_diff(orders, mutated, ["o_orderkey"]).select(
        "o_orderkey",
        "status",
        F.array_join("changed_cols", ",").alias("changed_cols"),
    )
    sql = """
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
    """
    assert compare(got_big, duckdb_connect(sf_dir), sql) == []


def test_join_size_report_exactness_and_parity(spark, sf_dir):
    """Join-size pre-flight: (1) hand pins -- per-key products sum to
    the exact inner-join size, NULL keys excused on both sides, the
    hot key's share reads correctly; (2) the report equals the
    actually-executed join's count on the same frames; (3) empty
    sides give defined zeros and NULL top_share; (4) full DuckDB
    replay on orders x customer with planted orphans."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    left = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (9,), (None,)], "k long"
    )
    right = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (None,), (None,)], "k long"
    )
    r = joins.join_size_report(left, right, "k").collect()[0]
    assert (r.n_left, r.n_right) == (6, 6)
    assert (r.n_left_null_key, r.n_right_null_key) == (1, 2)
    assert (r.n_left_keys, r.n_right_keys) == (3, 3)
    assert r.n_matched_keys == 2            # keys 1 and 2
    assert r.n_out_inner == 3 * 2 + 1 * 1   # 7
    assert r.max_key_out == 6 and r.top_share == pytest.approx(6 / 7)
    # the report must equal the executed join, NULLs and all
    assert left.join(right, "k").count() == r.n_out_inner

    empty = spark.createDataFrame([], "k long")
    re_ = joins.join_size_report(empty, right, "k").collect()[0]
    assert (re_.n_left, re_.n_out_inner, re_.max_key_out) == (0, 0, 0)
    assert re_.top_share is None

    orders = load_table(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_custkey") + 1_000_000
        ).otherwise(F.col("o_custkey")).alias("fk")
    )
    customer = load_table(spark, sf_dir, "customer")
    out = joins.join_size_report(orders, customer, "fk", "c_custkey").select(
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
    sql = f"""
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
    """
    assert compare(out, duckdb_connect(sf_dir), sql) == []


def test_merge_intervals_islands_and_parity(spark, sf_dir):
    """Interval coalescing: (1) hand pins -- overlap and touch both
    merge, disjoint spans stay apart, max_gap bridges gaps up to the
    tolerance; (2) ties and exact-duplicate intervals land in one
    island; (3) NULL endpoints excluded, inverted intervals fail loud;
    (4) native timestamp intervals merge without casts; (5) full
    DuckDB replay on integer intervals derived from orders per
    status."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.operators import (
        rangejoin,
    )
    from tests.parity import compare, duckdb_connect

    df = spark.createDataFrame(
        [(1.0, 5.0), (4.0, 8.0), (9.0, 10.0), (10.0, 12.0), (15.0, 20.0)],
        "s double, e double",
    )
    got = sorted(
        (r.span_start, r.span_end, r.n_spans)
        for r in rangejoin.merge_intervals(df, "s", "e").collect()
    )
    assert got == [(1.0, 8.0, 2), (9.0, 12.0, 2), (15.0, 20.0, 1)]
    gapped = sorted(
        (r.span_start, r.span_end, r.n_spans)
        for r in rangejoin.merge_intervals(df, "s", "e", max_gap=3.0)
        .collect()
    )
    assert gapped == [(1.0, 20.0, 5)]

    dup = spark.createDataFrame(
        [(5.0, 10.0), (5.0, 10.0), (5.0, 7.0), (20.0, 21.0)],
        "s double, e double",
    )
    gd = sorted(
        (r.span_start, r.span_end, r.n_spans)
        for r in rangejoin.merge_intervals(dup, "s", "e").collect()
    )
    assert gd == [(5.0, 10.0, 3), (20.0, 21.0, 1)]

    nulls = spark.createDataFrame(
        [(None, 5.0), (1.0, None), (1.0, 2.0)], "s double, e double"
    )
    assert rangejoin.merge_intervals(nulls, "s", "e").count() == 1
    with pytest.raises(Exception, match="merge_intervals"):
        rangejoin.merge_intervals(
            spark.createDataFrame([(5.0, 1.0)], "s double, e double"),
            "s",
            "e",
        ).collect()
    with pytest.raises(ValueError, match="max_gap"):
        rangejoin.merge_intervals(df, "s", "e", max_gap=-1.0)

    # native timestamps (no cast needed when max_gap is None)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    merged = rangejoin.merge_intervals(ev, "s", "e", keys=["user_id"])
    assert merged.count() < ev.count()  # something coalesced
    assert merged.filter(F.col("span_end") < F.col("span_start")).count() == 0

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        (F.col("o_orderkey") % 1000).alias("s"),
        ((F.col("o_orderkey") % 1000) + (F.col("o_custkey") % 50)).alias(
            "e"
        ),
    )
    out = rangejoin.merge_intervals(
        orders, "s", "e", keys=["o_orderstatus"]
    ).select(
        "o_orderstatus",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "n_spans",
    )
    sql = """
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
    """
    assert compare(out, duckdb_connect(sf_dir), sql) == []
