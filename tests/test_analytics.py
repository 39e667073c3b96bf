"""Analytics operators beyond the oracle gate: approx-distinct accuracy,
rollup structure."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table


def test_approx_distinct_within_tolerance(spark, oracle_sf_dir):
    orders = load_table(spark, oracle_sf_dir, "orders")
    both = orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
    )
    for r in both.collect():
        assert abs(r.approx - r.exact) / r.exact < 0.05, r


def test_rollup_has_subtotals_and_grand_total(spark, oracle_sf_dir):
    """The exact ROLLUP(region, country) body of the former
    region_rollup query (the grouping-set Expand shape stays
    driver-rowed by cube_segment_priority / grouping_sets_mix; this
    test keeps the rollup level semantics value-pinned)."""
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        stable_round,
    )

    customer = load_table(spark, oracle_sf_dir, "customer")
    nation = load_table(spark, oracle_sf_dir, "nation")
    region = load_table(spark, oracle_sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    rolled = (
        joined.select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("country"),
            "c_custkey",
            "c_acctbal",
        )
        .rollup("region", "country")
        .agg(
            F.count("c_custkey").alias("customer_count"),
            stable_round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
    )
    rows = rolled.collect()
    grand = [r for r in rows if r.region is None and r.country is None]
    region_subs = [r for r in rows if r.region is not None and r.country is None]
    details = [r for r in rows if r.country is not None]
    assert len(grand) == 1
    assert grand[0].customer_count == sum(r.customer_count for r in details)
    assert len(region_subs) == 5


def test_skew_distinct_naive_probe_equals_spread_twin(spark, oracle_sf_dir):
    """The naive skew-distinct twin left the registry r14 (retired into
    join_size_report) and moved to plans/bench_probes.py -- which also
    moved it out of the every-round oracle hash. This pins the measured
    twin's CORRECTNESS link directly: the bench probe's collect_set
    plan must produce exactly the still-registered spread rewrite's
    result frame (same Zipf key, same distinct counts), so the bench
    pair keeps comparing two verified-equal computations."""
    from bigdata_storage_and_proccess_job_data_spark.plans import (
        analytics_queries,
        bench_probes,
    )

    naive = {
        r.company: r.n_line_uids
        for r in bench_probes.skew_distinct_naive(
            spark, oracle_sf_dir
        ).collect()
    }
    spread = {
        r.company: r.n_line_uids
        for r in analytics_queries.skew_distinct_spread(
            spark, oracle_sf_dir
        ).collect()
    }
    assert naive == spread and len(naive) > 1


def test_count_distinct_spread_ignores_null_values(spark):
    """COUNT(DISTINCT v) and size(collect_set(v)) both skip NULLs; the
    skew-safe pair rewrite must agree -- including a key whose values
    are ALL null (present, count 0), and a key with a null mixed in
    (the null adds nothing)."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    df = spark.createDataFrame(
        [("k1", None), ("k1", "a"), ("k1", "a"), ("k2", None), ("k2", None)],
        "k STRING, v STRING",
    )
    spread = {
        r.key: r.n_distinct
        for r in aggregates.count_distinct_spread(df, "k", "v").collect()
    }
    naive = {
        r.k: r.n
        for r in df.groupBy("k")
        .agg(F.size(F.collect_set("v")).alias("n"))
        .collect()
    }
    assert spread == naive == {"k1": 1, "k2": 0}


def test_observe_expectations_rides_the_main_action(spark, oracle_sf_dir):
    """The observed counters must equal a dedicated counting pass
    (NULL counts as a violation) -- but come from the frame's OWN action (a
    noop write here; no second scan). Also pins the placement gotcha: a
    filter added AFTER the observe node does not change the observed
    counts."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    orders = load_table(spark, oracle_sf_dir, "orders")
    checks = {
        "positive_total": F.col("o_totalprice") > 0,
        "priority_known": F.col("o_orderpriority").isNotNull(),
        "impossible_rule": F.col("o_totalprice") > 1e12,  # violations > 0
    }
    observed, obs = aggregates.observe_expectations(orders, checks)
    # downstream work happens on top of the observed frame; metrics
    # reflect rows AT the observe node, not post-filter survivors
    observed.filter(F.col("o_totalprice") > 100000).write.format(
        "noop"
    ).mode("overwrite").save()
    got = obs.get

    want = {"n_rows": orders.count()} | {
        name: orders.filter(~F.coalesce(cond, F.lit(False))).count()
        for name, cond in checks.items()
    }
    assert got == want
    assert got["n_rows"] == orders.count()
    assert got["impossible_rule"] == got["n_rows"]
    assert got["positive_total"] == 0


def test_time_range_rolling_window_parity(spark, oracle_sf_dir):
    """Time-RANGE window frames (RANGE BETWEEN INTERVAL ... PRECEDING):
    per customer, each order's trailing-90-day revenue. Distinct from
    the ROWS-frame query (rolling_order_avg): the frame is bounded by
    EVENT TIME, so gaps matter and equal-timestamp rows are peers. The
    registry sits at its ceiling, so this query is oracle-checked here
    through the same parity gate the driver uses (tests/parity.py)
    rather than holding a registry slot. Spark expresses the interval
    frame as rangeBetween over epoch seconds (UTC-pinned session makes
    that identical to DuckDB's naive-timestamp interval arithmetic)."""
    from pyspark.sql import Window

    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    orders = load_table(spark, oracle_sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("long"))
        .rangeBetween(-90 * 86400, 0)
    )
    res = orders.select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("order_date"),
        stable_round(F.sum("o_totalprice").over(w), 2).alias("trailing_90d"),
    )
    sql = f"""
        SELECT o_orderkey, o_custkey,
               CAST(o_orderdate AS DATE) AS order_date,
               {sql_round('''SUM(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 90 DAYS PRECEDING AND CURRENT ROW
               )''', 2)} AS trailing_90d
        FROM orders
    """
    errs = compare(res, duckdb_connect(oracle_sf_dir), sql)
    assert not errs, errs


def test_hashed_doc_vector_parity(spark, oracle_sf_dir):
    """Feature-hashed document vectors recomputed exactly in DuckDB:
    same md5-derived 60-bit hash (the simhash bridge), same bit-sliced
    cell/sign, same signed counts -- value-for-value over the whole
    documents table. Cross-engine exactness is what lets the hashing
    trick serve as a deterministic, model-free embedding everywhere an
    oracle is wanted."""
    from bigdata_storage_and_proccess_job_data_spark.functions import text
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        _md5_hash60_sql,
    )
    from tests.parity import compare, duckdb_connect

    docs = load_table(spark, oracle_sf_dir, "documents")
    res = docs.select(
        "doc_id", text.hashed_doc_vector("text", dim=64).alias("vec")
    )
    h = _md5_hash60_sql("'hv:0:' || t")
    cells = ", ".join(
        f"COALESCE(list_sum(list_transform(hs, h -> "
        f"CASE WHEN (h & 63) = {i} THEN "
        f"(CASE WHEN ((h >> 6) & 1) = 0 THEN 1.0 ELSE -1.0 END) "
        f"ELSE 0.0 END)), 0.0)"
        for i in range(64)
    )
    sql = f"""
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN []
                      ELSE string_split_regex(lower(trim(text)), '\\s+')
                 END AS ts
          FROM documents
        ), enc AS (
          SELECT doc_id, list_transform(ts, t -> {h}) AS hs FROM toks
        )
        SELECT doc_id, [{cells}] AS vec FROM enc
    """
    errs = compare(res, duckdb_connect(oracle_sf_dir), sql)
    assert not errs, errs[:5]

    # The REGISTERED query is the long form (posexplode; r7 driver-err
    # fix) -- same values, driver-canonicalizable shape: run it against
    # its registered oracle end to end.
    from bigdata_storage_and_proccess_job_data_spark import plans

    reg = plans.queries()["hashed_doc_vector"](spark, oracle_sf_dir)
    assert [f.name for f in reg.schema.fields] == ["doc_id", "cell", "value"]
    errs = compare(
        reg,
        duckdb_connect(oracle_sf_dir),
        plans.oracle_sql()["hashed_doc_vector"],
    )
    assert not errs, errs[:5]


def test_hashed_doc_vector_feeds_ann_stack(spark):
    """The hashed vectors are real embeddings to the similarity suite:
    duplicate texts land at cosine 1.0 and surface as each other's
    top-1 via brute_force_topk with no glue code."""
    from bigdata_storage_and_proccess_job_data_spark.functions import text
    from bigdata_storage_and_proccess_job_data_spark.operators import similarity

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely unrelated content"),
        ],
        "doc_id LONG, text STRING",
    )
    vecs = df.select(
        "doc_id", text.hashed_doc_vector("text", dim=64).alias("embedding")
    )
    top = similarity.brute_force_topk(
        vecs.filter(F.col("doc_id") == 1), vecs, id_col="doc_id", k=1
    ).collect()
    assert len(top) == 1
    assert top[0].neighbor_id == 2 and top[0].sim == 1.0

    import pytest

    with pytest.raises(ValueError, match="power of two"):
        text.hashed_doc_vector("text", dim=48)


def test_hll_sketch_incremental_distinct(spark, oracle_sf_dir, tmp_path):
    """Mergeable HLL distinct sketches: (1) the estimate tracks exact
    COUNT(DISTINCT) within the lgk=12 error band, (2) merging per-batch
    sketches equals sketching all data EXACTLY (register union is
    lossless -- the property that makes daily accumulation trustworthy),
    (3) the sketch survives a parquet roundtrip as a plain binary
    column, so the incremental artifact is just a table."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    events = load_table(spark, oracle_sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    est = {
        r.event_type: r.distinct_estimate
        for r in aggregates.hll_estimate(
            aggregates.hll_sketch(events, "user_id", dims=["event_type"])
        ).collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert abs(est[k] - n) <= max(2, 0.05 * n), (k, est[k], n)

    # batch-merge == monolithic, exactly
    b1 = events.filter(F.col("event_id") % 2 == 0)
    b2 = events.filter(F.col("event_id") % 2 == 1)
    parts = aggregates.hll_sketch(b1, "user_id", dims=["event_type"]).unionByName(
        aggregates.hll_sketch(b2, "user_id", dims=["event_type"])
    )
    merged = {
        r.event_type: r.distinct_estimate
        for r in aggregates.hll_estimate(
            aggregates.hll_merge(parts, dims=["event_type"])
        ).collect()
    }
    assert merged == est

    # storable: append per-batch sketches to parquet, merge from disk
    path = str(tmp_path / "sketches")
    aggregates.hll_sketch(b1, "user_id", dims=["event_type"]).write.mode(
        "append"
    ).parquet(path)
    aggregates.hll_sketch(b2, "user_id", dims=["event_type"]).write.mode(
        "append"
    ).parquet(path)
    stored = {
        r.event_type: r.distinct_estimate
        for r in aggregates.hll_estimate(
            aggregates.hll_merge(spark.read.parquet(path), dims=["event_type"])
        ).collect()
    }
    assert stored == est

    # global (no dims) shape
    g = aggregates.hll_estimate(
        aggregates.hll_sketch(events, "user_id")
    ).first()
    total = events.select("user_id").distinct().count()
    assert abs(g.distinct_estimate - total) <= max(2, 0.05 * total)


def test_cms_sketch_bounds_and_mergeability(spark, oracle_sf_dir, tmp_path):
    """Count-min frequency sketch: (1) every estimate >= the true count
    (one-sided), (2) on the Zipf company key the hot key's estimate is
    near-exact and within the epsilon bound, (3) the sketch survives
    parquet as a plain table."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates
    from bigdata_storage_and_proccess_job_data_spark.plans.analytics_queries import (
        _zipf_company,
    )

    li = load_table(spark, oracle_sf_dir, "lineitem")
    df = li.withColumn("company", _zipf_company()).select("company")
    W, D = 1024, 5
    sk = aggregates.cms_sketch(df, "company", width=W, depth=D)

    truth = {
        r.company: r.n
        for r in df.groupBy("company").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(truth.values())
    some = spark.createDataFrame(
        [(k,) for k in list(truth)[:50]] + [("NEVER_SEEN_KEY",)],
        "company STRING",
    )
    est = {
        r.company: r.estimate
        for r in aggregates.cms_lookup(sk, some, "company", width=W, depth=D).collect()
    }
    import math

    eps_bound = math.e * total / W
    for k, e in est.items():
        t = truth.get(k, 0)
        assert e >= t, (k, e, t)
        assert e - t <= eps_bound, (k, e, t, eps_bound)
    hot = aggregates.cms_lookup(
        sk, spark.createDataFrame([("MEGACORP",)], "company STRING"),
        "company", width=W, depth=D,
    ).first().estimate
    assert abs(hot - truth["MEGACORP"]) <= eps_bound
    assert truth["MEGACORP"] > 0.5 * total  # the skew premise

    # storable roundtrip
    path = str(tmp_path / "cms")
    sk.write.parquet(path)
    est2 = {
        r.company: r.estimate
        for r in aggregates.cms_lookup(
            spark.read.parquet(path), some, "company", width=W, depth=D
        ).collect()
    }
    assert est2 == est


def test_cms_sketch_null_keys_counted(spark):
    """ADVICE r6: NULL keys must hash to a real sentinel bucket set so
    the one-sided estimate >= truth holds for them too -- the old
    md5(NULL)=NULL path dropped NULLs into an unjoinable NULL bucket
    and estimated 0."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    W, D = 256, 4
    df = spark.createDataFrame(
        [("a",)] * 5 + [(None,)] * 7 + [("b",)] * 2, "k STRING"
    )
    sk = aggregates.cms_sketch(df, "k", width=W, depth=D)
    # no NULL-bucket pollution in the sketch itself
    assert sk.filter(F.col("bucket").isNull()).count() == 0
    probes = spark.createDataFrame([("a",), (None,), ("b",)], "k STRING")
    est = {
        r.k: r.estimate
        for r in aggregates.cms_lookup(sk, probes, "k", width=W, depth=D).collect()
    }
    assert est["a"] >= 5 and est["b"] >= 2
    assert est[None] >= 7  # NULLs counted as one shared key


def test_argmin_argmax_and_twap_parity(spark, oracle_sf_dir):
    """Two temporal-aggregate families with full DuckDB value parity:
    (1) min_by/max_by -- first/last order value per customer WITHOUT a
    window (one hash agg; the aggregate-side alternative to the
    row_number dedup shape, with (ts, key) struct ordering making ties
    deterministic on both engines); (2) time-weighted average price per
    customer (TWAP): each order's price weighted by its holding
    interval to the next order via lead(), the finance/telemetry
    aggregate a plain AVG gets wrong when samples are irregular."""
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from pyspark.sql import Window
    from tests.parity import compare, duckdb_connect

    orders = load_table(spark, oracle_sf_dir, "orders")
    con = duckdb_connect(oracle_sf_dir)

    # (1) arg-min/arg-max, tie-broken by a composite BIGINT ordering key
    # (epoch-seconds * 1e7 + orderkey -- struct keys bind differently
    # across engines, a single orderable scalar does not)
    key = (
        F.unix_timestamp("o_orderdate") * F.lit(10_000_000)
        + F.col("o_orderkey")
    )
    got = orders.groupBy("o_custkey").agg(
        F.min_by("o_totalprice", key).alias("first_price"),
        F.max_by("o_totalprice", key).alias("last_price"),
    )
    sql = """
        SELECT o_custkey,
               arg_min(o_totalprice,
                       epoch(o_orderdate)::BIGINT * 10000000 + o_orderkey)
                 AS first_price,
               arg_max(o_totalprice,
                       epoch(o_orderdate)::BIGINT * 10000000 + o_orderkey)
                 AS last_price
        FROM orders GROUP BY o_custkey
    """
    errs = compare(got, con, sql)
    assert not errs, errs[:5]

    # (2) TWAP over each customer's order sequence
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    dur = F.unix_timestamp(nxt) - F.unix_timestamp(F.col("o_orderdate"))
    weighted = orders.select(
        "o_custkey", "o_totalprice", dur.alias("_dur")
    ).filter(F.col("_dur").isNotNull() & (F.col("_dur") > 0))
    twap = weighted.groupBy("o_custkey").agg(
        stable_round(
            F.sum(F.col("o_totalprice") * F.col("_dur")) / F.sum("_dur"), 2
        ).alias("twap")
    )
    twap_expr = sql_round("SUM(o_totalprice * _dur) / SUM(_dur)", 2)
    sql2 = f"""
        WITH seq AS (
          SELECT o_custkey, o_totalprice,
                 epoch(lead(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                 )) - epoch(o_orderdate) AS _dur
          FROM orders
        )
        SELECT o_custkey, {twap_expr} AS twap
        FROM seq WHERE _dur IS NOT NULL AND _dur > 0
        GROUP BY o_custkey
    """
    errs2 = compare(twap, con, sql2)
    assert not errs2, errs2[:5]


def test_dd_sketch_relative_error_and_merge(spark, oracle_sf_dir, tmp_path):
    """DDSketch-style quantiles: (1) p50/p95/p99 of o_totalprice from
    the sketch are within the gamma relative-error bound of the exact
    percentiles, per priority group and globally, (2) bin-wise merge of
    disjoint halves EQUALS the monolithic sketch, (3) the artifact
    survives parquet, (4) non-positive values park in the reserved bin
    and never pollute quantiles."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    orders = load_table(spark, oracle_sf_dir, "orders")
    G = 1.02
    sk = aggregates.dd_sketch(orders, "o_totalprice", gamma=G,
                              dims=["o_orderpriority"])

    exact = {
        (r.o_orderpriority, q): r[f"p{int(q*100)}"]
        for q in (0.5, 0.95, 0.99)
        for r in orders.groupBy("o_orderpriority").agg(
            F.expr(
                f"percentile(o_totalprice, {q})"
            ).alias(f"p{int(q*100)}")
        ).collect()
    }
    for q in (0.5, 0.95, 0.99):
        est = {
            r.o_orderpriority: r.quantile_estimate
            for r in aggregates.dd_quantile(
                sk, q, gamma=G, dims=["o_orderpriority"]
            ).collect()
        }
        for grp, e in est.items():
            t = exact[(grp, q)]
            assert t / G**1.01 <= e <= t * G**1.01, (grp, q, e, t)

    # merge == monolithic
    h1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    h2 = orders.filter(F.col("o_orderkey") % 2 == 1)
    merged = aggregates.dd_merge(
        aggregates.dd_sketch(h1, "o_totalprice", G, ["o_orderpriority"])
        .unionByName(
            aggregates.dd_sketch(h2, "o_totalprice", G, ["o_orderpriority"])
        ),
        dims=["o_orderpriority"],
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, sk.collect())
    )

    # parquet roundtrip + reserved-bin behavior
    path = str(tmp_path / "dd")
    sk.write.parquet(path)
    r1 = aggregates.dd_quantile(
        spark.read.parquet(path), 0.5, G, ["o_orderpriority"]
    ).collect()
    r2 = aggregates.dd_quantile(sk, 0.5, G, ["o_orderpriority"]).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))

    mixed = spark.createDataFrame(
        [(0.0,), (-5.0,), (None,), (100.0,), (100.0,), (100.0,)],
        "x DOUBLE",
    )
    msk = aggregates.dd_sketch(mixed, "x", gamma=G)
    assert msk.filter(F.col("bin") == -(2**31)).first().cnt == 3
    mq = aggregates.dd_quantile(msk, 0.5, G).first().quantile_estimate
    assert 100 / G**1.01 <= mq <= 100 * G**1.01


def test_kmv_sketch_estimates_merge_law_and_duckdb_parity(
    spark, oracle_sf_dir
):
    """KMV distinct sketches, the set-operations sibling of HLL:
    (1) per-group sketch arrays recomputed bit-for-bit in DuckDB
    through the md5_hash60 bridge (row_number <= k over distinct
    hashes -- unlike HLL registers, the whole artifact is
    engine-portable), (2) estimates exact below k and within the
    ~1/sqrt(k-2) band above."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        _md5_hash60_sql,
    )
    from tests.parity import compare, duckdb_connect

    k = 64
    orders = load_table(spark, oracle_sf_dir, "orders")
    sk = aggregates.kmv_sketch(
        orders, "o_custkey", dims=["o_orderpriority"], k=k
    )

    # (1) array-level DuckDB parity: the strongest possible check --
    # if the stored artifact matches bit-for-bit, every estimate built
    # on it matches too.
    h = _md5_hash60_sql("o_custkey::VARCHAR")
    sql = f"""
        WITH h AS (
          SELECT DISTINCT o_orderpriority, {h} AS hh
          FROM orders WHERE o_custkey IS NOT NULL
        ), r AS (
          SELECT o_orderpriority, hh,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY hh) AS rn
          FROM h
        )
        SELECT o_orderpriority, list(hh ORDER BY hh) AS sketch
        FROM r WHERE rn <= {k}
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
    errs = compare(sk, duckdb_connect(oracle_sf_dir), sql)
    assert not errs, errs

    # (2) estimates: exact when the group has < k distinct keys,
    # within the KMV error band when it saturates.
    exact = {
        r.o_orderpriority: r.n
        for r in orders.filter(F.col("o_custkey").isNotNull())
        .groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    est = {
        r.o_orderpriority: r.distinct_estimate
        for r in aggregates.kmv_estimate(sk, k=k).collect()
    }
    assert set(est) == set(exact)
    for g, n in exact.items():
        if n < k:
            assert est[g] == n, (g, est[g], n)
        else:
            assert abs(est[g] - n) <= 0.5 * n, (g, est[g], n)


def test_kmv_sketch_skew_proof_build(spark, oracle_sf_dir):
    """VERDICT r8 #1: the sketch build must never funnel a hot group's
    full distinct set through one task. (1) The plan's rank window is
    admissible ONLY behind a PARTIAL-mode WindowGroupLimit below the
    exchange: the map side prunes every partition to its k smallest
    distinct hashes before anything crosses the wire, so the final
    task per group holds at most (partitions x k) rows -- never the
    hot group's full distinct set (the pre-r9 build's naked
    Window.partitionBy(dims).orderBy(_h) had no such cut; the r9-r14
    partial-fold build bounded task STATE but shipped each
    partition's whole distinct set through the exchange -- 69 MB at
    the sf1 spot fixture -- which the r15 pre-cut reduces to ~k rows
    per group per partition). (2) On the planted Zipf company fixture
    (MEGACORP = 75% of rows) the result still equals the definitional
    k smallest distinct hashes -- partitioning cannot change the
    answer. Holds for dims=None too (ADVICE r8: the unpartitioned
    window was the worst case -- ALL distinct hashes in one task)."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates
    from bigdata_storage_and_proccess_job_data_spark.operators.neardup import (
        md5_hash60,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans.analytics_queries import (
        _zipf_company,
    )

    k = 32
    lineitem = load_table(spark, oracle_sf_dir, "lineitem")
    df = lineitem.withColumn("company", _zipf_company()).withColumn(
        "buyer", F.concat_ws("-", "company", (F.col("l_orderkey") % 997))
    )

    for dims in (["company"], None):
        sk = aggregates.kmv_sketch(df, "buyer", dims=dims, k=k)
        plan = sk._jdf.queryExecution().executedPlan().toString()
        if "Window" in plan:
            assert "dense_rank(_h#" in plan, plan
            assert plan.count("WindowGroupLimit") == 2, plan
            assert f", {k}, Partial" in plan, plan
            assert f", {k}, Final" in plan, plan

        # definitional reference: k smallest distinct hashes per group,
        # computed by an ordinary sort-limit per group (test-side only)
        hashed = (
            df.filter(F.col("buyer").isNotNull())
            .select(
                *(dims or []),
                md5_hash60(F.col("buyer").cast("string")).alias("_h"),
            )
            .distinct()
        )
        got = {
            tuple(r[d] for d in (dims or [])): r.sketch
            for r in sk.collect()
        }
        for g in got:
            ref = hashed
            for d, v in zip(dims or [], g):
                ref = ref.filter(F.col(d) == v)
            expect = [
                r._h for r in ref.orderBy("_h").limit(k).collect()
            ]
            assert got[g] == expect, g


def test_kmv_zipf_build_probe_estimates_within_band(spark, oracle_sf_dir):
    """Correctness pin for the bench probe (the skew_distinct precedent:
    every timed probe carries a value check): on the Zipf company x
    line-uid frame at sf0.01, each group's KMV estimate is exact below
    k and within 3/sqrt(k-2) of the exact distinct count above it --
    including the MEGACORP hot group the probe exists to measure."""
    from bigdata_storage_and_proccess_job_data_spark.plans import bench_probes
    from bigdata_storage_and_proccess_job_data_spark.plans.analytics_queries import (
        _line_uid,
        _zipf_company,
    )

    got = {
        r.company: r.distinct_estimate
        for r in bench_probes.kmv_zipf_build(
            spark, oracle_sf_dir
        ).collect()
    }
    li = load_table(spark, oracle_sf_dir, "lineitem").select(
        _zipf_company().alias("company"), _line_uid().alias("uid")
    )
    exact = {
        r.company: r.n
        for r in li.groupBy("company")
        .agg(F.count_distinct("uid").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    k = 256
    for g, n in exact.items():
        if n < k:
            assert got[g] == n, (g, got[g], n)
        else:
            assert abs(got[g] - n) <= 3 / (k - 2) ** 0.5 * n, (g, got[g], n)
    assert exact["MEGACORP"] > 0.5 * sum(exact.values())  # skew premise


def test_kmv_set_ops_overlap_math(spark):
    """Intersection/Jaccard estimates -- the question HLL cannot
    answer. Planted integer segments with known overlap: exact when
    both sets fit in the sketch (k > |union|), inside a generous
    error band when saturated; empty-side edge pinned."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    def seg(lo, hi, k):
        df = spark.range(lo, hi).select(F.col("id").alias("k"))
        return aggregates.kmv_sketch(df, "k", k=k).collect()[0].sketch

    # exact regime: A = [0, 1000), B = [500, 1500) -> J = 1/3
    k = 2048
    a, b = seg(0, 1000, k), seg(500, 1500, k)
    row = aggregates.kmv_set_ops(
        spark.createDataFrame(
            [(a, b)], "sketch_a array<long>, sketch_b array<long>"
        ),
        k=k,
    ).collect()[0]
    assert row.union_estimate == 1500
    assert abs(row.jaccard - 1 / 3) < 1e-12
    assert abs(row.intersection_estimate - 500.0) < 1e-9
    assert abs(row.left_only_estimate - 500.0) < 1e-9
    assert abs(row.right_only_estimate - 500.0) < 1e-9

    # estimation regime: 20k-element sets, 50% overlap, k = 256
    k = 256
    a, b = seg(0, 20000, k), seg(10000, 30000, k)
    row = aggregates.kmv_set_ops(
        spark.createDataFrame(
            [(a, b)], "sketch_a array<long>, sketch_b array<long>"
        ),
        k=k,
    ).collect()[0]
    assert abs(row.union_estimate - 30000) <= 0.25 * 30000
    assert abs(row.jaccard - 1 / 3) <= 0.15
    assert abs(row.intersection_estimate - 10000) <= 0.45 * 10000

    # empty side: no shared elements, union = the nonempty side
    row = aggregates.kmv_set_ops(
        spark.createDataFrame(
            [([], b)], "sketch_a array<long>, sketch_b array<long>"
        ),
        k=k,
    ).collect()[0]
    assert row.jaccard == 0.0 and row.intersection_estimate == 0.0
    assert row.left_only_estimate == 0.0
    assert row.union_estimate == round(row.right_only_estimate)


def test_rank_family_window_parity(spark, oracle_sf_dir):
    """ntile / percent_rank / cume_dist over one shared ordered window
    replay value-for-value in DuckDB -- the former customer_value_ranks
    query's oracle, carried here verbatim: the registered rank row is now rfm_scores'
    skew-free two-phase form, and this pins the window built-ins it no
    longer exercises."""
    from pyspark.sql import Window

    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    orders = load_table(spark, oracle_sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        stable_round(F.sum("o_totalprice"), 2).alias("total_spend")
    )
    w = Window.orderBy("total_spend", "custkey")
    out = spend.select(
        "custkey",
        "total_spend",
        F.ntile(4).over(w).cast("bigint").alias("spend_quartile"),
        stable_round(F.percent_rank().over(w), 4).alias("pct_rank"),
        stable_round(F.cume_dist().over(w), 4).alias("cume"),
    )
    sql = f"""
        WITH spend AS (
          SELECT o_custkey AS custkey,
                 {sql_round('SUM(o_totalprice)', 2)} AS total_spend
          FROM orders
          GROUP BY o_custkey
        )
        SELECT custkey, total_spend,
               CAST(ntile(4) OVER w AS BIGINT)       AS spend_quartile,
               {sql_round('percent_rank() OVER w', 4)} AS pct_rank,
               {sql_round('cume_dist() OVER w', 4)}    AS cume
        FROM spend
        WINDOW w AS (ORDER BY total_spend, custkey)
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []
