"""Physical-plan regression tests: the properties that make these
queries scale must stay in the plan, not just in docstrings.

- filter pushdown reaches the parquet scan (PushedFilters)
- column pruning reaches the scan (ReadSchema carries only needed cols)
- dimension joins broadcast (no shuffle of the fact side for dims)
- aggregations are partial+final (map-side combine)
"""

from __future__ import annotations

import pytest

from bigdata_storage_and_proccess_job_data_spark.plans import all_queries

QS = all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    return (
        QS[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )


@pytest.fixture(scope="module")
def registry_frames(spark, oracle_sf_dir):
    """name -> [returned frame, *plan probe frames] for every registered
    query, built once for the registry-wide sweeps (some queries run
    eager jobs while they build)."""
    return {
        name: [qd.fn(spark, oracle_sf_dir)]
        + [p(spark, oracle_sf_dir) for p in qd.plan_probes]
        for name, qd in QS.items()
    }


def test_filter_pushdown_and_pruning(spark, oracle_sf_dir):
    plan = _plan(spark, oracle_sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read_schema = plan.split("ReadSchema:")[1]
    # 6 needed columns only -- no l_orderkey/l_partkey/... in the scan
    assert "l_orderkey" not in read_schema.split("struct<")[1][:200]


def test_partial_final_aggregation(spark, oracle_sf_dir):
    plan = _plan(spark, oracle_sf_dir, "pricing_summary")
    assert "partial_sum" in plan and plan.count("HashAggregate") >= 2


def test_dimension_joins_broadcast(spark, oracle_sf_dir):
    for name in ["company_stats_v2", "location_stats", "segment_revenue"]:
        plan = _plan(spark, oracle_sf_dir, name)
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast join"
        assert "SortMergeJoin" not in plan, f"{name} shuffles a dim join"


def test_anti_join_is_join_not_subquery_scan(spark, oracle_sf_dir):
    # customers_without_orders retired r9; decontaminated_train carries
    # the LeftAnti shape (anti-join on the contaminated-id set)
    plan = _plan(spark, oracle_sf_dir, "decontaminated_train")
    assert "LeftAnti" in plan


@pytest.mark.parametrize("name", ["dedup_latest", "topk_per_group"])
def test_window_queries_single_shuffle(spark, oracle_sf_dir, name):
    plan = _plan(spark, oracle_sf_dir, name)
    # one hash-partition exchange for the window, nothing else
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_global_topn_is_take_ordered(spark, oracle_sf_dir):
    # ORDER BY + LIMIT must never plan a full global sort
    plan = _plan(spark, oracle_sf_dir, "top_revenue_customers")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_cube_is_single_expand_pass(spark, oracle_sf_dir):
    # all four grouping sets from ONE Expand, not a union of scans
    plan = _plan(spark, oracle_sf_dir, "cube_segment_priority")
    assert plan.count("Expand") == 1
    assert "Union" not in plan


def test_trade_volume_broadcasts_all_dims(spark, oracle_sf_dir):
    # customer/supplier/nation x2 broadcast; the one shuffle join is
    # lineitem |X| orders
    plan = _plan(spark, oracle_sf_dir, "nation_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_event_gaps_reuses_window_partitioning(spark, oracle_sf_dir):
    # groupBy(user_id) after the lag window must not add a second
    # hash-partition exchange on user_id
    plan = _plan(spark, oracle_sf_dir, "event_gaps")
    assert plan.count("hashpartitioning(user_id") <= 1


def test_range_join_is_equi_join_not_nested_loop(spark, oracle_sf_dir):
    # the bin key must make the interval predicate an equi join; the
    # naive form plans as BroadcastNestedLoopJoin (quadratic)
    plan = _plan(spark, oracle_sf_dir, "range_join_incidents")
    assert "NestedLoop" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_skewed_agg_is_two_phase_salted(spark, oracle_sf_dir):
    """The hot-key query must spread the skewed key over salted reducers:
    first exchange hash-partitions on (company, _salt), second on company
    alone -- two aggregation phases, and the salt never leaks out."""
    df = QS["skewed_hot_key_agg"].fn(spark, oracle_sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    salted = [p for p in parts if "_salt" in p and "company" in p]
    unsalted = [p for p in parts if "_salt" not in p and "company" in p]
    assert salted, f"no salted exchange in plan: {parts}"
    assert unsalted, f"no final re-aggregation exchange: {parts}"
    assert "_salt" not in df.columns


def test_chunking_tokenizes_once_per_document(spark, oracle_sf_dir):
    """chunk_documents must materialize the token array BELOW the explode
    (once per doc); if ColumnPruning pushes the split above the Generate
    it re-tokenizes per chunk row -- O(tokens x chunks) per document."""
    df = QS["chunk_documents"].fn(spark, oracle_sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    gen = plan.find("Generate")
    assert gen != -1 and "split(" in plan[gen:], (
        "tokenization must sit below the Generate node"
    )


def test_embedding_neardup_is_bucketed_not_nested_loop(spark, oracle_sf_dir):
    """VERDICT r1's one flagged scale-killer: the embedding near-dup
    query must plan as LSH bucket equi-joins, never an all-pairs
    BroadcastNestedLoopJoin."""
    plan = _plan(spark, oracle_sf_dir, "embedding_neardup_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_correlated_scalar_subquery_decorrelates_and_values(
    spark, oracle_sf_dir
):
    """The former small_quantity_revenue query text, verbatim:
    Catalyst must rewrite the correlated scalar subquery (TPC-H Q17
    shape) into an aggregate + join -- never a per-row subquery or nested loop -- AND the values
    must keep full DuckDB parity. The correlated-EXISTS family keeps
    its driver row via priority_with_late_lines."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import (
        register_views,
    )
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
    )
    from tests.parity import compare, duckdb_connect

    sql = f"""
        SELECT p_brand,
               {sql_round("SUM(l_extendedprice) / 7.0", 2)} AS avg_weekly_revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_quantity < (
          SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = part.p_partkey
        )
        GROUP BY p_brand
    """
    register_views(spark, oracle_sf_dir)
    out = spark.sql(sql)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_unpivot_is_single_pass_expand(spark, oracle_sf_dir):
    """unpivot must plan as one Expand over one scan -- not the UNION ALL
    double-scan the SQL oracle spells out."""
    plan = _plan(spark, oracle_sf_dir, "part_measures_unpivot")
    assert "Expand" in plan
    assert plan.count("FileScan") == 1, plan


def test_semi_join_and_grouping_sets_shapes(spark, oracle_sf_dir):
    # the left-semi plan shape, post the r12 urgent_customers_semi
    # retirement: fleiss_kappa's kept-items membership join is the
    # family's in-window pin (decontaminated_train / hard_negatives
    # keep the anti side)
    plan = _plan(spark, oracle_sf_dir, "fleiss_kappa")
    assert "LeftSemi" in plan
    plan = _plan(spark, oracle_sf_dir, "grouping_sets_mix")
    assert plan.count("Expand") == 1 and "Union" not in plan


def test_no_scale_antipatterns_anywhere(registry_frames):
    """Global plan hygiene: NO registry query may plan a nested-loop
    join, a cartesian product, or row-at-a-time Python (BatchEvalPython)
    -- the three shapes that do not survive a 100x scale-up. Arrow paths
    (MapInPandas/ArrowEvalPython) are fine.

    Inspected plans: the returned frame AND every declared plan probe
    (queries that eagerly materialize their bounded result return a
    LocalTableScan, which hides the real pipeline -- the probes rebuild
    those stages lazily; registry.QueryDef.plan_probes). Any query whose
    returned plan reads NO source at all (no file scan, no RDD scan)
    MUST declare probes, so an eager refactor can never silently
    vacate this gate again (round-5 review finding).

    BroadcastNestedLoopJoin exemptions are LABEL-scoped (ADVICE r5: a
    name-scoped exemption would also mask a future real BNLJ in the
    eager queries' returned frames, which are LocalTableScans today):
    knn_sq8 / ann_recall / media_features_exact's probe ARE the
    broadcast exact-scoring baseline (similarity.brute_force_topk /
    sq8_topk: tiny broadcast query set x corpus, the documented
    correctness anchor / rerank tier for the bucketed ANN paths), and
    impute_mean / join_size_report / bm25_search's probe /
    hybrid_search's probe (the bm25 pipeline) attach ONE-ROW broadcast
    scalar frames (global mean; side/match stats; (N, avgdl)) --
    O(n x 1) or O(1 x 1).
    CartesianProduct and BatchEvalPython have no exemptions anywhere."""
    from bigdata_storage_and_proccess_job_data_spark.plans import lint

    bnlj_ok = {
        # knn_sq8 IS the broadcast exact-scoring rerank baseline (the
        # retired knn_brute_force's documented waiver class: tiny
        # broadcast query set x dequantized corpus; the pruned paths
        # are lsh/ivf/ivfpq)
        "knn_sq8",
        # join_size_report's final step joins three ONE-ROW aggregate
        # frames on a literal TRUE -- the fk_integrity_report one-row
        # broadcast scalar pattern, O(1 x 1)
        "join_size_report",
        "media_features_exact#probe1",
        "impute_mean",
        "bm25_search#probe1",
        "hybrid_search#probe1",
        "ann_recall",
        # the unigram LM's (N, V) scalars and the one-row OOV logp ride
        # ONE-ROW broadcast cross joins (the impute_mean pattern) --
        # O(n x 1), not a candidate explosion
        "unigram_surprisal",
        # hard_negatives IS the broadcast exact-scoring baseline with an
        # anti-join on top (similarity.hard_negatives: bounded broadcast
        # query set x corpus -- the knn_brute_force contract)
        "hard_negatives",
        # fk_integrity_report's final step joins TWO ONE-ROW aggregate
        # frames (fact-side counts x dim-side counts) on a literal TRUE
        # -- the impute_mean one-row broadcast scalar pattern, O(1 x 1)
        "fk_integrity_report",
    }
    hits = []
    for name, qd in QS.items():
        for i, frame in enumerate(registry_frames[name]):
            label = name if i == 0 else f"{name}#probe{i}"
            found = lint.lint_plan(
                frame,
                allow_bnlj=label in bnlj_ok,
                # a sourceless returned frame is fine IFF probes rebuild
                # the real pipeline; probe frames always carry sources
                require_source=(i == 0 and not qd.plan_probes) or i > 0,
            )
            hits.extend(f"{label}:{f}" for f in found)
    assert not hits, hits


def test_lint_plan_api(spark, oracle_sf_dir):
    """The user-facing linter (plans/lint.py) must flag each anti-pattern
    shape and pass clean pipelines -- it is the same check the registry
    sweep above runs, so this pins that factoring."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.plans import lint

    nation = load_table(spark, oracle_sf_dir, "nation")

    clean = nation.groupBy("n_regionkey").count()
    assert lint.lint_plan(clean) == []

    # row-at-a-time Python UDF -> BatchEvalPython
    slow = nation.select(udf(lambda s: s.upper())("n_name"))
    assert "BatchEvalPython" in lint.lint_plan(slow)

    # non-equi join of two unbounded frames -> BNLJ, flagged by default,
    # waivable where a side is provably tiny
    bnlj = nation.alias("a").join(
        nation.alias("b"), F.col("a.n_nationkey") > F.col("b.n_nationkey")
    )
    assert "BroadcastNestedLoopJoin" in lint.lint_plan(bnlj)
    assert lint.lint_plan(bnlj, allow_bnlj=True) == []

    # driver-materialized frame reads no source: flagged unless waived
    local = spark.sql("SELECT 1 AS x")
    assert "sourceless-plan" in lint.lint_plan(local)
    assert lint.lint_plan(local, require_source=False) == []

    with pytest.raises(lint.ScalePlanError, match="BatchEvalPython"):
        lint.assert_scalable(slow)


def test_driver_window_is_first_50():
    """The driver checks exactly the first 50 registry entries; the
    window (plans.DRIVER_WINDOW) must BE those 50, with no duplicates."""
    from bigdata_storage_and_proccess_job_data_spark import plans

    window = plans.DRIVER_WINDOW
    assert len(window) == len(set(window)) == 50
    assert list(QS)[:50] == window


def test_windows_partition_registry():
    """The window and its complement partition the 100-query registry,
    50 each; register() refuses a query past that ceiling."""
    from bigdata_storage_and_proccess_job_data_spark import plans
    from bigdata_storage_and_proccess_job_data_spark.plans import registry

    window, names = set(plans.DRIVER_WINDOW), set(QS)
    assert len(window) == len(names - window) == 50
    assert window | (names - window) == names, sorted(window - names)
    assert len(names) == registry.MAX_REGISTERED == 100
    with pytest.raises(ValueError, match="ceiling"):
        registry.register("one_query_too_many")(lambda s, d: None)


def test_late_r7_operator_plans_scale_safe(spark, sf_dir):
    """Plan lint over library operators that are not registry queries
    (the sweep above only covers registered plans): spatial blocking
    must resolve to an equi-join (never a cartesian/BNLJ), and
    incremental agg maintenance stays clean."""
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.operators import (
        aggregates,
        spatial,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans import lint
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 7919 % 17001) / 100.0 - 85.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias(
            "lon"
        ),
    )
    state = aggregates.agg_state_init(
        orders, ["o_orderpriority"], ["o_totalprice"]
    )
    feed = versioned.change_feed(
        orders, orders.filter(F.col("o_orderkey") % 7 != 0), "o_orderkey"
    )
    clean = {
        "spatial": spatial.spatial_self_pairs(cust, 300.0),
        "agg_state": aggregates.agg_state_apply(
            state, feed, ["o_orderpriority"], ["o_totalprice"]
        ),
    }
    for name, df in clean.items():
        df.write.format("noop").mode("overwrite").save()
        assert lint.lint_plan(df) == [], name


def test_scan_report_surfaces_pushdown_and_rows(spark, sf_dir):
    """scan_report: pushed filter and pruned schema visible per scan;
    rows_read populates after an action and reflects the pushdown."""
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.plans import lint

    df = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 100)
        .select("o_orderkey", "o_totalprice")
    )
    df.write.format("noop").mode("overwrite").save()
    # metrics fill on the frame's OWN action
    df._jdf.queryExecution().toRdd().count()
    rep = lint.scan_report(df)
    assert len(rep) == 1
    scan = rep[0]
    assert "o_orderkey" in (scan["pushed_filters"] or "")
    assert "o_totalprice" in (scan["read_schema"] or "")
    # pushdown is ROW-GROUP granular: the sf0.001 fixture is one row
    # group, so the pushed filter can't skip anything and the scan
    # emits the full table -- exactly the story scan_report exists to
    # tell (the filter is pushed, the layout decides the skipping;
    # point_lookup_lineitem's clustered layout shows the <1% case)
    assert scan["rows_read"] == 1500


def test_driver_outputs_are_canonicalizable(registry_frames):
    """Every registered query's RETURNED schema must be flat scalars:
    the driver's correctness gate canonicalizes results with a pandas
    sort over all columns, which crashes on list/struct/map cells
    (r7's `hashed_doc_vector` err row -- the math was right, the SHAPE
    burned a window slot). Vector-valued surfaces reshape to long form
    (posexplode + generate_subscripts oracle) before registering; the
    wide array forms stay available as library functions."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, frames in registry_frames.items():
        df = frames[0]
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            offenders.append((name, complex_cols))
    assert not offenders, offenders


def test_late_r8_library_ops_pass_the_plan_lint(spark, oracle_sf_dir):
    """The registry-wide lint sweep only gates REGISTERED queries; the
    late-r8 library operators get the same hygiene check here: no
    CartesianProduct, no row-at-a-time Python, BNLJ only where the
    operator's contract documents it (hard_negatives' bounded broadcast
    query set -- the brute_force_topk precedent)."""
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.operators import (
        aggregates,
        corpus,
        similarity,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans import lint

    orders = load_table(spark, oracle_sf_dir, "orders")
    docs = load_table(spark, oracle_sf_dir, "documents")
    emb = load_table(spark, oracle_sf_dir, "embeddings")

    clean = {
        "kmv_sketch": aggregates.kmv_sketch(
            orders, "o_custkey", dims=["o_orderpriority"], k=16
        ),
        "negative_samples": corpus.negative_samples(
            docs.select(
                F.col("source").alias("anchor_id"),
                F.col("doc_id").alias("positive_id"),
            ),
            docs.select(F.col("doc_id").alias("item_id")),
            k=3,
        ),
        "bootstrap_ci": aggregates.bootstrap_ci(
            orders, ["o_orderpriority"], "o_totalprice", "o_orderkey",
            n_boot=12,
        ),
    }
    for name, df in clean.items():
        assert lint.lint_plan(df) == [], name

    # documented exceptions
    hn = similarity.hard_negatives(
        emb.filter(F.col("vec_id") < 3),
        emb,
        emb.select(
            F.col("vec_id").alias("anchor_id"),
            F.col("vec_id").alias("positive_id"),
        ),
        k=2,
    )
    assert lint.lint_plan(hn, allow_bnlj=True) == []

    from bigdata_storage_and_proccess_job_data_spark.operators import bpe

    enc = bpe.bpe_encode(docs.limit(5), [("t", "h"), ("th", "e")])
    findings = lint.lint_plan(enc)
    assert all("Cartesian" not in f and "NestedLoop" not in f for f in findings)


def test_r9_experiment_ops_pass_the_plan_lint(spark, oracle_sf_dir):
    """The round-9 experiment-readout additions get the registry
    hygiene check: mutual_information, diff_in_diff,
    minimum_detectable_effect, srm_check and the conformal pair are pure
    DataFrame compositions -- no CartesianProduct, no row-at-a-time
    Python, no nested-loop joins (conformal_apply's keyed broadcast
    included)."""
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates
    from bigdata_storage_and_proccess_job_data_spark.plans import lint

    orders = load_table(spark, oracle_sf_dir, "orders")
    arm = F.when(F.col("o_orderkey") % 2 == 0, "even").otherwise("odd")
    pre = orders.select(
        "o_orderpriority",
        arm.alias("arm"),
        (F.col("o_orderdate") >= F.lit("1995-01-01")).alias("p"),
        F.col("o_totalprice").alias("v"),
        "o_orderstatus",
    )
    fit = aggregates.conformal_interval(
        pre.select(
            "o_orderpriority",
            F.col("v").alias("pred"),
            (F.col("v") * 1.01).alias("actual"),
        ),
        "pred",
        "actual",
        0.1,
        ["o_orderpriority"],
    )
    clean = {
        "mutual_information": aggregates.mutual_information(
            pre, "arm", "o_orderstatus", ["o_orderpriority"]
        ),
        "diff_in_diff": aggregates.diff_in_diff(
            pre, "arm", "p", "v", "even", True, ["o_orderpriority"]
        ),
        "minimum_detectable_effect": aggregates.minimum_detectable_effect(
            pre, "arm", "v", "even", "odd", ["o_orderpriority"]
        ),
        "srm_check": aggregates.srm_check(
            pre, "arm", {"even": 1, "odd": 1}, ["o_orderpriority"]
        ),
        "cusum_changepoints": aggregates.cusum_changepoints(
            pre.select(
                "o_orderpriority",
                F.col("v").alias("ord"),
                F.col("v").alias("x"),
            ),
            ["o_orderpriority"],
            "ord",
            "x",
        ),
        "conformal_interval": fit,
        "conformal_apply": aggregates.conformal_apply(
            pre.select("o_orderpriority", F.col("v").alias("pred")),
            fit,
            "pred",
            ["o_orderpriority"],
        ),
    }
    for name, df in clean.items():
        assert lint.lint_plan(df) == [], name


def test_late_r9_ops_pass_the_plan_lint(spark, oracle_sf_dir):
    """ALS prediction joins are pure DataFrame compositions -- no
    CartesianProduct, no row-at-a-time Python, no unwaived nested-loop
    joins. (The iterative fit, als_fit, is replica-tested instead; the
    lint covers what a registered query would compose.)"""
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.operators import (
        factorization,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans import lint

    events = load_table(spark, oracle_sf_dir, "events")
    als_model = {
        "user_factors": factorization.init_factors(
            events, "user_id", 4
        ),
        "item_factors": factorization.init_factors(
            events.select(
                F.col("event_type").alias("item")
            ),
            "item",
            4,
        ),
        "rank": 4,
    }
    clean = {
        "als_predict": factorization.predict(
            events.select(
                "user_id", F.col("event_type").alias("item")
            ),
            als_model,
            "user_id",
            "item",
        ),
    }
    for name, df in clean.items():
        assert lint.lint_plan(df) == [], name


def test_restart_wave_ops_pass_the_plan_lint(spark, oracle_sf_dir):
    """Query-composable library operators ride the same registry
    hygiene sweep: no CartesianProduct, no row-at-a-time Python, no
    unwaived nested-loop joins. (Arrow/iterative-by-design paths --
    unigram_fit, mips of the brute kind uses an explicit broadcast
    cross join waived at the registry level like knn_brute_force --
    are replica-tested instead.)"""
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.operators import (
        aggregates,
        corpus,
        features,
        funnel,
        joins,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans import lint

    orders = load_table(spark, oracle_sf_dir, "orders")
    events = load_table(spark, oracle_sf_dir, "events")
    docs = load_table(spark, oracle_sf_dir, "documents")
    customer = load_table(spark, oracle_sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    te = features.target_encode_fit(
        orders, ["o_orderpriority"], "o_totalprice"
    )
    vocab = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
    ).distinct().limit(500)
    kn_bi, kn_ctx, kn_cont, kn_d = corpus.kn_bigram_tables(docs.limit(50))
    clean = {
        "hot_key_split_join": joins.hot_key_split_join(
            orders.select(
                "o_orderkey",
                F.col("o_custkey").alias("c_custkey"),
            ),
            customer,
            "c_custkey",
            [7],
        ),
        "curriculum_order": corpus.curriculum_order(
            docs.withColumn("d", F.length("text").cast("double")),
            "doc_id",
            "d",
            salt="lint",
        ),
        "vocab_coverage": corpus.vocab_coverage(docs, vocab),
        "kn_surprisal": corpus.kn_surprisal(
            docs, kn_bi, kn_ctx, kn_cont, kn_d
        ),
        "retention_matrix": funnel.retention_matrix(events),
        "anova_oneway": aggregates.anova_oneway(
            orders, "o_orderpriority", "o_totalprice"
        ),
        "target_encode_apply": features.target_encode_apply(
            orders, te, ["o_orderpriority"], loo_target="o_totalprice"
        ),
    }
    # ops that carry a DOCUMENTED one-row scalar as a broadcast cross
    # join (grand totals, OOV mass, artifact-derived priors) take the
    # registry's standing waiver; everything else must be BNLJ-free
    scalar_waived = {
        "kn_surprisal",          # one-row OOV continuation mass
        "curriculum_order",      # one-row n for the exact ntile
        "target_encode_apply",   # one-row prior/smoothing stats
    }
    for name, df in clean.items():
        allow = name in scalar_waived
        assert lint.lint_plan(df, allow_bnlj=allow) == [], name


def test_r11_eval_ops_pass_the_plan_lint(spark, oracle_sf_dir):
    """The r11 model-eval/fairness wave rides the same hygiene sweep:
    classification_report is one conditional hash agg,
    disparity_report's pooled fold is a window over the post-agg group
    frame, and lift_table's rank pass is the two-phase
    global_row_number (whose bounded offset join is a broadcast --
    never a nested loop). No CartesianProduct, no row-at-a-time
    Python, no unwaived BNLJ."""
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.operators import (
        aggregates,
        corpus,
        rangejoin,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans import lint

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.col("o_orderkey").alias("id"),
        ((F.col("o_orderkey") % 97) / 96.0).alias("s"),
        (F.col("o_custkey") % 2).cast("double").alias("y"),
        (F.col("o_orderkey") % 3 == 0).cast("double").alias("p"),
    )
    docs = load_table(spark, oracle_sf_dir, "documents")
    clean = {
        "classification_report": aggregates.classification_report(
            orders, "y", "p", keys=["o_orderstatus"]
        ),
        "disparity_report": aggregates.disparity_report(
            orders, "o_orderpriority", "y", "p"
        ),
        "lift_table": aggregates.lift_table(
            orders, "s", "y", "id", n_buckets=10
        ),
        # serpentine shard dealing rides the two-phase global rank --
        # no single-task window may appear
        "balanced_shards": corpus.balanced_shards(
            docs.select("doc_id", F.length("text").alias("_w")),
            "doc_id",
            "_w",
            7,
        ),
        # pass@k: ONE hash agg + per-row k-term folds -- no UDF, no
        # second pass (r13 addition)
        "pass_at_k": aggregates.pass_at_k(
            orders.select("id", "y"), "id", "y", ks=(1, 5)
        ),
        # mcnemar: ONE conditional hash agg, closed-form algebra
        # post-agg (r13 addition)
        "mcnemar_test": aggregates.mcnemar_test(
            orders.select("o_orderstatus", "y", "p"),
            "y",
            "p",
            keys=["o_orderstatus"],
        ),
        # krippendorff (keyed): cell agg -> checkpointed bounded
        # frames, class totals via left-semi on pairable items, final
        # assembly equi-joins on the key (r13 addition; the keyless
        # one-row-frames form is waived below, the join_size_report
        # precedent)
        "krippendorff_alpha": aggregates.krippendorff_alpha(
            orders.select(
                (F.col("id") % 40).alias("item"),
                "o_orderstatus",
                "o_orderpriority",
            ),
            "item",
            "o_orderpriority",
            keys=["o_orderstatus"],
        ),
        # win-rate matrix: ONE hash agg to the pairs-bounded frame,
        # Wilson algebra post-agg (r13 addition)
        "win_rate_pairs": corpus.win_rate_pairs(
            orders.select(
                F.concat(F.lit("m"), (F.col("id") % 5).cast("string")).alias(
                    "winner"
                ),
                F.concat(F.lit("m"), (F.col("id") % 3).cast("string")).alias(
                    "loser"
                ),
            ).filter(F.col("winner") != F.col("loser"))
        ),
        # two one-pass profile aggs + a broadcast equi-join on the
        # bounded column frames
        "profile_diff": aggregates.profile_diff(
            orders.select("id", "s", "y"),
            orders.select("id", (F.col("s") + 1.0).alias("s"), "p"),
            distinct="approx",
        ),
        # interval coalescing: one keyed ordered window + one hash agg
        "merge_intervals": rangejoin.merge_intervals(
            orders.select(
                "o_orderstatus",
                (F.col("id") % 1000).alias("s"),
                ((F.col("id") % 1000) + 25).alias("e"),
            ),
            "s",
            "e",
            keys=["o_orderstatus"],
        ),
    }
    for name, df in clean.items():
        assert lint.lint_plan(df) == [], name
    # join_size_report's final assembly is three ONE-ROW aggregate
    # frames met by broadcast cross joins -- the impute_mean /
    # fk_integrity_report scalar-waiver class; the key-grain join
    # itself must stay an equi-join
    from bigdata_storage_and_proccess_job_data_spark.operators import joins

    jsr = joins.join_size_report(
        orders, load_table(spark, oracle_sf_dir, "customer"),
        "id", "c_custkey",
    )
    assert lint.lint_plan(jsr, allow_bnlj=True) == []
    assert "CartesianProduct" not in jsr._jdf.queryExecution().executedPlan().toString()
    # KEYLESS krippendorff_alpha shares the same waiver: its final
    # assembly is three ONE-ROW frames met by broadcast cross joins
    ka = aggregates.krippendorff_alpha(
        orders.select((F.col("id") % 40).alias("item"), "o_orderstatus"),
        "item",
        "o_orderstatus",
    )
    assert lint.lint_plan(ka, allow_bnlj=True) == []
    assert "CartesianProduct" not in ka._jdf.queryExecution().executedPlan().toString()


def test_r11_promoted_query_plan_pins(spark, oracle_sf_dir):
    """Physical-plan pins for the four queries promoted in r11 -- the
    properties that make them scale must stay in the plan:

    - bh_adjust: all three window passes (rank, family count, tail
      min) share ONE hash exchange on the key family; nothing ever
      moves to a single partition.
    - ks_test: keyed throughout -- per-side aggs and the ECDF window
      partition on the key, zero SinglePartition exchanges (the
      keyless melt the safe default exists for can't reappear here).
    - table_diff: exactly ONE join (the full-outer on the key), both
      sides exchanged on that key, no second shuffle for the
      changed-cols logic.
    - fk_integrity_report: exactly ONE BroadcastNestedLoopJoin -- the
      waived one-row scalar assembly -- and the only SinglePartition
      exchanges are the two one-row aggregate finals."""
    import re

    def plan(name):
        return (
            QS[name]
            .fn(spark, oracle_sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan("bh_adjust")
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p
    assert "Exchange SinglePartition" not in p
    assert set(re.findall(r"hashpartitioning\((\w+)", p)) == {
        "o_orderstatus"
    }

    p = plan("ks_test")
    assert "Exchange SinglePartition" not in p
    assert set(re.findall(r"hashpartitioning\((\w+)", p)) == {
        "o_orderstatus"
    }

    p = plan("table_diff")
    joins_n = (
        p.count("SortMergeJoin")
        + p.count("ShuffledHashJoin")
        + p.count("BroadcastHashJoin")
    )
    assert joins_n == 1, p
    assert "Exchange SinglePartition" not in p
    assert "BroadcastNestedLoopJoin" not in p

    p = plan("fk_integrity_report")
    assert p.count("BroadcastNestedLoopJoin") == 1, p
    # one-row finals only: at most the fact-side and dim-side
    # aggregate completions
    assert p.count("Exchange SinglePartition") <= 2, p


def test_r12_promoted_query_plan_pins(spark, oracle_sf_dir):
    """Physical-plan pins for the two queries promoted in r12. Both
    operators checkpoint their base cell aggregation (the bh_adjust
    localCheckpoint convention), so the raw ratings are scanned and
    aggregated exactly once; the inspected plan is everything
    DOWNSTREAM of that frame and must stay keyed end-to-end:

    - consensus_labels: exactly TWO hash exchanges over the cell frame
      (totals agg + winner window share the item key), zero
      SinglePartition, no nested loops.
    - fleiss_kappa: every exchange carries the slice key (the keyless
      melt a global modal filter could cause can't reappear), zero
      SinglePartition, the kept-items membership is a real LeftSemi,
      no nested loops."""
    import re

    def plan(name):
        return (
            QS[name]
            .fn(spark, oracle_sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan("consensus_labels")
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 2, p
    assert "Exchange SinglePartition" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p

    p = plan("fleiss_kappa")
    assert "Exchange SinglePartition" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p
    # keyed end-to-end: every hash exchange includes the slice key
    for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", p):
        assert "o_orderstatus" in keys, p


def test_r13_promoted_query_plan_pins(spark, oracle_sf_dir):
    """Physical-plan pins for the three queries promoted in r13:

    - classification_report: ONE pruned scan, ONE conditional hash agg
      (partial+final pair), keyed on the slice throughout -- no joins,
      no windows, no SinglePartition.
    - merge_intervals: ONE pruned scan, the island window + island agg
      both keyed on o_orderstatus -- no joins, no SinglePartition.
    - profile_diff: exactly TWO scans (old vs mutated snapshot --
      two-sided by construction, the table_diff class), exactly ONE
      full-outer SortMergeJoin on the BOUNDED per-column frames (full
      outer cannot broadcast; its inputs are column-count-sized), and
      at most the two one-row per-side profile finals as
      SinglePartition exchanges."""
    import re

    def plan(name):
        return (
            QS[name]
            .fn(spark, oracle_sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan("classification_report")
    assert p.count("FileScan") == 1, p
    assert "Exchange SinglePartition" not in p
    assert "Join" not in p and "Window" not in p
    assert set(re.findall(r"hashpartitioning\((\w+)", p)) == {
        "o_orderstatus"
    }

    p = plan("merge_intervals")
    assert p.count("FileScan") == 1, p
    assert "Exchange SinglePartition" not in p
    assert "Join" not in p
    assert set(re.findall(r"hashpartitioning\((\w+)", p)) == {
        "o_orderstatus"
    }

    p = plan("profile_diff")
    assert p.count("FileScan") == 2, p
    assert p.count("SortMergeJoin") == 1, p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert p.count("Exchange SinglePartition") <= 2, p


def test_r14_promoted_query_plan_pins(spark, oracle_sf_dir):
    """Physical-plan pins for the four queries promoted in r14:

    - knn_ivfpq: ONE embeddings scan; candidates come from the CELL
      equi-join (never a nested loop or cartesian), the ADC pass is
      Arrow mapInPandas (never row-at-a-time BatchEvalPython), and the
      only hash exchange key is the per-query rank partition.
    - knn_sq8: the documented broadcast exact-rerank baseline -- its
      ONE BroadcastNestedLoopJoin is the waived bounded-query-set
      broadcast; everything else is native expressions (no Python
      boundary of any kind).
    - join_size_report: key-grain aggs shuffle on the key only; the
      per-side key frames deliberately RE-SCAN per consumer (two scans
      per side -- at 100 TB re-reading parquet beats materializing a
      billion-distinct-key frame, the documented scan-once exception
      for corpus-sized frames), and the one-row stat assemblies are
      the only SinglePartition exchanges / BNLJs.
    - balanced_shards: the two-phase global rank -- NO SinglePartition
      exchange anywhere (the whole point vs a global Window.orderBy),
      the one Window keyed by the range-partition id, offsets met by a
      broadcast join."""
    import re

    def plan(name):
        return (
            QS[name]
            .fn(spark, oracle_sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan("knn_ivfpq")
    assert p.count("FileScan") == 1, p
    assert "Exchange SinglePartition" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" in p
    assert set(re.findall(r"hashpartitioning\((\w+)", p)) == {"query_id"}

    p = plan("knn_sq8")
    assert p.count("FileScan") == 2, p
    assert "Exchange SinglePartition" not in p
    assert p.count("BroadcastNestedLoopJoin") == 1, p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInPandas" not in p
    assert set(re.findall(r"hashpartitioning\((\w+)", p)) == {"query_id"}

    p = plan("join_size_report")
    assert p.count("FileScan") == 4, p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 2, p
    assert p.count("Exchange SinglePartition") <= 3, p
    assert set(re.findall(r"hashpartitioning\((\w+)", p)) == {"_k"}

    p = plan("balanced_shards")
    assert "Exchange SinglePartition" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert p.count("Window") == 1, p
    assert set(re.findall(r"hashpartitioning\((\w+)", p)) == {"_gpid"}


def test_scan_once_pins(spark, oracle_sf_dir):
    """Duplicate-scan regression pins (the r12 audit): a branching
    dataflow that forgets to checkpoint its shared post-agg frame
    recomputes the base scan once per consumer -- the executed plans
    below must keep their audited scan counts. unigram_surprisal reads
    documents exactly twice (score explode + empty-doc re-attach, two
    different projections; the LM FIT's scan is checkpointed out),
    while retention_matrix and the two r12 labeling queries show ZERO
    raw scans downstream -- their single base scan runs inside the
    eager checkpoint and everything returned derives from the
    checkpointed frames."""
    import re

    def scans(name, table):
        p = (
            QS[name]
            .fn(spark, oracle_sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return len(re.findall(rf"{table}\.parquet", p))

    assert scans("unigram_surprisal", "documents") == 2
    assert scans("retention_matrix", "events") == 0
    assert scans("consensus_labels", "orders") == 0
    assert scans("fleiss_kappa", "orders") == 0
    assert scans("daily_activity_gapfill", "events") == 0
    # r13 (the fix the r12 audit deferred to impute_mean's window
    # round): the 1-row mean is checkpointed, so the imputation plan
    # scans orders exactly once (lazily the mean subtree re-scanned it
    # inside every consuming job)
    assert scans("impute_mean", "orders") == 1
