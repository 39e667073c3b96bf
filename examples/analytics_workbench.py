"""Analytics-workbench demo: the round-7 statistics / feature / graph
suite over the driver fixtures, end to end.

The other examples cover the reference dataflow (run_pipeline), corpus
curation (corpus_pipeline), and incremental ingest; this one is the
"data science on the lake" loop the engine's aggregate additions serve:

  1. profile the table (one-pass schema-driven stats)
  2. fit feature artifacts on a TRAIN snapshot (standardize + quantile
     bins), persist them, apply to a later batch -- the train/serve
     split with stored statistics
  3. read out a synthetic A/B experiment: Welch t on order value,
     two-proportion z on a conversion flag, per-group OLS trend
  4. graph analytics on the customer->part interaction graph:
     PageRank authority, label-propagation communities, triangle
     density, seed-set hop distances
  5. geo-dedup: radius self-pairs over derived coordinates
  6. refresh a stored revenue view from a change feed instead of
     recomputing it (agg_state_* -- O(changes), verified equal)
  7-8. experiment readouts (CUPED, bootstrap CIs, rank-sum, mSPRT,
     SRM/MDE/DiD/MI, conformal bands on md5-coin splits) and KMV
     audience overlap
  9. level-shift monitoring (CUSUM on monthly revenue) + Holt
     trend forecasts
  10. graph embeddings: deterministic md5 walks -> skip-gram pairs
     -> SPPMI -> ALS factor vectors

Every step prints a small summary; nothing wider than bounded top-k
results ever reaches the driver.

Run:  python examples/analytics_workbench.py   (reads sf0.001, ~90 s)
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table  # noqa: E402
from bigdata_storage_and_proccess_job_data_spark.operators import (  # noqa: E402
    aggregates,
    factorization,
    features,
    graph,
    spatial,
)
from bigdata_storage_and_proccess_job_data_spark.session import get_spark  # noqa: E402
from bigdata_storage_and_proccess_job_data_spark.sources import versioned  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    spark = get_spark(app_name="analytics-workbench")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="workbench_")

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )

    # -- 1. profile ----------------------------------------------------
    prof = aggregates.profile_table(
        orders.select("o_orderpriority", "o_totalprice")
    )
    print("== profile ==")
    for r in prof.collect():
        print(
            f"  {r.column}: nulls={r.n_nulls} distinct~{r.n_distinct} "
            f"min={r['min']} max={r['max']}"
        )

    # -- 2. feature artifacts: fit on train, apply to serve ------------
    train = orders.filter(F.col("o_orderkey") % 10 != 0)
    serve = orders.filter(F.col("o_orderkey") % 10 == 0)
    fit = features.standardize_fit(
        train, ["o_totalprice"], keys=["o_orderpriority"]
    )
    bins = features.quantile_bins_fit(
        train, "o_totalprice", 10, keys=["o_orderpriority"]
    )
    fit.write.mode("overwrite").parquet(os.path.join(work, "fit"))
    bins.write.mode("overwrite").parquet(os.path.join(work, "bins"))
    scored = features.quantile_bins_apply(
        features.standardize_apply(
            serve,
            spark.read.parquet(os.path.join(work, "fit")),
            ["o_totalprice"],
            keys=["o_orderpriority"],
        ),
        spark.read.parquet(os.path.join(work, "bins")),
        "o_totalprice",
        keys=["o_orderpriority"],
    )
    ex = scored.orderBy("o_orderkey").limit(3).collect()
    print("== features (serve batch, stored artifacts) ==")
    for r in ex:
        print(
            f"  order {r.o_orderkey}: price={r.o_totalprice:.2f} "
            f"z={r.o_totalprice_z:+.3f} bin={r.o_totalprice_bin}"
        )

    # -- 3. experiment readout -----------------------------------------
    exp = orders.withColumn(
        "arm", F.when(F.col("o_orderkey") % 2 == 0, "a").otherwise("b")
    ).withColumn("converted", F.col("o_orderkey") % 5 == 0)
    t = aggregates.welch_ttest(
        exp, "arm", "o_totalprice", "a", "b"
    ).collect()[0]
    z = aggregates.proportion_ztest(
        exp, "arm", "converted", "a", "b"
    ).collect()[0]
    print("== A/B readout ==")
    print(
        f"  value: diff={t.diff:+.2f} t={t.t_stat:+.3f} dof={t.dof:.0f}"
    )
    print(
        f"  conversion: {z.rate_a:.3f} vs {z.rate_b:.3f} "
        f"z={z.z_stat:+.3f}"
    )
    trend = aggregates.group_linear_fit(
        load_table(spark, SF_DIR, "lineitem"),
        "l_quantity",
        "l_extendedprice",
        keys=["l_returnflag"],
    )
    for r in trend.orderBy("l_returnflag").collect():
        print(
            f"  trend[{r.l_returnflag}]: slope={r.slope:.1f} "
            f"r2={r.r2:.3f} n={r.n}"
        )

    # -- 4. graph analytics --------------------------------------------
    li = load_table(spark, SF_DIR, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 500 + 1_000_000).alias("src"),
        F.col("l_partkey").alias("dst"),
    )
    pr = graph.pagerank(edges, iters=8)
    top = pr.orderBy(F.col("rank").desc()).limit(3).collect()
    comms = graph.label_propagation(edges, iters=5)
    n_comm = comms.select("label").distinct().count()
    tri = graph.triangle_counts(
        li.select(
            (F.col("l_orderkey") % 101).alias("src"),
            (F.col("l_partkey") % 101).alias("dst"),
        )
    )
    tri_total = tri.agg(F.sum("triangles")).collect()[0][0] // 3
    seeds = spark.createDataFrame([(1_000_000,)], "s long")
    hops = graph.shortest_paths(edges, seeds, max_hops=4, directed=False)
    reach = hops.groupBy("dist").count().orderBy("dist").collect()
    print("== graph ==")
    print(f"  top authority nodes: {[int(r.node) for r in top]}")
    print(f"  communities (LPA): {n_comm}")
    print(f"  triangles (mod-101 projection): {tri_total}")
    print(
        "  reachable by hops: "
        + ", ".join(f"{r.dist}:{r['count']}" for r in reach)
    )

    # -- 5. geo-dedup --------------------------------------------------
    pts = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 7919 % 17001) / 100.0 - 85.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias(
            "lon"
        ),
    )
    pairs = spatial.spatial_self_pairs(pts, 500.0)
    print(f"== geo == pairs within 500 km: {pairs.count()}")

    # -- 6. incremental view refresh -----------------------------------
    keys, measures = ["o_orderpriority"], ["o_totalprice"]
    state = aggregates.agg_state_init(orders, keys, measures)
    new = orders.filter(F.col("o_orderkey") % 13 != 0)
    feed = versioned.change_feed(orders, new, "o_orderkey")
    refreshed = aggregates.agg_state_result(
        aggregates.agg_state_apply(state, feed, keys, measures),
        keys,
        measures,
    )
    recomputed = aggregates.agg_state_result(
        aggregates.agg_state_init(new, keys, measures), keys, measures
    )
    a = {r.o_orderpriority: r.cnt for r in refreshed.collect()}
    b = {r.o_orderpriority: r.cnt for r in recomputed.collect()}
    n_changes = feed.count()
    assert a == b, "incremental refresh diverged from recompute"
    print(
        f"== incremental view == {n_changes} feed rows folded; "
        f"refresh == recompute across {len(a)} groups"
    )
    # -- 7. experiment readout: CUPED -> t-stat + bootstrap CI --------
    # arms from the md5 coin of the customer key (leakage_safe_split's
    # group-atomic assignment), pre-period covariate from the customer
    # key, metric = order totalprice
    exp = orders.select(
        F.col("o_orderkey").alias("oid"),
        F.col("o_totalprice").alias("y"),
        (F.col("o_custkey") % 997).cast("double").alias("x_pre"),
        F.when(
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.col("o_custkey").cast("string")), 1, 8
                    ), 16, 10
                ).cast("long"), F.lit(2)
            ) == 0, "control"
        ).otherwise("treat").alias("arm"),
    )
    adj = aggregates.cuped_adjust(exp, ["arm"], "y", "x_pre")
    tt = aggregates.welch_ttest(
        adj.filter(F.col("metric_cuped").isNotNull()),
        treat_col="arm", value_col="metric_cuped",
        group_a="control", group_b="treat",
    )
    ci = aggregates.bootstrap_ci(
        adj, ["arm"], "metric_cuped", "oid", n_boot=40, salt="wb"
    )
    tt_row = tt.collect()[0]
    ci_rows = {r.arm: r for r in ci.collect()}
    print(
        "== experiment == welch t="
        f"{tt_row.t_stat:.3f} (A/A-shaped split, expect |t| small); "
        + "; ".join(
            f"{a}: mean {r.mean:.1f} CI [{r.ci_lo:.1f}, {r.ci_hi:.1f}]"
            for a, r in sorted(ci_rows.items())
        )
    )
    for r in ci_rows.values():
        assert r.ci_lo <= r.mean <= r.ci_hi

    # nonparametric second opinion + peeking-safe monitor (r9): the
    # rank-sum z ignores the heavy tail entirely, and the mSPRT p is
    # valid at EVERY peek. On this A/A-shaped split (arms drawn from
    # the same population, H0: arm mean == the overall mean) both
    # should read "no effect"
    rs = aggregates.rank_sum_test(
        adj, "arm", "y", "control", "treat"
    ).collect()[0]
    overall = adj.agg(F.avg("y")).first()[0]
    seq = aggregates.sequential_mixture_test(
        adj, ["arm"], "oid", "y", theta0=float(overall)
    )
    final_p = {
        r.arm: r.p_always_valid
        for r in seq.groupBy("arm")
        .agg(F.min("p_always_valid").alias("p_always_valid"))
        .collect()
    }
    print(
        f"== experiment (robust) == rank-sum z={rs.z_stat:.3f}; "
        "always-valid p (min over every peek): "
        + ", ".join(f"{a}={p:.3f}" for a, p in sorted(final_p.items()))
    )
    assert abs(rs.z_stat) < 4

    # completeness wave (late r9): was the flat read just underpowered?
    # MDE says what THIS traffic could have detected; diff-in-diff shows
    # the rollout-without-randomization readout (pre/post from the order
    # date, shared trends cancel); mutual information confirms the arm
    # coin carries ~zero information about the order's priority (a
    # randomization health check); and a split-conformal band wraps a
    # naive per-arm forecast with a distribution-free guarantee
    srm = aggregates.srm_check(
        exp, "arm", {"control": 1, "treat": 1}
    ).first()
    assert srm.chi2 < 10.83, "sample-ratio mismatch: assignment broken"
    mde = aggregates.minimum_detectable_effect(
        exp, "arm", "y", "control", "treat"
    ).first()
    arm_coin = F.when(
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.col("o_custkey").cast("string")), 1, 8
                ), 16, 10
            ).cast("long"), F.lit(2)
        ) == 0, "control"
    ).otherwise("treat")
    did = aggregates.diff_in_diff(
        load_table(spark, SF_DIR, "orders").select(
            arm_coin.alias("arm"),
            (F.col("o_orderdate") >= "1998-01-01").alias("post"),
            F.col("o_totalprice").alias("y"),
        ),
        "arm", "post", "y", "treat", True,
    ).first()
    mi = aggregates.mutual_information(
        orders.select(
            F.when(F.col("o_custkey") % 2 == 0, "even")
            .otherwise("odd").alias("coin"),
            "o_orderpriority",
        ),
        "coin", "o_orderpriority",
    ).first()
    # md5-coin splits, NOT seeded sample(): Spark's sample(seed=) is
    # partition-layout-dependent (run-to-run coverage wobbled across
    # the 80% line), while the repo's md5 coin is a pure function of
    # the row key -- deterministic splits, and disjoint by range
    split_coin = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.col("o_orderkey").cast("string")), 1, 15
            ), 16, 10
        ).cast("long"), F.lit(100)
    )
    scored_orders = orders.select(
        "o_orderpriority",
        F.col("o_totalprice").alias("actual"),
        F.avg("o_totalprice")
        .over(Window.partitionBy("o_orderpriority"))
        .alias("pred"),
        split_coin.alias("_coin"),
    )
    cal = scored_orders.filter(F.col("_coin") < 50)
    fit = aggregates.conformal_interval(
        cal, "pred", "actual", alpha=0.2, keys=["o_orderpriority"]
    )
    fresh = scored_orders.filter(F.col("_coin") >= 70)
    banded = aggregates.conformal_apply(
        fresh, fit, "pred", ["o_orderpriority"]
    )
    cov = banded.agg(
        F.avg(
            (
                (F.col("actual") >= F.col("lo"))
                & (F.col("actual") <= F.col("hi"))
            ).cast("double")
        )
    ).first()[0]
    print(
        f"== experiment (power/robustness) == srm chi2={srm.chi2:.2f} (pass); mde_rel="
        f"{mde.mde_rel:.4f} (detectable lift at this traffic); "
        f"DiD={did.did:.1f} z={did.z_stat:.2f} (A/A rollout, expect ~0); "
        f"MI(coin; priority)={mi.mi:.2e} nats (~0 = healthy "
        f"randomization); conformal coverage={cov:.3f} @ 80% target"
    )
    assert mde.mde_rel is not None and mde.mde_rel > 0
    assert abs(did.z_stat) < 4
    assert mi.mi < 0.01
    assert cov >= 0.78

    # -- 8. audience overlap via KMV sketches --------------------------
    sk = aggregates.kmv_sketch(
        orders, "o_custkey", dims=["o_orderpriority"], k=128
    )
    two = sk.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).collect()
    if len(two) == 2:
        pair = spark.createDataFrame(
            [(two[0].sketch, two[1].sketch)],
            "sketch_a array<long>, sketch_b array<long>",
        )
        ov = aggregates.kmv_set_ops(pair, k=128).collect()[0]
        print(
            f"== kmv overlap == urgent vs low buyers: "
            f"jaccard ~{ov.jaccard:.2f}, "
            f"union ~{ov.union_estimate}, both ~{ov.intersection_estimate:.0f}"
        )
        assert ov.union_estimate > 0

    # -- 9. level-shift monitoring + trend forecast --------------------
    per_day = (
        load_table(spark, SF_DIR, "orders")
        .groupBy(
            "o_orderpriority",
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    cus = aggregates.cusum_changepoints(
        per_day, ["o_orderpriority"], "m", "rev",
        drift=0.5, threshold=5.0,
    )
    n_alarms = cus.filter(F.col("alarm")).count()
    holt = aggregates.holt_smooth(
        per_day, ["o_orderpriority"], "m", "rev", alpha=0.4, beta=0.2
    )
    fc = aggregates.holt_forecast(
        holt, ["o_orderpriority"], "m", horizon=3
    )
    print(
        f"== monitoring == cusum alarms on monthly revenue: {n_alarms}; "
        f"holt 3-month forecasts: {fc.count()} rows"
    )
    assert fc.count() == per_day.select("o_orderpriority").distinct().count() * 3

    # -- 10. graph embeddings: walks -> skipgram -> SPPMI -> ALS -------
    inter = (
        load_table(spark, SF_DIR, "lineitem").select(
            F.col("l_suppkey").alias("src"),
            (F.col("l_partkey") % 200).alias("dst"),
        )
        .limit(4000)
    )
    walks = graph.random_walks(inter, walk_len=4, walks_per_node=1,
                               directed=False, max_neighbors=16)
    sg = (
        graph.walk_skipgram_pairs(walks, window=2)
        .groupBy("center", "context")
        .agg(F.sum("n").alias("n"))
    )
    sppmi = graph.pmi_pairs(sg)
    emb_model = factorization.als_fit(
        sppmi, "center", "context", "sppmi", rank=8, iters=3, reg=0.05
    )
    n_vec = emb_model["user_factors"].count()
    recs = factorization.recommend_topk(
        emb_model, k=3,
        seen=sppmi.select(
            F.col("center").alias("user"), F.col("context").alias("item")
        ),
        user_col="user", item_col="item",
    )
    n_rec_users = recs.select("user").distinct().count()
    print(
        f"== graph embeddings == {n_vec} node vectors from "
        f"{sppmi.count()} SPPMI pairs (deterministic md5 walks); "
        f"MIPS top-3 fresh recommendations for {n_rec_users} nodes"
    )
    assert n_vec > 0 and n_rec_users > 0

    # -- 11. k-group tests, growth matrix, leakage-safe features -------
    orders = load_table(spark, SF_DIR, "orders")
    an = aggregates.anova_oneway(
        orders, "o_orderpriority", "o_totalprice", keys=["o_orderstatus"]
    ).collect()
    from bigdata_storage_and_proccess_job_data_spark.operators import funnel

    ret = funnel.retention_matrix(
        load_table(spark, SF_DIR, "events"), period="week"
    )
    week0 = ret.filter(F.col("period_offset") == 0).count()
    art = features.target_encode_fit(
        orders, ["o_orderpriority"], "o_totalprice", smoothing=20.0
    )
    enc = features.target_encode_apply(
        orders, art, ["o_orderpriority"], loo_target="o_totalprice"
    )
    print(
        f"== cohorts/tests/features == anova slices: "
        f"{[(r.o_orderstatus, round(r.f_stat, 2)) for r in an]}; "
        f"retention cohorts: {week0}; target-encoded rows: {enc.count()}"
    )
    assert week0 > 0 and enc.count() == orders.count()
    assert all(r.f_stat is not None for r in an)

    # -- 12. embedding hygiene: multivariate outliers + cluster quality
    from bigdata_storage_and_proccess_job_data_spark.operators import (
        clustering,
        reduction,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    maha_model = reduction.mahalanobis_fit(emb, "embedding", ridge=1e-6)
    outliers = (
        reduction.mahalanobis_apply(emb, maha_model, "embedding")
        .orderBy(F.desc("maha_dist"))
        .limit(5)
        .count()
    )
    cents = clustering.kmeans_fit(
        emb, n_centroids=8, sample_size=256, refine_iters=3
    )
    dbi = clustering.davies_bouldin(emb, cents)
    print(
        f"== embedding hygiene == top outliers: {outliers}; "
        f"davies-bouldin at k=8: {dbi:.3f}"
    )
    assert outliers == 5 and dbi > 0

    # -- 13. publish fact + cube atomically (cross-table txn) ----------
    from bigdata_storage_and_proccess_job_data_spark.sources import (
        transactions as tx,
    )

    txd = os.path.join(work, "txn")
    cube = orders.groupBy("o_orderpriority").agg(
        F.sum("o_totalprice").alias("rev"), F.count(F.lit(1)).alias("n")
    )
    t = tx.txn_commit(
        txd,
        {
            "orders_snapshot": (
                orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
                os.path.join(work, "t_orders"),
            ),
            "priority_cube": (cube, os.path.join(work, "t_cube")),
        },
    )
    pair_ok = (
        tx.txn_read(spark, txd, "priority_cube", txn=t).count()
        == tx.txn_read(spark, txd, "orders_snapshot", txn=t)
        .select("o_orderpriority")
        .distinct()
        .count()
    )
    print(f"== txn == fact+cube published as txn {t}; consistent: {pair_ok}")
    assert pair_ok

    print("workbench done")


if __name__ == "__main__":
    main()
