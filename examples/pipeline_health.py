"""Pipeline-health gate demo: the pre-publish checks an operating data
pipeline runs BEFORE trusting and shipping a nightly output -- the
round-10 monitoring suite composed end to end:

  1. freshness gate: did every feed actually arrive inside its SLA?
     (a green metric over a feed that stopped yesterday is the worst
     kind of wrong)
  2. referential integrity: do the fact's foreign keys resolve, and is
     the dimension key unique? (an orphan becomes a silently-dropped
     row at the next inner join)
  3. snapshot diff, both grains: row-level (table_diff --
     added/removed/changed keys with the changed-column sets) and
     column-level (profile_diff, r11 -- did any column's null rate,
     cardinality or mean SHAPE change, even where row counts look fine)
  4. distribution drift, three ways: PSI against reference-quantile
     bins (psi_bins, the banded scorecard), exact two-sample KS
     (binning-free, catches drift between bin edges), and sequential
     CUSUM over the daily metric series (cusum_changepoints: flags the
     first sustained level shift instead of comparing finished samples)
  5. score-quality gates: reliability bins with ECE/Brier summaries for
     a probability column, WOE/IV for a categorical feature's signal
  6. many-metrics readout with FDR control: per-segment tests produce a
     family of p-values; Benjamini-Hochberg q-values decide which
     segment alarms survive multiple testing
  7. labeling QA: Fleiss' kappa over synthetic multi-annotator ratings,
     majority-vote consensus labels, and the no-gold rater screen that
     catches the planted adversarial annotator; then the ragged-design
     rerun (r13) -- Krippendorff's alpha weighs every pairable value
     where Fleiss' modal filter drops a third of the docs -- and
     preference QA: disagreements as (winner, loser) games into
     per-matchup Wilson win rates and Bradley-Terry strengths (the
     adversarial rater lands last)
  8. model-eval gate (r11): confusion metrics (classification_report),
     per-segment fairness slices vs the pooled rates (disparity_report)
     and the top-decile budget readout (lift_table) for a thresholded
     filter model, all from deterministic key-derived scores; then the
     paired-significance rung (mcnemar_test, r13) and the
     sampled-generation rung (pass_at_k, r13) -- ragged sample counts
     abstain honestly at k > n
  9. embedding-distribution drift gate (r13): frechet/FID distance
     between two clouds' Gaussian fits -- near zero on a
     same-distribution split, loud on a planted mean shift

Every gate is one or two hash aggregations over bounded frames; the raw
tables never join each other except the one keyed diff. Nothing wider
than bounded summaries reaches the driver.

Run:  python examples/pipeline_health.py   (reads sf0.001, ~60 s)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table  # noqa: E402
from bigdata_storage_and_proccess_job_data_spark.operators import (  # noqa: E402
    aggregates,
    features,
    joins,
)
from bigdata_storage_and_proccess_job_data_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    spark = get_spark(app_name="pipeline-health")
    spark.sparkContext.setLogLevel("ERROR")

    events = load_table(spark, SF_DIR, "events")
    orders = load_table(spark, SF_DIR, "orders")
    customer = load_table(spark, SF_DIR, "customer")

    # -- 1. freshness SLA ----------------------------------------------
    fresh = aggregates.freshness_report(
        events,
        ["event_type"],
        "ts",
        as_of="2024-02-01 00:00:00",
        sla_seconds=3 * 86400,
    )
    print("== freshness (3-day SLA at 2024-02-01) ==")
    for r in fresh.orderBy("event_type").collect():
        flag = "OK " if r.within_sla else "LATE"
        print(f"  [{flag}] {r.event_type}: lag={r.lag_seconds}s n={r.n_rows}")

    # -- 2. referential integrity --------------------------------------
    fk = aggregates.fk_integrity_report(
        orders, customer, "o_custkey", "c_custkey"
    ).collect()[0]
    print("== fk integrity (orders.o_custkey -> customer) ==")
    print(
        f"  facts={fk.n_fact} null_fk={fk.n_null_fk} orphans={fk.n_orphans} "
        f"dup_pk={fk.n_dup_pk} ok={fk.ok}"
    )

    # -- 3. snapshot diff vs "yesterday" --------------------------------
    yesterday = orders.filter(F.col("o_orderkey") % 13 != 0)
    today = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 1.01
        ).otherwise(F.col("o_totalprice")),
    )
    diff = joins.table_diff(
        yesterday, today, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    print("== snapshot diff (today vs yesterday) ==")
    for r in diff.groupBy("status").count().orderBy("status").collect():
        print(f"  {r.status}: {r['count']}")
    # the column-level twin (r11): did any column's SHAPE change, even
    # where row counts look normal? the 1% price bump is well under the
    # mean-shift tolerance, so the profile reads stable across the board
    prof = aggregates.profile_diff(
        yesterday.select("o_custkey", "o_totalprice", "o_orderstatus"),
        today.select("o_custkey", "o_totalprice", "o_orderstatus"),
    )
    drifted = {
        r.column: list(r.flags)
        for r in prof.filter(F.col("status") != "stable").collect()
    }
    print(f"  column profiles: {'all stable' if not drifted else drifted}")

    # -- 4. drift gates -------------------------------------------------
    ref = orders.filter(F.col("o_orderkey") % 2 == 0)
    cur = orders.filter(F.col("o_orderkey") % 2 == 1)
    psi = aggregates.psi_bins(ref, cur, "o_totalprice", bins=10)
    total_psi = psi.agg(F.sum("contrib")).first()[0]
    ks = aggregates.ks_test(ref, cur, "o_totalprice").collect()[0]
    print("== drift (even/odd A/A split: both gates should be quiet) ==")
    print(f"  psi={total_psi:.5f} (alarm at 0.25)")
    print(f"  ks d={ks.d_stat:.5f} over n={ks.n_a}/{ks.n_b}")
    # sequential counterpart: CUSUM over the DAILY order-count series
    # -- psi/ks compare two finished samples; this watches the series
    # itself and flags the first sustained level shift
    # (aggregates.cusum_changepoints, the r8 time-series wave)
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n_orders")
    )
    cu = aggregates.cusum_changepoints(
        daily, [], "d", "n_orders", drift=0.5, threshold=8.0
    )
    n_alarms = cu.filter(F.col("alarm")).count()
    print(f"  cusum: {n_alarms} alarm days over {cu.count()} (flat series)")

    # -- 5. score-quality gates ------------------------------------------
    scored = orders.select(
        (F.col("o_custkey") % 2 == 0).alias("converted"),
        ((F.col("o_orderkey") % 100) / 99.0).alias("p_model"),
        "o_orderpriority",
    )
    calib = aggregates.calibration_bins(
        scored, "converted", "p_model", bins=10, summaries=True
    )
    head = calib.select("ece", "brier").first()
    print("== calibration (synthetic scores vs parity label) ==")
    print(f"  ece={head.ece:.4f} brier={head.brier:.4f}")
    woe = features.woe_fit(
        scored.withColumn("y", F.col("converted").cast("int")),
        "o_orderpriority",
        "y",
    )
    iv = woe.select("iv").first()[0]
    print(f"  priority->conversion IV={iv:.5f} (useless below 0.02)")

    # -- 6. per-segment alarms with FDR control ---------------------------
    # one Welch test per market segment: value of even vs odd custkeys
    seg = (
        orders.join(
            customer.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == customer.c_custkey,
        )
        .select(
            "c_mktsegment",
            (F.col("o_custkey") % 2 == 0).alias("arm"),
            "o_totalprice",
        )
    )
    welch = aggregates.welch_ttest(
        seg, "arm", "o_totalprice", True, False, keys=["c_mktsegment"]
    )
    # large-sample two-sided p from the t statistic. The engine's test
    # operators deliberately stop at the statistic (no normal/chi2 CDF
    # in Spark SQL); for the demo the logistic approximation
    # Phi(x) ~ sigmoid(1.702 x) is plenty (max abs error ~0.01)
    welch_p = welch.withColumn(
        "p",
        2 * (1 - F.lit(1.0) / (1 + F.exp(-1.702 * F.abs(F.col("t_stat"))))),
    )
    alarms = aggregates.bh_adjust(welch_p, "p", alpha=0.05)
    print("== per-segment alarms (A/A arms: BH should reject nothing) ==")
    for r in alarms.orderBy("c_mktsegment").collect():
        print(
            f"  {r.c_mktsegment}: p={r.p:.3f} q={r.q_value:.3f} "
            f"reject={r.reject}"
        )

    # -- 7. labeling QA ---------------------------------------------------
    # synthetic ratings: 4 raters label each doc with its parity class;
    # rater r3 is adversarial on every third doc
    from bigdata_storage_and_proccess_job_data_spark.operators import corpus

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    ratings = None
    for i in range(4):
        truth = F.when(F.col("doc_id") % 2 == 0, "ham").otherwise("spam")
        lab = (
            F.when(
                (F.lit(i) == 3) & (F.col("doc_id") % 3 == 0),
                F.when(truth == "ham", "spam").otherwise("ham"),
            ).otherwise(truth)
        )
        part = docs.select(
            "doc_id", F.lit(f"r{i}").alias("rater"), lab.alias("label")
        )
        ratings = part if ratings is None else ratings.unionByName(part)
    fk_r = aggregates.fleiss_kappa(ratings, "doc_id", "label").collect()[0]
    cons = corpus.consensus_labels(ratings)
    n_unanimous = cons.filter(F.col("unanimous")).count()
    quality = {
        r.rater: r.agree_rate
        for r in corpus.rater_quality(ratings).collect()
    }
    print("== labeling QA (rater r3 adversarial on 1/3 of docs) ==")
    print(f"  fleiss kappa={fk_r.kappa:.3f} over {fk_r.n_items} docs")
    print(
        f"  consensus: {cons.count()} labels, {n_unanimous} unanimous"
    )
    for rt in sorted(quality):
        print(f"  {rt}: agree_rate={quality[rt]:.3f}")
    assert min(quality, key=quality.get) == "r3"

    # -- 7b. ragged-design agreement + preference QA (r13 wave) -----------
    # drop every third rating: the design goes ragged, fleiss' modal
    # filter would exclude the 3-rating docs (coverage < 1), while
    # krippendorff's alpha weighs every pairable value
    ragged = ratings.filter(
        ~((F.col("rater") == "r0") & (F.col("doc_id") % 3 == 1))
    )
    ka = aggregates.krippendorff_alpha(ragged, "doc_id", "label").collect()[0]
    fk_ragged = aggregates.fleiss_kappa(ragged, "doc_id", "label").collect()[0]
    print("== ragged agreement (every 3rd doc loses rater r0) ==")
    print(
        f"  krippendorff alpha={ka.alpha:.3f} over ALL {ka.n_items} "
        f"pairable docs (coverage={ka.coverage:.2f})"
    )
    print(
        f"  fleiss (modal filter) keeps {fk_ragged.n_items} docs "
        f"(coverage={fk_ragged.coverage:.2f}) -- alpha sees the rest"
    )
    assert ka.coverage > fk_ragged.coverage
    # pairwise preference QA: consensus-vs-rater judgments as (winner,
    # loser) games -> per-matchup win rates with Wilson uncertainty,
    # then Bradley-Terry strengths; the adversarial rater lands last
    wins = None
    for i in range(4):
        ri = ratings.filter(F.col("rater") == f"r{i}").select(
            "doc_id", F.col("label").alias(f"_l{i}")
        )
        wins = ri if wins is None else wins.join(ri, "doc_id")
    truth = F.when(F.col("doc_id") % 2 == 0, "ham").otherwise("spam")
    games = None
    for i in range(4):
        for j in range(i + 1, 4):
            gi = wins.filter(
                (F.col(f"_l{i}") == truth) & (F.col(f"_l{j}") != truth)
            ).select(F.lit(f"r{i}").alias("winner"), F.lit(f"r{j}").alias("loser"))
            gj = wins.filter(
                (F.col(f"_l{j}") == truth) & (F.col(f"_l{i}") != truth)
            ).select(F.lit(f"r{j}").alias("winner"), F.lit(f"r{i}").alias("loser"))
            games = gi if games is None else games.unionByName(gi)
            games = games.unionByName(gj)
    wr = corpus.win_rate_pairs(games)
    print("== preference QA (who labels truth when raters disagree?) ==")
    for r in wr.orderBy("item_a", "item_b").collect():
        print(
            f"  {r.item_a} vs {r.item_b}: {r.wins_a}/{r.n_games} "
            f"wilson=[{r.wilson_lo:.2f}, {r.wilson_hi:.2f}]"
        )
    bt = {
        r.item: r.strength
        for r in corpus.bradley_terry_fit(games, alpha=1.0).collect()
    }
    print("  bradley-terry strengths:", {k: round(v, 3) for k, v in sorted(bt.items())})
    assert min(bt, key=bt.get) == "r3"

    # -- 8. model-eval gate (r11 wave) ------------------------------------
    # a filter model's thresholded predictions, judged three ways before
    # it gates real data: confusion metrics per slice
    # (classification_report), disaggregated fairness slices
    # (disparity_report -- does the filter hit one segment harder than
    # the pooled rate?), and the budget question (lift_table -- if we
    # only review the top decile by score, what share of positives do
    # we catch?). Deterministic key-derived score/label so the demo
    # replays bit-identically.
    orders_m = load_table(spark, SF_DIR, "orders").select(
        "o_orderpriority",
        F.col("o_orderkey").alias("id"),
        ((F.col("o_orderkey") % 97) / 96.0).alias("score"),
        (F.col("o_custkey") % 2).cast("double").alias("y"),
    ).withColumn("pred", (F.col("score") > 0.5).cast("double"))
    rep = aggregates.classification_report(orders_m, "y", "pred").collect()[0]
    print("== model-eval gate (independent score: expect ~coin metrics) ==")
    print(
        f"  n={rep.n} precision={rep.precision:.3f} "
        f"recall={rep.recall:.3f} f1={rep.f1:.3f}"
    )
    disp = aggregates.disparity_report(
        orders_m, "o_orderpriority", "y", "pred"
    )
    worst = disp.orderBy(F.abs(F.col("dp_gap")).desc()).first()
    print(
        f"  widest demographic-parity gap: {worst.o_orderpriority} "
        f"({worst.dp_gap:+.4f} vs pooled)"
    )
    top = {
        r.bucket: r
        for r in aggregates.lift_table(
            orders_m, "score", "y", "id", n_buckets=10
        ).collect()
    }
    print(
        f"  top decile: lift={top[1].lift:.3f} "
        f"captures {top[1].cum_capture:.1%} of positives "
        f"(random would capture 10%)"
    )
    # paired significance (r13): challenger = the same model with a
    # shifted threshold, judged on the SAME items -- McNemar's
    # discordant-pairs statistic decides if the accuracy delta is
    # real or noise before anyone swaps models
    paired = orders_m.select(
        (F.col("pred") == F.col("y")).cast("double").alias("right_a"),
        ((F.col("score") > 0.4).cast("double") == F.col("y"))
        .cast("double")
        .alias("right_b"),
    )
    mn = aggregates.mcnemar_test(paired, "right_a", "right_b").collect()[0]
    verdict = (
        "significant at 0.05"
        if mn.statistic is not None and mn.statistic > 3.841
        else "not significant"
    )
    print(
        f"  challenger threshold 0.4 vs 0.5: acc {mn.accuracy_a:.3f} -> "
        f"{mn.accuracy_b:.3f}, discordant {mn.a_only}+{mn.b_only}, "
        f"mcnemar={mn.statistic:.2f} ({verdict})"
    )
    # sampled-generation gate (r13): the thresholded metrics above
    # judge ONE answer per item; a sampling model is judged by pass@k
    # -- draw n generations per problem, count the correct ones, and
    # estimate P(at least one of k passes) with the unbiased Chen et
    # al. estimator. Problems get RAGGED sample counts on purpose:
    # pass@10 abstains (NULL) on problems with fewer than 10 draws
    # instead of flattering them.
    gens = load_table(spark, SF_DIR, "orders").select(
        # floor(sqrt) makes the per-problem sample counts genuinely
        # ragged (~1 draw for problem 0 up to ~75 for problem 39), so
        # the k=10 abstention path actually shows up below
        F.floor(F.sqrt(F.col("o_orderkey") % 1600)).alias("problem"),
        # deterministic per-sample verdict: ~30% of generations pass
        ((F.col("o_orderkey") * 31 + F.col("o_custkey")) % 10 < 3)
        .cast("double")
        .alias("ok"),
    )
    pk = aggregates.pass_at_k(gens, "problem", "ok", ks=(1, 5, 10))
    summary = pk.agg(
        F.avg("pass_at_1").alias("p1"),
        F.avg("pass_at_5").alias("p5"),
        F.avg("pass_at_10").alias("p10"),
        F.sum(F.col("pass_at_10").isNull().cast("long")).alias("abstained"),
        F.count(F.lit(1)).alias("problems"),
    ).collect()[0]
    print(
        f"  sampled-generation gate: pass@1={summary.p1:.3f} "
        f"pass@5={summary.p5:.3f} pass@10={summary.p10:.3f} "
        f"({summary.abstained}/{summary.problems} problems abstain "
        f"at k=10: fewer than 10 draws)"
    )

    # -- 9. embedding-distribution drift gate (r13) ------------------------
    # frechet/FID distance between two embedding clouds' Gaussian fits:
    # a same-distribution split reads near zero, a planted mean shift
    # reads ~|delta|^2 -- the gate that fires when a new source's
    # embedding cloud lands somewhere else entirely, even though no
    # individual pair is a near-dup
    from bigdata_storage_and_proccess_job_data_spark.operators import reduction

    emb = load_table(spark, SF_DIR, "embeddings")
    ref = emb.filter(F.col("vec_id") % 2 == 0)
    same = emb.filter(F.col("vec_id") % 2 == 1)
    shifted = same.withColumn(
        "embedding",
        F.transform(
            F.col("embedding"),
            lambda x, i: x + F.when(i < 4, F.lit(1.0)).otherwise(F.lit(0.0)),
        ),
    )
    ok = reduction.frechet_distance(ref, same, "embedding")
    bad = reduction.frechet_distance(ref, shifted, "embedding")
    print("== embedding drift gate (frechet^2 between cloud fits) ==")
    print(
        f"  same distribution: {ok['frechet2']:.4f}   "
        f"planted 4-dim shift: {bad['frechet2']:.4f}"
    )
    assert bad["frechet2"] > 10 * max(ok["frechet2"], 1e-9)

    spark.stop()
    print("pipeline health: all gates evaluated")


if __name__ == "__main__":
    main()
