"""The statistical-aggregate family: table profiler, PSI drift bins,
hypothesis tests, experiment statistics and model-eval reports -- each
with hand-math micro pins plus full-value DuckDB parity on the driver
tables (numpy cross-checks where a dense reference is clearer)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
    sql_round,
    stable_round,
)


def sql_round_col(c, digits):
    return stable_round(F.col(c), digits).alias(c)
from bigdata_storage_and_proccess_job_data_spark.operators import aggregates
from tests.parity import compare, duckdb_connect


def test_profile_table_hand_math(spark):
    """Nulls, distincts, min/max, numeric-only mean/stddev, and the
    non-numeric columns' NULL mean -- plus validation."""
    rows = [("a", 1.0), ("a", 3.0), ("b", None), (None, 2.0)]
    df = spark.createDataFrame(rows, ["s", "v"])
    prof = {
        r.column: r
        for r in aggregates.profile_table(df, distinct="exact").collect()
    }
    s, v = prof["s"], prof["v"]
    assert (s.n_rows, s.n_nulls, s.n_distinct) == (4, 1, 2)
    assert (s.min, s.max, s.mean, s.stddev) == ("a", "b", None, None)
    assert (v.n_rows, v.n_nulls, v.n_distinct) == (4, 1, 3)
    assert v.null_frac == pytest.approx(0.25, abs=1e-3)
    assert v.mean == pytest.approx(2.0, abs=1e-3)
    with pytest.raises(ValueError, match="unknown columns"):
        aggregates.profile_table(df, ["nope"])
    with pytest.raises(ValueError, match="distinct must"):
        aggregates.profile_table(df, distinct="bogus")
    skip = aggregates.profile_table(df, distinct="skip").collect()
    assert all(r.n_distinct is None for r in skip)


def test_profile_table_duckdb_parity(spark, oracle_sf_dir):
    """Exact-mode profile of orders (string, numeric, and timestamp
    columns) matches a per-column DuckDB recomputation."""
    orders = load_table(spark, oracle_sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    out = aggregates.profile_table(orders, cols, distinct="exact")
    dtypes = dict(orders.dtypes)
    selects = []
    for c in cols:
        numeric = c in ("o_orderkey", "o_totalprice")
        mean = sql_round(f"avg({c})", 4) if numeric else "NULL::DOUBLE"
        std = sql_round(f"stddev_samp({c})", 4) if numeric else "NULL::DOUBLE"
        selects.append(f"""
        SELECT '{c}' AS column, '{dtypes[c]}' AS dtype,
          count(*) AS n_rows,
          count(*) - count({c}) AS n_nulls,
          {sql_round(f'(count(*) - count({c})) / count(*)::DOUBLE', 4)}
            AS null_frac,
          count(DISTINCT {c}) AS n_distinct,
          min({c})::VARCHAR AS min, max({c})::VARCHAR AS max,
          {mean} AS mean, {std} AS stddev
        FROM orders""")
    sql = " UNION ALL ".join(selects)
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_psi_bins_identity_and_shift(spark):
    """psi(ref, ref) = 0 in every bin (the smoothing preserves the
    identity); a location-shifted current distribution concentrates in
    the top bins and produces a large PSI; validation."""
    import random

    rnd = random.Random(7)
    ref = spark.createDataFrame(
        [(rnd.gauss(0, 1),) for _ in range(2000)], ["x"]
    )
    same = aggregates.psi_bins(ref, ref, "x", bins=10).collect()
    assert len(same) == 10
    assert all(r.contrib == pytest.approx(0.0, abs=1e-9) for r in same)
    assert all(r.ref_n == r.cur_n for r in same)

    shifted = ref.select((F.col("x") + 2.0).alias("x"))
    moved = aggregates.psi_bins(ref, shifted, "x", bins=10).collect()
    total = sum(r.contrib for r in moved)
    assert total > 0.25  # "action" threshold for a 2-sigma shift
    assert moved[-1].cur_share > moved[-1].ref_share  # mass moved up

    with pytest.raises(ValueError, match="bins"):
        aggregates.psi_bins(ref, ref, "x", bins=1)


def test_psi_bins_duckdb_parity(spark, oracle_sf_dir):
    """Exact cross-engine parity: reference = returned lineitems,
    current = the rest; DuckDB recomputes edges (quantile_cont), the
    same filter-count bucketing, smoothing, and contributions."""
    li = load_table(spark, oracle_sf_dir, "lineitem")
    ref = li.filter(F.col("l_returnflag") == "R")
    cur = li.filter(F.col("l_returnflag") != "R")
    out = aggregates.psi_bins(ref, cur, "l_extendedprice", bins=8)
    qs = ", ".join(str(i / 8) for i in range(1, 8))
    sql = f"""
    WITH edges AS (
      SELECT quantile_cont(l_extendedprice, [{qs}]) AS e
      FROM lineitem WHERE l_returnflag = 'R'
        AND l_extendedprice IS NOT NULL
    ), rb AS (
      SELECT len(list_filter(e, x -> l_extendedprice > x)) AS bin
      FROM lineitem, edges
      WHERE l_returnflag = 'R' AND l_extendedprice IS NOT NULL
    ), cb AS (
      SELECT len(list_filter(e, x -> l_extendedprice > x)) AS bin
      FROM lineitem, edges
      WHERE l_returnflag != 'R' AND l_extendedprice IS NOT NULL
    ), bins AS (SELECT CAST(range AS INT) AS bin FROM range(8)),
    rc AS (
      SELECT bins.bin, count(rb.bin) AS ref_n
      FROM bins LEFT JOIN rb ON bins.bin = rb.bin GROUP BY bins.bin
    ), cc AS (
      SELECT bins.bin, count(cb.bin) AS cur_n
      FROM bins LEFT JOIN cb ON bins.bin = cb.bin GROUP BY bins.bin
    ), rt AS (SELECT sum(ref_n)::DOUBLE AS t FROM rc),
    ct AS (SELECT sum(cur_n)::DOUBLE AS t FROM cc),
    j AS (
      SELECT rc.bin, ref_n, cur_n,
             (ref_n + 0.5) / (rt.t + 0.5 * 8) AS rs,
             (cur_n + 0.5) / (ct.t + 0.5 * 8) AS cs
      FROM rc JOIN cc ON rc.bin = cc.bin, rt, ct
    )
    SELECT bin, ref_n, cur_n,
           {sql_round('rs', 4)} AS ref_share,
           {sql_round('cs', 4)} AS cur_share,
           {sql_round('(rs - cs) * ln(rs / cs)', 4)} AS contrib
    FROM j
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_welch_ttest_hand_math(spark):
    """t statistic and Welch-Satterthwaite dof match an independent
    numpy computation; empty/singleton arms degrade to NULL."""
    import numpy as np

    a = [10.0, 12.0, 9.0, 11.0, 13.0]
    b = [14.0, 15.0, 13.5, 16.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b] + [
        ("c", 99.0),          # third arm: excluded
        ("a", None),          # NULL value: excluded
    ]
    df = spark.createDataFrame(rows, "arm string, v double")
    r = aggregates.welch_ttest(df, "arm", "v", "a", "b").collect()[0]
    va, vb = np.var(a, ddof=1), np.var(b, ddof=1)
    se = np.sqrt(va / len(a) + vb / len(b))
    t = (np.mean(b) - np.mean(a)) / se
    dof = (va / len(a) + vb / len(b)) ** 2 / (
        (va / len(a)) ** 2 / (len(a) - 1)
        + (vb / len(b)) ** 2 / (len(b) - 1)
    )
    assert r.n_a == 5 and r.n_b == 4
    assert abs(r.t_stat - t) < 1e-12
    assert abs(r.dof - dof) < 1e-12

    # singleton arm: var_samp undefined -> NULL t, never a crash
    tiny = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("b", 3.0)], "arm string, v double"
    )
    r = aggregates.welch_ttest(tiny, "arm", "v", "a", "b").collect()[0]
    assert r.t_stat is None and r.dof is None


def test_welch_and_ztest_duckdb_parity(spark, oracle_sf_dir):
    """Grouped Welch t + two-proportion z over orders match DuckDB
    computing the identical formulas."""
    from tests.parity import compare, duckdb_connect

    orders = load_table(spark, oracle_sf_dir, "orders").withColumn(
        "arm", F.when(F.col("o_orderkey") % 2 == 0, "a").otherwise("b")
    )
    con = duckdb_connect(oracle_sf_dir)

    t_out = aggregates.welch_ttest(
        orders, "arm", "o_totalprice", "a", "b",
        keys=["o_orderpriority"],
    ).select(
        "o_orderpriority", "n_a", "n_b",
        *[
            sql_round_col(c, 6)
            for c in ("mean_a", "mean_b", "diff", "se", "t_stat", "dof")
        ],
    )
    problems = compare(
        t_out,
        con,
        f"""
        WITH base AS (
          SELECT o_orderpriority,
                 CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
                 o_totalprice AS v
          FROM orders
        ),
        g AS (
          SELECT o_orderpriority,
                 COUNT(CASE WHEN arm = 'a' THEN v END) AS n_a,
                 COUNT(CASE WHEN arm = 'b' THEN v END) AS n_b,
                 AVG(CASE WHEN arm = 'a' THEN v END) AS mean_a,
                 AVG(CASE WHEN arm = 'b' THEN v END) AS mean_b,
                 VAR_SAMP(CASE WHEN arm = 'a' THEN v END) AS var_a,
                 VAR_SAMP(CASE WHEN arm = 'b' THEN v END) AS var_b
          FROM base GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, n_a, n_b,
               {sql_round('mean_a', 6)} AS mean_a,
               {sql_round('mean_b', 6)} AS mean_b,
               {sql_round('mean_b - mean_a', 6)} AS diff,
               {sql_round('sqrt(var_a/n_a + var_b/n_b)', 6)} AS se,
               {sql_round('(mean_b - mean_a) / sqrt(var_a/n_a + var_b/n_b)', 6)} AS t_stat,
               {sql_round('pow(var_a/n_a + var_b/n_b, 2) / (pow(var_a/n_a, 2)/(n_a-1) + pow(var_b/n_b, 2)/(n_b-1))', 6)} AS dof
        FROM g
        """,
    )
    assert problems == [], problems

    z_out = aggregates.proportion_ztest(
        orders.withColumn("converted", F.col("o_orderkey") % 5 == 0),
        "arm", "converted", "a", "b",
        keys=["o_orderpriority"],
    ).select(
        "o_orderpriority", "n_a", "n_b", "rate_a",
        *[sql_round_col(c, 6) for c in ("rate_b", "diff", "z_stat")],
    )
    problems = compare(
        z_out,
        con,
        f"""
        WITH base AS (
          SELECT o_orderpriority,
                 CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
                 o_orderkey % 5 = 0 AS s
          FROM orders
        ),
        g AS (
          SELECT o_orderpriority,
                 COUNT(CASE WHEN arm = 'a' THEN 1 END) AS n_a,
                 COUNT(CASE WHEN arm = 'b' THEN 1 END) AS n_b,
                 COUNT(CASE WHEN arm = 'a' AND s THEN 1 END) AS succ_a,
                 COUNT(CASE WHEN arm = 'b' AND s THEN 1 END) AS succ_b
          FROM base GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, n_a, n_b,
               succ_a / n_a AS rate_a,
               {sql_round('succ_b / n_b', 6)} AS rate_b,
               {sql_round('succ_b / n_b - succ_a / n_a', 6)} AS diff,
               {sql_round('''(succ_b/n_b - succ_a/n_a) / sqrt(
                  ((succ_a+succ_b)/(n_a+n_b)) * (1 - (succ_a+succ_b)/(n_a+n_b))
                  * (1.0/n_a + 1.0/n_b))''', 6)} AS z_stat
        FROM g
        """,
    )
    assert problems == [], problems


def test_group_linear_fit_pins_and_parity(spark, oracle_sf_dir):
    """A perfect line recovers slope/intercept/r2 exactly; constant-x
    groups degrade to NULL slope; grouped fit over lineitem matches
    DuckDB's regr_* aggregates."""
    from tests.parity import compare, duckdb_connect

    df = spark.createDataFrame(
        [("g", float(x), 3.0 * x - 1.0) for x in range(5)]
        + [("const", 2.0, 5.0), ("const", 2.0, 7.0)],
        "k string, x double, y double",
    )
    got = {r.k: r for r in aggregates.group_linear_fit(
        df, "x", "y", keys=["k"]
    ).collect()}
    assert abs(got["g"].slope - 3.0) < 1e-12
    assert abs(got["g"].intercept + 1.0) < 1e-12
    assert abs(got["g"].r2 - 1.0) < 1e-12
    assert got["const"].slope is None

    li = load_table(spark, oracle_sf_dir, "lineitem")
    out = aggregates.group_linear_fit(
        li, "l_quantity", "l_extendedprice", keys=["l_returnflag"]
    ).select(
        "l_returnflag", "n",
        *[sql_round_col(c, 4) for c in ("slope", "intercept", "r2")],
    )
    con = duckdb_connect(oracle_sf_dir)
    problems = compare(
        out,
        con,
        f"""
        SELECT l_returnflag,
               regr_count(l_extendedprice, l_quantity) AS n,
               {sql_round('regr_slope(l_extendedprice, l_quantity)', 4)} AS slope,
               {sql_round('regr_intercept(l_extendedprice, l_quantity)', 4)} AS intercept,
               {sql_round('regr_r2(l_extendedprice, l_quantity)', 4)} AS r2
        FROM lineitem GROUP BY l_returnflag
        """,
    )
    assert problems == [], problems


def test_calibration_and_entropy_pins_and_parity(spark, oracle_sf_dir):
    """Calibration bins: perfect calibration gap ~0, top-bin clamp,
    DuckDB parity."""
    import pytest

    from tests.parity import compare, duckdb_connect

    cal = spark.createDataFrame(
        [(True, 1.0), (False, 0.0), (True, 0.95), (False, 0.05)],
        "y boolean, s double",
    )
    rows = {
        r.bin: r
        for r in aggregates.calibration_bins(cal, "y", "s", bins=10).collect()
    }
    assert set(rows) == {0, 9}
    assert rows[9].observed_rate == 1.0 and rows[0].observed_rate == 0.0
    with pytest.raises(ValueError):
        aggregates.calibration_bins(cal, "y", "s", bins=1)

    orders = load_table(spark, oracle_sf_dir, "orders")
    out = aggregates.calibration_bins(
        orders.select(
            "o_orderpriority",
            (F.col("o_orderkey") % 4 == 0).alias("y"),
            (F.col("o_totalprice") / 600000.0).alias("s"),
        ),
        "y",
        "s",
        bins=10,
        keys=["o_orderpriority"],
    ).select(
        "o_orderpriority", "bin", "n",
        *[sql_round_col(c, 6) for c in ("mean_score", "observed_rate", "gap")],
    )
    con = duckdb_connect(oracle_sf_dir)
    problems = compare(
        out,
        con,
        f"""
        WITH base AS (
          SELECT o_orderpriority,
                 LEAST(FLOOR((o_totalprice / 600000.0) * 10), 9)::INT AS bin,
                 (o_orderkey % 4 = 0)::INT AS y,
                 o_totalprice / 600000.0 AS s
          FROM orders
        )
        SELECT o_orderpriority, bin, COUNT(*) AS n,
               {sql_round('AVG(s)', 6)} AS mean_score,
               {sql_round('AVG(y)', 6)} AS observed_rate,
               {sql_round('AVG(y) - AVG(s)', 6)} AS gap
        FROM base GROUP BY 1, 2
        """,
    )
    assert problems == [], problems


def test_bootstrap_ci_poisson_replay_and_sanity(spark, oracle_sf_dir):
    """Poisson-bootstrap mean CIs: (1) deterministic across runs and
    salt-sensitive; (2) the interval brackets the plain mean and
    widens when the level rises; (3) EXACT DuckDB replay -- weights,
    replicate means and nearest-rank picks all recomputed from the
    same md5 coin; (4) validation."""
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        _md5_hash60_sql,
    )

    orders = load_table(spark, oracle_sf_dir, "orders")
    args = dict(keys=["o_orderpriority"], value_col="o_totalprice",
                id_col="o_orderkey", n_boot=40, salt="b1")
    a = aggregates.bootstrap_ci(orders, **args).collect()
    b = aggregates.bootstrap_ci(orders, **args).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a:
        assert r.ci_lo <= r.mean <= r.ci_hi
    other = {
        row.o_orderpriority: row
        for row in aggregates.bootstrap_ci(
            orders, ["o_orderpriority"], "o_totalprice", "o_orderkey",
            n_boot=40, salt="b2",
        ).collect()
    }
    assert any(
        (other[r.o_orderpriority].ci_lo, other[r.o_orderpriority].ci_hi)
        != (r.ci_lo, r.ci_hi)
        for r in a
    )
    wide = {
        row.o_orderpriority: row
        for row in aggregates.bootstrap_ci(
            orders, ["o_orderpriority"], "o_totalprice", "o_orderkey",
            n_boot=40, salt="b1", level=0.99,
        ).collect()
    }
    for r in a:
        w = wide[r.o_orderpriority]
        assert w.ci_lo <= r.ci_lo and w.ci_hi >= r.ci_hi

    with pytest.raises(ValueError):
        aggregates.bootstrap_ci(
            orders, ["o_orderpriority"], "o_totalprice", "o_orderkey",
            n_boot=5,
        )

    # exact DuckDB replay: level 0.95, B=40 -> nearest-rank indices
    # 1 and 39 (no rounding ties)
    h = _md5_hash60_sql("o_orderkey::VARCHAR || ':b1:' || r::VARCHAR")
    cdf = aggregates._POIS1_CDF
    case = " ".join(
        f"WHEN u < {t!r} THEN {float(k)}" for k, t in enumerate(cdf)
    )
    sql = f"""
        WITH base AS (
          SELECT o_orderpriority AS k, o_totalprice::DOUBLE AS v,
                 o_orderkey
          FROM orders
          WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
        ),
        u AS (
          SELECT k, v, r,
                 ({h}) / 1152921504606846976.0 AS u
          FROM base CROSS JOIN generate_series(0, 39) AS t(r)
        ),
        w AS (
          SELECT k, v, r, (CASE {case} ELSE 7.0 END) AS wt FROM u
        ),
        reps AS (
          SELECT k, r, SUM(wt * v) AS s, SUM(wt) AS wsum
          FROM w GROUP BY k, r
        ),
        means AS (
          SELECT k, s / wsum AS m FROM reps WHERE wsum > 0
        ),
        arrs AS (
          SELECT k, list(m ORDER BY m) AS ms FROM means GROUP BY k
        ),
        pt AS (
          SELECT k, COUNT(*) AS n, AVG(v) AS mean FROM base GROUP BY k
        )
        SELECT pt.k AS o_orderpriority, pt.n,
               {sql_round('pt.mean', 4)} AS mean,
               {sql_round('ms[GREATEST(1, CAST(ROUND(len(ms) * 0.025) AS INT))]', 4)} AS ci_lo,
               {sql_round('ms[LEAST(len(ms), CAST(ROUND(len(ms) * 0.975) AS INT))]', 4)} AS ci_hi
        FROM pt JOIN arrs ON pt.k = arrs.k
    """
    got = aggregates.bootstrap_ci(orders, **args)
    assert compare(got, duckdb_connect(oracle_sf_dir), sql) == []


def test_cuped_adjust_variance_reduction_and_parity(spark, oracle_sf_dir):
    """CUPED: (1) on a planted metric y = x + noise the adjusted
    series keeps the group mean EXACTLY and cuts variance by ~rho^2;
    (2) zero-variance covariate adjusts by theta=0 (metric unchanged);
    NULL covariate rows emit NULL adjusted values; (3) full DuckDB
    replay parity on orders (totalprice adjusted by the custkey-derived
    pre-metric)."""
    import math
    import random

    rng = random.Random(7)
    rows = []
    for i in range(400):
        x = rng.gauss(50, 10)
        rows.append(("a", x + rng.gauss(0, 3), x))
    df = spark.createDataFrame(rows, "g string, y double, x double")
    out = aggregates.cuped_adjust(df, ["g"], "y", "x").collect()
    ys = [r.y for r in out]
    adj = [r.metric_cuped for r in out]
    mean = lambda v: sum(v) / len(v)  # noqa: E731
    var = lambda v: sum((a - mean(v)) ** 2 for a in v) / (len(v) - 1)  # noqa: E731
    assert abs(mean(adj) - mean(ys)) < 1e-9
    assert var(adj) < 0.25 * var(ys)  # rho^2 ~ 0.92 here; generous
    assert math.isfinite(var(adj))

    const = spark.createDataFrame(
        [("c", 5.0, 1.0), ("c", 9.0, 1.0)], "g string, y double, x double"
    )
    got = {r.y: r.metric_cuped for r in
           aggregates.cuped_adjust(const, ["g"], "y", "x").collect()}
    assert got == {5.0: 5.0, 9.0: 9.0}

    holes = spark.createDataFrame(
        [("h", 5.0, None), ("h", 7.0, 2.0), ("h", 9.0, 4.0)],
        "g string, y double, x double",
    )
    out_h = {r.y: r.metric_cuped for r in
             aggregates.cuped_adjust(holes, ["g"], "y", "x").collect()}
    assert out_h[5.0] is None and out_h[7.0] is not None

    orders = load_table(spark, oracle_sf_dir, "orders")
    pre = orders.select(
        "o_orderpriority",
        F.col("o_totalprice").alias("y"),
        (F.col("o_custkey") % 1000).cast("double").alias("x"),
        F.col("o_orderkey").alias("oid"),
    )
    got_r = aggregates.cuped_adjust(
        pre, ["o_orderpriority"], "y", "x"
    ).select(
        "o_orderpriority", "oid", "y", "x",
        stable_round(F.col("metric_cuped"), 4).alias("metric_cuped"),
    )
    sql = f"""
        WITH base AS (
          SELECT o_orderpriority, o_orderkey AS oid,
                 o_totalprice::DOUBLE AS y,
                 (o_custkey % 1000)::DOUBLE AS x
          FROM orders
        ),
        fit AS (
          SELECT o_orderpriority,
                 CASE WHEN COUNT(*) >= 2 AND var_samp(x) > 0
                      THEN covar_samp(x, y) / var_samp(x)
                      ELSE 0.0 END AS theta,
                 AVG(x) AS mx
          FROM base WHERE x IS NOT NULL AND y IS NOT NULL
          GROUP BY o_orderpriority
        )
        SELECT b.o_orderpriority, b.oid, b.y, b.x,
               {sql_round('CASE WHEN b.x IS NOT NULL AND b.y IS NOT NULL '
                           'AND theta IS NOT NULL '
                           'THEN b.y - theta * (b.x - mx) END', 4)}
                 AS metric_cuped
        FROM base b LEFT JOIN fit USING (o_orderpriority)
    """
    assert compare(got_r, duckdb_connect(oracle_sf_dir), sql) == []


def test_rank_sum_test_pins_and_parity(spark, oracle_sf_dir):
    """Mann-Whitney rank-sum: (1) hand-math pin on a tiny tied sample
    (midranks, U, tie-corrected z vs a pure-Python replica); (2) a
    planted location shift scores |z| >> identical arms ~ 0; (3)
    degenerate all-tied group reports NULL z; (4) full DuckDB replay
    parity on orders (arm = orderkey parity, per-priority slices)."""
    rows = [
        ("g", "a", 1.0), ("g", "a", 2.0), ("g", "a", 2.0),
        ("g", "b", 2.0), ("g", "b", 3.0),
    ]
    df = spark.createDataFrame(rows, "k string, arm string, v double")
    got = aggregates.rank_sum_test(df, "arm", "v", "a", "b", ["k"]).first()

    # pure-Python replica with midranks
    vals = [r[2] for r in rows]
    import collections

    cnt = collections.Counter(vals)
    order = sorted(cnt)
    mid, start = {}, 1
    for x in order:
        t = cnt[x]
        mid[x] = start + (t - 1) / 2
        start += t
    ra = sum(mid[r[2]] for r in rows if r[1] == "a")
    na, nb = 3.0, 2.0
    n = na + nb
    u = ra - na * (na + 1) / 2
    ties = sum(t**3 - t for t in cnt.values())
    var_u = na * nb / 12 * ((n + 1) - ties / (n * (n - 1)))
    assert got.n_a == 3 and got.n_b == 2
    assert abs(got.u_stat - u) < 1e-12
    assert abs(got.z_stat - (u - na * nb / 2) / var_u**0.5) < 1e-12

    # planted shift vs identical arms
    import random

    rng = random.Random(5)
    shifted = [("s", "a", rng.gauss(0, 1)) for _ in range(300)] + [
        ("s", "b", rng.gauss(2, 1)) for _ in range(300)
    ]
    same = [("e", "a", rng.gauss(0, 1)) for _ in range(300)] + [
        ("e", "b", rng.gauss(0, 1)) for _ in range(300)
    ]
    big = spark.createDataFrame(
        shifted + same, "k string, arm string, v double"
    )
    z = {
        r.k: r.z_stat
        for r in aggregates.rank_sum_test(
            big, "arm", "v", "a", "b", ["k"]
        ).collect()
    }
    assert abs(z["s"]) > 10 and abs(z["e"]) < 3

    # all-tied group: var 0 -> NULL z
    tied = spark.createDataFrame(
        [("t", "a", 5.0), ("t", "b", 5.0), ("t", "b", 5.0)],
        "k string, arm string, v double",
    )
    r = aggregates.rank_sum_test(tied, "arm", "v", "a", "b", ["k"]).first()
    assert r.z_stat is None and r.n_a == 1

    # DuckDB replay on orders
    orders = load_table(spark, oracle_sf_dir, "orders")
    pre = orders.select(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 2 == 0, "even")
        .otherwise("odd")
        .alias("arm"),
        F.col("o_totalprice").alias("v"),
    )
    got_r = aggregates.rank_sum_test(
        pre, "arm", "v", "even", "odd", ["o_orderpriority"]
    ).select(
        "o_orderpriority",
        "n_a",
        "n_b",
        stable_round(F.col("u_stat"), 4).alias("u_stat"),
        stable_round(F.col("z_stat"), 6).alias("z_stat"),
    )
    sql = f"""
        WITH base AS (
          SELECT o_orderpriority AS k,
                 CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END AS arm,
                 o_totalprice::DOUBLE AS v
          FROM orders WHERE o_totalprice IS NOT NULL
        ),
        ranked AS (
          SELECT k, arm,
                 rank() OVER (PARTITION BY k ORDER BY v)
                   + (COUNT(*) OVER (PARTITION BY k, v) - 1) / 2.0 AS mid,
                 COUNT(*) OVER (PARTITION BY k, v) AS t
          FROM base
        ),
        g AS (
          SELECT k,
                 COUNT(*) FILTER (arm = 'even') AS n_a,
                 COUNT(*) FILTER (arm = 'odd')  AS n_b,
                 SUM(mid) FILTER (arm = 'even') AS ra,
                 SUM(t * t - 1) AS ties
          FROM ranked GROUP BY k
        )
        SELECT k AS o_orderpriority, n_a, n_b,
               {sql_round('ra - n_a * (n_a + 1) / 2.0', 4)} AS u_stat,
               {sql_round(
                   '(ra - n_a * (n_a + 1) / 2.0 - n_a * n_b / 2.0)'
                   ' / sqrt((n_a * n_b / 12.0) * ((n_a + n_b + 1)'
                   ' - ties / ((n_a + n_b) * (n_a + n_b - 1.0))))', 6)}
                 AS z_stat
        FROM g
    """
    assert compare(got_r, duckdb_connect(oracle_sf_dir), sql) == []


def test_sequential_mixture_test_monotone_and_parity(spark, oracle_sf_dir):
    """mSPRT always-valid p: (1) p is non-increasing in peek order per
    key and in [0, 1]; (2) a planted true effect drives p below 0.05
    while a theta0-true series stays above it; (3) degenerate series
    (single point / zero variance) report p = 1.0 and NULL log_lambda;
    (4) full DuckDB replay parity on events ordered by event_id."""
    import random

    rng = random.Random(11)
    rows = [("h0", i, rng.gauss(0.0, 1.0)) for i in range(400)] + [
        ("h1", i, rng.gauss(0.8, 1.0)) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    out = aggregates.sequential_mixture_test(
        df, ["k"], "t", "v", theta0=0.0, tau=1.0
    ).collect()
    by_key: dict = {}
    for r in sorted(out, key=lambda r: (r.k, r.t)):
        ps = by_key.setdefault(r.k, [])
        assert 0.0 <= r.p_always_valid <= 1.0
        if ps:
            assert r.p_always_valid <= ps[-1] + 1e-15
        ps.append(r.p_always_valid)
    assert by_key["h1"][-1] < 0.05
    assert by_key["h0"][-1] > 0.05

    deg = spark.createDataFrame(
        [("one", 1, 5.0), ("flat", 1, 2.0), ("flat", 2, 2.0)],
        "k string, t long, v double",
    )
    for r in aggregates.sequential_mixture_test(
        deg, ["k"], "t", "v"
    ).collect():
        assert r.p_always_valid == 1.0 and r.log_lambda is None

    # DuckDB replay on events (event_id is the unique peek order)
    events = load_table(spark, oracle_sf_dir, "events")
    pre = events.select(
        "event_type", "event_id", F.col("value").alias("v")
    )
    got = aggregates.sequential_mixture_test(
        pre, ["event_type"], "event_id", "v", theta0=50.0, tau=5.0
    ).select(
        "event_type",
        "event_id",
        "n",
        stable_round(F.col("xbar"), 6).alias("xbar"),
        stable_round(F.col("log_lambda"), 6).alias("log_lambda"),
        stable_round(F.col("p_always_valid"), 6).alias("p_always_valid"),
    )
    sql = f"""
        WITH base AS (
          SELECT event_type AS k, event_id, value::DOUBLE AS v
          FROM events WHERE value IS NOT NULL
        ),
        fit AS (
          SELECT k, var_samp(v) AS s2, COUNT(*) AS nn FROM base GROUP BY k
        ),
        cum AS (
          SELECT b.k, b.event_id, f.s2, f.nn,
                 COUNT(*) OVER w AS n,
                 SUM(v) OVER w / COUNT(*) OVER w AS xbar
          FROM base b JOIN fit f USING (k)
          WINDOW w AS (PARTITION BY b.k ORDER BY b.event_id
                       ROWS UNBOUNDED PRECEDING)
        ),
        scored AS (
          SELECT k, event_id, n, xbar,
                 CASE WHEN s2 > 0 AND nn >= 2 THEN
                   0.5 * ln(s2 / (s2 + n * 25.0))
                   + (n * n * 25.0 * (xbar - 50.0) * (xbar - 50.0))
                     / (2 * s2 * (s2 + n * 25.0))
                 END AS log_lambda
          FROM cum
        )
        SELECT k AS event_type, event_id, n,
               {sql_round('xbar', 6)} AS xbar,
               {sql_round('log_lambda', 6)} AS log_lambda,
               {sql_round(
                   'COALESCE(LEAST(1.0, exp(-MAX(log_lambda) OVER '
                   '(PARTITION BY k ORDER BY event_id '
                   'ROWS UNBOUNDED PRECEDING))), 1.0)', 6)}
                 AS p_always_valid
        FROM scored
    """
    assert compare(got, duckdb_connect(oracle_sf_dir), sql) == []


def test_global_row_number_no_single_task_sort(spark, oracle_sf_dir):
    """Two-phase global row numbering: (1) equals the single-partition
    Window.orderBy() answer exactly under a total order; (2) the plan
    contains NO SinglePartition exchange (the melt the operator
    exists to avoid -- the naive form plans one); (3) DuckDB replay
    parity on orders; (4) refuses an empty order."""
    from pyspark.sql import Window

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    got = aggregates.global_row_number(
        orders, ["o_totalprice", "o_orderkey"], num_partitions=16
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan

    naive = orders.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy("o_totalprice", "o_orderkey")
        ).cast("long"),
    )
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in naive_plan  # the melt being replaced
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, naive.collect())
    )

    sql = """
        SELECT o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
        FROM orders
    """
    assert compare(got, duckdb_connect(oracle_sf_dir), sql) == []

    with pytest.raises(ValueError, match="order_cols"):
        aggregates.global_row_number(orders, [])


def test_mutual_information_pins_and_parity(spark, oracle_sf_dir):
    """Mutual information: (1) hand-math pin on a 2x2 dependent table
    vs the exact formula; (2) an independent (balanced product) table
    scores mi = 0; (3) a deterministic marginal reports NULL nmi; (4)
    NULL cells are excluded; (5) full DuckDB replay on orders
    (status x orderkey parity per priority)."""
    import math

    # perfectly dependent 2x2: b == a
    dep = spark.createDataFrame(
        [("k", "0", "0")] * 3 + [("k", "1", "1")] * 7,
        "k string, a string, b string",
    )
    got = aggregates.mutual_information(dep, "a", "b", ["k"]).first()
    h = -(0.3 * math.log(0.3) + 0.7 * math.log(0.7))
    assert got.n == 10
    assert abs(got.mi - h) < 1e-12  # I(A;A) = H(A)
    assert abs(got.h_a - h) < 1e-12 and abs(got.h_b - h) < 1e-12
    assert abs(got.nmi - 1.0) < 1e-12

    # independent balanced product: mi exactly 0
    ind = spark.createDataFrame(
        [("k", a, b) for a in "xy" for b in "pq" for _ in range(5)],
        "k string, a string, b string",
    )
    r = aggregates.mutual_information(ind, "a", "b", ["k"]).first()
    assert abs(r.mi) < 1e-12 and abs(r.nmi) < 1e-12

    # deterministic marginal: h_a = 0 -> nmi NULL; NULLs excluded
    det = spark.createDataFrame(
        [("k", "only", "p"), ("k", "only", "q"), ("k", None, "q")],
        "k string, a string, b string",
    )
    d = aggregates.mutual_information(det, "a", "b", ["k"]).first()
    assert d.n == 2 and d.h_a == 0.0 and d.nmi is None

    # DuckDB replay on orders
    orders = load_table(spark, oracle_sf_dir, "orders")
    pre = orders.select(
        "o_orderpriority",
        F.col("o_orderstatus").alias("a"),
        (F.col("o_orderkey") % 3).cast("string").alias("b"),
    )
    got_r = aggregates.mutual_information(
        pre, "a", "b", ["o_orderpriority"]
    ).select(
        "o_orderpriority",
        "n",
        stable_round(F.col("mi"), 8).alias("mi"),
        stable_round(F.col("h_a"), 8).alias("h_a"),
        stable_round(F.col("h_b"), 8).alias("h_b"),
        stable_round(F.col("nmi"), 8).alias("nmi"),
    )
    sql = f"""
        WITH joint AS (
          SELECT o_orderpriority AS k, o_orderstatus AS a,
                 CAST(o_orderkey % 3 AS VARCHAR) AS b,
                 COUNT(*)::DOUBLE AS c
          FROM orders GROUP BY 1, 2, 3
        ),
        cells AS (
          SELECT k,
                 SUM(c) OVER (PARTITION BY k) AS n,
                 SUM(c) OVER (PARTITION BY k, a) AS ca,
                 SUM(c) OVER (PARTITION BY k, b) AS cb,
                 COUNT(*) OVER (PARTITION BY k, a) AS ta,
                 COUNT(*) OVER (PARTITION BY k, b) AS tb,
                 c
          FROM joint
        ),
        g AS (
          SELECT k, MAX(n) AS n,
                 SUM((c / n) * ln(c * n / (ca * cb))) AS mi,
                 SUM(-(ca / n) * ln(ca / n) / ta) AS h_a,
                 SUM(-(cb / n) * ln(cb / n) / tb) AS h_b
          FROM cells GROUP BY k
        )
        SELECT k AS o_orderpriority, CAST(n AS BIGINT) AS n,
               {sql_round('mi', 8)} AS mi,
               {sql_round('h_a', 8)} AS h_a,
               {sql_round('h_b', 8)} AS h_b,
               CASE WHEN sqrt(h_a * h_b) > 0
                    THEN {sql_round('mi / sqrt(h_a * h_b)', 8)}
               END AS nmi
        FROM g
    """
    assert compare(got_r, duckdb_connect(oracle_sf_dir), sql) == []


def test_diff_in_diff_pins_and_parity(spark, oracle_sf_dir):
    """Difference-in-differences: (1) hand-math pin -- a planted lift
    on the treated-post cell over a shared trend recovers exactly the
    lift, with the welch-style SE; (2) an empty cell reports NULL did;
    (3) full DuckDB replay on orders (treat = custkey parity, post =
    orderdate >= 1995-01-01, per priority)."""
    rows = (
        [("k", "t", "pre", 10.0 + d) for d in (-1.0, 0.0, 1.0)]
        + [("k", "t", "post", 17.0 + d) for d in (-1.0, 0.0, 1.0)]
        + [("k", "c", "pre", 20.0 + d) for d in (-2.0, 0.0, 2.0)]
        + [("k", "c", "post", 22.0 + d) for d in (-2.0, 0.0, 2.0)]
    )
    df = spark.createDataFrame(rows, "k string, arm string, p string, v double")
    got = aggregates.diff_in_diff(df, "arm", "p", "v", "t", "post", ["k"]).first()
    # treated moved +7, control's shared trend +2 -> did = 5
    assert abs(got.did - 5.0) < 1e-12
    se = (1.0 / 3 + 1.0 / 3 + 4.0 / 3 + 4.0 / 3) ** 0.5
    assert abs(got.se - se) < 1e-12
    assert abs(got.z_stat - 5.0 / se) < 1e-12
    assert (got.n_t_pre, got.n_t_post, got.n_c_pre, got.n_c_post) == (3, 3, 3, 3)

    # empty treated-post cell -> NULL did
    noc = spark.createDataFrame(
        [r for r in rows if not (r[1] == "t" and r[2] == "post")],
        "k string, arm string, p string, v double",
    )
    assert aggregates.diff_in_diff(
        noc, "arm", "p", "v", "t", "post", ["k"]
    ).first().did is None

    orders = load_table(spark, oracle_sf_dir, "orders")
    pre = orders.select(
        "o_orderpriority",
        (F.col("o_custkey") % 2 == 0).alias("arm"),
        (F.col("o_orderdate") >= F.lit("1995-01-01")).alias("p"),
        F.col("o_totalprice").alias("v"),
    )
    got_r = aggregates.diff_in_diff(
        pre, "arm", "p", "v", True, True, ["o_orderpriority"]
    ).select(
        "o_orderpriority",
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        stable_round(F.col("did"), 6).alias("did"),
        stable_round(F.col("se"), 6).alias("se"),
        stable_round(F.col("z_stat"), 6).alias("z_stat"),
    )
    sql = f"""
        WITH base AS (
          SELECT o_orderpriority AS k,
                 (o_custkey % 2 = 0) AS t,
                 (o_orderdate >= DATE '1995-01-01') AS p,
                 o_totalprice::DOUBLE AS v
          FROM orders WHERE o_totalprice IS NOT NULL
        ),
        g AS (
          SELECT k,
                 COUNT(*) FILTER (t AND NOT p)      AS n_t_pre,
                 COUNT(*) FILTER (t AND p)          AS n_t_post,
                 COUNT(*) FILTER (NOT t AND NOT p)  AS n_c_pre,
                 COUNT(*) FILTER (NOT t AND p)      AS n_c_post,
                 AVG(v) FILTER (t AND NOT p)        AS m_tp,
                 AVG(v) FILTER (t AND p)            AS m_tq,
                 AVG(v) FILTER (NOT t AND NOT p)    AS m_cp,
                 AVG(v) FILTER (NOT t AND p)        AS m_cq,
                 VAR_SAMP(v) FILTER (t AND NOT p)   AS v_tp,
                 VAR_SAMP(v) FILTER (t AND p)       AS v_tq,
                 VAR_SAMP(v) FILTER (NOT t AND NOT p) AS v_cp,
                 VAR_SAMP(v) FILTER (NOT t AND p)   AS v_cq
          FROM base GROUP BY k
        )
        SELECT k AS o_orderpriority, n_t_pre, n_t_post, n_c_pre, n_c_post,
               {sql_round('(m_tq - m_tp) - (m_cq - m_cp)', 6)} AS did,
               {sql_round(
                   'sqrt(v_tq / n_t_post + v_tp / n_t_pre'
                   ' + v_cq / n_c_post + v_cp / n_c_pre)', 6)} AS se,
               {sql_round(
                   '((m_tq - m_tp) - (m_cq - m_cp))'
                   ' / sqrt(v_tq / n_t_post + v_tp / n_t_pre'
                   ' + v_cq / n_c_post + v_cp / n_c_pre)', 6)} AS z_stat
        FROM g
    """
    assert compare(got_r, duckdb_connect(oracle_sf_dir), sql) == []


def test_minimum_detectable_effect_pins_and_parity(spark, oracle_sf_dir):
    """MDE: (1) hand-math pin (pooled sd, se, z-sum scaling); (2) a
    single-row arm reports NULL (var undefined); (3) full DuckDB
    replay on orders (arm = orderkey parity per priority)."""
    rows = [("k", "a", v) for v in (1.0, 2.0, 3.0, 4.0)] + [
        ("k", "b", v) for v in (2.0, 4.0, 6.0)
    ]
    df = spark.createDataFrame(rows, "k string, arm string, v double")
    got = aggregates.minimum_detectable_effect(
        df, "arm", "v", "a", "b", ["k"]
    ).first()
    va = 5.0 / 3  # var_samp of 1,2,3,4
    vb = 4.0
    s2 = (3 * va + 2 * vb) / 5
    se = (s2 * (1 / 4 + 1 / 3)) ** 0.5
    assert got.n_a == 4 and got.n_b == 3
    assert abs(got.pooled_sd - s2**0.5) < 1e-12
    assert abs(got.se - se) < 1e-12
    assert abs(got.mde_abs - (1.959964 + 0.841621) * se) < 1e-12
    assert abs(got.mde_rel - got.mde_abs / 2.5) < 1e-12

    one = spark.createDataFrame(
        [("k", "a", 1.0), ("k", "b", 2.0), ("k", "b", 3.0)],
        "k string, arm string, v double",
    )
    assert aggregates.minimum_detectable_effect(
        one, "arm", "v", "a", "b", ["k"]
    ).first().mde_abs is None

    orders = load_table(spark, oracle_sf_dir, "orders")
    pre = orders.select(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 2 == 0, "even").otherwise("odd").alias("arm"),
        F.col("o_totalprice").alias("v"),
    )
    got_r = aggregates.minimum_detectable_effect(
        pre, "arm", "v", "even", "odd", ["o_orderpriority"]
    ).select(
        "o_orderpriority",
        "n_a",
        "n_b",
        stable_round(F.col("mean_a"), 6).alias("mean_a"),
        stable_round(F.col("pooled_sd"), 6).alias("pooled_sd"),
        stable_round(F.col("se"), 6).alias("se"),
        stable_round(F.col("mde_abs"), 6).alias("mde_abs"),
        stable_round(F.col("mde_rel"), 8).alias("mde_rel"),
    )
    zsum = 1.959964 + 0.841621
    sql = f"""
        WITH base AS (
          SELECT o_orderpriority AS k,
                 CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END AS arm,
                 o_totalprice::DOUBLE AS v
          FROM orders WHERE o_totalprice IS NOT NULL
        ),
        g AS (
          SELECT k,
                 COUNT(*) FILTER (arm = 'even') AS n_a,
                 COUNT(*) FILTER (arm = 'odd')  AS n_b,
                 AVG(v) FILTER (arm = 'even')   AS mean_a,
                 VAR_SAMP(v) FILTER (arm = 'even') AS va,
                 VAR_SAMP(v) FILTER (arm = 'odd')  AS vb
          FROM base GROUP BY k
        ),
        s AS (
          SELECT k, n_a, n_b, mean_a,
                 ((n_a - 1) * va + (n_b - 1) * vb) / (n_a + n_b - 2) AS s2,
                 sqrt(((n_a - 1) * va + (n_b - 1) * vb) / (n_a + n_b - 2)
                      * (1.0 / n_a + 1.0 / n_b)) AS se
          FROM g
        )
        SELECT k AS o_orderpriority, n_a, n_b,
               {sql_round('mean_a', 6)} AS mean_a,
               {sql_round('sqrt(s2)', 6)} AS pooled_sd,
               {sql_round('se', 6)} AS se,
               {sql_round(f'{zsum} * se', 6)} AS mde_abs,
               {sql_round(f'{zsum} * se / abs(mean_a)', 8)} AS mde_rel
        FROM s
    """
    assert compare(got_r, duckdb_connect(oracle_sf_dir), sql) == []


def test_conformal_interval_pins_coverage_and_parity(spark, oracle_sf_dir):
    """Split conformal: (1) hand pin -- qhat is exactly the
    ceil((n+1)(1-alpha))-th smallest |residual|; (2) finite-sample
    guarantee holds empirically on an exchangeable split (coverage >=
    1 - alpha); (3) n too small for the level -> NULL qhat; (4)
    conformal_apply attaches lo/hi and leaves unseen keys NULL; (5)
    full DuckDB replay on lineitem residuals per returnflag."""
    cal = spark.createDataFrame(
        [("g", float(i), float(i + (i % 5))) for i in range(20)],
        "k string, pred double, actual double",
    )
    fit = aggregates.conformal_interval(cal, "pred", "actual", 0.2, ["k"])
    r = fit.first()
    # residuals: 0,1,2,3,4 each x4; k = ceil(21 * 0.8) = 17 -> 4.0
    assert (r.n_cal, r.k_rank, r.qhat) == (20, 17, 4.0)

    # coverage on an exchangeable split: iid noise, same law both sides
    import random

    rng = random.Random(11)
    pool = [("g", float(i % 50), i % 50 + rng.gauss(0, 2)) for i in range(2000)]
    both = spark.createDataFrame(
        pool, "k string, pred double, actual double"
    )
    calib = both.filter(F.crc32(F.col("pred").cast("string")) % 2 == 0)
    fresh = both.subtract(calib)
    f2 = aggregates.conformal_interval(calib, "pred", "actual", 0.1, ["k"])
    banded = aggregates.conformal_apply(fresh, f2, "pred", ["k"])
    cov = banded.agg(
        F.avg(
            (
                (F.col("actual") >= F.col("lo"))
                & (F.col("actual") <= F.col("hi"))
            ).cast("double")
        ).alias("c")
    ).first().c
    assert cov >= 0.88  # >= 1 - alpha up to sampling noise

    # too little calibration for the level: k > n -> NULL
    tiny = spark.createDataFrame(
        [("g", 1.0, 2.0), ("g", 2.0, 2.5)],
        "k string, pred double, actual double",
    )
    t = aggregates.conformal_interval(tiny, "pred", "actual", 0.1, ["k"]).first()
    assert t.qhat is None and t.k_rank == 3 and t.n_cal == 2

    # apply: unseen key -> NULL bands
    new = spark.createDataFrame(
        [("g", 10.0), ("other", 10.0)], "k string, pred double"
    )
    ap = {
        r.k: (r.lo, r.hi)
        for r in aggregates.conformal_apply(new, fit, "pred", ["k"]).collect()
    }
    assert ap["g"] == (6.0, 14.0) and ap["other"] == (None, None)

    with pytest.raises(ValueError, match="alpha"):
        aggregates.conformal_interval(cal, "pred", "actual", 1.5, ["k"])

    # DuckDB replay on lineitem: pred = quantity scaled, actual = discount*100
    li = load_table(spark, oracle_sf_dir, "lineitem")
    pre = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("double").alias("pred"),
        (F.col("l_extendedprice") / 1000.0).alias("actual"),
    )
    got_r = aggregates.conformal_interval(
        pre, "pred", "actual", 0.1, ["l_returnflag"]
    ).select(
        "l_returnflag",
        "n_cal",
        "k_rank",
        stable_round(F.col("qhat"), 6).alias("qhat"),
    )
    sql = f"""
        WITH base AS (
          SELECT l_returnflag AS k,
                 abs(l_extendedprice / 1000.0 - l_quantity::DOUBLE) AS r
          FROM lineitem
        ),
        ranked AS (
          SELECT k, r,
                 ROW_NUMBER() OVER (PARTITION BY k ORDER BY r) AS rn,
                 CAST(ceil((COUNT(*) OVER (PARTITION BY k) + 1) * 0.9)
                      AS BIGINT) AS kk
          FROM base
        )
        SELECT k AS l_returnflag, COUNT(*) AS n_cal, MAX(kk) AS k_rank,
               {sql_round('MAX(CASE WHEN rn = kk THEN r END)', 6)} AS qhat
        FROM ranked GROUP BY k
    """
    assert compare(got_r, duckdb_connect(oracle_sf_dir), sql) == []


def test_srm_check_pins_and_parity(spark, oracle_sf_dir):
    """SRM: (1) hand-math pin -- a 60/40 observed split against a
    designed 50/50 scores the textbook chi2; (2) a healthy split scores
    ~0 while a broken one exceeds the p<0.001 bar; (3) unknown arms are
    excluded and counted; (4) a designed arm with zero rows still
    contributes its expected mass; (5) full DuckDB replay on orders."""
    rows = [("k", "a")] * 60 + [("k", "b")] * 40 + [("k", "zz")] * 5
    df = spark.createDataFrame(rows, "k string, arm string")
    got = aggregates.srm_check(df, "arm", {"a": 1, "b": 1}, ["k"]).first()
    # exp 50/50 of n=100: chi2 = 100/50 + 100/50 = 4
    assert got.n == 100 and got.n_unexpected == 5
    assert (got.obs_a, got.obs_b) == (60, 40)
    assert abs(got.chi2 - 4.0) < 1e-12 and got.dof == 1

    # missing designed arm: full expected mass still counted
    solo = spark.createDataFrame([("k", "a")] * 10, "k string, arm string")
    m = aggregates.srm_check(solo, "arm", {"a": 1, "b": 1}, ["k"]).first()
    # obs (10,0) vs exp (5,5): chi2 = 25/5 + 25/5 = 10
    assert abs(m.chi2 - 10.0) < 1e-12 and m.obs_b == 0

    with pytest.raises(ValueError, match="at least one arm"):
        aggregates.srm_check(df, "arm", {}, ["k"])

    # healthy vs broken at scale + DuckDB replay on orders
    orders = load_table(spark, oracle_sf_dir, "orders")
    pre = orders.select(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 2 == 0, "even")
        .otherwise("odd")
        .alias("arm"),
    )
    healthy = aggregates.srm_check(
        pre, "arm", {"even": 1, "odd": 1}, ["o_orderpriority"]
    )
    assert healthy.agg(F.max("chi2")).first()[0] < 10.83  # p > 0.001
    broken = aggregates.srm_check(
        pre.filter(
            (F.col("arm") == "odd") | (F.col("o_orderpriority") != "1-URGENT")
        ),
        "arm",
        {"even": 1, "odd": 1},
        ["o_orderpriority"],
    ).filter(F.col("o_orderpriority") == "1-URGENT")
    assert broken.first().chi2 > 10.83

    got_r = healthy.select(
        "o_orderpriority",
        "n",
        "n_unexpected",
        "obs_even",
        "obs_odd",
        stable_round(F.col("chi2"), 8).alias("chi2"),
        "dof",
    )
    sql = f"""
        WITH g AS (
          SELECT o_orderpriority AS k,
                 COUNT(*) AS n,
                 0 AS n_unexpected,
                 COUNT(*) FILTER (o_orderkey % 2 = 0) AS obs_even,
                 COUNT(*) FILTER (o_orderkey % 2 = 1) AS obs_odd
          FROM orders GROUP BY 1
        )
        SELECT k AS o_orderpriority, n, n_unexpected, obs_even, obs_odd,
               {sql_round(
                   'pow(obs_even - n * 0.5, 2) / (n * 0.5)'
                   ' + pow(obs_odd - n * 0.5, 2) / (n * 0.5)', 8)} AS chi2,
               1 AS dof
        FROM g
    """
    assert compare(got_r, duckdb_connect(oracle_sf_dir), sql) == []


def test_cusum_changepoints_pins_and_parity(spark, oracle_sf_dir):
    """Tabular CUSUM via the prefix-extremum closed form: (1) a planted
    +5-unit level shift (k=0.5, h=4, pinned target/scale) alarms on the
    FIRST post-shift point with the exact textbook recursion values,
    while the pre-shift run never leaves 0; (2) a downward shift trips
    the one-sided low statistic only; (3) a transient blip decays at
    k per step after the excursion ends (the max(0,.) reset is the
    running-min identity); (4) standardize mode emits NULL scores for a
    constant key (sd=0) and drops NULL readings at entry; (5) full
    DuckDB replay parity on hourly event_type counts."""
    rows = []
    for i in range(20):
        rows.append(("shift", i, 10.0))
    for i in range(20, 30):
        rows.append(("shift", i, 15.0))
    for i in range(20):
        rows.append(("drop", i, 10.0 if i < 10 else 5.0))
    blip = [10.0] * 5 + [15.0, 15.0] + [10.0] * 13
    for i, x in enumerate(blip):
        rows.append(("blip", i, x))
    df = spark.createDataFrame(rows, "k string, i long, v double")
    out = aggregates.cusum_changepoints(
        df, ["k"], "i", "v",
        drift=0.5, threshold=4.0, target=10.0, scale=1.0,
    )
    got = {(r.k, r.i): r for r in out.collect()}
    # (1) upward shift: flat run pinned at 0, alarm at first shifted point
    for i in range(20):
        r = got[("shift", i)]
        assert r.cusum_pos == 0.0 and r.alarm is False, r
    # s+ recursion from 0: +4.5 per shifted point (z=5, k=0.5)
    for j, i in enumerate(range(20, 30)):
        r = got[("shift", i)]
        assert r.cusum_pos == pytest.approx(4.5 * (j + 1), abs=1e-6)
        assert r.alarm is True
        assert r.cusum_neg == 0.0  # low side never accumulates
    # (2) downward shift: symmetric on the low statistic
    r = got[("drop", 10)]
    assert r.cusum_neg == pytest.approx(4.5, abs=1e-6) and r.alarm is True
    assert all(got[("drop", i)].cusum_pos == 0.0 for i in range(20))
    # (3) blip: peaks at 9.0 after two +5 points, then decays by k=0.5
    assert got[("blip", 6)].cusum_pos == pytest.approx(9.0, abs=1e-6)
    for j in range(1, 9):
        assert got[("blip", 6 + j)].cusum_pos == pytest.approx(
            9.0 - 0.5 * j, abs=1e-6
        )
    assert got[("blip", 14)].alarm is True  # decayed to 5.0, still > 4
    assert got[("blip", 16)].alarm is False  # 4.0 is not > 4: cleared
    assert got[("blip", 19)].cusum_pos == pytest.approx(2.5, abs=1e-6)
    # (4) standardize mode: constant key -> NULL scores; NULL dropped
    df2 = spark.createDataFrame(
        [("flat", 0, 2.0), ("flat", 1, 2.0), ("flat", 2, 2.0),
         ("mix", 0, 1.0), ("mix", 1, None), ("mix", 2, 3.0)],
        "k string, i long, v double",
    )
    out2 = aggregates.cusum_changepoints(df2, ["k"], "i", "v")
    flat = out2.filter(F.col("k") == "flat").collect()
    assert len(flat) == 3
    assert all(
        r.cusum_pos is None and r.cusum_neg is None and r.alarm is None
        for r in flat
    )
    assert out2.filter(F.col("k") == "mix").count() == 2  # NULL dropped
    # (5) DuckDB replay on hourly event_type counts, standardize mode
    events = load_table(spark, oracle_sf_dir, "events")
    per_b = events.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("bucket_start"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    got_r = aggregates.cusum_changepoints(
        per_b, ["event_type"], "bucket_start", "n",
        drift=0.5, threshold=5.0, digits=4,
    )
    # the docstring's cost claim, pinned: all four window expressions
    # (two prefix sums, two running mins, split across two consecutive
    # Window nodes) ride ONE sort
    plan = got_r._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Sort ") == 1, plan
    sql = f"""
        WITH per_b AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket_start,
                 COUNT(*)::DOUBLE AS n
          FROM events GROUP BY 1, 2
        ),
        stats AS (
          SELECT event_type, AVG(n) AS mu, STDDEV_SAMP(n) AS sd
          FROM per_b GROUP BY 1
        ),
        z AS (
          SELECT p.event_type, p.bucket_start, p.n,
                 CASE WHEN s.sd > 0 THEN (p.n - s.mu) / s.sd END AS z
          FROM per_b p JOIN stats s USING (event_type)
        ),
        pq AS (
          SELECT *, SUM(z - 0.5) OVER w AS p, SUM(-z - 0.5) OVER w AS q,
                 MAX(CASE WHEN z IS NULL THEN 1 ELSE 0 END) OVER w AS ns
          FROM z
          WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        m AS (
          SELECT *, MIN(p) OVER w AS pmin, MIN(q) OVER w AS qmin
          FROM pq
          WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, bucket_start, n,
          {sql_round("CASE WHEN ns = 0 THEN p - LEAST(0, pmin) END", 4)}
            AS cusum_pos,
          {sql_round("CASE WHEN ns = 0 THEN q - LEAST(0, qmin) END", 4)}
            AS cusum_neg,
          CASE WHEN ns = 0 THEN
            (p - LEAST(0, pmin) > 5.0) OR (q - LEAST(0, qmin) > 5.0)
          END AS alarm
        FROM m
    """
    assert compare(got_r, duckdb_connect(oracle_sf_dir), sql) == []


def test_cusum_changepoints_keyless_self_fit(spark):
    """Regression (r11): the GLOBAL form -- keys=[] with a self-fitted
    baseline -- used to crash (DataFrame.join([]) on the one-row stats
    frame); it now attaches as a broadcast scalar. The keyless output
    must equal the identical series run under a constant key."""
    xs = [10.0, 11.0, 9.0, 10.0, 16.0, 17.0, 16.5, 18.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(xs)], "i long, v double"
    )
    keyless = {
        r.i: (r.cusum_pos, r.cusum_neg, r.alarm)
        for r in aggregates.cusum_changepoints(
            df, [], "i", "v", drift=0.5, threshold=1.0
        ).collect()
    }
    keyed = {
        r.i: (r.cusum_pos, r.cusum_neg, r.alarm)
        for r in aggregates.cusum_changepoints(
            df.withColumn("g", F.lit("all")), ["g"], "i", "v",
            drift=0.5, threshold=1.0,
        ).collect()
    }
    assert keyless == keyed and len(keyless) == len(xs)
    assert any(a for _, _, a in keyless.values())  # the shift alarms

def test_holt_smooth_replica_and_forecast(spark, oracle_sf_dir):
    """Holt level+trend smoothing: (1) on a perfectly linear series the
    one-step-ahead fit reproduces the series exactly for ANY alpha/beta
    (the trend state locks on via the b_1 = x_2 - x_1 init) and the
    h-step forecast continues the line; (2) exact pure-Python replica
    equality on hourly event counts per event_type (real ragged
    series); (3) singleton keys get trend 0 and NULL fit; (4) NULL
    readings are dropped at entry."""
    rows = [("lin", i, 2.0 * i + 1.0) for i in range(12)]
    rows += [("one", 0, 7.0)]
    rows += [("gap", 0, 1.0), ("gap", 1, None), ("gap", 2, 2.0)]
    df = spark.createDataFrame(rows, "k string, i long, v double")
    out = aggregates.holt_smooth(df, ["k"], "i", "v", alpha=0.37, beta=0.81)
    got = {(r.k, r.i): r for r in out.collect()}
    for i in range(1, 12):
        assert got[("lin", i)].fitted == pytest.approx(2.0 * i + 1.0)
        assert got[("lin", i)].trend == pytest.approx(2.0)
    assert got[("lin", 0)].fitted is None
    assert got[("one", 0)].trend == 0.0 and got[("one", 0)].fitted is None
    assert ("gap", 1) not in got and len(
        [k for k in got if k[0] == "gap"]
    ) == 2
    fc = {
        r.h: r.forecast
        for r in aggregates.holt_forecast(
            out.filter(F.col("k") == "lin"), ["k"], "i", horizon=3
        ).collect()
    }
    assert fc == {
        1: pytest.approx(25.0), 2: pytest.approx(27.0),
        3: pytest.approx(29.0),
    }

    # replica on real series: hourly counts per event_type
    events = load_table(spark, oracle_sf_dir, "events")
    per_b = events.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("b"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    alpha, beta = 0.42, 0.17
    smoothed = aggregates.holt_smooth(
        per_b, ["event_type"], "b", "n", alpha=alpha, beta=beta
    )
    series: dict[str, list] = {}
    for r in sorted(per_b.collect(), key=lambda r: (r.event_type, r.b)):
        series.setdefault(r.event_type, []).append((r.b, r.n))
    expect = {}
    for k, xs in series.items():
        lev = xs[0][1]
        tr = (xs[1][1] - xs[0][1]) if len(xs) > 1 else 0.0
        expect[(k, xs[0][0])] = (lev, tr, None)
        for t in range(1, len(xs)):
            prev = lev + tr
            new_lev = alpha * xs[t][1] + (1 - alpha) * prev
            tr = beta * (new_lev - lev) + (1 - beta) * tr
            lev = new_lev
            expect[(k, xs[t][0])] = (lev, tr, prev)
    got_r = {(r.event_type, r.b): r for r in smoothed.collect()}
    assert set(got_r) == set(expect)
    for key, (lev, tr, fit) in expect.items():
        r = got_r[key]
        assert r.level == pytest.approx(lev, rel=1e-12)
        assert r.trend == pytest.approx(tr, rel=1e-12, abs=1e-12)
        if fit is None:
            assert r.fitted is None
        else:
            assert r.fitted == pytest.approx(fit, rel=1e-12)


def test_anova_oneway_hand_math_and_parity(spark, oracle_sf_dir):
    """One-way ANOVA: (1) textbook hand example reproduces exactly
    (three groups, known F), identical-group data gives F ~ 0, and the
    degenerate guards (single group, zero within-variance) yield NULL;
    (2) full DuckDB replay parity per key slice on orders."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    rows = (
        [("a", v) for v in [1.0, 2.0, 3.0]]
        + [("b", v) for v in [2.0, 3.0, 4.0]]
        + [("c", v) for v in [5.0, 6.0, 7.0]]
        + [("a", None), (None, 9.0)]  # excluded
    )
    df = spark.createDataFrame(rows, "g string, v double")
    r = aggregates.anova_oneway(df, "g", "v").collect()[0]
    # grand mean 33/9; SSB = 3*(2-11/3)^2+3*(3-11/3)^2+3*(6-11/3)^2 = 26
    # SSW = 3 groups x 2 each; F = (26/2)/(6/6) = 13
    assert r.n == 9 and r.k == 3
    assert r.ss_between == pytest.approx(26.0, abs=1e-9)
    assert r.ss_within == pytest.approx(6.0, abs=1e-9)
    assert r.f_stat == pytest.approx(13.0, abs=1e-9)

    same = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)], "g string, v double"
    )
    assert aggregates.anova_oneway(same, "g", "v").collect()[0].f_stat == (
        pytest.approx(0.0, abs=1e-12)
    )
    one = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    assert aggregates.anova_oneway(one, "g", "v").collect()[0].f_stat is None
    const = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "g string, v double"
    )
    assert aggregates.anova_oneway(const, "g", "v").collect()[0].f_stat is None

    orders = load_table(spark, oracle_sf_dir, "orders")
    # the SS columns subtract near-equal ~1e14 moment sums, so their
    # absolute float drift (~0.1) defeats any fixed rounding; the RATIO
    # is relatively stable to ~1e-12, so parity compares counts, dofs
    # and f_stat (the hand pin above checks the SS decomposition on
    # cancellation-free magnitudes)
    out = aggregates.anova_oneway(
        orders, "o_orderpriority", "o_totalprice", keys=["o_orderstatus"]
    ).select(
        "o_orderstatus",
        "n",
        "k",
        "df_between",
        "df_within",
        stable_round(F.col("f_stat"), 6).alias("f_stat"),
    )
    sql = f"""
        WITH pg AS (
          SELECT o_orderstatus, o_orderpriority,
                 COUNT(o_totalprice) AS n,
                 SUM(o_totalprice) AS s,
                 SUM(o_totalprice * o_totalprice) AS ss
          FROM orders
          WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
          GROUP BY 1, 2
        ),
        g AS (
          SELECT o_orderstatus,
                 CAST(SUM(n) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS k,
                 SUM(s) AS gs, SUM(ss) AS gss,
                 SUM(s * s / n) AS braw
          FROM pg GROUP BY 1
        )
        SELECT o_orderstatus, n, k,
               k - 1 AS df_between,
               n - k AS df_within,
               CASE WHEN k > 1 AND n > k AND (gss - braw) > 0 THEN
                 {sql_round('((braw - gs * gs / n) / (k - 1))'
                            ' / ((gss - braw) / (n - k))', 6)}
               END AS f_stat
        FROM g
    """
    errs = compare(out, duckdb_connect(oracle_sf_dir), sql)
    assert not errs, errs[:5]


def test_rfm_scores_semantics_and_parity(spark, oracle_sf_dir):
    """RFM: (1) hand pins on a controlled frame -- recency scores read
    "higher = more recent", segment rules fire as documented, NULL
    exclusions; (2) full DuckDB replay on the events table (exact
    two-phase ntiles == window ntile under the same total order)."""
    import datetime

    import pytest

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    d = datetime.datetime
    rows = (
        [(1, d(2024, 3, 30), 10.0)] * 6          # recent + frequent
        + [(2, d(2024, 1, 1), 1.0)] * 2          # stale + rare-ish
        + [(3, d(2024, 3, 29), 2.0)]             # recent + rare -> new
        + [(4, d(2024, 2, 1), 5.0)] * 4          # mid
        + [(5, d(2024, 3, 15), 3.0)] * 5
        + [(None, d(2024, 3, 30), 9.0), (9, None, 9.0)]  # excluded
    )
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, v double")
    out = {
        r.user: r
        for r in aggregates.rfm_scores(
            ev, "user_id", "ts", "v", as_of="2024-04-01", n_bins=5
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].segment == "champion"
    assert out[3].segment == "new"
    assert out[2].segment == "hibernating"
    assert out[1].r_score > out[2].r_score  # higher = more recent
    assert out[1].monetary == 60.0 and out[1].frequency == 6
    assert out[3].f_score == 1  # uniquely rarest after the tiebreak
    with pytest.raises(ValueError, match="n_bins"):
        aggregates.rfm_scores(ev, "user_id", "ts", "v", "2024-04-01", 1)

    events = load_table(spark, oracle_sf_dir, "events")
    got = aggregates.rfm_scores(
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
    sql = f"""
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
    """
    assert compare(got, duckdb_connect(oracle_sf_dir), sql) == []


def test_weighted_quantile_hand_math_and_parity(spark, oracle_sf_dir):
    """Exact weighted quantiles: (1) hand pins -- weights shift the
    median off the unweighted one, weight-1 everywhere reduces to the
    plain left-continuous quantile, exclusions; (2) full DuckDB replay
    per key on lineitem (price weighted by quantity)."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    rows = [
        ("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 10.0),
        ("a", None, 5.0), ("a", 9.0, None), ("a", 9.0, 0.0),
        ("b", 5.0, 2.0), ("b", 7.0, 2.0),
    ]
    df = spark.createDataFrame(rows, "k string, v double, w double")
    got = {
        r.k: r.wq
        for r in aggregates.weighted_quantile(
            df, ["k"], "v", "w", q=0.5
        ).collect()
    }
    # a: weights 1,1,10 of 12; cum at v=3 is 12 >= 6 -> median 3 (the
    # heavy tail value); unweighted median of {1,2,3} would be 2
    assert got["a"] == 3.0
    assert got["b"] == 5.0  # cum 2 >= 2 at the first value
    ones = {
        r.k: r.wq
        for r in aggregates.weighted_quantile(
            df.filter(F.col("v") < 9.0).withColumn("w", F.lit(1.0)),
            ["k"], "v", "w", q=0.5,
        ).collect()
    }
    assert ones["a"] == 2.0  # weight-1 reduces to the plain quantile
    with pytest.raises(ValueError, match="q must be"):
        aggregates.weighted_quantile(df, ["k"], "v", "w", q=0.0)

    li = load_table(spark, oracle_sf_dir, "lineitem")
    out = aggregates.weighted_quantile(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", q=0.9
    ).select("l_returnflag", stable_round(F.col("wq"), 4).alias("wq"))
    sql = f"""
        WITH base AS (
          SELECT l_returnflag AS k, l_extendedprice AS v,
                 l_quantity AS w
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
        FROM c WHERE cw >= 0.9 * tw GROUP BY k
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_freshness_report_sla_and_parity(spark, oracle_sf_dir):
    """Freshness gate: hand pins (fresh passes, stale fails, all-NULL
    fails closed, NULL keys excluded) + DuckDB replay on events by
    type."""
    import datetime

    import pytest

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from tests.parity import compare, duckdb_connect

    d = datetime.datetime
    rows = [
        ("a", d(2024, 1, 1, 12, 0, 0)),
        ("a", d(2024, 1, 1, 11, 0, 0)),
        ("b", d(2024, 1, 1, 6, 0, 0)),
        ("c", None),
        (None, d(2024, 1, 1, 12, 0, 0)),
    ]
    ev = spark.createDataFrame(rows, "src string, ts timestamp")
    got = {
        r.src: r
        for r in aggregates.freshness_report(
            ev, ["src"], "ts", "2024-01-01 13:00:00", sla_seconds=7200
        ).collect()
    }
    assert set(got) == {"a", "b", "c"}
    assert got["a"].within_sla is True and got["a"].lag_seconds == 3600
    assert got["b"].within_sla is False and got["b"].lag_seconds == 25200
    assert got["c"].within_sla is False and got["c"].lag_seconds is None
    with pytest.raises(ValueError, match="sla_seconds"):
        aggregates.freshness_report(ev, ["src"], "ts", "2024-01-01", 0)

    events = load_table(spark, oracle_sf_dir, "events")
    out = aggregates.freshness_report(
        events, ["event_type"], "ts", "2024-07-01 00:00:00",
        sla_seconds=86400 * 30,
    ).withColumn("last_ts", F.col("last_ts").cast("timestamp_ntz"))
    sql = """
        SELECT event_type,
               MAX(ts) AS last_ts,
               CAST(date_diff('second', MAX(ts),
                    TIMESTAMP '2024-07-01 00:00:00') AS BIGINT)
                 AS lag_seconds,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               COALESCE(date_diff('second', MAX(ts),
                    TIMESTAMP '2024-07-01 00:00:00') <= 86400 * 30,
                    false) AS within_sla
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY event_type
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_bh_adjust_textbook_ties_and_parity(spark, oracle_sf_dir):
    """Benjamini-Hochberg: (1) hand math -- q is the tail running min
    of p*m/rank capped at 1, step-up rejections at alpha; (2) tied
    p-values receive the SAME q (order-invariant); (3) p outside [0,1]
    fails loud; (4) full DuckDB replay per key family on
    orders-derived p-values."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    ps = [0.005, 0.011, 0.02, 0.04, 0.13]
    df = spark.createDataFrame(
        [(f"m{i}", p) for i, p in enumerate(ps)], "metric string, p double"
    )
    got = {
        r.metric: (r.q_value, r.reject)
        for r in aggregates.bh_adjust(df, "p", alpha=0.05).collect()
    }
    # raw p*m/rank = [.025, .0275, .0333.., .05, .13]; already monotone
    assert got["m0"][0] == pytest.approx(0.005 * 5 / 1)
    assert got["m1"][0] == pytest.approx(0.011 * 5 / 2)
    assert got["m2"][0] == pytest.approx(0.02 * 5 / 3)
    assert got["m3"][0] == pytest.approx(0.04 * 5 / 4)
    assert got["m4"][0] == pytest.approx(0.13)
    assert [got[f"m{i}"][1] for i in range(5)] == [
        True, True, True, True, False,
    ]
    # the cap and the tail-min: a late small p drags earlier qs down
    ps2 = [0.9, 0.8, 0.04, 1.0]
    df2 = spark.createDataFrame(
        [(f"m{i}", p) for i, p in enumerate(ps2)], "metric string, p double"
    )
    got2 = {
        r.metric: r.q_value
        for r in aggregates.bh_adjust(df2, "p").collect()
    }
    assert got2["m2"] == pytest.approx(0.04 * 4 / 1)
    assert got2["m3"] == 1.0  # capped
    assert got2["m0"] == got2["m3"] == got2["m1"] == 1.0

    # ties: identical p -> identical q, whatever rank order they drew
    tied = spark.createDataFrame(
        [("a", 0.02), ("b", 0.02), ("c", 0.02), ("d", 0.5)],
        "metric string, p double",
    )
    tq = {r.metric: r.q_value for r in aggregates.bh_adjust(tied, "p").collect()}
    assert tq["a"] == tq["b"] == tq["c"] == pytest.approx(0.02 * 4 / 3)

    with pytest.raises(Exception, match="outside"):
        aggregates.bh_adjust(
            spark.createDataFrame([("x", 1.5)], "metric string, p double"),
            "p",
        ).collect()
    with pytest.raises(ValueError, match="alpha"):
        aggregates.bh_adjust(df, "p", alpha=0.0)

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderkey",
        ((F.col("o_orderkey") % 97) / 96.0).alias("p"),
    )
    out = aggregates.bh_adjust(
        orders, "p", alpha=0.05, keys=["o_orderstatus"]
    ).select(
        "o_orderstatus",
        "o_orderkey",
        stable_round(F.col("p"), 6).alias("p"),
        stable_round(F.col("q_value"), 6).alias("q_value"),
        "reject",
    )
    sql = f"""
        WITH base AS (
          SELECT o_orderstatus AS k, o_orderkey,
                 (o_orderkey % 97) / 96.0 AS p
          FROM orders
        ),
        r AS (
          SELECT k, o_orderkey, p,
                 ROW_NUMBER() OVER (PARTITION BY k ORDER BY p) AS rn,
                 COUNT(*) OVER (PARTITION BY k) AS m
          FROM base
        ),
        qv AS (
          SELECT k, o_orderkey, p,
                 LEAST(MIN(p * m / rn) OVER (
                   PARTITION BY k ORDER BY rn DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ), 1.0) AS q
          FROM r
        )
        SELECT k AS o_orderstatus, o_orderkey,
               {sql_round('p', 6)} AS p,
               {sql_round('q', 6)} AS q_value,
               q <= 0.05 AS reject
        FROM qv
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_fk_integrity_report_semantics_and_parity(spark, oracle_sf_dir):
    """Cross-table FK audit: (1) hand pins -- orphans counted only
    among non-null fks, NULL fks excused, duplicate pks flagged, ok
    only when both are zero; (2) full DuckDB replay on orders ->
    customer with planted orphans."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    fact = spark.createDataFrame(
        [(1,), (2,), (2,), (99,), (None,)], "fk long"
    )
    dim = spark.createDataFrame([(1,), (2,), (2,)], "pk long")
    r = aggregates.fk_integrity_report(fact, dim, "fk", "pk").collect()[0]
    assert (r.n_fact, r.n_null_fk, r.n_orphans) == (5, 1, 1)  # 99 only
    assert r.orphan_rate == 1 / 4
    assert (r.n_dim, r.n_dup_pk, r.n_null_pk) == (3, 1, 0)
    assert r.ok is False
    # the dup pk must NOT fan the fact's counts out (join is against
    # the distinct key set)
    assert r.n_fact == 5
    clean = aggregates.fk_integrity_report(
        fact.filter(F.col("fk") != 99),
        dim.distinct(),
        "fk",
        "pk",
    ).collect()[0]
    assert clean.ok is True and clean.n_orphans == 0
    # NULL pks are dim-side defects, surfaced and failing the gate
    # (review: count/count_distinct both skip NULLs, so they were
    # invisible to n_dup_pk and ok read True over a broken dimension)
    null_dim = spark.createDataFrame(
        [(None,), (None,), (1,), (2,)], "pk long"
    )
    rnp = aggregates.fk_integrity_report(
        fact.filter(F.col("fk") != 99), null_dim, "fk", "pk"
    ).collect()[0]
    assert (rnp.n_null_pk, rnp.n_dup_pk, rnp.n_orphans) == (2, 0, 0)
    assert rnp.ok is False

    # all-null fk frame: rate NULL, not a division error
    nulls = spark.createDataFrame([(None,), (None,)], "fk long")
    rn = aggregates.fk_integrity_report(
        nulls, dim.distinct(), "fk", "pk"
    ).collect()[0]
    assert rn.orphan_rate is None and rn.ok is True
    # EMPTY fact frame (r10 ADVICE): zero-row conditional sums coalesce
    # to 0 -- counts are defined and ok=true, not NULLs a gate cannot
    # branch on ("clean" vs "no data" is readable from n_fact)
    empty = spark.createDataFrame([], "fk long")
    re_ = aggregates.fk_integrity_report(
        empty, dim.distinct(), "fk", "pk"
    ).collect()[0]
    assert (re_.n_fact, re_.n_null_fk, re_.n_orphans) == (0, 0, 0)
    assert re_.orphan_rate is None and re_.ok is True
    # empty dim too: every defect count 0, the fact's fks all orphan
    no_dim = spark.createDataFrame([], "pk long")
    rd = aggregates.fk_integrity_report(
        fact, no_dim, "fk", "pk"
    ).collect()[0]
    assert (rd.n_dim, rd.n_dup_pk, rd.n_null_pk) == (0, 0, 0)
    assert rd.n_orphans == 4 and rd.ok is False

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        # plant orphans: shift 1/7th of the custkeys out of range
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_custkey") + 1_000_000
        ).otherwise(F.col("o_custkey")).alias("fk")
    )
    customer = load_table(spark, oracle_sf_dir, "customer")
    got = aggregates.fk_integrity_report(
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
    sql = f"""
        WITH f AS (
          SELECT CASE WHEN o_orderkey % 7 = 0
                      THEN o_custkey + 1000000
                      ELSE o_custkey END AS fk
          FROM orders
        ),
        fa AS (
          SELECT COUNT(*)::BIGINT AS n_fact,
                 SUM(CASE WHEN fk IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_null_fk
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
                 SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_null_pk
          FROM customer
        )
        SELECT n_fact, n_null_fk, n_orphans,
               {sql_round('n_orphans * 1.0 / (n_fact - n_null_fk)', 6)}
                 AS orphan_rate,
               n_dim, n_dup_pk, n_null_pk,
               n_orphans = 0 AND n_dup_pk = 0 AND n_null_pk = 0 AS ok
        FROM fa, o, d
    """
    assert compare(got, duckdb_connect(oracle_sf_dir), sql) == []


def test_ks_test_pins_and_parity(spark, oracle_sf_dir):
    """Two-sample KS: (1) identical samples score D = 0, disjoint
    ranges D = 1; (2) a shifted sample matches a pure-Python ECDF
    replica exactly (ties included); (3) one-sided keys emit no row;
    (4) full DuckDB replay on an even/odd orders split per status."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    a = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
    same = aggregates.ks_test(a, a, "v").collect()[0]
    assert same.d_stat == 0.0 and same.n_a == same.n_b == 10
    b = spark.createDataFrame(
        [(float(i + 100),) for i in range(7)], "v double"
    )
    apart = aggregates.ks_test(a, b, "v").collect()[0]
    assert apart.d_stat == 1.0 and apart.n_b == 7

    # replica with ties: a = [1,2,2,3], b = [2,3,3,4]
    xa, xb = [1.0, 2.0, 2.0, 3.0], [2.0, 3.0, 3.0, 4.0]
    fa = spark.createDataFrame([(v,) for v in xa], "v double")
    fb = spark.createDataFrame([(v,) for v in xb], "v double")
    got = aggregates.ks_test(fa, fb, "v").collect()[0]

    def ecdf(xs, t):
        return sum(1 for x in xs if x <= t) / len(xs)

    want = max(
        abs(ecdf(xa, t) - ecdf(xb, t)) for t in sorted(set(xa + xb))
    )
    assert got.d_stat == pytest.approx(want)

    keyed = aggregates.ks_test(
        fa.withColumn("k", F.lit("only_a")),
        fb.withColumn("k", F.lit("only_b")),
        "v",
        keys=["k"],
    ).collect()
    assert keyed == []  # no shared key slice -> no comparable ECDFs

    # quantize bounds the window's distinct frame; on already-gridded
    # values it is a no-op, and on jittered values it recovers the
    # exact grid-level statistic
    gq = aggregates.ks_test(fa, fb, "v", quantize=0).collect()[0]
    assert gq.d_stat == pytest.approx(got.d_stat)
    jit_a = fa.withColumn("v", F.col("v") + 1e-9)
    assert (
        aggregates.ks_test(jit_a, fa, "v", quantize=3).collect()[0].d_stat
        == 0.0
    )
    # SAFE BY DEFAULT (r10 verdict #1): the naive call quantizes at 6
    # decimals -- sub-grid jitter vanishes under the default, and the
    # UNBOUNDED exact form is the explicit opt-in (quantize=None)
    assert aggregates.ks_test(jit_a, fa, "v").collect()[0].d_stat == 0.0
    exact = aggregates.ks_test(jit_a, fa, "v", quantize=None).collect()[0]
    assert exact.d_stat == pytest.approx(0.5)  # every step offset by 1e-9

    orders = load_table(spark, oracle_sf_dir, "orders")
    ev = orders.filter(F.col("o_orderkey") % 2 == 0)
    od = orders.filter(F.col("o_orderkey") % 2 == 1)
    out = aggregates.ks_test(
        ev, od, "o_totalprice", keys=["o_orderstatus"]
    ).select(
        "o_orderstatus",
        "n_a",
        "n_b",
        stable_round(F.col("d_stat"), 8).alias("d_stat"),
    )
    sql = f"""
        WITH a AS (
          SELECT o_orderstatus AS k, o_totalprice AS v,
                 COUNT(*) AS ca, 0 AS cb
          FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL
          GROUP BY 1, 2
        ),
        b AS (
          SELECT o_orderstatus AS k, o_totalprice AS v,
                 0 AS ca, COUNT(*) AS cb
          FROM orders WHERE o_orderkey % 2 = 1 AND o_totalprice IS NOT NULL
          GROUP BY 1, 2
        ),
        u AS (
          SELECT k, v, SUM(ca) AS da, SUM(cb) AS db
          FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
          GROUP BY 1, 2
        ),
        c AS (
          SELECT k, v,
                 SUM(da) OVER (PARTITION BY k ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_a,
                 SUM(db) OVER (PARTITION BY k ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_b,
                 SUM(da) OVER (PARTITION BY k) AS n_a,
                 SUM(db) OVER (PARTITION BY k) AS n_b
          FROM u
        )
        SELECT k AS o_orderstatus,
               CAST(MAX(n_a) AS BIGINT) AS n_a,
               CAST(MAX(n_b) AS BIGINT) AS n_b,
               {sql_round(
                   'MAX(ABS(cum_a * 1.0 / n_a - cum_b * 1.0 / n_b))', 8
               )} AS d_stat
        FROM c WHERE n_a > 0 AND n_b > 0
        GROUP BY k
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_calibration_summaries_pins_and_parity(spark, oracle_sf_dir):
    """calibration_bins(summaries=True): (1) a perfectly calibrated
    score column gives ece ~ 0 and the pooled Brier of p(1-p); an
    over-confident one shows the gap in both abs_gap and ece; (2) the
    default schema is unchanged (no summary columns); (3) full DuckDB
    replay on orders-derived scores per status."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    rows = []
    for conf, n in [(0.25, 8), (0.75, 8)]:
        pos = int(conf * n)
        rows += [(True, conf)] * pos + [(False, conf)] * (n - pos)
    cal = spark.createDataFrame(rows, "y boolean, s double")
    out = {
        r.bin: r
        for r in aggregates.calibration_bins(
            cal, "y", "s", bins=4, summaries=True
        ).collect()
    }
    assert set(out) == {1, 3}
    assert out[1].observed_rate == pytest.approx(0.25)
    assert out[1].mean_score == pytest.approx(0.25)
    assert out[1].ece == pytest.approx(0.0, abs=1e-12)
    assert out[1].brier == pytest.approx((0.25 * 0.75 + 0.75 * 0.25) / 2)
    # overconfident: says 0.9, delivers 0.5
    over = spark.createDataFrame(
        [(True, 0.9), (False, 0.9)] * 10, "y boolean, s double"
    )
    o = aggregates.calibration_bins(
        over, "y", "s", bins=10, summaries=True
    ).collect()[0]
    assert o.abs_gap == pytest.approx(0.4)
    assert o.ece == pytest.approx(0.4)
    # default schema unchanged
    plain = aggregates.calibration_bins(over, "y", "s", bins=10)
    assert plain.columns == ["bin", "n", "mean_score", "observed_rate", "gap"]

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        "o_orderstatus",
        (F.col("o_custkey") % 2 == 0).alias("y"),
        ((F.col("o_orderkey") % 100) / 99.0).alias("s"),
    )
    got = aggregates.calibration_bins(
        orders, "y", "s", bins=10, keys=["o_orderstatus"], summaries=True
    ).select(
        "o_orderstatus",
        "bin",
        "n",
        stable_round(F.col("mean_score"), 6).alias("mean_score"),
        stable_round(F.col("observed_rate"), 6).alias("observed_rate"),
        stable_round(F.col("gap"), 6).alias("gap"),
        stable_round(F.col("abs_gap"), 6).alias("abs_gap"),
        stable_round(F.col("ece"), 6).alias("ece"),
        stable_round(F.col("brier"), 6).alias("brier"),
    )
    sql = f"""
        WITH base AS (
          SELECT o_orderstatus AS k,
                 CAST(o_custkey % 2 = 0 AS DOUBLE) AS y,
                 (o_orderkey % 100) / 99.0 AS s
          FROM orders
        ),
        b AS (
          SELECT k, LEAST(FLOOR(s * 10), 9)::INT AS bin,
                 COUNT(*)::BIGINT AS n,
                 AVG(s) AS mean_score,
                 AVG(y) AS observed_rate,
                 AVG(y) - AVG(s) AS gap,
                 SUM((s - y) * (s - y)) AS se
          FROM base GROUP BY 1, 2
        )
        SELECT k AS o_orderstatus, bin, n,
               {sql_round('mean_score', 6)} AS mean_score,
               {sql_round('observed_rate', 6)} AS observed_rate,
               {sql_round('gap', 6)} AS gap,
               {sql_round('ABS(gap)', 6)} AS abs_gap,
               {sql_round(
                   'SUM(n * ABS(gap)) OVER (PARTITION BY k) '
                   '/ SUM(n) OVER (PARTITION BY k)', 6
               )} AS ece,
               {sql_round(
                   'SUM(se) OVER (PARTITION BY k) '
                   '/ SUM(n) OVER (PARTITION BY k)', 6
               )} AS brier
        FROM b
    """
    assert compare(got, duckdb_connect(oracle_sf_dir), sql) == []


def test_kappa_textbook_pins_and_parity(spark, oracle_sf_dir):
    """Inter-annotator agreement: (1) Fleiss' kappa reproduces the
    Fleiss/Wikipedia 10-subject x 14-rater table (kappa ~ 0.210) and
    filters ragged items with the coverage readout; (2) it replays
    value-for-value in DuckDB on orders-derived ratings."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    # Fleiss 1971 / Wikipedia table: N=10 subjects, n=14 raters, k=5
    table = [
        [0, 0, 0, 0, 14], [0, 2, 6, 4, 2], [0, 0, 3, 5, 6],
        [0, 3, 9, 2, 0], [2, 2, 8, 1, 1], [7, 7, 0, 0, 0],
        [3, 2, 6, 3, 0], [2, 5, 3, 2, 2], [6, 5, 2, 1, 0],
        [0, 2, 2, 3, 7],
    ]
    frows = [
        (s, f"c{c}")
        for s, counts in enumerate(table)
        for c, n in enumerate(counts)
        for _ in range(n)
    ]
    fdf = spark.createDataFrame(frows, "item long, label string")
    fr = aggregates.fleiss_kappa(fdf, "item", "label").collect()[0]
    assert fr.n_items == 10 and fr.n_raters == 14
    assert fr.po == pytest.approx(0.378, abs=5e-4)
    assert fr.pe == pytest.approx(0.2128, abs=5e-4)
    assert fr.kappa == pytest.approx(0.210, abs=1e-3)
    assert fr.coverage == 1.0
    # ragged items are excluded with the kept share reported
    ragged = fdf.unionByName(
        spark.createDataFrame(
            [(99, "c0"), (99, "c0"), (98, "c1")], "item long, label string"
        )
    )
    fr2 = aggregates.fleiss_kappa(ragged, "item", "label").collect()[0]
    assert fr2.n_items == 10 and fr2.coverage == pytest.approx(10 / 12)
    assert fr2.kappa == pytest.approx(fr.kappa)

    # DuckDB parity for Fleiss on per-customer order ratings (ragged by
    # construction, so the modal filter and coverage are live)
    ratings = load_table(spark, oracle_sf_dir, "orders").select(
        F.col("o_custkey").alias("item"),
        F.col("o_orderpriority").alias("label"),
    )
    gotf = aggregates.fleiss_kappa(ratings, "item", "label").select(
        "n_items",
        "n_raters",
        stable_round(F.col("po"), 6).alias("po"),
        stable_round(F.col("pe"), 6).alias("pe"),
        stable_round(F.col("kappa"), 6).alias("kappa"),
        stable_round(F.col("coverage"), 6).alias("coverage"),
    )
    sqlf = f"""
        WITH cell AS (
          SELECT o_custkey AS item, o_orderpriority AS cls,
                 COUNT(*) AS c
          FROM orders GROUP BY 1, 2
        ),
        per_item AS (
          SELECT item, SUM(c) AS n, SUM(c * c) AS ss
          FROM cell GROUP BY item
        ),
        modal AS (
          SELECT n AS design_n FROM (
            SELECT n, COUNT(*) AS cnt,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, n ASC)
                     AS rk
            FROM per_item GROUP BY n
          ) WHERE rk = 1
        ),
        kept AS (
          SELECT p.* FROM per_item p, modal m WHERE p.n = m.design_n
        ),
        tot AS (
          SELECT COUNT(*)::BIGINT AS n_items,
                 CAST(MAX(n) AS BIGINT) AS n_raters,
                 AVG(CASE WHEN n > 1
                     THEN (ss - n) * 1.0 / (n * (n - 1)) END) AS po
          FROM kept
        ),
        pe AS (
          SELECT SUM(ck * ck) * 1.0 / (SUM(ck) * SUM(ck)) AS pe
          FROM (
            SELECT cls, SUM(c) AS ck FROM cell
            WHERE item IN (SELECT item FROM kept)
            GROUP BY cls
          )
        ),
        cov AS (SELECT COUNT(*)::BIGINT AS n_all FROM per_item)
        SELECT n_items, n_raters,
               {sql_round('po', 6)} AS po,
               {sql_round('pe', 6)} AS pe,
               CASE WHEN pe < 1 AND n_raters >= 2
                    THEN {sql_round('(po - pe) / (1 - pe)', 6)}
               END AS kappa,
               {sql_round('n_items * 1.0 / n_all', 6)} AS coverage
        FROM tot, pe, cov
    """
    assert compare(gotf, duckdb_connect(oracle_sf_dir), sqlf) == []


def test_classification_report_pins_and_parity(spark, oracle_sf_dir):
    """Confusion metrics: (1) hand pins -- a known tp/fp/fn/tn split
    gives the textbook precision/recall/f1; (2) degenerate slices are
    NULL, not 0 or a crash (no predicted positives -> precision NULL,
    no actual positives -> recall NULL, f1 NULL when an input is);
    (3) out-of-domain labels fail loud; (4) full DuckDB replay on
    orders per status with deterministic key-derived label/pred."""
    rows = (
        [(1.0, 1.0)] * 3      # tp
        + [(0.0, 1.0)] * 1    # fp
        + [(1.0, 0.0)] * 2    # fn
        + [(0.0, 0.0)] * 4    # tn
        + [(None, 1.0), (1.0, None)]  # excluded
    )
    df = spark.createDataFrame(rows, "y double, p double")
    r = aggregates.classification_report(df, "y", "p").collect()[0]
    assert (r.n, r.tp, r.fp, r.fn, r.tn) == (10, 3, 1, 2, 4)
    assert r.accuracy == pytest.approx(0.7)
    assert r.precision == pytest.approx(3 / 4)
    assert r.recall == pytest.approx(3 / 5)
    assert r.f1 == pytest.approx(2 * (3 / 4) * (3 / 5) / (3 / 4 + 3 / 5))

    # never predicts positive: precision undefined, recall 0, f1 NULL
    never = spark.createDataFrame(
        [(1.0, 0.0), (0.0, 0.0)], "y double, p double"
    )
    rn = aggregates.classification_report(never, "y", "p").collect()[0]
    assert rn.precision is None and rn.recall == 0.0 and rn.f1 is None
    # no actual positives: recall undefined
    nop = spark.createDataFrame(
        [(0.0, 1.0), (0.0, 0.0)], "y double, p double"
    )
    rp = aggregates.classification_report(nop, "y", "p").collect()[0]
    assert rp.recall is None and rp.precision == 0.0 and rp.f1 is None
    # booleans cast cleanly
    rb = aggregates.classification_report(
        spark.createDataFrame([(True, True), (False, True)],
                              "y boolean, p boolean"),
        "y",
        "p",
    ).collect()[0]
    assert (rb.tp, rb.fp) == (1, 1)
    with pytest.raises(Exception, match="outside"):
        aggregates.classification_report(
            spark.createDataFrame([(0.5, 1.0)], "y double, p double"),
            "y",
            "p",
        ).collect()

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        "o_orderstatus",
        (F.col("o_custkey") % 2).cast("double").alias("y"),
        (F.col("o_orderkey") % 3 == 0).cast("double").alias("p"),
    )
    out = aggregates.classification_report(
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
    sql = f"""
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
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_disparity_report_pins_and_parity(spark, oracle_sf_dir):
    """Fairness slices: (1) hand pins -- two groups with planted rate
    gaps report the exact dp/eo/fpr gaps against the POOLED rates;
    (2) a group with no positives has NULL tpr and NULL eo_gap (absence
    of evidence, not zero disparity); (3) NULL group is a real level;
    (4) full DuckDB replay on orders grouped by priority."""
    # group a: 4 rows, pred+ on 2 (rate .5); group b: 4 rows, pred+ 1
    rows = [
        ("a", 1.0, 1.0), ("a", 1.0, 1.0), ("a", 0.0, 0.0), ("a", 0.0, 0.0),
        ("b", 1.0, 0.0), ("b", 0.0, 1.0), ("b", 0.0, 0.0), ("b", 0.0, 0.0),
    ]
    df = spark.createDataFrame(rows, "g string, y double, p double")
    got = {
        r.g: r for r in aggregates.disparity_report(df, "g", "y", "p").collect()
    }
    assert got["a"].positive_rate == pytest.approx(0.5)
    assert got["b"].positive_rate == pytest.approx(0.25)
    pooled_rate = 3 / 8
    assert got["a"].positive_rate_overall == pytest.approx(pooled_rate)
    assert got["a"].dp_gap == pytest.approx(0.5 - pooled_rate)
    assert got["b"].dp_gap == pytest.approx(0.25 - pooled_rate)
    # tpr: a = 2/2, b = 0/1; pooled = 2/3
    assert got["a"].tpr == pytest.approx(1.0)
    assert got["b"].tpr == pytest.approx(0.0)
    assert got["a"].eo_gap == pytest.approx(1.0 - 2 / 3)
    # fpr: a = 0/2, b = 1/3; pooled = 1/5
    assert got["a"].fpr == pytest.approx(0.0)
    assert got["b"].fpr == pytest.approx(1 / 3)
    assert got["b"].fpr_gap == pytest.approx(1 / 3 - 1 / 5)

    # a group with no positives: tpr/eo_gap NULL, the rest defined
    nopos = spark.createDataFrame(
        [("a", 1.0, 1.0), ("b", 0.0, 1.0), ("b", 0.0, 0.0)],
        "g string, y double, p double",
    )
    gb = {
        r.g: r
        for r in aggregates.disparity_report(nopos, "g", "y", "p").collect()
    }
    assert gb["b"].tpr is None and gb["b"].eo_gap is None
    assert gb["b"].fpr == pytest.approx(0.5)
    # NULL group is a level of its own
    withnull = spark.createDataFrame(
        [(None, 1.0, 1.0), ("a", 0.0, 0.0)], "g string, y double, p double"
    )
    gn = {
        r.g: r
        for r in aggregates.disparity_report(
            withnull, "g", "y", "p"
        ).collect()
    }
    assert None in gn and gn[None].n == 1

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_custkey") % 2).cast("double").alias("y"),
        (F.col("o_orderkey") % 3 == 0).cast("double").alias("p"),
    )
    out = aggregates.disparity_report(
        orders, "o_orderpriority", "y", "p"
    ).select(
        "o_orderpriority",
        "n",
        stable_round(F.col("positive_rate"), 8).alias("positive_rate"),
        stable_round(F.col("tpr"), 8).alias("tpr"),
        stable_round(F.col("fpr"), 8).alias("fpr"),
        stable_round(F.col("dp_gap"), 8).alias("dp_gap"),
        stable_round(F.col("eo_gap"), 8).alias("eo_gap"),
        stable_round(F.col("fpr_gap"), 8).alias("fpr_gap"),
    )
    sql = f"""
        WITH base AS (
          SELECT o_orderpriority AS g,
                 (o_custkey % 2 = 1) AS y,
                 (o_orderkey % 3 = 0) AS p
          FROM orders
        ),
        c AS (
          SELECT g, COUNT(*)::BIGINT AS n,
                 SUM(CASE WHEN p THEN 1 ELSE 0 END) AS npp,
                 SUM(CASE WHEN y THEN 1 ELSE 0 END) AS npos,
                 SUM(CASE WHEN y AND p THEN 1 ELSE 0 END) AS tp,
                 SUM(CASE WHEN NOT y AND p THEN 1 ELSE 0 END) AS fp
          FROM base GROUP BY g
        ),
        t AS (
          SELECT g, n, npp, npos, tp, fp,
                 SUM(n) OVER () AS t_n, SUM(npp) OVER () AS t_pp,
                 SUM(npos) OVER () AS t_pos, SUM(tp) OVER () AS t_tp,
                 SUM(fp) OVER () AS t_fp
          FROM c
        )
        SELECT g AS o_orderpriority, n,
               {sql_round('npp * 1.0 / n', 8)} AS positive_rate,
               {sql_round(
                   'CASE WHEN npos > 0 THEN tp * 1.0 / npos END', 8
               )} AS tpr,
               {sql_round(
                   'CASE WHEN n - npos > 0 THEN fp * 1.0 / (n - npos) END', 8
               )} AS fpr,
               {sql_round('npp * 1.0 / n - t_pp * 1.0 / t_n', 8)} AS dp_gap,
               {sql_round(
                   'CASE WHEN npos > 0 AND t_pos > 0 THEN tp * 1.0 / npos '
                   '- t_tp * 1.0 / t_pos END', 8
               )} AS eo_gap,
               {sql_round(
                   'CASE WHEN n - npos > 0 AND t_n - t_pos > 0 THEN '
                   'fp * 1.0 / (n - npos) - t_fp * 1.0 / (t_n - t_pos) END',
                   8
               )} AS fpr_gap
        FROM t
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_lift_table_pins_and_parity(spark, oracle_sf_dir):
    """Lift/gains: (1) a perfectly separating score puts every positive
    in the top buckets -- bucket-1 lift = 1/base_rate, cum_capture
    reaches 1.0 and stays; (2) zero positives -> NULL lift/capture,
    never 0/0; (3) empty input -> empty table; (4) validation;
    (5) full DuckDB replay on orders with a deterministic key-derived
    score (independent of the label, so lift hovers ~1)."""
    # 20 rows, ids 0..19, score = 20 - id (desc by id), positives = the
    # 4 top-scored ids 0..3 -> base rate .2; 5 buckets of 4 rows
    rows = [(i, float(20 - i), 1.0 if i < 4 else 0.0) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, s double, y double")
    got = {
        r.bucket: r
        for r in aggregates.lift_table(df, "s", "y", "id", n_buckets=5)
        .collect()
    }
    assert sorted(got) == [1, 2, 3, 4, 5]
    assert got[1].n == 4 and got[1].n_pos == 4
    assert got[1].response_rate == pytest.approx(1.0)
    assert got[1].lift == pytest.approx(1.0 / 0.2)
    assert got[1].cum_capture == pytest.approx(1.0)
    assert got[5].cum_capture == pytest.approx(1.0)
    assert got[5].cum_lift == pytest.approx(1.0)
    assert got[3].n_pos == 0 and got[3].lift == pytest.approx(0.0)
    assert [got[b].cum_n for b in range(1, 6)] == [4, 8, 12, 16, 20]

    # zero positives: rates defined, lift/capture NULL
    nop = aggregates.lift_table(
        df.withColumn("y", F.lit(0.0)), "s", "y", "id", n_buckets=4
    ).collect()
    assert all(r.lift is None and r.cum_capture is None for r in nop)
    # empty input: empty frame, stable schema
    empty = aggregates.lift_table(
        df.filter(F.lit(False)), "s", "y", "id"
    )
    assert empty.count() == 0
    assert empty.columns == [
        "bucket", "n", "n_pos", "response_rate", "lift",
        "cum_n", "cum_pos", "cum_capture", "cum_lift",
    ]
    with pytest.raises(ValueError, match="n_buckets"):
        aggregates.lift_table(df, "s", "y", "id", n_buckets=1)
    with pytest.raises(Exception, match="outside"):
        aggregates.lift_table(
            spark.createDataFrame([(1, 0.5, 2.0)], "id long, s double, y double"),
            "s",
            "y",
            "id",
        ).collect()

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        ((F.col("o_orderkey") % 97) / 96.0).alias("s"),
        (F.col("o_custkey") % 2).cast("double").alias("y"),
    )
    out = aggregates.lift_table(orders, "s", "y", "id", n_buckets=10).select(
        "bucket",
        "n",
        "n_pos",
        stable_round(F.col("response_rate"), 8).alias("response_rate"),
        stable_round(F.col("lift"), 8).alias("lift"),
        "cum_n",
        "cum_pos",
        stable_round(F.col("cum_capture"), 8).alias("cum_capture"),
        stable_round(F.col("cum_lift"), 8).alias("cum_lift"),
    )
    sql = f"""
        WITH base AS (
          SELECT o_orderkey AS id,
                 (o_orderkey % 97) / 96.0 AS s,
                 (o_custkey % 2 = 1) AS y
          FROM orders
        ),
        n AS (SELECT COUNT(*)::DOUBLE AS c FROM base),
        r AS (
          SELECT CEIL(ROW_NUMBER() OVER (ORDER BY s DESC, id) * 10
                      / (SELECT c FROM n))::INT AS bucket,
                 y
          FROM base
        ),
        per AS (
          SELECT bucket, COUNT(*)::BIGINT AS n,
                 SUM(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos
          FROM r GROUP BY bucket
        ),
        c AS (
          SELECT bucket, n, n_pos,
                 SUM(n) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_n,
                 SUM(n_pos) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_pos,
                 SUM(n) OVER () AS t_n, SUM(n_pos) OVER () AS t_pos
          FROM per
        )
        SELECT bucket, n, n_pos,
               {sql_round('n_pos * 1.0 / n', 8)} AS response_rate,
               {sql_round(
                   'CASE WHEN t_pos > 0 THEN (n_pos * 1.0 / n) '
                   '/ (t_pos * 1.0 / t_n) END', 8
               )} AS lift,
               CAST(cum_n AS BIGINT) AS cum_n,
               CAST(cum_pos AS BIGINT) AS cum_pos,
               {sql_round(
                   'CASE WHEN t_pos > 0 THEN cum_pos * 1.0 / t_pos END', 8
               )} AS cum_capture,
               {sql_round(
                   'CASE WHEN t_pos > 0 THEN (cum_pos * 1.0 / cum_n) '
                   '/ (t_pos * 1.0 / t_n) END', 8
               )} AS cum_lift
        FROM c
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_profile_diff_statuses_and_parity(spark, oracle_sf_dir):
    """Column-profile diff: (1) hand pins -- a NULL influx trips
    null_frac, a planted mean shift trips mean, added/removed/dtype
    changes classify before drift checks, a stable column stays
    stable; (2) abstention -- a non-numeric column can never trip
    mean, zero distincts never trip n_distinct; (3) full DuckDB
    replay on orders vs a mutated snapshot (exact distincts)."""
    old = spark.createDataFrame(
        [(i, float(i % 10), "x", i % 3) for i in range(100)],
        "a long, b double, c string, e long",
    )
    new = spark.createDataFrame(
        [
            (
                i if i % 2 == 0 else None,   # 50% nulls in a
                float(i % 10) + 100.0,        # huge mean shift in b
                "x",                          # c stable
                str(i % 3),                   # e dtype long -> string
                1.0,                          # d added
            )
            for i in range(100)
        ],
        "a long, b double, c string, e string, d double",
    )
    got = {
        r.column: r
        for r in aggregates.profile_diff(
            old, new, distinct="exact"
        ).collect()
    }
    # a: 50% of values go NULL, which also halves the distinct count --
    # both checks trip, in the fixed flag order
    assert got["a"].status == "drifted" and list(got["a"].flags) == [
        "null_frac",
        "n_distinct",
    ]
    assert got["b"].status == "drifted" and "mean" in got["b"].flags
    assert got["c"].status == "stable" and list(got["c"].flags) == []
    assert got["e"].status == "dtype_changed"
    assert got["d"].status == "added" and got["d"].dtype_old is None
    # removed: diff the other way round
    rev = {
        r.column: r
        for r in aggregates.profile_diff(
            new, old, distinct="exact"
        ).collect()
    }
    assert rev["d"].status == "removed"
    import pytest as _pt

    with _pt.raises(ValueError, match="tolerances"):
        aggregates.profile_diff(old, new, null_frac_tol=-1.0)

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderstatus"
    )
    mutated = orders.select(
        F.when(F.col("o_custkey") % 13 != 0, F.col("o_custkey")).alias(
            "o_custkey"
        ),
        (F.col("o_totalprice") + 100000.0).alias("o_totalprice"),
        "o_orderstatus",
    )
    out = aggregates.profile_diff(
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
    sql = f"""
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
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_pass_at_k_pins_and_parity(spark, oracle_sf_dir):
    """Unbiased pass@k (Chen et al. 2021): (1) closed-form pins -- n=5
    c=2 gives pass@1 = c/n = 0.4, pass@3 = 1 - C(3,3)/C(5,3) = 0.9,
    pass@4 = 1.0 (n-c < k short-circuit), pass@6 = NULL (undefined at
    n < k); (2) monotone non-decreasing in k; (3) NULL-correct rows
    excluded, NULL problem id is a real slice; (4) out-of-domain
    correct values and bad ks fail loud; (5) full DuckDB replay on
    orders -- DuckDB's list_reduce folds the same ordered product as
    Spark's F.aggregate, so the estimates hash-match bit-for-bit."""
    rows = [("A", 1.0)] * 2 + [("A", 0.0)] * 3 + [("B", 1.0)] * 1 + [
        ("B", None)
    ]
    df = spark.createDataFrame(rows, "problem string, ok double")
    got = {
        r.problem: r
        for r in aggregates.pass_at_k(
            df, "problem", "ok", ks=(1, 3, 4, 6)
        ).collect()
    }
    a = got["A"]
    assert (a.n_samples, a.n_correct) == (5, 2)
    assert a.pass_at_1 == pytest.approx(0.4)
    assert a.pass_at_3 == pytest.approx(0.9)
    assert a.pass_at_4 == 1.0
    assert a.pass_at_6 is None
    # B: the NULL-correct row is excluded -> n=1, c=1
    b = got["B"]
    assert (b.n_samples, b.n_correct) == (1, 1)
    assert b.pass_at_1 == 1.0 and b.pass_at_3 is None
    # monotone in k where defined
    ks = list(range(1, 6))
    mono = aggregates.pass_at_k(df, "problem", "ok", ks=ks).collect()
    for r in mono:
        vals = [r[f"pass_at_{k}"] for k in ks]
        defined = [v for v in vals if v is not None]
        assert defined == sorted(defined), r
    # NULL problem id is a slice of its own
    withnull = spark.createDataFrame(
        [(None, 1.0), (None, 0.0)], "problem string, ok double"
    )
    nr = aggregates.pass_at_k(withnull, "problem", "ok", ks=(1,)).collect()
    assert len(nr) == 1 and nr[0].n_samples == 2
    # guards
    with pytest.raises(Exception, match="outside"):
        aggregates.pass_at_k(
            spark.createDataFrame([("A", 0.5)], "problem string, ok double"),
            "problem",
            "ok",
            ks=(1,),
        ).collect()
    with pytest.raises(ValueError, match="non-empty"):
        aggregates.pass_at_k(df, "problem", "ok", ks=())
    with pytest.raises(ValueError, match=">= 1"):
        aggregates.pass_at_k(df, "problem", "ok", ks=(1, 0))
    with pytest.raises(ValueError, match="too large"):
        aggregates.pass_at_k(df, "problem", "ok", ks=(20_000,))
    with pytest.raises(ValueError, match="integer"):
        # int(2.7) would silently compute pass@2 (r13 ADVICE)
        aggregates.pass_at_k(df, "problem", "ok", ks=(2.7,))

    # full replay: problems = custkey buckets, correct = key-derived
    orders = load_table(spark, oracle_sf_dir, "orders").select(
        (F.col("o_custkey") % 50).alias("problem"),
        (F.col("o_orderkey") % 7 == 0).cast("double").alias("ok"),
    )
    out = aggregates.pass_at_k(orders, "problem", "ok", ks=(1, 5, 10))
    ests = ", ".join(
        f"""CASE WHEN n < {k} THEN NULL
                 WHEN n - c < {k} THEN 1.0
                 ELSE 1.0 - list_reduce(
                   list_transform(range(0, {k}),
                                  j -> (n - c - j) * 1.0 / (n - j)),
                   (x, y) -> x * y)
            END AS pass_at_{k}"""
        for k in (1, 5, 10)
    )
    sql = f"""
        WITH agg AS (
          SELECT o_custkey % 50 AS problem,
                 COUNT(*)::BIGINT AS n,
                 SUM(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END)::BIGINT
                   AS c
          FROM orders GROUP BY 1
        )
        SELECT problem, n AS n_samples, c AS n_correct, {ests}
        FROM agg
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_krippendorff_alpha_pins_replica_and_parity(spark, oracle_sf_dir):
    """Krippendorff's alpha, nominal (the ragged-design agreement gate
    fleiss_kappa abstains on): (1) exact hand pins -- {aa, ab} sits at
    chance (alpha = 0), {aa, bb} at perfect agreement (1.0), a
    {aaa, bb, ab, singleton} design computes alpha = 0.5 by hand with
    coverage 3/4; (2) one observed category abstains (De = 0 -> NULL),
    as does an all-singleton input (vanishing slice); (3) equals a
    first-principles python replica on a generated ragged multiset and
    is a pure function of the row SET; (4) full DuckDB replay on the
    same ragged per-customer order ratings fleiss_kappa's parity
    uses -- alpha sees ALL pairable items, not just the modal-n ones."""

    def k(rows):
        df = spark.createDataFrame(rows, "item long, label string")
        out = aggregates.krippendorff_alpha(df, "item", "label").collect()
        return out[0] if out else None

    r = k([(1, "a"), (1, "a"), (2, "a"), (2, "b")])
    assert r.alpha == pytest.approx(0.0)
    assert r.do == pytest.approx(0.5) and r.de == pytest.approx(0.5)
    r = k([(1, "a"), (1, "a"), (2, "b"), (2, "b")])
    assert r.alpha == pytest.approx(1.0)
    hand = k(
        [(1, "a"), (1, "a"), (1, "a"), (2, "b"), (2, "b"),
         (3, "a"), (3, "b"), (4, "c")]
    )
    assert hand.alpha == pytest.approx(0.5)
    assert (hand.n_items, hand.n_values) == (3, 7)
    assert hand.coverage == pytest.approx(3 / 4)
    # abstentions: one category -> De = 0 -> NULL; all singletons ->
    # keyless global agg emits ONE abstention row (nothing pairable,
    # coverage exactly 0 -- not a flattering 1.0)
    r = k([(1, "a"), (1, "a"), (2, "a"), (2, "a")])
    assert r.alpha is None and r.de == 0.0
    r = k([(1, "a"), (2, "b"), (3, "c")])
    assert r.n_items == 0 and r.alpha is None and r.coverage == 0.0
    # keyed form: an all-singleton SLICE also gets its abstention row
    # (r13 ADVICE -- the inner-join assembly used to drop it), while a
    # sibling pairable slice computes normally
    keyed = spark.createDataFrame(
        [("g1", 1, "a"), ("g1", 2, "b"), ("g1", 3, "c"),
         ("g2", 1, "a"), ("g2", 1, "a"), ("g2", 2, "b"), ("g2", 2, "b")],
        "grp string, item long, label string",
    )
    by_g = {
        r.grp: r
        for r in aggregates.krippendorff_alpha(
            keyed, "item", "label", keys=["grp"]
        ).collect()
    }
    assert set(by_g) == {"g1", "g2"}
    assert by_g["g1"].n_items == 0
    assert by_g["g1"].alpha is None and by_g["g1"].coverage == 0.0
    assert by_g["g2"].alpha == pytest.approx(1.0)
    assert by_g["g2"].coverage == pytest.approx(1.0)

    # first-principles replica on a deterministic ragged multiset
    rows = [
        (i % 29, f"l{(i * 7 + i // 13) % 4}") for i in range(173)
    ]
    df = spark.createDataFrame(rows, "item long, label string")
    got = aggregates.krippendorff_alpha(df, "item", "label").collect()[0]

    from collections import Counter, defaultdict

    cells: dict[int, Counter] = defaultdict(Counter)
    for i, lb in rows:
        cells[i][lb] += 1
    pair = {i: c for i, c in cells.items() if sum(c.values()) >= 2}
    N = sum(sum(c.values()) for c in pair.values())
    do = sum(
        (sum(c.values()) ** 2 - sum(v * v for v in c.values()))
        / (sum(c.values()) - 1)
        for c in pair.values()
    ) / N
    nc = Counter()
    for c in pair.values():
        nc.update(c)
    de = (N * N - sum(v * v for v in nc.values())) / (N * (N - 1))
    assert got.n_values == N
    assert got.do == pytest.approx(do)
    assert got.de == pytest.approx(de)
    assert got.alpha == pytest.approx(1 - do / de)
    assert got.coverage == pytest.approx(len(pair) / len(cells))
    re_got = aggregates.krippendorff_alpha(
        df.repartition(13), "item", "label"
    ).collect()[0]
    assert re_got.alpha == got.alpha

    # DuckDB replay on ragged per-customer ratings (the fleiss fixture)
    ratings = load_table(spark, oracle_sf_dir, "orders").select(
        F.col("o_custkey").alias("item"),
        F.col("o_orderpriority").alias("label"),
    )
    out = aggregates.krippendorff_alpha(ratings, "item", "label").select(
        "n_items",
        "n_values",
        stable_round(F.col("do"), 6).alias("do"),
        stable_round(F.col("de"), 6).alias("de"),
        stable_round(F.col("alpha"), 6).alias("alpha"),
        stable_round(F.col("coverage"), 6).alias("coverage"),
    )
    sql = f"""
        WITH cell AS (
          SELECT o_custkey AS item, o_orderpriority AS cls,
                 COUNT(*) AS c
          FROM orders GROUP BY 1, 2
        ),
        per_item AS (
          SELECT item, SUM(c) AS n, SUM(c * c) AS ss
          FROM cell GROUP BY 1
        ),
        pairable AS (SELECT * FROM per_item WHERE n >= 2),
        tot AS (
          SELECT COUNT(*)::BIGINT AS n_items,
                 CAST(SUM(n) AS BIGINT) AS n_values,
                 SUM((n * n - ss) * 1.0 / (n - 1)) AS do_num
          FROM pairable
        ),
        cls_tot AS (
          SELECT SUM(nc * nc) AS ss_cls FROM (
            SELECT cls, SUM(c) AS nc
            FROM cell JOIN pairable USING (item)
            GROUP BY cls
          )
        ),
        cov AS (SELECT COUNT(*)::BIGINT AS n_all FROM per_item)
        SELECT n_items, n_values,
               {sql_round('do_num / n_values', 6)} AS do,
               {sql_round(
                   '(n_values * 1.0 * n_values - ss_cls) '
                   '/ (n_values * 1.0 * (n_values - 1))', 6)} AS de,
               {sql_round(
                   '1 - (do_num / n_values) / '
                   '((n_values * 1.0 * n_values - ss_cls) '
                   '/ (n_values * 1.0 * (n_values - 1)))', 6)} AS alpha,
               {sql_round('n_items * 1.0 / n_all', 6)} AS coverage
        FROM tot, cls_tot, cov
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_mcnemar_test_pins_and_parity(spark, oracle_sf_dir):
    """McNemar paired-model gate: (1) textbook pin -- the classic
    59/6/16/80 discordant table gives statistic (16-6)^2/22 = 4.545
    and corrected (10-1)^2/22 = 3.682; (2) no discordant items ->
    NULL statistics (indistinguishable models abstain); (3) |b-a| < 1
    never drives the corrected form negative; (4) NULL rows excluded,
    out-of-domain fails loud; (5) accuracies recompute from the cells;
    (6) full DuckDB replay on orders per status with key-derived
    paired outcomes."""
    rows = (
        [(1.0, 1.0)] * 59 + [(0.0, 0.0)] * 80
        + [(1.0, 0.0)] * 6 + [(0.0, 1.0)] * 16
        + [(None, 1.0), (1.0, None)]
    )
    df = spark.createDataFrame(rows, "a double, b double")
    r = aggregates.mcnemar_test(df, "a", "b").collect()[0]
    assert (r.n, r.both_right, r.both_wrong, r.a_only, r.b_only) == (
        161, 59, 80, 6, 16
    )
    assert r.statistic == pytest.approx((16 - 6) ** 2 / 22)
    assert r.statistic_corrected == pytest.approx((10 - 1) ** 2 / 22)
    assert r.accuracy_a == pytest.approx(65 / 161)
    assert r.accuracy_b == pytest.approx(75 / 161)

    # concordant-only: abstain
    conc = spark.createDataFrame(
        [(1.0, 1.0)] * 3 + [(0.0, 0.0)] * 2, "a double, b double"
    )
    rc = aggregates.mcnemar_test(conc, "a", "b").collect()[0]
    assert rc.statistic is None and rc.statistic_corrected is None
    # tie on discordant counts: raw statistic exactly 0, corrected NULL
    # (|b-a| = 0 < 1)
    tie = spark.createDataFrame(
        [(1.0, 0.0), (0.0, 1.0)], "a double, b double"
    )
    rt = aggregates.mcnemar_test(tie, "a", "b").collect()[0]
    assert rt.statistic == 0.0 and rt.statistic_corrected is None
    with pytest.raises(Exception, match="outside"):
        aggregates.mcnemar_test(
            spark.createDataFrame([(0.5, 1.0)], "a double, b double"),
            "a",
            "b",
        ).collect()

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        "o_orderstatus",
        (F.col("o_orderkey") % 3 == 0).cast("double").alias("a"),
        (F.col("o_orderkey") % 5 == 0).cast("double").alias("b"),
    )
    out = aggregates.mcnemar_test(
        orders, "a", "b", keys=["o_orderstatus"]
    ).select(
        "o_orderstatus",
        "n",
        "both_right",
        "both_wrong",
        "a_only",
        "b_only",
        stable_round(F.col("accuracy_a"), 8).alias("accuracy_a"),
        stable_round(F.col("accuracy_b"), 8).alias("accuracy_b"),
        stable_round(F.col("statistic"), 8).alias("statistic"),
        stable_round(F.col("statistic_corrected"), 8).alias(
            "statistic_corrected"
        ),
    )
    sql = f"""
        WITH base AS (
          SELECT o_orderstatus AS k,
                 (o_orderkey % 3 = 0) AS a,
                 (o_orderkey % 5 = 0) AS b
          FROM orders
        ),
        c AS (
          SELECT k, COUNT(*)::BIGINT AS n,
                 SUM(CASE WHEN a AND b THEN 1 ELSE 0 END)::BIGINT
                   AS both_right,
                 SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)::BIGINT
                   AS both_wrong,
                 SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT
                   AS a_only,
                 SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT
                   AS b_only
          FROM base GROUP BY k
        )
        SELECT k AS o_orderstatus, n, both_right, both_wrong, a_only,
               b_only,
               {sql_round('(both_right + a_only) * 1.0 / n', 8)}
                 AS accuracy_a,
               {sql_round('(both_right + b_only) * 1.0 / n', 8)}
                 AS accuracy_b,
               {sql_round(
                   'CASE WHEN a_only + b_only > 0 THEN '
                   'ABS(b_only - a_only) * 1.0 * ABS(b_only - a_only) '
                   '/ (a_only + b_only) END', 8)} AS statistic,
               {sql_round(
                   'CASE WHEN a_only + b_only > 0 '
                   'AND ABS(b_only - a_only) >= 1 THEN '
                   '(ABS(b_only - a_only) - 1.0) '
                   '* (ABS(b_only - a_only) - 1.0) '
                   '/ (a_only + b_only) END', 8)} AS statistic_corrected
        FROM c
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []
