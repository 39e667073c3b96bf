"""Feature-engineering fit/transform: hand-math pins, unseen-group and
degenerate-group NULL semantics, and full DuckDB value parity for each
of standardize / quantile-bin on the driver tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
    sql_round,
    stable_round,
)
from bigdata_storage_and_proccess_job_data_spark.operators import features
from tests.parity import compare, duckdb_connect


def test_standardize_hand_math_and_unseen_groups(spark):
    train = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0), ("c", None)],
        "k string, x double",
    )
    fit = features.standardize_fit(train, ["x"], keys=["k"])
    apply_df = spark.createDataFrame(
        [("a", 2.0), ("a", 4.0), ("b", 9.0), ("z", 1.0), ("a", None)],
        "k string, x double",
    )
    got = {
        (r.k, r.x): r.x_z
        for r in features.standardize_apply(
            apply_df, fit, ["x"], keys=["k"]
        ).collect()
    }
    # mean=2, std=sqrt(2) for group a
    assert abs(got[("a", 2.0)] - 0.0) < 1e-12
    assert abs(got[("a", 4.0)] - 2.0 / (2.0 ** 0.5)) < 1e-12
    assert got[("b", 9.0)] is None  # singleton train group: std NULL
    assert got[("z", 1.0)] is None  # unseen group
    assert got[("a", None)] is None

    with pytest.raises(ValueError):
        features.standardize_fit(train, [])


def test_quantile_bins_hand_math(spark):
    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 11)] + [(None,)], "x double"
    )
    fit = features.quantile_bins_fit(df, "x", n_bins=4)
    binned = features.quantile_bins_apply(df, fit, "x")
    got = {r.x: r.x_bin for r in binned.collect()}
    # exact quartile edges of 1..10: 3.25, 5.5, 7.75
    assert got[1.0] == 0 and got[3.0] == 0
    assert got[4.0] == 1 and got[5.0] == 1
    assert got[6.0] == 2 and got[7.0] == 2
    assert got[8.0] == 3 and got[10.0] == 3
    assert got[None] is None

    with pytest.raises(ValueError):
        features.quantile_bins_fit(df, "x", n_bins=1)


def test_features_duckdb_parity(spark, oracle_sf_dir):
    """Both transforms on orders, grouped by priority, match
    DuckDB end to end (exact interpolated percentiles both sides)."""
    orders = load_table(spark, oracle_sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    con = duckdb_connect(oracle_sf_dir)

    fit = features.standardize_fit(
        orders, ["o_totalprice"], keys=["o_orderpriority"]
    )
    z = features.standardize_apply(
        orders, fit, ["o_totalprice"], keys=["o_orderpriority"]
    ).select(
        "o_orderkey",
        stable_round(F.col("o_totalprice_z"), 6).alias("z"),
    )
    problems = compare(
        z,
        con,
        f"""
        WITH f AS (
          SELECT o_orderpriority, AVG(o_totalprice) AS m,
                 STDDEV_SAMP(o_totalprice) AS s
          FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderkey,
               {sql_round('(o_totalprice - m) / s', 6)} AS z
        FROM orders JOIN f USING (o_orderpriority)
        """,
    )
    assert problems == [], problems

    bfit = features.quantile_bins_fit(
        orders, "o_totalprice", 10, keys=["o_orderpriority"]
    )
    binned = features.quantile_bins_apply(
        orders, bfit, "o_totalprice", keys=["o_orderpriority"]
    ).select("o_orderkey", "o_totalprice_bin")
    problems = compare(
        binned,
        con,
        """
        WITH f AS (
          SELECT o_orderpriority,
                 quantile_cont(o_totalprice,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                   AS edges
          FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderkey,
               len(list_filter(edges, e -> o_totalprice >= e))
                 AS o_totalprice_bin
        FROM orders JOIN f USING (o_orderpriority)
        """,
    )
    assert problems == [], problems


def test_target_encode_loo_semantics_and_parity(spark, oracle_sf_dir):
    """Smoothed target encoding: (1) hand math on a tiny frame incl.
    unseen-category prior fallback, count-1 LOO prior fallback, and
    null-target exclusion; (2) full DuckDB replay parity of the LOO
    encoding on orders; (3) serving apply (no LOO) parity too."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from bigdata_storage_and_proccess_job_data_spark.operators import features
    from tests.parity import compare, duckdb_connect

    train = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 40.0), ("b", None), ("c", 30.0)],
        "k string, y double",
    )
    art = features.target_encode_fit(train, ["k"], "y", smoothing=2.0)
    # prior = (10+20+40+30)/4 = 25
    enc = {
        (r.k, r.y): r.te
        for r in features.target_encode_apply(
            train, art, ["k"], loo_target="y"
        ).collect()
    }
    assert abs(enc[("a", 10.0)] - (20.0 + 2 * 25.0) / 3.0) < 1e-12
    assert abs(enc[("c", 30.0)] - 25.0) < 1e-12  # count-1 LOO -> prior
    assert abs(enc[("b", None)] - (40.0 + 2 * 25.0) / 3.0) < 1e-12  # nothing to remove
    serve = spark.createDataFrame([("a",), ("zz",)], "k string")
    got = {
        r.k: r.te
        for r in features.target_encode_apply(serve, art, ["k"]).collect()
    }
    assert abs(got["a"] - (30.0 + 2 * 25.0) / 4.0) < 1e-12
    assert abs(got["zz"] - 25.0) < 1e-12  # unseen -> prior

    orders = load_table(spark, oracle_sf_dir, "orders")
    art = features.target_encode_fit(
        orders, ["o_orderpriority"], "o_totalprice", smoothing=20.0
    )
    out = features.target_encode_apply(
        orders, art, ["o_orderpriority"], loo_target="o_totalprice"
    ).select(
        "o_orderkey", stable_round(F.col("te"), 4).alias("te")
    )
    sql = f"""
        WITH art AS (
          SELECT o_orderpriority,
                 SUM(o_totalprice) AS s,
                 COUNT(o_totalprice) AS c
          FROM orders GROUP BY 1
        ), pr AS (SELECT SUM(s) / SUM(c) AS prior FROM art)
        SELECT o.o_orderkey,
               {sql_round('((a.s - o.o_totalprice) + 20.0 * pr.prior)'
                          ' / ((a.c - 1) + 20.0)', 4)} AS te
        FROM orders o JOIN art a USING (o_orderpriority), pr
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []

    import pytest as _pytest

    with _pytest.raises(ValueError, match="smoothing"):
        features.target_encode_fit(train, ["k"], "y", smoothing=0.0)
    with _pytest.raises(ValueError, match="keys"):
        features.target_encode_fit(train, [], "y")


def test_woe_fit_apply_semantics_and_parity(spark, oracle_sf_dir):
    """Weight of evidence: (1) hand math -- a positive-heavy category
    gets woe > 0, a balanced one ~0, the eps adjustment keeps a pure
    category finite, NULL category is its own level; (2) full DuckDB
    replay on orders (segment category vs a parity label)."""
    import math

    rows = (
        [("a", 1.0)] * 8 + [("a", 0.0)] * 2      # positive-heavy
        + [("b", 1.0)] * 5 + [("b", 0.0)] * 5    # balanced
        + [("c", 1.0)] * 3                        # pure positive
        + [(None, 0.0)] * 4                       # missing level
        + [("a", None)]                           # excluded
    )
    df = spark.createDataFrame(rows, "cat string, y double")
    fit = features.woe_fit(df, "cat", "y", eps=0.5)
    got = {r.category: r for r in fit.collect()}
    tp, tn = 16.0, 11.0
    woe_a = math.log(((8 + 0.5) / tp) / ((2 + 0.5) / tn))
    assert got["a"].woe == pytest.approx(woe_a)
    assert got["a"].n == 10 and got["a"].n_pos == 8
    # a 50/50 category is NEGATIVE evidence when the population skews
    # positive (16 pos vs 11 neg): woe = ln((5.5/16)/(5.5/11))
    assert got["b"].woe == pytest.approx(math.log(11 / 16))
    assert got["c"].woe > 0 and math.isfinite(got["c"].woe)
    assert got[None].n == 4  # NULL category kept as a level
    iv = sum(r.iv_term for r in got.values())
    assert got["a"].iv == pytest.approx(iv)
    with pytest.raises(ValueError, match="eps"):
        features.woe_fit(df, "cat", "y", eps=0.0)
    # single-class labels fail LOUD (review: the raw class totals are
    # not eps-smoothed, so this used to surface as an opaque ANSI
    # DIVIDE_BY_ZERO mid-job)
    with pytest.raises(Exception, match="single-class"):
        features.woe_fit(
            spark.createDataFrame(
                [("a", 0.0), ("b", 0.0)], "cat string, y double"
            ),
            "cat",
            "y",
        ).collect()
    # out-of-domain labels fail LOUD (r10 ADVICE: a fractional or
    # out-of-range label used to truncate silently through
    # cast('long') on n_pos/n_neg and corrupt every woe/IV)
    for bad in (0.5, 2.0, -1.0):
        with pytest.raises(Exception, match="outside"):
            features.woe_fit(
                spark.createDataFrame(
                    [("a", 1.0), ("a", 0.0), ("b", bad)],
                    "cat string, y double",
                ),
                "cat",
                "y",
            ).collect()

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_custkey") % 2).cast("double").alias("y"),
    )
    out = features.woe_fit(orders, "o_orderpriority", "y").select(
        "category",
        "n",
        "n_pos",
        "n_neg",
        stable_round(F.col("woe"), 6).alias("woe"),
        stable_round(F.col("iv_term"), 8).alias("iv_term"),
        stable_round(F.col("iv"), 8).alias("iv"),
    )
    sql = f"""
        WITH base AS (
          SELECT o_orderpriority AS category,
                 CAST(o_custkey % 2 AS DOUBLE) AS y
          FROM orders
        ),
        per AS (
          SELECT category, COUNT(*)::BIGINT AS n,
                 CAST(SUM(y) AS BIGINT) AS n_pos,
                 CAST(SUM(1.0 - y) AS BIGINT) AS n_neg
          FROM base GROUP BY category
        ),
        tot AS (SELECT SUM(y) AS tp, SUM(1.0 - y) AS tn FROM base),
        w AS (
          SELECT category, n, n_pos, n_neg,
                 ln(((n_pos + 0.5) / tp) / ((n_neg + 0.5) / tn)) AS woe,
                 ((n_pos + 0.5) / tp - (n_neg + 0.5) / tn)
                   * ln(((n_pos + 0.5) / tp) / ((n_neg + 0.5) / tn))
                   AS iv_term
          FROM per, tot
        )
        SELECT category, n, n_pos, n_neg,
               {sql_round('woe', 6)} AS woe,
               {sql_round('iv_term', 8)} AS iv_term,
               {sql_round('SUM(iv_term) OVER ()', 8)} AS iv
        FROM w
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


