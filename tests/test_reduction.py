"""Dimensionality reduction: exact Gram-moment PCA and deterministic
JL sign projection (operators/reduction.py).

Fit correctness = numpy replica parity (driver-side linear algebra,
the kmeans_refine precedent). Apply correctness = exact DuckDB replay
(list_dot_product is the same sequential fold as vectors.dot, the
knn_brute_force precedent)."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.functions.numeric import sql_round
from bigdata_storage_and_proccess_job_data_spark.operators import reduction


def _emb_matrix(spark, sf_dir):
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r.vec_id)
    return (
        np.asarray([r.vec_id for r in rows], dtype=np.int64),
        np.asarray([r.embedding for r in rows], dtype=np.float64),
    )


def test_gram_moments_match_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    _, m = _emb_matrix(spark, sf_dir)
    n, s, g = reduction.gram_moments(emb, "embedding")
    assert n == len(m)
    np.testing.assert_allclose(s, m.sum(axis=0), rtol=1e-9)
    np.testing.assert_allclose(g, m.T @ m, rtol=1e-9)


def test_pca_fit_matches_numpy_replica(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    _, m = _emb_matrix(spark, sf_dir)
    q = 8
    model = reduction.pca_fit(emb, "embedding", q)

    cov = np.cov(m, rowvar=False, ddof=1)
    w, v = np.linalg.eigh((cov + cov.T) / 2.0)
    order = np.argsort(w)[::-1][:q]
    np.testing.assert_allclose(model["mean"], m.mean(axis=0), rtol=1e-9)
    np.testing.assert_allclose(
        model["eigvals"], w[order], rtol=1e-8
    )
    for j, idx in enumerate(order):
        vec = v[:, idx].copy()
        i = int(np.argmax(np.abs(vec)))
        if vec[i] < 0:
            vec = -vec
        np.testing.assert_allclose(
            model["components"][j], vec, atol=1e-8
        )


def test_pca_fit_partition_layout_independent(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = reduction.pca_fit(emb.repartition(1), "embedding", 4)
    b = reduction.pca_fit(emb.repartition(13), "embedding", 4)
    np.testing.assert_allclose(a["mean"], b["mean"], rtol=1e-7)
    np.testing.assert_allclose(a["eigvals"], b["eigvals"], rtol=1e-7)
    for ca, cb in zip(a["components"], b["components"]):
        np.testing.assert_allclose(ca, cb, atol=1e-6)


def test_pca_full_rank_projection_reconstructs(spark, sf_dir):
    """q = d: components form an orthonormal basis, so
    mean + proj @ components reconstructs every vector exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    ids, m = _emb_matrix(spark, sf_dir)
    d = m.shape[1]
    model = reduction.pca_fit(emb, "embedding", d)
    out = {
        r.vec_id: np.asarray(r.proj)
        for r in reduction.pca_apply(emb, "embedding", model).collect()
    }
    comps = np.asarray(model["components"])
    mean = np.asarray(model["mean"])
    recon = np.stack([out[i] for i in ids]) @ comps + mean
    np.testing.assert_allclose(recon, m, atol=1e-8)


def test_pca_whitening_unit_variance(spark, sf_dir):
    """Whitened projection: per-component sample variance == 1 and
    cross-component covariance == 0 (PCA decorrelates)."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = reduction.pca_fit(emb, "embedding", 6)
    rows = reduction.pca_apply(
        emb, "embedding", model, whiten=True
    ).collect()
    p = np.stack([np.asarray(r.proj) for r in rows])
    cov = np.cov(p, rowvar=False, ddof=1)
    np.testing.assert_allclose(np.diag(cov), np.ones(6), rtol=1e-5)
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 1e-6


def _duckdb_long_form(sf_dir: str, exprs: list[str]) -> dict:
    """(vec_id, 1-based component, rounded value) via the same literal
    dot products, generate_subscripts precedent."""
    con = duckdb.connect()
    lst = "[" + ", ".join(exprs) + "]"
    rows = con.execute(
        f"""
        WITH p AS (
          SELECT vec_id, {lst} AS proj
          FROM '{sf_dir}/embeddings.parquet'
        )
        SELECT vec_id,
               generate_subscripts(proj, 1) AS j,
               unnest(proj) AS v
        FROM p
        """
    ).fetchall()
    return {(r[0], r[1]): r[2] for r in rows}


def test_pca_apply_duckdb_exact_parity(spark, sf_dir):
    """Fixed model + stable rounding -> bit-equal projections in
    DuckDB (list_dot_product == the sequential fold)."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = reduction.pca_fit(emb, "embedding", 3)
    got = {
        (r.vec_id, j + 1): v
        for r in reduction.pca_apply(
            emb, "embedding", model, digits=6
        ).collect()
        for j, v in enumerate(r.proj)
    }
    mean_lit = "[" + ", ".join(repr(x) for x in model["mean"]) + "]"
    exprs = []
    for comp in model["components"]:
        comp_lit = "[" + ", ".join(repr(x) for x in comp) + "]"
        d = (
            "list_dot_product(list_transform(range(1, 65), "
            f"i -> embedding[i]::DOUBLE - ({mean_lit})[i]), {comp_lit})"
        )
        exprs.append(sql_round(d, 6))
    want = _duckdb_long_form(sf_dir, exprs)
    assert got == want


def test_jl_project_duckdb_exact_parity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r.vec_id, j + 1): v
        for r in reduction.jl_project(
            emb, "embedding", 64, 8, salt="s1", digits=6
        ).collect()
        for j, v in enumerate(r.proj)
    }
    exprs = []
    for row in reduction.jl_signs(64, 8, salt="s1"):
        lit = "[" + ", ".join(repr(x) for x in row) + "]"
        exprs.append(
            sql_round(f"list_dot_product(embedding::DOUBLE[], {lit})", 6)
        )
    want = _duckdb_long_form(sf_dir, exprs)
    assert got == want


def test_jl_signs_deterministic_and_balanced():
    a = reduction.jl_signs(64, 16, salt="x")
    assert a == reduction.jl_signs(64, 16, salt="x")
    assert a != reduction.jl_signs(64, 16, salt="y")
    flat = [x for row in a for x in row]
    pos = sum(1 for x in flat if x > 0) / len(flat)
    assert 0.4 < pos < 0.6
    assert all(abs(abs(x) - 1 / 4.0) < 1e-12 for x in flat)


def test_jl_distance_preservation(spark, sf_dir):
    """64 -> 32 sign projection on the fixture embeddings: pairwise
    squared distances of a 40-vector subset are preserved within the
    empirical JL band (median relative error well under sqrt(2/q))."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 40
    )
    rows = emb.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r.vec_id)
    m = np.asarray([r.embedding for r in rows], dtype=np.float64)
    prows = reduction.jl_project(emb, "embedding", 64, 32).collect()
    prows.sort(key=lambda r: r.vec_id)
    p = np.asarray([r.proj for r in prows], dtype=np.float64)

    def pdists(x):
        diff = x[:, None, :] - x[None, :, :]
        return (diff * diff).sum(axis=-1)

    orig, proj = pdists(m), pdists(p)
    iu = np.triu_indices(len(m), k=1)
    rel = np.abs(proj[iu] - orig[iu]) / orig[iu]
    assert np.median(rel) < 0.25
    assert np.quantile(rel, 0.9) < 0.5


def test_reduction_plans_scale_safe(spark, sf_dir):
    """Plan lint (the registry-sweep discipline applied to library
    ops): both apply paths are pure expression folds -- no cartesian,
    no row-Python, no BNLJ; the PCA fit's one Arrow stage is
    MapInPandas (the knn_arrow precedent), never BatchEvalPython."""
    from bigdata_storage_and_proccess_job_data_spark.plans import lint

    emb = load_table(spark, sf_dir, "embeddings")
    model = reduction.pca_fit(emb, "embedding", 4)
    for name, df in {
        "pca_apply": reduction.pca_apply(emb, "embedding", model),
        "jl_project": reduction.jl_project(emb, "embedding", 64, 8),
    }.items():
        df.write.format("noop").mode("overwrite").save()
        assert lint.lint_plan(df) == [], name


def test_pca_fit_rejects_bad_q(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError):
        reduction.pca_fit(emb, "embedding", 0)
    with pytest.raises(ValueError):
        reduction.pca_fit(emb, "embedding", 65)


def test_mahalanobis_fit_numpy_replica_and_apply(spark, sf_dir):
    """Fit matches numpy (mean + inverse ridged covariance), apply
    matches the einsum quadratic form, and the chi2 shape holds: the
    mean squared distance over the fitting data is ~d."""
    emb = load_table(spark, sf_dir, "embeddings")
    ids, X = _emb_matrix(spark, sf_dir)
    model = reduction.mahalanobis_fit(emb, "embedding", ridge=1e-6)
    mean = X.mean(axis=0)
    cov = np.cov(X, rowvar=False, ddof=1) + 1e-6 * np.eye(X.shape[1])
    inv = np.linalg.inv((cov + cov.T) / 2.0)
    inv = (inv + inv.T) / 2.0
    assert np.allclose(model["mean"], mean, rtol=1e-9, atol=1e-12)
    assert np.allclose(model["inv_cov"], inv, rtol=1e-6, atol=1e-9)
    assert model["n"] == len(X)

    out = {
        r.vec_id: r.maha_dist
        for r in reduction.mahalanobis_apply(
            emb, model, "embedding"
        ).select("vec_id", "maha_dist").collect()
    }
    C = X - np.asarray(model["mean"])
    A = np.asarray(model["inv_cov"])
    want = np.sqrt(np.maximum(np.einsum("ij,jk,ik->i", C, A, C), 0.0))
    got = np.asarray([out[i] for i in ids])
    assert np.allclose(got, want, rtol=1e-7, atol=1e-9)
    # mean d^2 ~ d for the fitting sample (exact identity for the
    # empirical covariance up to the ridge: trace argument)
    assert abs((got**2).mean() - X.shape[1]) < 0.5

    import pytest as _pytest

    with _pytest.raises(ValueError, match="d x d"):
        reduction.mahalanobis_apply(
            emb, {"mean": [0.0, 0.0], "inv_cov": [[1.0]]}, "embedding"
        )


def test_mahalanobis_apply_duckdb_parity(spark, oracle_sf_dir):
    """Scoring with a PINNED literal model replays exactly in DuckDB
    (the ridge_scores precedent): same quadratic form via a flat
    literal matrix and two generate_series indices."""
    from tests.parity import compare, duckdb_connect

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    model = reduction.mahalanobis_fit(emb, "embedding", ridge=1e-3)
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        stable_round,
    )

    out = reduction.mahalanobis_apply(emb, model, "embedding").select(
        "vec_id", stable_round(F.col("maha_dist"), 4).alias("maha_dist")
    )
    d = len(model["mean"])
    mean_sql = "[" + ", ".join(repr(x) for x in model["mean"]) + "]"
    flat = [x for row in model["inv_cov"] for x in row]
    a_sql = "[" + ", ".join(repr(x) for x in flat) + "]"
    inner = f"""
        SELECT e.vec_id,
               SUM(({a_sql})[(i.i - 1) * {d} + j.j]
                   * (e.embedding[i.i]::DOUBLE - ({mean_sql})[i.i])
                   * (e.embedding[j.j]::DOUBLE - ({mean_sql})[j.j])) AS d2
        FROM embeddings e,
             generate_series(1, {d}) i(i),
             generate_series(1, {d}) j(j)
        GROUP BY e.vec_id
    """
    sql = f"""
        SELECT vec_id,
               {sql_round('sqrt(greatest(d2, 0.0))', 4)} AS maha_dist
        FROM ({inner})
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_frechet_distance_closed_forms_and_replica(spark, sf_dir):
    """Frechet/FID embedding-distribution distance: (1) identical
    clouds read (numerically) zero; (2) a pure mean shift of the same
    cloud reads EXACTLY |delta|^2 (covariance terms cancel); (3) on a
    commuting (diagonal-by-construction) pair the closed form
    |dm|^2 + sum_i (sqrt(va_i) - sqrt(vb_i))^2 matches; (4) symmetric
    in its arguments and invariant under a common rotation; (5) equals
    a first-principles numpy replica on the real embeddings split in
    two; (6) loud guards: n < 2, dimension mismatch, negative ridge."""
    emb = load_table(spark, sf_dir, "embeddings")

    # (1) identical
    r = reduction.frechet_distance(emb, emb, "embedding")
    assert r["frechet2"] == pytest.approx(0.0, abs=1e-6)

    # (2) pure mean shift: add a constant to one coordinate
    shifted = emb.withColumn(
        "embedding",
        F.transform(
            F.col("embedding"),
            lambda x, i: x + F.when(i == 0, F.lit(2.5)).otherwise(F.lit(0.0)),
        ),
    )
    r = reduction.frechet_distance(emb, shifted, "embedding")
    assert r["frechet2"] == pytest.approx(2.5 * 2.5, rel=1e-6)
    assert r["mean_term"] == pytest.approx(6.25, rel=1e-9)
    assert abs(r["trace_term"]) < 1e-6

    # (3) commuting diagonal case: 2-d clouds with exactly diagonal
    # sample covariance by construction (+/- patterns)
    a = spark.createDataFrame(
        [([float(sx), 0.0],) for sx in (1, -1, 1, -1)]
        + [([0.0, float(sy * 2)],) for sy in (1, -1, 1, -1)],
        "v array<double>",
    )
    b = spark.createDataFrame(
        [([float(sx * 3), 0.0],) for sx in (1, -1, 1, -1)]
        + [([0.0, float(sy)],) for sy in (1, -1, 1, -1)],
        "v array<double>",
    )
    import numpy as np

    ma = np.array([[1, 0], [-1, 0], [1, 0], [-1, 0],
                   [0, 2], [0, -2], [0, 2], [0, -2]], dtype=float)
    mb = np.array([[3, 0], [-3, 0], [3, 0], [-3, 0],
                   [0, 1], [0, -1], [0, 1], [0, -1]], dtype=float)
    va = np.var(ma, axis=0, ddof=1)
    vb = np.var(mb, axis=0, ddof=1)
    want = float(((np.sqrt(va) - np.sqrt(vb)) ** 2).sum())
    r = reduction.frechet_distance(a, b, "v")
    assert r["frechet2"] == pytest.approx(want, rel=1e-9)

    # (4) symmetry + common-rotation invariance on the real embeddings
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    even = emb.filter(F.col("vec_id") % 2 == 0)
    r_ab = reduction.frechet_distance(odd, even, "embedding")
    r_ba = reduction.frechet_distance(even, odd, "embedding")
    assert r_ab["frechet2"] == pytest.approx(r_ba["frechet2"], rel=1e-9)

    _, m = _emb_matrix(spark, sf_dir)
    d = m.shape[1]
    rng_free = np.eye(d)
    # deterministic rotation: Householder reflection off a fixed vector
    u = np.arange(1, d + 1, dtype=float)
    u /= np.linalg.norm(u)
    rot = rng_free - 2.0 * np.outer(u, u)

    def rotated(df):
        rows = [
            ([float(x) for x in (np.asarray(r.embedding) @ rot)],)
            for r in df.select("embedding").collect()
        ]
        return spark.createDataFrame(rows, "embedding array<double>")

    r_rot = reduction.frechet_distance(
        rotated(odd), rotated(even), "embedding"
    )
    assert r_rot["frechet2"] == pytest.approx(r_ab["frechet2"], rel=1e-6)

    # (5) numpy replica on the odd/even split
    ids, _ = _emb_matrix(spark, sf_dir)
    mo, me = m[ids % 2 == 1], m[ids % 2 == 0]

    def replica(x, y):
        mx, my = x.mean(axis=0), y.mean(axis=0)
        cx = np.cov(x, rowvar=False, ddof=1)
        cy = np.cov(y, rowvar=False, ddof=1)
        w, v = np.linalg.eigh((cx + cx.T) / 2)
        s = (v * np.sqrt(np.clip(w, 0, None))) @ v.T
        inner = s @ cy @ s
        wm = np.linalg.eigvalsh((inner + inner.T) / 2)
        tr = np.sqrt(np.clip(wm, 0, None)).sum()
        return float(
            (mx - my) @ (mx - my) + np.trace(cx) + np.trace(cy) - 2 * tr
        )

    assert r_ab["frechet2"] == pytest.approx(replica(mo, me), rel=1e-8)
    assert (r_ab["n_a"], r_ab["n_b"]) == (len(mo), len(me))

    # (6) guards
    one = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")
    with pytest.raises(ValueError, match=">= 2 vectors"):
        reduction.frechet_distance(one, a, "v")
    three = spark.createDataFrame(
        [([1.0, 2.0, 3.0],), ([0.0, 0.0, 0.0],)], "v array<double>"
    )
    with pytest.raises(ValueError, match="dimension mismatch"):
        reduction.frechet_distance(a, three, "v")
    with pytest.raises(ValueError, match="ridge"):
        reduction.frechet_distance(a, b, "v", ridge=-1.0)
