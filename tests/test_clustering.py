"""Distributed spherical k-means: exact agreement with a numpy Lloyd
running the identical update from the identical init, blob recovery
with perfect purity, objective monotonicity (the Dhillon-Modha
guarantee), and edge handling. Iterative -> test-pinned rather than
SQL-oracled (the pagerank / connected_components precedent)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.operators import clustering


def _blobs(seed=7, per=40, dim=8, k=3, noise=0.05):
    """k well-separated unit directions + small noise, deterministic."""
    rng = np.random.default_rng(seed)
    centers = np.zeros((k, dim))
    for i in range(k):
        centers[i, 2 * i] = 1.0  # orthogonal axes
    pts, labels = [], []
    for i in range(k):
        p = centers[i] + noise * rng.standard_normal((per, dim))
        pts.append(p)
        labels += [i] * per
    x = np.vstack(pts)
    return x, np.array(labels)


def _numpy_spherical_lloyd(x, init, iters):
    """The exact update kmeans_refine implements: unit-normalize rows,
    argmax-dot assign (cell-id tiebreak), per-cell mean, renormalize,
    empty cells keep previous."""
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    cent = np.asarray(init, dtype=np.float64)
    cent = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    for _ in range(iters):
        sims = xn @ cent.T
        assign = sims.argmax(axis=1)  # numpy argmax = first max = low id
        nxt = cent.copy()
        for c in range(len(cent)):
            members = xn[assign == c]
            if len(members):
                nxt[c] = members.mean(axis=0)
        n = np.linalg.norm(nxt, axis=1, keepdims=True)
        n[n == 0] = 1.0
        cent = nxt / n
    return cent


def test_kmeans_refine_matches_numpy(spark):
    x, _ = _blobs()
    df = spark.createDataFrame(
        [([float(v) for v in row],) for row in x], "embedding array<double>"
    )
    init = [list(x[0]), list(x[40]), list(x[80])]
    got = np.asarray(
        clustering.kmeans_refine(df, init, n_iters=4), dtype=np.float64
    )
    want = _numpy_spherical_lloyd(x, init, 4)
    assert np.abs(got - want).max() < 1e-9


def test_kmeans_fit_recovers_blobs_with_pure_cells(spark):
    x, labels = _blobs(per=50)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    cents = clustering.kmeans_fit(
        df, n_centroids=3, sample_size=150, refine_iters=5
    )
    assert len(cents) == 3 and all(len(c) == 8 for c in cents)
    # every point's nearest centroid agrees with its blob mates
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    assign = (xn @ np.asarray(cents).T).argmax(axis=1)
    for blob in range(3):
        cells = set(assign[labels == blob])
        assert len(cells) == 1, f"blob {blob} split across cells {cells}"
    assert len(set(assign)) == 3  # and no two blobs merged


def test_kmeans_objective_monotone_under_refinement(spark):
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    init = clustering.train_centroids(
        emb, n_centroids=8, sample_size=128, n_iters=1
    )
    obj0 = clustering.kmeans_objective(emb, init)
    refined = clustering.kmeans_refine(emb, init, n_iters=3)
    obj1 = clustering.kmeans_objective(emb, refined)
    more = clustering.kmeans_refine(emb, refined, n_iters=2)
    obj2 = clustering.kmeans_objective(emb, more)
    assert obj1 >= obj0 - 1e-9
    assert obj2 >= obj1 - 1e-9
    assert -1.0 <= obj2 <= 1.0  # cosine objective on unit vectors


def test_kmeans_refine_validation_and_nulls(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0],), (None,), ([0.0, 0.0],)],
        "embedding array<double>",
    )
    with pytest.raises(ValueError):
        clustering.kmeans_refine(df, [])
    with pytest.raises(ValueError):
        clustering.kmeans_refine(df, [[1.0, 0.0]], n_iters=-1)
    # NULL and zero vectors drop; the one live vector pulls its centroid
    out = clustering.kmeans_refine(df, [[0.6, 0.8]], n_iters=2)
    assert np.abs(np.asarray(out[0]) - np.array([1.0, 0.0])).max() < 1e-12


def test_semantic_dedup_matches_brute_force(spark):
    """SemDeDup composition (cells -> within-cell cosine pairs ->
    transitive components -> min-id keeper) equals a numpy brute force
    run with the SAME fixed centroids: identical cells, components and
    keeper flags; a threshold no pair reaches keeps everything."""
    x, _ = _blobs(seed=11, per=20, dim=8, k=3, noise=0.05)
    # plant semantic duplicates: tiny perturbations of existing rows
    # (cosine ~0.9999) plus one exact copy -- paraphrase stand-ins
    rng = np.random.default_rng(3)
    dup_src = [0, 1, 25, 41]
    dups = [x[i] + 1e-3 * rng.standard_normal(8) for i in dup_src]
    dups.append(x[7].copy())
    allx = np.vstack([x, np.array(dups)])
    rows = [(i, [float(v) for v in allx[i]]) for i in range(len(allx))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # fixed centroids = the three blob axes (+ a decoy): assignment is
    # then deterministic and trivially reproducible in numpy
    cents = [[0.0] * 8 for _ in range(4)]
    cents[0][0] = 1.0
    cents[1][2] = 1.0
    cents[2][4] = 1.0
    cents[3][6] = 1.0
    got = {
        (r.vec_id, r.cell, r.component, r.is_keeper)
        for r in clustering.semantic_dedup(
            df, threshold=0.95, centroids=cents
        ).collect()
    }

    # numpy brute force: same argmax-dot cells (Spark's array_max
    # tiebreak = highest cell; ties don't occur here), within-cell
    # pairs >= t, union-find with min-id roots
    c = np.asarray(cents)
    sims_c = allx @ c.T
    cells = sims_c.argmax(axis=1)
    n = len(allx)
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    xn = allx / np.linalg.norm(allx, axis=1, keepdims=True)
    for i in range(n):
        for j in range(i + 1, n):
            if cells[i] == cells[j] and float(xn[i] @ xn[j]) >= 0.95:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    want = {
        (i, int(cells[i]), find(i), find(i) == i) for i in range(n)
    }
    assert got == want
    # the planted duplicates were caught and collapsed onto their source
    by_id = {t[0]: t for t in got}
    for k_, src in enumerate(dup_src + [7]):
        assert by_id[len(x) + k_][2] == by_id[src][2]
        assert by_id[len(x) + k_][3] is False
    # keepers count = number of components
    assert sum(1 for t in got if t[3]) == len({find(i) for i in range(n)})

    # unreachable threshold: everything is its own keeper
    allkeep = clustering.semantic_dedup(df, threshold=1.0, centroids=cents)
    assert all(r.is_keeper for r in allkeep.collect())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="threshold"):
        clustering.semantic_dedup(df, threshold=0.0, centroids=cents)


def test_semantic_dedup_duckdb_parity(spark, oracle_sf_dir):
    """Full cross-engine value parity of the SemDeDup path on the real
    embeddings table with md5-derived centroids: DuckDB recomputes the
    quantizer, the argmax cell assignment (sim-desc/cell-desc
    tiebreak), the within-cell pair graph, the transitive closure
    (recursive CTE with UNION fixpoint -- the
    neardup.connected_components cross-check idiom), and the keeper
    verdicts. Complements test_semantic_dedup_matches_brute_force,
    which pins the operator against a local union-find."""
    from bigdata_storage_and_proccess_job_data_spark.operators import similarity
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        _md5_hash60_sql,
    )
    from tests.parity import compare, duckdb_connect

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    cents = similarity.md5_centroids(8, 64, seed=3)
    # the fixture has no 0.95 pairs; 0.35 exercises multi-node clusters
    out = clustering.semantic_dedup(
        emb, threshold=0.35, centroids=cents
    )
    comp = _md5_hash60_sql("'ivf:3:' || i::VARCHAR || ':' || d::VARCHAR")
    sql = f"""
        WITH RECURSIVE e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        cent AS (
          SELECT i, d,
                 ({comp})::DOUBLE / 576460752303423488.0 - 1.0 AS val
          FROM range(8) cs(i), range(64) ds(d)
        ),
        sims AS (
          SELECT e.vec_id, c.i, SUM(e.v[c.d + 1] * c.val) AS sim
          FROM e CROSS JOIN cent c
          GROUP BY e.vec_id, c.i
        ),
        cells AS (
          SELECT vec_id, i AS cell FROM (
            SELECT vec_id, i,
                   ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY sim DESC, i DESC
                   ) AS rn
            FROM sims
          ) WHERE rn = 1
        ),
        pairs AS (
          SELECT ca.vec_id AS id_a, cb.vec_id AS id_b
          FROM cells ca
          JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
          JOIN e a ON a.vec_id = ca.vec_id
          JOIN e b ON b.vec_id = cb.vec_id
          WHERE list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) *
                   sqrt(list_dot_product(b.v, b.v))) >= 0.35
        ),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL
          SELECT id_b, id_a FROM pairs
        ),
        reach AS (
          SELECT vec_id AS a, vec_id AS b FROM e
          UNION
          SELECT r.a, ed.dst FROM reach r JOIN edges ed ON r.b = ed.src
        ),
        comp AS (
          SELECT a AS vec_id, MIN(b) AS component FROM reach GROUP BY a
        )
        SELECT c.vec_id, CAST(cl.cell AS INTEGER) AS cell, c.component,
               c.component = c.vec_id AS is_keeper
        FROM comp c JOIN cells cl USING (vec_id)
    """
    con = duckdb_connect(oracle_sf_dir)
    assert compare(out, con, sql) == []
    # the threshold genuinely produced duplicate sets
    assert out.filter(~F.col("is_keeper")).count() > 0


def test_davies_bouldin_numpy_replica_and_separation(spark):
    """DBI matches an independent numpy computation on blobs, ranks a
    good centroid set below a collapsed one (separation term working),
    and degenerates to 0.0 when only one cell is populated."""
    x, _ = _blobs()
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    cents = clustering.kmeans_fit(
        df, n_centroids=3, sample_size=120,
        refine_iters=4,
    )
    got = clustering.davies_bouldin(df, cents)

    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    c = np.asarray(cents, dtype=np.float64)
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    sims = xn @ c.T
    assign = sims.argmax(axis=1)
    live = sorted(set(assign.tolist()))
    scatter = {}
    for i in live:
        m = xn[assign == i]
        d = np.sqrt(np.maximum(2.0 - 2.0 * (m @ c[i]), 0.0))
        scatter[i] = d.mean()
    worst = []
    for i in live:
        r = 0.0
        for j in live:
            if i == j:
                continue
            mij = np.linalg.norm(c[i] - c[j])
            r = max(r, (scatter[i] + scatter[j]) / mij)
        worst.append(r)
    want = sum(worst) / len(worst)
    assert abs(got - want) < 1e-9

    # collapsed centroids (two nearly identical) score WORSE (higher)
    bad = [cents[0], list(np.asarray(cents[0]) + 1e-3), cents[2]]
    assert clustering.davies_bouldin(df, bad) > got

    # a single populated cell has no separation story: 0.0
    one = clustering.davies_bouldin(df, [cents[0]])
    assert one == 0.0
