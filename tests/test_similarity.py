"""Similarity-search quality: LSH top-k recall vs exact brute force."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.operators import similarity


def test_lsh_topk_recall(spark, oracle_sf_dir):
    emb = load_table(spark, oracle_sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.brute_force_topk(queries, emb, k=5).collect()
    approx = similarity.lsh_topk(queries, emb, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    assert exact_set
    recall = len(exact_set & approx_set) / len(exact_set)
    # 8 tables x 4 planes at neighbor cosine ~0.33 predicts ~0.7 recall
    # (these embeddings are unclustered Gaussians -- the hard case)
    assert recall >= 0.5, f"LSH recall {recall:.2f}"


def test_cosine_neardup_pairs_planted_dups_recall(spark):
    """cosine_neardup_pairs (LSH candidates + exact verify) vs a numpy
    exact oracle on a corpus with PLANTED near-duplicates. The driver
    corpus has no pairs >= 0.85 (max pairwise cosine ~0.5), so this is
    where the operator's semantics are actually exercised: perturbed
    copies sit at cosine ~0.9+ and every one must be found (recall 1.0
    at the default seed/table settings -- deterministic, so this pin
    holds forever) with zero false positives (exact verify)."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(300, 64))
    dups = []
    for i in range(40):  # 40 perturbed copies of the first 40 vectors
        v = base[i] + rng.normal(scale=0.18, size=64)  # cosine ~0.92-0.97
        dups.append(v)
    x = np.vstack([base, dups])
    x = x / np.linalg.norm(x, axis=1, keepdims=True)

    df = spark.createDataFrame(
        [(int(i), [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    got = {
        (r.id_a, r.id_b): r.sim
        for r in similarity.cosine_neardup_pairs(df, threshold=0.85).collect()
    }

    sims = x @ x.T
    want = {
        (int(a), int(b))
        for a in range(len(x))
        for b in range(a + 1, len(x))
        if sims[a, b] >= 0.85
    }
    assert len(want) >= 35, "planting failed -- test corpus has no dups"
    assert set(got) == want, (
        f"missed {want - set(got)}, extra {set(got) - want}"
    )
    assert all(s >= 0.85 for s in got.values())


def test_ivf_topk_recall(spark, oracle_sf_dir):
    emb = load_table(spark, oracle_sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.brute_force_topk(queries, emb, k=5).collect()
    approx = similarity.ivf_topk(
        queries, emb, k=5, n_centroids=16, n_probe=6
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    assert exact_set
    recall = len(exact_set & approx_set) / len(exact_set)
    # probing 6/16 cells of unclustered Gaussians scans ~38% of the
    # corpus; true neighbors concentrate in near cells, so recall >> 38%
    assert recall >= 0.5, f"IVF recall {recall:.2f}"


def test_knn_ivf_registered_query_parity_and_quality(spark, oracle_sf_dir):
    """The graduated knn_ivf driver query (r7 verdict #5 -- the knn_pq
    trick applied to IVF): md5-derived centroids make the whole
    assign -> probe -> score path SQL-recomputable, so the registered
    query hash-matches its DuckDB oracle; and the fixed random
    quantizer still beats the ~38% blind-probe baseline (recall floor
    0.5; measured 0.57-0.73 across the fixture SFs at seed 9)."""
    from bigdata_storage_and_proccess_job_data_spark import plans
    from tests.parity import compare, duckdb_connect

    df = plans.queries()["knn_ivf"](spark, oracle_sf_dir)
    errs = compare(df, duckdb_connect(oracle_sf_dir), plans.oracle_sql()["knn_ivf"])
    assert not errs, errs[:5]

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    exact_set = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(queries, emb, k=5).collect()
    }
    got_set = {(r.query_id, r.neighbor_id) for r in df.collect()}
    recall = len(exact_set & got_set) / len(exact_set)
    assert recall >= 0.5, f"md5-centroid IVF recall {recall:.2f}"


def test_ivf_probe_bound_and_determinism(spark, oracle_sf_dir):
    emb = load_table(spark, oracle_sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    a = similarity.ivf_topk(queries, emb, k=3).collect()
    b = similarity.ivf_topk(queries, emb, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)), "seeded => reproducible"
    # full-probe IVF (n_probe == n_centroids) degenerates to exact search
    full = similarity.ivf_topk(queries, emb, k=3, n_centroids=8, n_probe=8)
    exact = similarity.brute_force_topk(queries, emb, k=3)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, exact.collect()))


def test_brute_force_topk_is_sane(spark, oracle_sf_dir):
    emb = load_table(spark, oracle_sf_dir, "embeddings")
    res = similarity.brute_force_topk(emb.filter(F.col("vec_id") < 5), emb, k=3)
    rows = res.collect()
    assert len(rows) == 5 * 3
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        sims = [r.sim for r in rs]
        assert sims == sorted(sims, reverse=True), "rank must follow sim desc"
        assert all(r.neighbor_id != q for r in rs), "no self-match"
        assert all(-1.0001 <= r.sim <= 1.0001 for r in rs)


def test_arrow_topk_matches_fold_topk(spark, oracle_sf_dir):
    """The numpy GEMM path and the JVM fold path are both exact with the
    same stable rounding + (sim, id) order, so they must agree row-for-row."""
    emb = load_table(spark, oracle_sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 12)
    fold = similarity.brute_force_topk(q, emb, k=4)
    arrow = similarity.brute_force_topk_arrow(q, emb, k=4)
    assert sorted(map(tuple, fold.collect())) == sorted(map(tuple, arrow.collect()))


def test_arrow_topk_excludes_zero_norm(spark):
    rows = [(i, [float(i), 1.0]) for i in range(1, 6)] + [(99, [0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = similarity.brute_force_topk_arrow(
        emb.filter(F.col("vec_id") == 1), emb, k=10
    ).collect()
    ids = {r.neighbor_id for r in out}
    assert 99 not in ids and 1 not in ids and len(out) == 4


def test_ivf_cells_as_partition_key_prune_scan(spark, oracle_sf_dir, tmp_path):
    """The IVF build step written partitioned by cell: a probe filtering
    on its n_probe cells must prune the scan to those partitions
    (PartitionFilters on cell), i.e. the corpus is never reshuffled or
    even fully scanned at query time."""
    from bigdata_storage_and_proccess_job_data_spark.sources import lake

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    cents = similarity.train_centroids(emb, n_centroids=8, sample_size=512)
    assigned = similarity.assign_cells(emb, cents)
    path = str(tmp_path / "ivf_corpus")
    lake.write_partitioned(assigned, path, ["cell"])

    probe_cells = [0, 3]
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(probe_cells))
    expect = assigned.filter(F.col("cell").isin(probe_cells)).count()
    assert pruned.count() == expect > 0

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "cell" in pf, plan[:1500]


def test_lsh_paths_reject_dim_mismatch(spark):
    """A dim= that doesn't match the data must raise, not silently put
    every vector in one bucket (all-pairs blowup)."""
    import pytest

    df = spark.createDataFrame(
        [(1, [0.1] * 128), (2, [0.2] * 128)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    # since r8 the guard compiles into the row expression
    # (_dim_guard_sql) instead of running an eager one-row Spark job at
    # plan-construction time, so the error surfaces on the first
    # executed row
    with pytest.raises(Exception, match="dimension 128"):
        similarity.cosine_neardup_pairs(df, dim=64).collect()
    with pytest.raises(Exception, match="dimension 128"):
        similarity.lsh_topk(df, df, dim=64).collect()


def _planted_dup_corpus(spark, n_base=300, n_dups=40, scale=0.18, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n_base, 64))
    dups = [
        base[i] + rng.normal(scale=scale, size=64) for i in range(n_dups)
    ]
    x = np.vstack([base, dups])
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(int(i), [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    return df, x


def test_pq_codes_shape_compression_and_determinism(spark, oracle_sf_dir):
    emb = load_table(spark, oracle_sf_dir, "embeddings")
    books = similarity.train_pq(emb, m=8, n_codes=16, sample_size=512)
    assert len(books) == 8 and all(len(b) <= 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)  # 64/8 dims each
    codes = similarity.encode_pq(emb, books)
    rows = codes.collect()
    assert rows and all(len(r.codes) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r.codes)
    # training + encoding are seed-deterministic end to end
    books2 = similarity.train_pq(emb, m=8, n_codes=16, sample_size=512)
    assert books == books2
    q = emb.filter(F.col("vec_id") < 5)
    a = similarity.pq_topk_from_codes(q, codes, books, k=3).collect()
    b = similarity.pq_topk_from_codes(q, codes, books, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pq_stored_codes_roundtrip(spark, tmp_path):
    """The codes frame is the persistent index: write it, read it back,
    search from the stored copy -- results identical to searching the
    freshly-encoded frame, and the stored schema is (long, array<int>),
    never the raw vectors."""
    df, _ = _planted_dup_corpus(spark, n_base=80, n_dups=10)
    books = similarity.train_pq(df, m=8, n_codes=16, sample_size=512)
    codes = similarity.encode_pq(df, books)
    path = str(tmp_path / "pq_index")
    codes.write.parquet(path)
    stored = spark.read.parquet(path)
    assert [f.name for f in stored.schema.fields] == ["neighbor_id", "codes"]
    q = df.filter(F.col("vec_id") < 5)
    fresh = similarity.pq_topk_from_codes(q, codes, books, k=4).collect()
    again = similarity.pq_topk_from_codes(q, stored, books, k=4).collect()
    assert sorted(map(tuple, fresh)) == sorted(map(tuple, again))


def test_pq_adc_math_exact_on_perfectly_quantized_corpus(spark):
    """Hand-built codebooks whose centroids ARE the corpus subvectors:
    quantization is lossless, so the ADC score must equal the exact
    cosine, value for value -- this pins the encode (argmin) and search
    (LUT build + per-subspace sum + rank) arithmetic with no k-means in
    the loop."""
    books = [
        [[1.0, 0.0], [0.0, 1.0], [0.0, 0.0]],  # subspace 0 centroids
        [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]],  # subspace 1 centroids
    ]
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 0.0, 1.0]),
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    codes = {
        r.neighbor_id: list(r.codes)
        for r in similarity.encode_pq(corpus, books).collect()
    }
    assert codes == {1: [0, 0], 2: [1, 0], 3: [2, 1], 4: [2, 2]}

    q = spark.createDataFrame(
        [(100, [0.6, 0.8, 0.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    got = (
        similarity.pq_topk_from_codes(
            q, similarity.encode_pq(corpus, books), books, k=4
        )
        .orderBy("rank")
        .collect()
    )
    assert [(r.neighbor_id, r.sim) for r in got] == [
        (2, 0.8),
        (1, 0.6),
        (3, 0.0),  # zero-sim tie breaks by id asc
        (4, 0.0),
    ]


def test_ivfpq_full_probe_equals_pq(spark, oracle_sf_dir):
    """IVF-PQ with n_probe == n_centroids scores every cell, so it must
    degenerate to exactly the flat PQ search over the same codebooks --
    the equivalence that pins the probe join + grouped ADC gather
    against the already-pinned flat ADC path."""
    emb = load_table(spark, oracle_sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    cents, books, index = similarity.ivfpq_build(
        emb, n_centroids=8, m=8, n_codes=16, sample_size=512,
        residual=False,
    )
    full = similarity.ivfpq_topk_from_index(
        q, index, cents, books, k=4, n_probe=8, residual=False
    )
    flat = similarity.pq_topk_from_codes(
        q, index.select("neighbor_id", "codes"), books, k=4
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, flat.collect())
    )


def test_ivfpq_residual_codes_are_more_accurate(spark):
    """Residual encoding must reduce quantization error: for the
    planted true pairs (known cosine ~0.95), the residual index's ADC
    score is closer to the exact cosine than the raw-vector index's,
    averaged over the 40 pairs -- the accuracy-per-byte claim that
    justifies residual=True as the default. Full probe on both sides so
    cell recall can't confound the comparison."""
    import numpy as np

    df, x = _planted_dup_corpus(spark)
    n_base = 300
    queries = df.filter(F.col("vec_id") >= n_base)

    def pair_sims(residual):
        cents, books, index = similarity.ivfpq_build(
            df, n_centroids=8, m=8, n_codes=32, sample_size=1024,
            residual=residual,
        )
        rows = similarity.ivfpq_topk_from_index(
            queries, index, cents, books, k=5, n_probe=8,
            residual=residual,
        ).collect()
        return {
            (r.query_id, r.neighbor_id): r.sim
            for r in rows
            if r.neighbor_id == r.query_id - n_base
        }

    res, flat = pair_sims(True), pair_sims(False)
    common = set(res) & set(flat)
    assert len(common) >= 30, f"too few shared true pairs: {len(common)}"
    exact = {
        (q, b): float(x[q] @ x[b]) for q, b in common
    }
    err_res = np.mean([abs(res[p] - exact[p]) for p in common])
    err_flat = np.mean([abs(flat[p] - exact[p]) for p in common])
    assert err_res < err_flat, (err_res, err_flat)


def test_ivfpq_finds_planted_neighbors(spark):
    """Partial probe on the planted-duplicate corpus: each perturbed
    copy's base (cosine ~0.95) lands in the same or a probed cell and
    must surface in the top-5 -- cell pruning plus 64x compression,
    and the signal still comes through."""
    df, _ = _planted_dup_corpus(spark)
    n_base = 300
    queries = df.filter(F.col("vec_id") >= n_base)
    cents, books, index = similarity.ivfpq_build(
        df, n_centroids=8, m=8, n_codes=32, sample_size=1024
    )
    got = similarity.ivfpq_topk_from_index(
        queries, index, cents, books, k=5, n_probe=3
    )
    by_q: dict[int, set] = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(1 for q, ns in by_q.items() if (q - n_base) in ns)
    assert len(by_q) == 40
    assert hits >= 36, f"planted-neighbor hits {hits}/40"


def test_ivfpq_incremental_append(spark, tmp_path):
    """The daily-ingest lifecycle: models (centroids + codebooks) are
    trained ONCE on the initial corpus; a later batch is encoded with
    the stored models (one pass over the batch only -- nothing about
    the existing corpus is touched) and appended to the stored index;
    search over the appended index finds the new batch's planted
    neighbors AND equals a from-scratch encode of the union with the
    same models (append changes storage, never results)."""
    df, _ = _planted_dup_corpus(spark)
    n_base = 300
    day0 = df.filter(F.col("vec_id") < n_base)  # bases only
    day1 = df.filter(F.col("vec_id") >= n_base)  # the dup batch arrives

    cents, books, index0 = similarity.ivfpq_build(
        day0, n_centroids=8, m=8, n_codes=32, sample_size=1024
    )
    path = str(tmp_path / "ivfpq_index")
    index0.write.parquet(path)
    # day-1 ingest: encode ONLY the batch with the stored models, append
    similarity.encode_ivfpq(day1, cents, books).write.mode(
        "append"
    ).parquet(path)

    stored = spark.read.parquet(path)
    got = similarity.ivfpq_topk_from_index(
        day1, stored, cents, books, k=5, n_probe=3
    )
    by_q: dict[int, set] = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(1 for q, ns in by_q.items() if (q - n_base) in ns)
    assert len(by_q) == 40 and hits >= 36, f"hits {hits}/40"

    rebuilt = similarity.encode_ivfpq(df, cents, books)
    want = similarity.ivfpq_topk_from_index(
        day1, rebuilt, cents, books, k=5, n_probe=3
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_knn_ivfpq_oracle_parity(spark, oracle_sf_dir):
    """Full DuckDB replay parity for the IVF-PQ search path -- the
    knn_ivfpq driver candidate (VERDICT r11 #7, parked R13+-promotable
    in plans/__init__.py). The md5-codebook trick that graduated knn_pq
    composed with knn_ivf's md5 coarse quantizer: cells and codebooks
    are both md5-derived, so the oracle independently rebuilds the
    quantizer AND the codebooks, re-runs cell assignment (np.argmax
    tiebreak = LOWEST cell id, unlike ivf_topk's array-max HIGHEST --
    encode_ivfpq is a different implementation and the oracle mirrors
    IT), probe ranking, PQ encoding, the probe-pruned ADC sum and the
    rank -- every value hash-matched. residual=False keeps the codes
    flat-PQ-compatible, exactly what the registered query would run;
    residual-quantization quality keeps its own recall tests."""
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans import (
        scale_queries as sq,
    )
    from tests.parity import compare, duckdb_connect

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    cents = similarity.md5_centroids(16, 64, seed=9, scale=1.0)
    books = similarity.md5_codebooks(m=8, n_codes=16, dsub=8, seed=42, scale=0.35)
    index = similarity.encode_ivfpq(emb, cents, books, residual=False)
    got = similarity.ivfpq_topk_from_index(
        emb.filter(F.col("vec_id") < 20),
        index,
        cents,
        books,
        k=5,
        n_probe=4,
        residual=False,
    )
    sql = f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        n AS (
          SELECT vec_id,
                 list_transform(
                   v, x -> x / sqrt(list_dot_product(v, v))
                 ) AS nv
          FROM e WHERE sqrt(list_dot_product(v, v)) > 0
        ),
        ccent AS (
          SELECT i, d,
                 ({sq._IVF_CENT_COMPONENT})::DOUBLE
                   / 576460752303423488.0 - 1.0 AS val
          FROM range(16) cs(i), range(64) ds(d)
        ),
        csims AS (
          SELECT n.vec_id, c.i, SUM(n.nv[c.d + 1] * c.val) AS sim
          FROM n CROSS JOIN ccent c
          GROUP BY n.vec_id, c.i
        ),
        cells AS (
          SELECT vec_id, i AS cell FROM (
            SELECT vec_id, i,
                   ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY sim DESC, i ASC
                   ) AS rn
            FROM csims
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT vec_id, i AS cell FROM (
            SELECT vec_id, i,
                   ROW_NUMBER() OVER (
                     PARTITION BY vec_id ORDER BY sim DESC, i ASC
                   ) AS rn
            FROM csims WHERE vec_id < 20
          ) WHERE rn <= 4
        ),
        pcent AS (
          SELECT j, c, t,
                 (({sq._PQ_CENT_COMPONENT})::DOUBLE
                   / 576460752303423488.0 - 1.0) * 0.35 AS val
          FROM range(8) js(j), range(16) cs(c), range(8) ts(t)
        ),
        enc AS (
          SELECT n.vec_id, ct.j, ct.c,
                 -2.0 * SUM(n.nv[ct.j * 8 + ct.t + 1] * ct.val)
                   + SUM(ct.val * ct.val) AS d2
          FROM n CROSS JOIN pcent ct
          GROUP BY n.vec_id, ct.j, ct.c
        ),
        codes AS (
          SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c,
                   ROW_NUMBER() OVER (
                     PARTITION BY vec_id, j ORDER BY d2 ASC, c ASC
                   ) AS rn
            FROM enc
          ) WHERE rn = 1
        ),
        adc AS (
          SELECT p.vec_id AS query_id, cl.vec_id AS neighbor_id,
                 SUM(q.nv[cd.j * 8 + ct.t + 1] * ct.val) AS sim_raw
          FROM probes p
          JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.vec_id
          JOIN codes cd ON cd.vec_id = cl.vec_id
          JOIN pcent ct ON ct.j = cd.j AND ct.c = cd.c
          JOIN n q ON q.vec_id = p.vec_id
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT query_id, neighbor_id,
                 {sql_round('sim_raw', 4)} AS sim
          FROM adc
        )
        SELECT query_id, neighbor_id, rank, sim
        FROM (
          SELECT query_id, neighbor_id, sim,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC
                 ) AS rank
          FROM scored
        ) WHERE rank <= 5
    """
    assert compare(got, duckdb_connect(oracle_sf_dir), sql) == []


def test_sq8_encode_semantics(spark):
    """SQ8 storage semantics: (1) codes live in [-127, 127] and the
    absmax component maps to exactly +/-127; (2) dequantization error
    is <= scale/2 per component; (3) a zero-norm vector is excluded;
    (4) a one-hot vector round-trips exactly (its normalized form is
    the code grid's own point)."""
    rows = [
        (1, [3.0, -4.0, 0.0, 0.0]),       # norm 5, absmax 0.8
        (2, [0.0, 0.0, 0.0, 2.5]),        # one-hot: nv = e_4
        (3, [0.0, 0.0, 0.0, 0.0]),        # zero norm: excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.neighbor_id: r for r in similarity.sq8_encode(df).collect()}
    assert set(got) == {1, 2}
    r1 = got[1]
    assert max(abs(c) for c in r1.codes) == 127
    assert all(-127 <= c <= 127 for c in r1.codes)
    nv = [0.6, -0.8, 0.0, 0.0]
    for c, x in zip(r1.codes, nv):
        assert abs(c * r1.scale - x) <= r1.scale / 2 + 1e-12
    r2 = got[2]
    assert r2.codes == [0, 0, 0, 127]
    assert abs(127 * r2.scale - 1.0) < 1e-12


def test_sq8_topk_recall_and_sim_error(spark, oracle_sf_dir):
    """The compressed brute-force scan is near-exact on the fixture:
    top-5 by SQ8-dequantized cosine recalls >= 0.9 of the exact top-5,
    and every approximate sim is within 0.02 of the exact value for
    the same pair (8-bit symmetric quantization of unit vectors bounds
    the dot error by ~dim * scale/2 with scale ~ absmax/127)."""
    emb = load_table(spark, oracle_sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    index = similarity.sq8_encode(emb)
    approx = similarity.sq8_topk(queries, index, k=5).collect()
    exact = similarity.brute_force_topk(queries, emb, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.9, f"SQ8 recall {recall:.2f}"
    exact_sim = {(r.query_id, r.neighbor_id): r.sim for r in exact}
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in exact_sim:
            assert abs(r.sim - exact_sim[key]) <= 0.02, key


def test_sq8_duckdb_replay_parity(spark, oracle_sf_dir):
    """Full DuckDB replay of the whole SQ8 path -- normalize, per-row
    absmax scale, int8 encode (floor grid), dequantize, cosine, rank --
    value-hash-matched cross-engine (the knn_sq8 candidate's oracle
    form, same status as test_knn_ivfpq_oracle_parity)."""
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
    )
    from tests.parity import compare, duckdb_connect

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    got = similarity.sq8_topk(
        emb.filter(F.col("vec_id") < 20), similarity.sq8_encode(emb), k=5
    )
    cos = (
        "CASE WHEN sqrt(list_dot_product(q.v, q.v)) > 0 "
        "AND sqrt(list_dot_product(d.dv, d.dv)) > 0 "
        "THEN list_dot_product(q.v, d.dv) / "
        "(sqrt(list_dot_product(q.v, q.v)) * "
        "sqrt(list_dot_product(d.dv, d.dv))) END"
    )
    sql = f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        n AS (
          SELECT vec_id,
                 list_transform(
                   v, x -> x / sqrt(list_dot_product(v, v))
                 ) AS nv
          FROM e WHERE sqrt(list_dot_product(v, v)) > 0
        ),
        enc AS (
          SELECT vec_id,
                 list_max(list_transform(nv, x -> abs(x))) / 127.0 AS s,
                 list_transform(nv, x -> floor(x /
                   (list_max(list_transform(nv, y -> abs(y))) / 127.0)
                   + 0.5)) AS cd
          FROM n
        ),
        dec AS (
          SELECT vec_id, list_transform(cd, c -> c * s) AS dv FROM enc
        ),
        scored AS (
          SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                 {sql_round(cos, 4)} AS sim
          FROM (SELECT vec_id, v FROM e WHERE vec_id < 20) q
          CROSS JOIN dec d
          WHERE q.vec_id <> d.vec_id
        )
        SELECT query_id, neighbor_id, rank, sim
        FROM (
          SELECT query_id, neighbor_id, sim,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC
                 ) AS rank
          FROM scored
        ) WHERE rank <= 5
    """
    assert compare(got, duckdb_connect(oracle_sf_dir), sql) == []
    # the whole path is native expressions: no Python row boundary
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_rejects_dim_mismatch(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, [0.1] * 64), (2, [0.2] * 64)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        similarity.train_pq(df, m=7)
    books = similarity.train_pq(df, m=8, n_codes=2, sample_size=8)
    wide = spark.createDataFrame(
        [(3, [0.3] * 128)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="dimension 128"):
        similarity.pq_topk_from_codes(
            wide, similarity.encode_pq(df, books), books
        )
    with pytest.raises(Exception, match="dimension 128"):
        similarity.encode_pq(wide, books).collect()


def test_ann_recall_registered_query(spark, oracle_sf_dir):
    """The registered ann_recall query (the driver-visible, since-r6
    oracle-backed form of the LSH recall gate above) must emit one
    deterministic LSH row with recall_at_5 over the 0.5 floor. IVF's
    recall moved out of the registered query when it graduated to an
    exact oracle (k-means is not SQL-recomputable) -- its gate is
    test_ivf_topk_recall plus knn_ivf's rows-only driver row."""
    from bigdata_storage_and_proccess_job_data_spark.plans import all_queries

    rows = all_queries()["ann_recall"].fn(spark, oracle_sf_dir).collect()
    got = {r.method: r.recall_at_5 for r in rows}
    assert set(got) == {"lsh"}
    assert all(v >= 0.5 for v in got.values()), got
    # deterministic: a second run emits identical values
    again = {
        r.method: r.recall_at_5
        for r in all_queries()["ann_recall"].fn(spark, oracle_sf_dir).collect()
    }
    assert got == again


def test_pq_quality_and_md5_codebooks(spark, oracle_sf_dir):
    """Flat-PQ quality floor (the flat-PQ search path is value-hashed
    through knn_ivfpq's oracle; this test keeps its floor): md5-derived
    codebooks are deterministic and in [-scale, scale); the ADC top-5
    reaches a real recall floor against the exact top-5 -- random
    codebooks quantize worse than k-means-fit ones, but the search must
    still rank meaningfully, or the hash-matched IVF-PQ oracle would
    only be proving reproducible noise."""
    from bigdata_storage_and_proccess_job_data_spark.operators import similarity

    kw = dict(m=8, n_codes=16, dsub=8, seed=42, scale=0.35)
    books = similarity.md5_codebooks(**kw)
    assert books == similarity.md5_codebooks(**kw)
    flat = [v for b in books for c in b for v in c]
    assert len(flat) == 8 * 16 * 8
    assert all(-0.35 <= v < 0.35 for v in flat)
    assert books != similarity.md5_codebooks(**{**kw, "seed": 7})

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    codes = similarity.encode_pq(emb, books)
    pq_rows = similarity.pq_topk_from_codes(q, codes, books, k=5).collect()
    exact_rows = similarity.brute_force_topk(q, emb, k=5).collect()
    got = {(r.query_id, r.neighbor_id) for r in pq_rows}
    want = {(r.query_id, r.neighbor_id) for r in exact_rows}
    by_q: dict[int, int] = {}
    for r in pq_rows:
        by_q[r.query_id] = by_q.get(r.query_id, 0) + 1
    assert len(by_q) == 20 and all(v == 5 for v in by_q.values())
    recall = len(got & want) / len(want)
    # honest floor: TRAINED 16-code k-means PQ measures 0.21 recall@5 on
    # this corpus (weakly-structured synthetic embeddings cap PQ at this
    # code budget); the scale-matched md5 codebooks measure the same
    # 0.21 -- the floor guards against scale/assignment regressions, not
    # against the corpus
    assert recall >= 0.15, f"md5-codebook PQ recall@5 {recall:.2f}"


def test_multi_probe_lsh_trades_probes_for_tables(spark):
    """Query-directed multi-probe (Lv et al. 2007): (1) extra probes
    never lose recall and strictly help on the planted corpus, (2) a
    FEW tables + probes reach the recall a larger table count needs --
    the 100 TB trade, since tables multiply the corpus index while
    probes only multiply the query side, (3) probe sets are exactly
    n_tables * n_probes one-bit perturbations of the base bucket with
    the base itself first, (4) n_probes=1 is plan-identical to the
    single-probe path, (5) validation."""
    import pytest

    df, _ = _planted_dup_corpus(spark)
    q = df.filter(F.col("vec_id") < 30)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(q, df, k=5).collect()
    }

    def recall(**kw):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.lsh_topk(q, df, k=5, **kw).collect()
        }
        return len(got & exact) / len(exact)

    r_base = recall()
    r_probe = recall(n_probes=3)
    assert r_probe >= r_base
    # the trade: 2 tables + 3 probes matches-or-beats 4 tables alone
    r_2t_probed = recall(n_tables=2, n_probes=3)
    r_4t_single = recall(n_tables=4)
    assert r_2t_probed >= r_4t_single
    assert r_probe > 0.8  # planted dups are reachable with probing

    # structure: per table, n_probes distinct buckets, each non-base
    # differing from base in exactly one bit; base leads
    tables = [similarity.md5_hyperplanes(64, 4, t, 42) for t in range(8)]
    row = df.limit(1).select(
        similarity._probe_buckets("`embedding`", tables, 3).alias("pb"),
        similarity._bucket_array("embedding", tables).alias("bb"),
    ).first()
    assert len(row.pb) == 8 * 3
    base = {(e.table, e.bucket) for e in row.bb}
    assert {(e.table, e.bucket) for e in row.pb[::3]} == base
    by_t: dict = {}
    for ent in row.pb:
        by_t.setdefault(ent.table, []).append(ent.bucket)
    for bs in by_t.values():
        assert len(set(bs)) == 3
        assert all(bin(bs[0] ^ alt).count("1") == 1 for alt in bs[1:])

    # n_probes=1 goes through the unchanged single-probe expression
    # (compare plans modulo the per-instance expression ids)
    import re

    def plan(d):
        return re.sub(
            r"#\d+", "#x", d._jdf.queryExecution().optimizedPlan().toString()
        )

    assert plan(similarity.lsh_topk(q, df, k=5, n_probes=1)) == plan(
        similarity.lsh_topk(q, df, k=5)
    )

    with pytest.raises(ValueError, match="n_probes"):
        similarity.lsh_topk(q, df, n_probes=0)
    with pytest.raises(ValueError, match="n_probes"):
        similarity.lsh_topk(q, df, n_probes=6)


def test_hard_negatives_excludes_positives_and_duckdb_parity(
    spark, oracle_sf_dir
):
    """Hard-negative mining: (1) planted frame -- a positive that would
    top the similarity ranking is excluded and the next-most-similar
    non-positive takes rank 1; (2) with no positives the output equals
    brute_force_topk exactly; (3) full DuckDB replay parity on the real
    embeddings table with a deterministic same-residue positive
    relation (vec_id % 10)."""
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.operators import similarity
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        _KNN_SIM,
    )
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
    )
    from tests.parity import compare, duckdb_connect

    # (1) planted: q=(1,0); c1=(1,0) is a positive, c2=(0.9,0.1) next
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pos = spark.createDataFrame([(0, 1)], "anchor_id long, positive_id long")
    out = similarity.hard_negatives(
        emb.filter(F.col("vec_id") == 0), emb, pos, k=2
    ).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [2, 3]

    # (2) no positives == brute_force_topk
    empty = spark.createDataFrame([], "anchor_id long, positive_id long")
    a = similarity.hard_negatives(
        emb.filter(F.col("vec_id") == 0), emb, empty, k=3
    ).collect()
    b = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") == 0), emb, k=3
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    # (3) real-table parity: positives = same vec_id residue mod 10
    real = load_table(spark, oracle_sf_dir, "embeddings")
    q = real.filter(F.col("vec_id") < 15)
    pos_r = (
        q.select(F.col("vec_id").alias("anchor_id"))
        .join(
            real.select(F.col("vec_id").alias("positive_id")),
            F.col("anchor_id") % 10 == F.col("positive_id") % 10,
        )
    )
    got = similarity.hard_negatives(q, real, pos_r, k=5)
    sql = f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id < 15
        ),
        c AS (
          SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
          FROM embeddings
        ),
        scored AS (
          SELECT query_id, neighbor_id, {sql_round(_KNN_SIM, 4)} AS sim
          FROM q CROSS JOIN c
          WHERE query_id <> neighbor_id
            AND query_id % 10 <> neighbor_id % 10
        )
        SELECT query_id, neighbor_id, rank, sim
        FROM (
          SELECT query_id, neighbor_id, sim,
                 ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC
                 ) AS rank
          FROM scored
        ) WHERE rank <= 5
    """
    assert compare(got, duckdb_connect(oracle_sf_dir), sql) == []


def test_mips_topk_and_augment_reduction(spark, sf_dir):
    """MIPS: (1) exact mips_topk matches a numpy argmax of raw inner
    products (where cosine DISAGREES -- magnitude matters); (2) DuckDB
    replays mips_topk via list_dot_product."""
    import numpy as np

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8)
    got = similarity.mips_topk(queries, corpus, k=5)
    rows = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in got.collect()}

    ids_q, Q = zip(*[(r.vec_id, r.embedding) for r in queries.collect()])
    ids_c, C = zip(*[(r.vec_id, r.embedding) for r in corpus.collect()])
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        DELTA,
    )

    Qm = np.asarray(Q, dtype=np.float64)
    Cm = np.asarray(C, dtype=np.float64)
    S = np.floor(Qm @ Cm.T * 10_000 + (0.5 + DELTA)) / 10_000  # stable_round
    for qi, qid in enumerate(ids_q):
        order = sorted(
            range(len(ids_c)), key=lambda j: (-S[qi, j], ids_c[j])
        )[:5]
        for r, j in enumerate(order, start=1):
            nid, sim = rows[(qid, r)]
            assert nid == ids_c[j] and sim == S[qi, j]

    out = got.filter(F.col("query_id") == 0).select(
        "query_id", "neighbor_id", "rank",
        stable_round(F.col("sim"), 4).alias("sim"),
    )
    sql = f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id = 0
        ),
        s AS (
          SELECT q.query_id, c.vec_id AS neighbor_id,
                 {sql_round("list_dot_product(q.qv, c.embedding::DOUBLE[])", 4)}
                   AS sim
          FROM q, embeddings c WHERE c.vec_id >= 8
        ),
        r AS (
          SELECT *, ROW_NUMBER() OVER (
            ORDER BY sim DESC, neighbor_id ASC
          ) AS rank FROM s
        )
        SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, sim
        FROM r WHERE rank <= 5
    """
    assert compare(out, duckdb_connect(sf_dir), sql) == []


def test_lsh_topk_size_gate_paths_identical(spark, oracle_sf_dir, monkeypatch):
    """Size gate: lsh_topk picks the single-pass candidate shape
    (vectors ride the bucket join, SortAggregate dedup, ONE corpus scan)
    under the byte budget and the narrow two-pass shape (bare-id
    HashAggregate dedup + re-attach joins) above it -- and the two paths
    are RESULT-IDENTICAL, because the dedup keys are the id pair and
    both vectors are functionally determined by the ids. Also pins that the gate reads plan statistics only (the
    returned frame stays lazy -- building it runs no job)."""
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.operators import similarity

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)

    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None) or [])

    single = similarity.lsh_topk(q, emb, k=5)
    monkeypatch.setattr(similarity, "_LSH_SINGLE_PASS_MAX_BYTES", 1)
    double = similarity.lsh_topk(q, emb, k=5)

    # gate decision is statistics-only: no Spark job ran during build
    assert set(tracker.getJobIdsForGroup(None) or []) == jobs_before

    p_single = single._jdf.queryExecution().executedPlan().toString()
    p_double = double._jdf.queryExecution().executedPlan().toString()
    # the tiny oracle corpus sits under the default budget: single-pass
    # dedups with a SortAggregate; the forced two-pass path must not
    assert "SortAggregate" in p_single
    assert "SortAggregate" not in p_double

    got_s = sorted(tuple(r) for r in single.collect())
    got_d = sorted(tuple(r) for r in double.collect())
    assert got_s == got_d and got_s
