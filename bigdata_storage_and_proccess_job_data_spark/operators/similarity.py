"""Similarity search over embedding columns.

- brute_force_topk: exact cosine top-k of a (small, broadcast) query set
  against the full corpus -- the correctness baseline. Work = |Q| x |C|,
  distributed over corpus partitions; ranking is a window top-k per
  query, so nothing ever collects to the driver.
- lsh_topk: random-hyperplane LSH variant -- the 100 TB path. Corpus is
  bucketed by sign-bit signature; each query probes only its own bucket
  (plus optional multi-probe neighbors), turning the cross product into
  a bucket equi-join.

Hyperplanes are generated deterministically from a seed (model
parameter, not data), so results are reproducible.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.functions import vectors
from bigdata_storage_and_proccess_job_data_spark.functions.numeric import stable_round
from bigdata_storage_and_proccess_job_data_spark.session import local_frame


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Window top-k per query over (sim DESC, neighbor_id ASC) -- the
    shared deterministic ranking tail of every search path."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "sim"
        )
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, join against every
    corpus row, rank per query. Ranking key is (rounded sim DESC,
    neighbor id ASC) so ties are deterministic across engines.

    Returns (query_id, neighbor_id, rank, sim). Self-matches excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        vectors.as_double("embedding").alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        vectors.as_double("embedding").alias("_cv"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                vectors.cosine_expr("_qv", "_cv"), 4
            ).alias("sim"),
        )
    )
    return _rank_topk(scored, k)


def brute_force_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k, Arrow-vectorized: the wide-vector counterpart
    of brute_force_topk. The JVM zip_with/aggregate fold costs O(dim)
    expression-tree evaluations PER PAIR; past a few hundred dims a
    numpy GEMM over Arrow batches wins despite the Python transfer.

    Shape: the (small) query matrix ships to executors as a broadcast
    variable; mapInPandas scores each corpus batch as one
    (batch x dim) @ (dim x |Q|) matmul and emits only the per-batch
    top-k candidates per query -- a map-side combine, so the shuffle
    into the global window rank carries O(parts x |Q| x k) rows, never
    the |Q| x |C| cross product. Selection order inside the batch is
    the same (rounded sim DESC, id ASC) total order as the final rank,
    which makes partial top-k exact, and the rounding is stable_round's
    formula in numpy -- bit-identical to the SQL path, so this function
    hash-matches the same DuckDB oracle as brute_force_topk.

    Rows with zero-norm vectors (undefined cosine) are excluded.
    """
    import numpy as np
    import pandas as pd

    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import DELTA

    spark = corpus.sparkSession
    q_rows = [
        (r.query_id, r._qv)
        for r in queries.select(
            F.col("vec_id").alias("query_id"),
            vectors.as_double("embedding").alias("_qv"),
        )
        .filter(F.col("_qv").isNotNull())
        .limit(10_001)
        .collect()
    ]
    if len(q_rows) > 10_000:
        # the docstring's "small, broadcast query set" promise, enforced:
        # a larger Q belongs in the bucketed paths (lsh_topk / ivf_topk)
        raise ValueError(
            "query set exceeds 10,000 queries; use lsh_topk/ivf_topk "
            "for large query fan-out"
        )
    qids = np.asarray([q[0] for q in q_rows], dtype=np.int64)
    qm = np.asarray([q[1] for q in q_rows], dtype=np.float64)
    qnorm = np.linalg.norm(qm, axis=1)
    keep = qnorm > 0
    qids, qm = qids[keep], qm[keep] / qnorm[keep, None]
    bc = spark.sparkContext.broadcast((qids, qm))
    scale = 10**4

    def score(batches):
        b_qids, b_qm = bc.value
        for pdf in batches:
            if not len(pdf) or not len(b_qids):
                continue
            nids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cm = np.stack(pdf["_cv"].to_numpy()).astype(np.float64)
            cnorm = np.linalg.norm(cm, axis=1)
            valid = cnorm > 0
            nids, cm = nids[valid], cm[valid] / cnorm[valid, None]
            if not len(nids):
                continue
            sims = cm @ b_qm.T  # (batch, |Q|)
            rounded = np.floor(sims * scale + (0.5 + DELTA)) / scale
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(b_qids):
                col = rounded[:, j]
                mask = nids != qid
                ids_j, col_j = nids[mask], col[mask]
                top = np.lexsort((ids_j, -col_j))[:k]
                out_q.extend([qid] * len(top))
                out_n.extend(ids_j[top])
                out_s.extend(col_j[top])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    candidates = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        vectors.as_double("embedding").alias("_cv"),
    ).mapInPandas(score, "query_id long, neighbor_id long, sim double")
    return _rank_topk(candidates, k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-normal hyperplanes (seeded Gaussian)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def md5_hyperplanes(
    dim: int, n_planes: int, table: int, seed: int = 42
) -> list[list[float]]:
    """Hyperplanes whose components are md5-derived uniforms in [-1, 1) --
    the cross-engine-reproducible generator (same idea as
    operators/neardup.py:md5_hash60): component (t, p, d) is the first
    15 md5 hex nibbles of ``"hp:{seed}:{t}:{p}:{d}"`` as a 60-bit int,
    scaled by 2^-59 and shifted to [-1, 1). Any engine with md5 can
    recompute the planes exactly (DuckDB twin:
    plans/scale_queries._md5_hash60_sql; h/2^59 is a power-of-two scale,
    so int->double rounding is identical on both sides).

    Deliberately UNNORMALIZED: LSH bucketing uses only the SIGN of the
    dot product, which is invariant to positive scaling, so skipping the
    norm removes a sqrt from the cross-engine float contract.
    Cube-uniform directions are not sphere-uniform (the collision
    probability is no longer exactly 1 - theta/pi), but multi-table
    banding is what carries recall either way -- observed recall is
    pinned in tests/test_similarity.py, same as the Gaussian generator
    it replaces on the lsh_topk path."""
    import hashlib

    planes = []
    for p in range(n_planes):
        v = []
        for d in range(dim):
            h = int(
                hashlib.md5(f"hp:{seed}:{table}:{p}:{d}".encode())
                .hexdigest()[:15],
                16,
            )
            v.append(h / 2**59 - 1.0)
        planes.append(v)
    return planes


def md5_codebooks(
    m: int, n_codes: int, dsub: int, seed: int = 42, scale: float = 1.0
) -> list[list[list[float]]]:
    """PQ codebooks whose centroid components are md5-derived uniforms
    in [-scale, scale) -- md5_hyperplanes' generator applied to product
    quantization: component (j, c, t) of subspace j, code c is the first
    15 md5 hex nibbles of ``"pq:{seed}:{j}:{c}:{t}"`` scaled by 2^-59,
    shifted, and multiplied by ``scale`` (one IEEE multiply -- still
    bit-identical on any engine with md5; DuckDB twin in
    plans/scale_queries' knn_pq oracle).

    ``scale`` should roughly match the data's per-component spread or
    the ||c||^2 term dominates nearest-code assignment and most codes go
    unused: for L2-normalized dim-D vectors the subvector components
    have rms 1/sqrt(D), so uniform centroids want scale ~ sqrt(3/D)
    (~0.22 at D=64; 0.35 measured best on the fixture corpus, matching
    TRAINED 16-code PQ's recall there -- see
    tests/test_similarity.py:test_knn_pq_registered_query_quality*).

    Untrained random codebooks generally quantize worse than
    k-means-fit ones (train_pq / ivfpq_build remain the production fit,
    their recall floors pinned in tests/test_similarity.py); what these
    buy is CROSS-ENGINE REPRODUCIBILITY of the encode + ADC machinery
    itself -- the same trade md5_hyperplanes makes for LSH -- which is
    what lets a driver query hash-match the full PQ search path against
    an independent SQL recomputation."""
    import hashlib

    books = []
    for j in range(m):
        book = []
        for c in range(n_codes):
            book.append(
                [
                    (
                        int(
                            hashlib.md5(
                                f"pq:{seed}:{j}:{c}:{t}".encode()
                            ).hexdigest()[:15],
                            16,
                        )
                        / 2**59
                        - 1.0
                    )
                    * scale
                    for t in range(dsub)
                ]
            )
        books.append(book)
    return books


def md5_centroids(
    n_centroids: int, dim: int, seed: int = 7
) -> list[list[float]]:
    """IVF coarse-quantizer centroids with md5-derived components --
    md5_codebooks' generator applied to the cell layer: component (i, d) of
    centroid i is the first 15 md5 hex nibbles of ``"ivf:{seed}:{i}:{d}"``
    scaled by 2^-59 and shifted to [-1, 1) -- bit-identical on any
    engine with md5 (DuckDB twin in plans/scale_queries' knn_ivf
    oracle).

    Random centroids partition the sphere into random Voronoi cells --
    generally worse recall per probe than k-means-fit ones
    (train_centroids stays the production fit, recall floor pinned in
    tests/test_similarity.py); what they buy is cross-engine
    reproducibility of the assign -> probe -> score machinery."""
    import hashlib

    return [
        [
            (
                int(
                    hashlib.md5(
                        f"ivf:{seed}:{i}:{d}".encode()
                    ).hexdigest()[:15],
                    16,
                )
                / 2**59
                - 1.0
            )
            for d in range(dim)
        ]
        for i in range(n_centroids)
    ]


def _sig_fold_sql(vec_sql: str, mat_sql: str, n_planes: int) -> str:
    """SQL text of the sign-bit fold: bit p set iff
    (vec . planes[p]) >= 0, summed as pow(2, p) (exact in a double for
    p <= 52; sign bits are distinct, so sum == bitwise OR). Same
    catalyst tree the Column-API fold produced, one parse."""
    return (
        f"aggregate(sequence(0, {n_planes - 1}), cast(0 as bigint), "
        "(acc, p) -> acc + (case when "
        + vectors.dot_sql(vec_sql, f"element_at({mat_sql}, p + 1)")
        + " >= 0 then cast(pow(2.0D, p) as bigint) "
        "else cast(0 as bigint) end))"
    )


def _dim_guard_sql(vec_sql: str, dim: int, body_sql: str, what: str) -> str:
    """Wrap ``body_sql`` in a per-row dimension assertion. A mismatch
    between the data's real dimension and the hyperplane/centroid
    dimension is otherwise SILENT and catastrophic: zip_with pads with
    nulls, every dot folds to null, every sign bit goes 0, all vectors
    land in one bucket per table, and the 'bucketed' join degenerates
    to the all-pairs product it exists to avoid. The guard compiles
    into the row expression (one size() + branch, negligible next to
    the dot folds) instead of the old eager one-row probe, which ran a
    whole Spark JOB inside plan construction (~0.2 s per call at
    bench scale). NULL vectors keep their pre-guard semantics (the
    fold's own null propagation)."""
    return (
        f"case when {vec_sql} is null or size({vec_sql}) = {dim} "
        f"then {body_sql} else raise_error(concat("
        f"'{what}: vector dimension ', cast(size({vec_sql}) as string), "
        f"' does not match parameter dimension {dim}')) end"
    )


def _bucket_array(
    vec: Column | str, tables: list[list[list[float]]]
) -> Column:
    """array<struct<table:int, bucket:bigint>> -- one LSH bucket per
    table. The whole thing is ONE SQL string parsed JVM-side: a
    per-table unroll re-builds the signature fold n_tables times over
    py4j, and even a lambda-HOF form pays ~0.7 s of construction per
    call at 8x4x64. Same sign-bit semantics, same values."""
    n_planes = len(tables[0])
    if any(len(t) != n_planes for t in tables):
        raise ValueError("all LSH tables must have the same plane count")
    if n_planes > 52:
        raise ValueError("_bucket_array supports at most 52 planes")
    vec_sql = vectors.sql_of(vec)
    cube = vectors.cube_sql(tables)
    fold = _sig_fold_sql(vec_sql, f"element_at({cube}, t + 1)", n_planes)
    body = (
        f"transform(sequence(0, {len(tables) - 1}), t -> "
        f"named_struct('table', cast(t as int), 'bucket', {fold}))"
    )
    return F.expr(
        _dim_guard_sql(vec_sql, len(tables[0][0]), body, "_bucket_array")
    )


def _probe_buckets(
    vec_sql: str, tables: list[list[list[float]]], n_probes: int
) -> Column:
    """Query-directed multi-probe bucket set (Lv et al. 2007,
    "Multi-Probe LSH"): per table, the base sign-bit bucket plus
    ``n_probes - 1`` single-bit perturbations flipping the bits whose
    |dot| margin is smallest -- the planes the vector sits closest to,
    i.e. the flips most likely to recover a near neighbor that landed
    just across one boundary. array<struct<table:int, bucket:bigint>>
    of n_tables * n_probes entries (perturbed buckets are distinct from
    base by construction: each flips exactly one bit)."""
    n_planes = len(tables[0])
    cube = vectors.cube_sql(tables)
    d = vectors.dot_sql(
        vec_sql, f"element_at(element_at({cube}, t + 1), p + 1)"
    )
    dots = f"transform(sequence(0, {n_planes - 1}), p -> {d})"
    base = (
        f"aggregate(sequence(0, {n_planes - 1}), cast(0 as bigint), "
        "(acc, p) -> acc + (case when element_at(ds, p + 1) >= 0 "
        "then cast(pow(2.0D, p) as bigint) else cast(0 as bigint) end))"
    )
    # planes ranked by |margin| asc, plane index as tiebreak
    order = (
        f"array_sort(transform(sequence(0, {n_planes - 1}), "
        "p -> named_struct('m', abs(element_at(ds, p + 1)), 'p', p)))"
    )
    probes = (
        f"transform(sequence(0, {n_probes - 1}), i -> named_struct("
        "'table', cast(t as int), 'bucket', "
        "case when i = 0 then bb else bb ^ cast(pow(2.0D, "
        "element_at(ord, i).p) as bigint) end))"
    )
    # let-binding via nested aggregate-free lambdas is unavailable in
    # Spark SQL, so thread ds/bb/ord through single-element transforms
    # (each binds one name; the optimizer collapses them)
    expr = (
        f"flatten(transform(sequence(0, {len(tables) - 1}), t -> "
        f"element_at(transform(array({dots}), ds -> "
        f"element_at(transform(array({base}), bb -> "
        f"element_at(transform(array({order}), ord -> {probes}), 1)"
        "), 1)), 1)))"
    )
    return F.expr(
        _dim_guard_sql(vec_sql, len(tables[0][0]), expr, "_probe_buckets")
    )


def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for ``df``'s optimized plan (file-size
    derived for parquet scans, scaled through projections) -- a NO-JOB
    signal, the same statistic the broadcast-join planner reads.
    Unknown (internal API moved) degrades to "huge", which selects the
    scale-safe shape."""
    try:
        return int(
            df._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
    except Exception:
        return 1 << 62


# lsh_topk's single-pass byte budget: an order of magnitude past the
# largest measured single-pass win, conservative toward the scale-safe
# two-pass shape.
_LSH_SINGLE_PASS_MAX_BYTES = 1 << 30


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    n_probes: int = 1,
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH:
    ``n_tables`` independent hash tables of ``n_planes`` sign bits each;
    a pair is a candidate if ANY table buckets them together
    (P(candidate) = 1-(1-(1-theta/pi)^p)^L -- multi-table is what makes
    moderate-cosine neighbors reachable). Candidates are deduped before
    scoring, then window-ranked like the exact path.

    The scale path for corpora where |Q| x |C| is infeasible: the bucket
    equi-join shuffles (table, bucket, id) keys instead of replicating
    the corpus per query.

    ``n_probes > 1`` turns on query-directed multi-probe (Lv et al.
    2007): each QUERY additionally probes the buckets reached by
    flipping its lowest-|margin| sign bits, one bit per extra probe.
    Probing substitutes for tables -- recall that needs L tables at
    n_probes=1 needs far fewer tables with a handful of probes -- and
    at 100 TB that trade matters: tables multiply the CORPUS index
    (n_tables rows per corpus vector through the shuffle), probes only
    multiply the (small) query side. The corpus side never changes.

    Hyperplanes come from md5_hyperplanes (cross-engine-reproducible),
    which is what lets the registered knn_lsh query carry an EXACT
    DuckDB oracle: the oracle re-derives the same planes from md5 and
    recomputes bucketing + cosine + rank in SQL. The
    default n_probes=1 keeps the original single-probe plan unchanged.
    """
    if not 1 <= n_probes <= n_planes + 1:
        raise ValueError(
            f"n_probes must be in [1, n_planes + 1 = {n_planes + 1}]"
        )
    # dim mismatch raises per-row inside _bucket_array (_dim_guard_sql)
    tables = [
        md5_hyperplanes(dim, n_planes, t, seed) for t in range(n_tables)
    ]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        vectors.as_double(vec_col).alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        vectors.as_double(vec_col).alias("_cv"),
    )
    q_buckets = (
        _bucket_array("_qv", tables)
        if n_probes == 1
        else _probe_buckets("`_qv`", tables, n_probes)
    )
    # TWO CANDIDATE SHAPES, size-gated. The narrow two-pass shape
    # (the cosine_neardup_pairs shape)
    # shuffles only (id, table, bucket) -- never the vectors -- dedups
    # the bare id pairs with a HashAggregate, and re-attaches vectors
    # by id for surviving pairs only: at corpus scale this is the only
    # shape that survives, because the single-pass alternative ships
    # every candidate's TWO vectors through a SortAggregate (n_tables
    # copies of the corpus through the bucket exchange plus the
    # candidate-volume sort). But the re-attach costs a SECOND corpus
    # scan + vector decode (nothing is cached in a query path), which
    # DOMINATES while the bucket payload is modest: measured at the
    # sf1 spot fixture (67.5k vectors x 8 tables ~= 276 MB decoded
    # payload, interleaved A/B, results identical) the single-pass
    # shape is 2.8x faster (1.28 s vs 3.37 s) despite shuffling 11x
    # more bytes (75 vs 7 MB) -- local exchange is cheaper than a
    # second parquet array decode. The gate reads Catalyst's no-job
    # size estimate for the corpus (the statistic the broadcast
    # planner uses) times n_tables: single-pass below
    # _LSH_SINGLE_PASS_MAX_BYTES, two-pass above. Same pairs, same
    # cosines, same output either way -- the dedup keeps one row per
    # (query_id, neighbor_id) and both vectors are functionally
    # determined by the ids.
    if n_tables * _plan_bytes(c) <= _LSH_SINGLE_PASS_MAX_BYTES:
        qb = q.select(
            "query_id", "_qv", F.explode(q_buckets).alias("b")
        ).select("query_id", "_qv", "b.table", "b.bucket")
        cb = c.select(
            "neighbor_id",
            "_cv",
            F.explode(_bucket_array("_cv", tables)).alias("b"),
        ).select("neighbor_id", "_cv", "b.table", "b.bucket")
        scored = (
            qb.join(cb, ["table", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", "_qv", "_cv")
            .dropDuplicates(["query_id", "neighbor_id"])
            .select(
                "query_id",
                "neighbor_id",
                stable_round(
                    vectors.cosine_expr("_qv", "_cv"), 4
                ).alias("sim"),
            )
        )
        return _rank_topk(scored, k)
    qb = q.select(
        "query_id", F.explode(q_buckets).alias("b")
    ).select("query_id", "b.table", "b.bucket")
    cb = c.select(
        "neighbor_id",
        F.explode(_bucket_array("_cv", tables)).alias("b"),
    ).select("neighbor_id", "b.table", "b.bucket")
    pairs = (
        qb.join(cb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        pairs.join(q, "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                vectors.cosine_expr("_qv", "_cv"), 4
            ).alias("sim"),
        )
    )
    return _rank_topk(scored, k)


def cosine_neardup_pairs(
    corpus: DataFrame,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs of the 64-dim ``embedding``
    column keyed by ``vec_id`` (id_a < id_b, sim >= 0.85) WITHOUT the
    all-pairs product: multi-table hyperplane-LSH bucketing (24 tables
    of 6 planes) generates candidates, exact cosine verifies them.

    Scale shape:

    1. each vector hashes to 24 sign-bit buckets -- the ONLY
       thing that shuffles in the candidate stage is (id, table, bucket),
       ~20 bytes/row, never the vector;
    2. the self-equi-join on (table, bucket) meets candidate ids where
       they collide; ``id_a < id_b`` halves, dropDuplicates collapses
       multi-table hits;
    3. vectors re-attach by id (two narrow equi-joins) ONLY for
       surviving candidates, and exact cosine verifies >= 0.85 --
       so false positives cost one dot product, never an output row.

    Recall: a true pair at cosine >= t survives a table with
    p = (1-acos(t)/pi)^6, so miss probability is (1-p)^24 -- at
    t=.85 (per-plane .823, p=.31 per table) a true pair is missed with
    prob .69^24 ~= 1.4e-4. Hyperplanes are seed-deterministic, so
    observed recall is REPRODUCIBLE: tests/test_similarity.py pins
    recall == 1.0 vs the exact twin on the test corpora, and the driver
    oracle hash-match holds because of it. At higher corpus scale, more
    planes (bucket selectivity) and more tables (recall) go together.
    """
    # dim mismatch raises per-row inside _bucket_array (_dim_guard_sql)
    tables = [
        hyperplanes(64, 6, 42 + 1000 * t) for t in range(24)
    ]
    v = corpus.select(
        F.col("vec_id").alias("_id"),
        vectors.as_double("embedding").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    buckets = v.select(
        "_id", F.explode(_bucket_array("_v", tables)).alias("b")
    ).select("_id", "b.table", "b.bucket")
    cand = (
        buckets.select(F.col("_id").alias("id_a"), "table", "bucket")
        .join(
            buckets.select(F.col("_id").alias("id_b"), "table", "bucket"),
            ["table", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    sim_raw = vectors.cosine_expr("_va", "_vb")
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim_raw.alias("_sim"))
        .filter(F.col("_sim") >= 0.85)
        .select(
            "id_a", "id_b", stable_round(F.col("_sim"), 4).alias("sim")
        )
    )


def train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    n_centroids: int = 16,
    sample_size: int = 2048,
    n_iters: int = 5,
) -> list[list[float]]:
    """Spherical k-means coarse quantizer, trained on a deterministic
    sample (xxhash64-ordered, so the same rows are picked regardless of
    partitioning). The sample -- not the corpus -- comes to the driver:
    IVF training is a model-fit step over O(sample_size x dim) floats
    (~1 MB here), the classic train-small / assign-distributed split.
    Lloyd iterations run in numpy; empty clusters keep their previous
    centroid; centroids are L2-normalized (spherical = cosine geometry).
    """
    import numpy as np

    sample = (
        corpus.select(
            F.col(id_col).alias("_id"),
            vectors.as_double("embedding").alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
        .orderBy(F.xxhash64(F.col("_id"), F.lit(42)))
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([r._v for r in sample], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = x / norms
    cent = x[: min(n_centroids, len(x))].copy()
    for _ in range(n_iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
    return [[float(v) for v in row] for row in cent]


def _cell_sims(
    vec: Column | str, centroids: list[list[float]]
) -> Column:
    """array<struct<sim:double, cell:int>> -- dot against every centroid.
    Struct field order (sim first) makes array_max/sort_array rank by
    similarity with cell id as the tiebreak, all inside codegen.

    ONE SQL string parsed JVM-side (the _bucket_array driver-latency
    fix): an unrolled form spends the call's time constructing k x dim
    Literal nodes over py4j. Values are bit-identical."""
    vec_sql = vectors.sql_of(vec)
    mat = vectors.matrix_sql(centroids)
    d = vectors.dot_sql(vec_sql, f"element_at({mat}, i + 1)")
    body = (
        f"transform(sequence(0, {len(centroids) - 1}), i -> "
        f"named_struct('sim', {d}, 'cell', cast(i as int)))"
    )
    return F.expr(
        _dim_guard_sql(vec_sql, len(centroids[0]), body, "_cell_sims")
    )


def assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, vector, cell): each corpus vector labeled with its nearest
    centroid. This is the IVF build step made storable: write the result
    partitioned by ``cell`` (sources/lake.py:write_partitioned) and a
    probe that filters on its n_probe cells prunes the scan to those
    partitions -- no query-time shuffle of the corpus at all
    (tests/test_similarity.py asserts the pruned plan)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        vectors.as_double("embedding").alias("_cv"),
    )
    return c.withColumn(
        "cell", F.array_max(_cell_sims("_cv", centroids))["cell"]
    )


def train_pq(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 32,
    sample_size: int = 2048,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): vectors are
    L2-normalized, split into ``m`` contiguous subspaces, and each
    subspace gets its own ``n_codes``-centroid k-means codebook.

    Same train-small/assign-distributed split as train_centroids: a
    deterministic xxhash64-ordered sample (the only thing collected)
    fits the model; encoding and search stay distributed. Returns
    ``codebooks[m][n_codes][dim/m]``.

    Why this exists at 100 TB: a float64[64] embedding is 512 bytes; its
    PQ code is ``m`` small ints (8 bytes at m=8) -- a 64x compression
    that turns "the index can't fit anywhere" into "the codes column
    scans like any other parquet column", with search reading ONLY the
    codes. Accuracy is bounded by quantization distortion; recall pins
    live in tests/test_similarity.py.
    """
    return _fit_pq(_sample_matrix(corpus, sample_size, m), m, n_codes)


def _sample_matrix(corpus: DataFrame, sample_size: int, m: int):
    """Deterministic training sample as a unit-normalized numpy matrix
    (zero-norm rows dropped); validates dim % m."""
    import numpy as np

    sample = (
        corpus.select(vectors.as_double("embedding").alias("_v"))
        .filter(F.col("_v").isNotNull())
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(42)))
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([r._v for r in sample], dtype=np.float64)
    if x.ndim != 2 or x.shape[1] % m:
        dim = x.shape[1] if x.ndim == 2 else "?"
        raise ValueError(f"dim {dim} not divisible by m={m}")
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    return x[norms[:, 0] > 0] / norms[norms[:, 0] > 0]


def _fit_pq(x, m: int, n_codes: int) -> list[list[list[float]]]:
    """Per-subspace Lloyd k-means (8 iterations) over a (n, dim) matrix
    -- the shared fitting loop of train_pq (raw vectors) and the
    residual path of ivfpq_build (vector minus assigned centroid)."""
    import numpy as np

    dsub = x.shape[1] // m
    rng = np.random.default_rng(42)
    books = []
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        k0 = min(n_codes, len(xs))
        cent = xs[rng.permutation(len(xs))[:k0]].copy()
        for _ in range(8):
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k0):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append([[float(v) for v in row] for row in cent])
    return books


def _pq_encode_batches(batches, books, cents=None, residual=False):
    """The batch loop shared by encode_pq and encode_ivfpq: per Arrow
    batch of (neighbor_id, _cv), L2-normalize (zero-norm rows dropped),
    with ``cents`` assign each row its nearest centroid (subtracted
    first when ``residual``), and quantize every subspace to its
    nearest codeword. Yields (ids, cells or None, codes)."""
    import numpy as np

    m, dsub = len(books), books[0].shape[1]
    for pdf in batches:
        if not len(pdf):
            continue
        nids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
        xm = np.stack(pdf["_cv"].to_numpy()).astype(np.float64)
        if xm.shape[1] != m * dsub:
            raise ValueError(
                f"embedding has dimension {xm.shape[1]}, codebooks "
                f"built for {m * dsub}; retrain with matching m/dim"
            )
        nrm = np.linalg.norm(xm, axis=1)
        valid = nrm > 0
        nids, xm = nids[valid], xm[valid] / nrm[valid, None]
        if not len(nids):
            continue
        cell = None
        if cents is not None:
            cell = np.argmax(xm @ cents.T, axis=1)
            if residual:
                xm = xm - cents[cell]
        codes = np.empty((len(xm), m), dtype=np.int32)
        for j in range(m):
            xs = xm[:, j * dsub : (j + 1) * dsub]
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; drop the x term
            d2 = -2.0 * (xs @ books[j].T) + (books[j] ** 2).sum(axis=1)
            codes[:, j] = np.argmin(d2, axis=1)
        yield nids, cell, codes


def _query_luts(queries: DataFrame, books: list) -> tuple:
    """The query side shared by pq_topk_from_codes and
    ivfpq_topk_from_index: collect at most 10,000 queries (more raise
    -- the LUT set must stay broadcastable), check their dimension
    against the codebooks, L2-normalize (zero-norm queries dropped) and
    build LUT[q, j, c] = q_sub_j . codebook_j[c], so approx dot =
    sum_j LUT. Returns (query ids, unit query matrix, LUT)."""
    import numpy as np

    m, dsub = len(books), books[0].shape[1]
    q_rows = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            vectors.as_double("embedding").alias("_qv"),
        )
        .filter(F.col("_qv").isNotNull())
        .limit(10_001)
        .collect()
    )
    if len(q_rows) > 10_000:
        raise ValueError(
            "query set exceeds 10,000 queries; batch the queries (the "
            "LUT set must stay broadcastable)"
        )
    qids = np.asarray([r.query_id for r in q_rows], dtype=np.int64)
    qm = np.asarray([r._qv for r in q_rows], dtype=np.float64)
    if qm.ndim != 2 or qm.shape[1] != m * dsub:
        dim = qm.shape[1] if qm.ndim == 2 else "?"
        raise ValueError(
            f"embedding has dimension {dim}, codebooks built for {m * dsub}"
        )
    qnorm = np.linalg.norm(qm, axis=1)
    keep = qnorm > 0
    qids, qm = qids[keep], qm[keep] / qnorm[keep, None]
    lut = np.stack(
        [qm[:, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(m)],
        axis=1,
    )
    return qids, qm, lut


def encode_pq(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(neighbor_id, codes): each corpus vector L2-normalized and
    quantized to its nearest centroid per subspace -- the PQ build step
    made storable. Write the result as the corpus's search index (codes
    are ``m`` ints; the raw vectors never need to be read again at
    query time). Zero-norm vectors are excluded (undefined cosine).

    Distributed numpy over Arrow batches (mapInPandas): argmin over
    n_codes centroids per subspace is a GEMM-shaped batch op, the wrong
    fit for per-row codegen expressions.
    """
    import numpy as np
    import pandas as pd

    bc = corpus.sparkSession.sparkContext.broadcast(
        [np.asarray(b, dtype=np.float64) for b in codebooks]
    )

    def encode(batches):
        for nids, _, codes in _pq_encode_batches(batches, bc.value):
            yield pd.DataFrame({"neighbor_id": nids, "codes": list(codes)})

    return corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        vectors.as_double("embedding").alias("_cv"),
    ).mapInPandas(encode, "neighbor_id long, codes array<int>")


def pq_topk_from_codes(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
) -> DataFrame:
    """Approximate cosine top-k by asymmetric distance computation (ADC)
    over a stored PQ-code index: each query builds an (m x n_codes)
    lookup table of subspace dot products against the codebooks ONCE,
    then every corpus row scores as m table lookups summed -- no
    per-pair arithmetic on raw vectors, and the scan reads only the
    codes column. Per-batch partial top-k (same (rounded sim DESC, id
    ASC) total order as the final window rank) keeps the shuffle at
    O(parts x |Q| x k) rows, exactly the brute_force_topk_arrow shape.

    ``sim`` is the ADC approximation of cosine (query exact, neighbor
    quantized); ranking quality is pinned by recall tests, not equality.
    """
    import numpy as np
    import pandas as pd

    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import DELTA

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    qids, _, lut = _query_luts(queries, books)
    bc = codes.sparkSession.sparkContext.broadcast((qids, lut))
    scale = 10**4

    def score(batches):
        b_qids, b_lut = bc.value
        for pdf in batches:
            if not len(pdf) or not len(b_qids):
                continue
            nids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cm = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            # (|Q|, batch): ADC = sum over subspaces of LUT lookups
            sims = np.zeros((len(b_qids), len(nids)))
            for j in range(m):
                sims += b_lut[:, j, cm[:, j]]
            rounded = np.floor(sims.T * scale + (0.5 + DELTA)) / scale
            out_q, out_n, out_s = [], [], []
            for qi, qid in enumerate(b_qids):
                col = rounded[:, qi]
                mask = nids != qid
                ids_j, col_j = nids[mask], col[mask]
                top = np.lexsort((ids_j, -col_j))[:k]
                out_q.extend([qid] * len(top))
                out_n.extend(ids_j[top])
                out_s.extend(col_j[top])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    candidates = codes.select("neighbor_id", "codes").mapInPandas(
        score, "query_id long, neighbor_id long, sim double"
    )
    return _rank_topk(candidates, k)


def sq8_encode(
    corpus: DataFrame,
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization of the NORMALIZED
    embedding (the FAISS ScalarQuantizer / llama.cpp Q8 storage idea,
    per-row absmax-symmetric so there is NO trained model artifact and
    NO fit pass): each vector L2-normalizes, takes its own scale
    s = absmax/127, and stores codes[d] = floor(nv[d]/s + 0.5) in
    [-127, 127] plus the one double ``scale`` -- 8 significant bits per
    component where PQ keeps 8 bits per SUBSPACE. The storage tier
    between raw vectors (exact, 8 bytes/dim) and PQ codes (coarse,
    1 byte per dsub dims): ~4-8x smaller scans for near-exact
    brute-force rerank, the standard second stage after an
    LSH/IVF/PQ candidate pass.

    Returns (neighbor_id, scale, codes array<int>). Zero-norm vectors
    are excluded (undefined direction). Dequantization is
    codes[d] * scale, exact to |error| <= scale/2 per component.

    Scale shape: ONE narrow projection pass -- no shuffle, no sample,
    no driver artifact; everything is native expressions (transform /
    array_max / aggregate) inside whole-stage codegen, and the codes
    column's <= 255 distinct values dictionary-encode to ~1 byte each
    in parquet. Encode once, write beside the id, and the raw vector
    column never needs to be scanned again at query time."""
    v_sql = vectors.sql_of(vectors.as_double("embedding"))
    normed = corpus.filter(F.expr(vectors.norm_sql(v_sql)) > 0).select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            f"transform({v_sql}, x -> x / {vectors.norm_sql(v_sql)})"
        ).alias("_nv"),
    )
    return normed.select(
        "neighbor_id",
        F.expr("array_max(transform(_nv, x -> abs(x))) / 127.0D").alias(
            "scale"
        ),
        F.expr(
            "transform(_nv, x -> cast(floor(x / "
            "(array_max(transform(_nv, y -> abs(y))) / 127.0D) "
            "+ 0.5D) as int))"
        ).alias("codes"),
    )


def sq8_topk(
    queries: DataFrame,
    index: DataFrame,
) -> DataFrame:
    """Approximate cosine top-5 over an SQ8 store (sq8_encode output):
    broadcast the exact query set and score every index row by the
    cosine against the DEQUANTIZED vector (codes[d] * scale) -- the
    compressed brute-force scan, reading ~1 byte per component where
    brute_force_topk reads 8. Same deliberate broadcast-BNLJ baseline
    class as brute_force_topk (the documented waiver: the pruned paths
    are lsh/ivf/pq; THIS is the rerank stage that runs after them, on
    their bounded candidate sets or as the small-corpus exact-ish
    baseline). Returns (query_id, neighbor_id, rank, sim);
    self-matches excluded, ranking key (rounded sim DESC, neighbor id
    ASC) -- deterministic across engines."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        vectors.as_double("embedding").alias("_qv"),
    )
    dec = "transform(codes, c -> c * scale)"
    scored = (
        F.broadcast(q)
        .crossJoin(index.select("neighbor_id", "scale", "codes"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                F.expr(vectors.cosine_sql("_qv", dec)), 4
            ).alias("sim"),
        )
    )
    return _rank_topk(scored, 5)


def ivfpq_build(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_codes: int = 32,
    sample_size: int = 2048,
    residual: bool = True,
) -> tuple[list[list[float]], list[list[list[float]]], DataFrame]:
    """IVF-PQ index build (the FAISS IVFPQ composition, Jegou et al.
    2011 sect. V): a spherical-k-means coarse quantizer assigns every
    vector to a cell (IVF -- the probe prunes WHICH rows are scored)
    and per-subspace PQ codebooks compress each vector to 8 ints
    (PQ -- HOW the survivors are scored). Returns (centroids,
    codebooks, index) where index = (neighbor_id, cell, codes).

    ``residual=True`` (default, and the detail that makes IVFPQ
    accurate in practice) quantizes x - centroid(cell) instead of x:
    residuals have a fraction of the raw vectors' variance, so the same
    code budget spends its precision on the part the coarse quantizer
    didn't already explain. Search adds the exactly-known q.centroid
    term back per probed cell, so only the residual carries
    quantization error. Pass residual=False for a flat-PQ-compatible
    index (its codes score identically via pq_topk_from_codes).

    At 100 TB: write the index partitioned by ``cell``
    (sources/lake.py:write_partitioned) -- a probe reads n_probe
    partitions of an 8-byte-per-row table, so query cost is
    (n_probe/n_centroids) x (compressed corpus), while the raw vectors
    are never read after the build. Both models train on one
    deterministic sample; assignment and encoding are distributed in
    ONE pass over the corpus (encode_ivfpq)."""
    import numpy as np

    centroids = train_centroids(
        corpus, n_centroids=n_centroids, sample_size=sample_size
    )
    x = _sample_matrix(corpus, sample_size, 8)
    if residual:
        cents = np.asarray(centroids, dtype=np.float64)
        x = x - cents[np.argmax(x @ cents.T, axis=1)]
    codebooks = _fit_pq(x, 8, n_codes)
    index = encode_ivfpq(corpus, centroids, codebooks, residual=residual)
    return centroids, codebooks, index


def encode_ivfpq(
    corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    residual: bool = True,
) -> DataFrame:
    """(neighbor_id, cell, codes) in ONE distributed pass: normalize,
    assign the nearest centroid (cell), optionally subtract it, and
    PQ-encode -- cell assignment and code assignment share the batch,
    so the build scans the corpus once (vs assign + encode + join).
    Zero-norm vectors are excluded."""
    import numpy as np
    import pandas as pd

    bc = corpus.sparkSession.sparkContext.broadcast(
        (
            np.asarray(centroids, dtype=np.float64),
            [np.asarray(b, dtype=np.float64) for b in codebooks],
        )
    )

    def encode(batches):
        cents, books = bc.value
        for nids, cell, codes in _pq_encode_batches(
            batches, books, cents, residual
        ):
            yield pd.DataFrame(
                {
                    "neighbor_id": nids,
                    "cell": cell.astype(np.int32),
                    "codes": list(codes),
                }
            )

    return corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        vectors.as_double("embedding").alias("_cv"),
    ).mapInPandas(encode, "neighbor_id long, cell int, codes array<int>")


def ivfpq_topk_from_index(
    queries: DataFrame,
    index: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    residual: bool = True,
) -> DataFrame:
    """Approximate cosine top-k over a stored IVF-PQ index: each query
    probes its ``n_probe`` nearest cells (a cell equi-join -- on a
    cell-partitioned index this is partition pruning, no corpus
    shuffle), and the surviving candidates score by ADC against the
    query's broadcast lookup tables inside one Arrow batch pass.
    Full probe (n_probe == n_centroids) with ``residual=False``
    degenerates to exactly pq_topk_from_codes -- pinned in tests.

    ``residual`` must match the index build: residual codes reconstruct
    x ~= centroid(cell) + r, so the score is q.centroid (exact, carried
    on the probe row -- the probe already computed every q.centroid
    dot) + sum_j LUT_j[code_j] (the ADC part, now only as wrong as the
    residual quantization).

    The candidate frame never carries vectors: (query_id, neighbor_id,
    codes) rows are m ints wide, and the per-batch gather
    ``lut[row_query, subspace, code]`` is one fancy-index per batch."""
    import numpy as np
    import pandas as pd

    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import DELTA

    spark = index.sparkSession
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    qids, qm, lut = _query_luts(queries, books)
    # probe cells driver-side (|Q| x n_centroids dots -- the query set
    # is bounded by contract) and ship (query_id, cell) pairs; the LUTs
    # travel once by broadcast
    cents = np.asarray(centroids, dtype=np.float64)
    qdots = qm @ cents.T
    order = np.argsort(-qdots, axis=1)[:, :n_probe]
    probe = local_frame(
        spark,
        [
            (
                int(qids[i]),
                int(c),
                float(qdots[i, c]) if residual else 0.0,
            )
            for i in range(len(qids))
            for c in order[i]
        ],
        "query_id LONG, cell INT, base DOUBLE",
    )
    pos = {int(q): i for i, q in enumerate(qids)}
    bc = spark.sparkContext.broadcast((pos, lut))
    scale = 10**4

    def score(batches):
        b_pos, b_lut = bc.value
        for pdf in batches:
            if not len(pdf) or not b_pos:
                continue
            qarr = pdf["query_id"].to_numpy(dtype=np.int64)
            nids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cm = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            qpos = np.asarray([b_pos[q] for q in qarr])
            sims = pdf["base"].to_numpy(dtype=np.float64).copy()
            for j in range(m):
                sims += b_lut[qpos, j, cm[:, j]]
            rounded = np.floor(sims * scale + (0.5 + DELTA)) / scale
            keep_row = qarr != nids
            out = pd.DataFrame(
                {
                    "query_id": qarr[keep_row],
                    "neighbor_id": nids[keep_row],
                    "sim": rounded[keep_row],
                }
            )
            # per-batch partial top-k per query (same total order as the
            # final rank) -- the map-side combine that bounds the shuffle
            out = (
                out.sort_values(
                    ["query_id", "sim", "neighbor_id"],
                    ascending=[True, False, True],
                )
                .groupby("query_id", sort=False)
                .head(k)
            )
            yield out

    candidates = (
        F.broadcast(probe)
        .join(index, "cell")
        .select("query_id", "neighbor_id", "codes", "base")
        .mapInPandas(score, "query_id long, neighbor_id long, sim double")
    )
    return _rank_topk(candidates, k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index: a
    spherical-k-means coarse quantizer partitions the corpus into
    ``n_centroids`` cells; each corpus vector lands in exactly ONE cell
    (argmax centroid dot), each query probes its ``n_probe`` nearest
    cells. The cross product becomes a cell equi-join touching roughly
    n_probe/n_centroids of the corpus per query.

    vs lsh_topk: IVF is data-adaptive (centroids follow the actual
    distribution, so clustered corpora get high recall at low probe
    cost) where hyperplane LSH is data-oblivious. At 100 TB the cell id
    doubles as a partition key: write the corpus partitioned by cell and
    probes prune to n_probe partitions at scan time (no query-time
    shuffle of the corpus at all). Candidate pairs are unique by
    construction (one cell per corpus row, distinct probe cells per
    query), so no dedup step is needed before scoring.

    ``centroids`` overrides the k-means fit with a FIXED coarse
    quantizer (e.g. md5_centroids for the cross-engine-reproducible
    driver query, or centroids persisted from an earlier fit so an
    incremental corpus keeps a stable cell layout).
    """
    if centroids is None:
        centroids = train_centroids(corpus, id_col, n_centroids)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        vectors.as_double("embedding").alias("_qv"),
    )
    cb = assign_cells(corpus, centroids, id_col)
    qb = (
        q.withColumn(
            "_probe",
            F.slice(
                F.sort_array(_cell_sims("_qv", centroids), asc=False),
                1,
                n_probe,
            ),
        )
        .select("query_id", "_qv", F.explode("_probe").alias("p"))
        .select("query_id", "_qv", F.col("p.cell").alias("cell"))
    )
    scored = (
        qb.join(cb, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                vectors.cosine_expr("_qv", "_cv"), 4
            ).alias("sim"),
        )
    )
    return _rank_topk(scored, k)


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    positives: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query anchor,
    the ``k`` MOST SIMILAR corpus items that are not that anchor's
    positives -- the near-the-decision-boundary complement of the
    uniform sampler (operators/corpus.py:negative_samples). Training on
    hard negatives is what makes a bi-encoder discriminate lookalikes;
    uniform negatives alone saturate early.

    ``positives`` maps (anchor_id, positive_id) pairs onto the
    query/corpus id space. The anti-join happens BEFORE ranking, on the
    full scored frame, so the result is EXACT: no overfetch heuristic,
    no risk of positives crowding the window out of true negatives.
    Self-matches are excluded like every search path here.

    Returns (query_id, neighbor_id, rank, sim) with brute_force_topk's
    deterministic (rounded sim DESC, id ASC) ordering -- the same
    ranking tail, so the DuckDB twin replays it exactly. Scale contract
    matches brute_force_topk: the QUERY side is the bounded set (a
    training batch's anchors), broadcast against the corpus; swap the
    scorer for an ANN path when the anchor set itself is corpus-sized.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        vectors.as_double("embedding").alias("_qv"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        vectors.as_double("embedding").alias("_cv"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            stable_round(
                vectors.cosine_expr("_qv", "_cv"), 4
            ).alias("sim"),
        )
    )
    pos = positives.select(
        F.col("anchor_id").alias("query_id"),
        F.col("positive_id").alias("neighbor_id"),
    )
    return _rank_topk(scored.join(pos, ["query_id", "neighbor_id"], "left_anti"), k)


def mips_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact MAXIMUM-INNER-PRODUCT top-k: the recommendation flavor of
    brute_force_topk (user . item scores from factor models rank by raw
    dot product -- cosine would erase the magnitude that encodes item
    popularity/quality in ALS factors). Broadcast queries, score every
    corpus row with the JVM dot fold, rank per query on (rounded score
    DESC, neighbor id ASC). No self-exclusion: queries and corpus are
    different entity spaces (users vs items). Returns (query_id,
    neighbor_id, rank, sim) -- ``sim`` carries the inner product.

    Exact and brute force: every query meets every corpus vector."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        vectors.as_double("embedding").alias("_qv"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        vectors.as_double("embedding").alias("_cv"),
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        stable_round(
            F.expr(vectors.dot_sql(vectors.sql_of("_qv"), vectors.sql_of("_cv"))),
            4,
        ).alias("sim"),
    )
    return _rank_topk(scored, k)
