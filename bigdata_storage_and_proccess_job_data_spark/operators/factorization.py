"""Matrix factorization over (user, item, rating) frames: alternating
least squares with deterministic md5 initialization.

Why this belongs in the engine: interaction logs are the third data
modality the stack curates (documents -> corpus.py, embeddings ->
similarity.py, events/interactions -> here), and factor models are how
interaction data becomes embeddings -- the learned user/item vectors
feed the SAME downstream operators (knn_* retrieval, semantic_dedup,
hard_negatives mining for recommender training sets). This is the
public ALS shape (Zhou et al. 2008; Spark MLlib's own recommendation
model) restated as DataFrame joins + a per-group closed-form solve.

Scale design (100 TB of interactions):
- Each half-iteration is: one equi-join of the ratings against the
  currently-fixed side's factor frame (shuffle on that key -- or
  broadcast when one side is dimension-sized), then ONE
  applyInPandas per solved entity whose payload is (its ratings x
  rank) doubles -- the per-group bound is a single user's/item's
  history, never the matrix. The d x d normal-equation solve is
  closed-form; nothing iterative happens inside a group. Honest
  hub caveat: power-law interaction data makes a head item's
  history ITSELF huge (every applyInPandas op's per-group bound);
  pre-cap with a deterministic per-pair md5 coin
  (corpus.hash_bucket on the hot side) before fitting --
  a bounded uniform sample of a 100M-row history loses nothing a
  rank-8 least-squares solve could have used. The blocked
  formulation (MLlib's user-block x item-block joins) is the
  upgrade path if exact hub histories ever matter.
- Factor frames are O(entities x rank) rows, localCheckpointed per
  half-step (the pagerank/connected_components lineage discipline).
- Initialization is the repo's md5 determinism coin -- factors are a
  pure function of (id, dimension, salt), reproducible across
  sessions, partitionings, and engines with no RNG state; the replica
  test regenerates them in pure Python.
- Per-group rows are sorted by the joined id before the numpy fold,
  so each solve's floating-point order is deterministic -- fits are
  bit-reproducible run to run (asserted), which no seed-based
  distributed init gives.

Test-only by design (iterative, the kmeans/pca_fit precedent): exact
numpy-ALS replica equality + planted low-rank recovery in
tests/test_factorization.py. Scoring joins are plain DataFrame ops any
query can compose.

No reference analogue (the reference has no model fitting at all).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DENOM = float(1 << 60)


def _factor_expr(id_col: str, j: int, salt: str, scale: float) -> Column:
    """One md5-uniform factor component in [-scale/2, scale/2):
    a pure function of (id, dimension, salt)."""
    u = F.expr(
        "conv(substring(md5(concat_ws(':', cast(`"
        + id_col
        + "` as string), '"
        + salt
        + "', '"
        + str(j)
        + "')), 1, 15), 16, 10)"
    ).cast("double") / F.lit(_DENOM)
    return (u - F.lit(0.5)) * F.lit(scale)


def init_factors(
    df: DataFrame, id_col: str, rank: int, salt: str = "als"
) -> DataFrame:
    """Deterministic factor frame (id, factors: array<double>) for the
    distinct ids of ``id_col`` -- components md5-uniform in
    [-1/(2*sqrt(rank)), 1/(2*sqrt(rank))), so initial predictions have
    O(1) magnitude regardless of rank."""
    scale = 1.0 / (rank**0.5)
    return (
        df.select(F.col(id_col).alias("id"))
        .distinct()
        .select(
            "id",
            F.array(
                *[
                    _factor_expr("id", j, salt, scale)
                    for j in range(rank)
                ]
            ).alias("factors"),
        )
    )


def init_factors_py(ids, rank: int, salt: str = "als") -> dict:
    """Pure-Python twin of ``init_factors`` (the replica-test bridge;
    same md5 coin, bit-equal values)."""
    scale = 1.0 / (rank**0.5)
    out = {}
    for i in ids:
        vec = []
        for j in range(rank):
            h = hashlib.md5(
                f"{i}:{salt}:{j}".encode()
            ).hexdigest()[:15]
            u = int(h, 16) / _DENOM
            vec.append((u - 0.5) * scale)
        out[i] = vec
    return out


def _solve_side(
    ratings: DataFrame,
    fixed: DataFrame,
    solve_col: str,
    fixed_col: str,
    rating_col: str,
    rank: int,
    reg: float,
    broadcast_fixed: bool,
) -> DataFrame:
    """One ALS half-step: solve ``solve_col``'s factors with
    ``fixed_col``'s held constant. Join ratings to the fixed factor
    frame, then one closed-form d x d solve per solved entity."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    f = fixed.select(
        F.col("id").alias(fixed_col), F.col("factors").alias("_ff")
    )
    j = ratings.join(F.broadcast(f) if broadcast_fixed else f, fixed_col)
    out_schema = StructType(
        [
            j.schema[solve_col],
            StructField("factors", ArrayType(DoubleType())),
        ]
    )

    def solve(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(fixed_col, kind="mergesort")
        y = np.stack(pdf["_ff"].to_numpy()).astype(np.float64)
        r = pdf["_r"].to_numpy().astype(np.float64)
        a = y.T @ y + reg * np.eye(rank)
        x = np.linalg.solve(a, y.T @ r)
        return pd.DataFrame(
            {solve_col: [pdf[solve_col].iloc[0]], "factors": [x]}
        )

    return (
        j.select(
            solve_col, fixed_col, F.col(rating_col).alias("_r"), "_ff"
        )
        .groupBy(solve_col)
        .applyInPandas(solve, schema=out_schema)
        .select(F.col(solve_col).alias("id"), "factors")
    )


def als_fit(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    rank: int = 8,
    iters: int = 10,
    reg: float = 0.1,
    salt: str = "als",
    broadcast_items: bool = False,
) -> dict:
    """Alternating least squares: returns {"user_factors": DF(id,
    factors), "item_factors": DF(id, factors), "rank": rank}. Each of
    the ``iters`` rounds solves users against fixed item factors, then
    items against the new user factors (see module docstring for the
    per-half-step cost shape). ``reg`` is the plain L2 ridge on every
    solve (the ALS-WR per-count scaling is a caller-side variant:
    pre-scale ratings). ``broadcast_items=True`` broadcasts the item
    factor frame into both half-steps' joins -- right when items are
    dimension-sized (catalogs), wrong when both sides are huge."""
    if rank < 1:
        raise ValueError("rank must be >= 1")
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if reg < 0:
        raise ValueError("reg must be >= 0")
    r = ratings.select(
        F.col(user_col).alias("_u"),
        F.col(item_col).alias("_i"),
        F.col(rating_col).cast("double").alias("_r"),
    ).filter(
        F.col("_u").isNotNull()
        & F.col("_i").isNotNull()
        & F.col("_r").isNotNull()
    )
    r = r.persist()
    try:
        items = init_factors(r, "_i", rank, salt).localCheckpoint()
        users = None
        for _ in range(iters):
            users = _solve_side(
                r, items, "_u", "_i", "_r", rank, reg, broadcast_items
            ).localCheckpoint()
            items = _solve_side(
                r, users, "_i", "_u", "_r", rank, reg, False
            ).localCheckpoint()
        return {
            "user_factors": users,
            "item_factors": items,
            "rank": rank,
        }
    finally:
        r.unpersist()


def predict(
    ratings: DataFrame,
    model: dict,
    user_col: str,
    item_col: str,
    out_col: str = "pred",
) -> DataFrame:
    """Score (user, item) pairs with a fitted model: two equi-joins +
    the sequential-fold dot product (bit-reproducible; the
    vectors.dot fold). Pairs with an unseen user or item emit NULL."""
    from bigdata_storage_and_proccess_job_data_spark.functions import (
        vectors,
    )

    uf = model["user_factors"].select(
        F.col("id").alias(user_col), F.col("factors").alias("_uf")
    )
    itf = model["item_factors"].select(
        F.col("id").alias(item_col), F.col("factors").alias("_if")
    )
    return (
        ratings.join(uf, user_col, "left")
        .join(itf, item_col, "left")
        .withColumn(
            out_col,
            F.when(
                F.col("_uf").isNotNull() & F.col("_if").isNotNull(),
                vectors.dot(F.col("_uf"), F.col("_if")),
            ),
        )
        .drop("_uf", "_if")
    )


def rmse(
    ratings: DataFrame,
    model: dict,
    user_col: str,
    item_col: str,
    rating_col: str,
) -> float:
    """Root-mean-squared error of the model on the given pairs (seen
    users/items only) -- one bounded scalar."""
    p = predict(ratings, model, user_col, item_col)
    row = p.filter(F.col("pred").isNotNull()).agg(
        F.sqrt(
            F.avg(
                (F.col(rating_col).cast("double") - F.col("pred")) ** 2
            )
        )
    ).first()
    return float(row[0]) if row and row[0] is not None else float("nan")


def recommend_topk(
    model: dict,
    k: int = 10,
    seen: DataFrame | None = None,
    user_col: str = "user",
    item_col: str = "item",
) -> DataFrame:
    """Per-user top-k item recommendations from a fitted ALS model: the
    factor frames rank by RAW inner product (similarity.mips_topk --
    cosine would erase the magnitude ALS encodes as item quality), with
    the user's already-interacted items excluded via an anti-join on
    ``seen`` (pass the training interactions; None scores the full
    catalog). Returns (user_col, item_col, rank, score); ranks are
    re-numbered AFTER the exclusion so every user gets k fresh items.

    Scale shape: mips_topk broadcasts the user factors and scores item
    batches map-side with a deterministic (rounded score DESC, item id)
    order; the exclusion anti-join shuffles only (user, item) id pairs.
    Over-fetch: k + the user's max seen count would be exact; this
    fetches 4k + 16 candidates before exclusion (documented bound --
    a user who has seen more than 3k + 16 of their own top candidates
    gets fewer than k rows; raise ``k`` headroom upstream for
    heavy-history users, or pre-cap history like the ALS hub recipe)."""
    from bigdata_storage_and_proccess_job_data_spark.operators import (
        similarity,
    )

    if k < 1:
        raise ValueError("k must be >= 1")
    fetch = 4 * k + 16
    cand = similarity.mips_topk(
        model["user_factors"].select("id", F.col("factors").alias("embedding")),
        model["item_factors"].select("id", F.col("factors").alias("embedding")),
        query_id="id",
        corpus_id="id",
        vec_col="embedding",
        k=fetch,
    ).select(
        F.col("query_id").alias(user_col),
        F.col("neighbor_id").alias(item_col),
        F.col("sim").alias("score"),
    )
    if seen is not None:
        s = seen.select(
            F.col(user_col).alias(user_col), F.col(item_col).alias(item_col)
        ).distinct()
        cand = cand.join(s, [user_col, item_col], "left_anti")
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col("score").desc(), F.col(item_col).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            user_col, item_col, F.col("rank").cast("long").alias("rank"),
            "score",
        )
    )
