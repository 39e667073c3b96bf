"""Distributed spherical k-means (Lloyd's) over embedding columns.

The reference has no clustering operator; this completes the ANN
index-build story (similarity.py): `train_centroids` fits on a bounded
driver sample — the classic train-small / assign-distributed split —
and `kmeans_refine` here runs full Lloyd iterations over the ENTIRE
corpus as DataFrame ops, so the quantizer converges on all the data,
not a 2048-row sketch of it. At 100 TB the per-iteration cost is one
broadcast of k x dim centroid literals into a codegen'd argmax (no
join, no shuffle of vectors) plus ONE hash aggregation producing k
rows of dim running means; only those k x dim doubles ever reach the
driver — the same bounded-materialization discipline as the PQ/IVF
trainers.

Spherical (cosine) geometry throughout, matching the IVF/PQ stack:
vectors and centroids are compared by dot product against L2-normalized
centroids, and the Lloyd update renormalizes the cluster mean — the
spherical k-means of Dhillon & Modha (2001), whose objective (mean max
cosine) is non-decreasing under this exact update (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.functions import vectors
from bigdata_storage_and_proccess_job_data_spark.operators.similarity import (
    _cell_sims,
    train_centroids,
)


def _unit_vectors(corpus: DataFrame, vec_col: str) -> DataFrame:
    """(_v): the corpus vectors L2-normalized row-side (zero/NULL
    vectors drop), so assignment and update both see unit vectors —
    Dhillon-Modha spherical k-means exactly, and the same
    normalization train_centroids applies to its sample."""
    return (
        corpus.select(vectors.as_double(vec_col).alias("_raw"))
        .filter(F.col("_raw").isNotNull())
        .withColumn("_n", vectors.norm(F.col("_raw")))
        .filter(F.col("_n") > 0)
        .select(
            F.transform(
                F.col("_raw"), lambda x: x / F.col("_n")
            ).alias("_v")
        )
    )


def _normalized(rows: "list[list[float]]"):
    import numpy as np

    c = np.asarray(rows, dtype=np.float64)
    n = np.linalg.norm(c, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return c / n


def kmeans_refine(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    n_iters: int = 5,
) -> list[list[float]]:
    """Full-corpus Lloyd refinement of ``centroids`` (spherical).
    Each iteration: argmax-cosine assignment inside codegen, one hash
    agg of per-cell component means (k rows x dim sibling avg
    expressions — a single map-side-combinable aggregate), renormalize
    on the driver. Empty cells keep their previous centroid. NULL
    vectors are ignored. Returns the refined centroid list (same k,
    same dim, each row unit-norm)."""
    if n_iters < 0:
        raise ValueError("n_iters must be >= 0")
    if not centroids:
        raise ValueError("centroids must be non-empty")
    dim = len(centroids[0])
    v = _unit_vectors(corpus, vec_col).persist()
    try:
        cent = _normalized(centroids)
        for _ in range(n_iters):
            cents = [[float(x) for x in row] for row in cent]
            assigned = v.withColumn(
                "_cell",
                F.array_max(_cell_sims("_v", cents))["cell"],
            )
            agg = (
                assigned.groupBy("_cell")
                .agg(
                    F.count(F.lit(1)).alias("_n"),
                    *[
                        F.avg(F.col("_v")[i]).alias(f"_m{i}")
                        for i in range(dim)
                    ],
                )
                .collect()  # bounded: k rows x dim doubles
            )
            nxt = cent.copy()
            for r in agg:
                mean = [r[f"_m{i}"] for i in range(dim)]
                nxt[r["_cell"]] = mean
            cent = _normalized(nxt)
        return [[float(x) for x in row] for row in cent]
    finally:
        v.unpersist()


def kmeans_fit(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_size: int = 2048,
    sample_iters: int = 5,
    refine_iters: int = 5,
    seed: int = 42,
) -> list[list[float]]:
    """End-to-end distributed k-means: deterministic-sample init
    (train_centroids — xxhash64-ordered, partition-invariant) followed
    by ``refine_iters`` full-corpus Lloyd rounds. Drop-in wherever
    train_centroids is used today (ivf_topk / ivfpq_build accept any
    centroid list), with the fit quality of the whole corpus."""
    init = train_centroids(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        sample_size=sample_size,
        n_iters=sample_iters,
        seed=seed,
    )
    return kmeans_refine(
        corpus, init, vec_col=vec_col, n_iters=refine_iters
    )


def kmeans_objective(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> float:
    """Mean max-cosine of each vector to its nearest centroid — the
    spherical k-means objective (higher is tighter). One scan, one
    scalar to the driver."""
    cents = [[float(x) for x in row] for row in _normalized(centroids)]
    row = (
        _unit_vectors(corpus, vec_col)
        .select(
            F.array_max(_cell_sims("_v", cents))["sim"].alias(
                "_s"
            )
        )
        .agg(F.avg("_s").alias("obj"))
        .collect()[0]  # bounded driver scalar
    )
    return float(row["obj"]) if row["obj"] is not None else 0.0


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding clustering -- k-means partitions the
    corpus into cells, cosine pairs are computed ONLY within a cell,
    near-duplicate sets collapse transitively, and one representative
    per set survives. Catches paraphrases and templated rewrites that
    share no n-grams (invisible to minhash/simhash) while never
    materializing the all-pairs product.

    Returns (``id_col``, cell, component, is_keeper): ``component`` is
    the min id reachable through the within-cell pair graph
    (neardup.connected_components) and ``is_keeper`` marks the one
    surviving row per duplicate set (the min id -- deterministic,
    unlike the paper's random representative). Filter
    ``is_keeper`` for the deduplicated corpus; the non-keepers ARE the
    semantic-duplicate report.

    Scale shape: assignment is the IVF coarse-quantizer path
    (codegen'd argmax over k broadcast centroids, no shuffle of
    vectors); the quadratic term is bounded per cell at (n/k)^2 --
    size ``n_centroids`` ~ n / target_cell_size so cells stay
    partition-sized (SemDeDup's own trick for web-scale corpora).
    Known approximation, same as the paper's: a cross-CELL
    near-duplicate pair is never compared (quantization boundary), so
    recall is bounded by the clustering; raise n_probe-style coverage
    by lowering ``threshold`` or k. Centroids may be passed in
    (persisted fit, or md5_centroids for engine-portable runs)."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    from bigdata_storage_and_proccess_job_data_spark.operators import neardup
    from bigdata_storage_and_proccess_job_data_spark.operators.similarity import (
        assign_cells,
    )

    if centroids is None:
        centroids = kmeans_fit(
            corpus, id_col, vec_col, n_centroids=n_centroids
        )
    assigned = assign_cells(corpus, centroids, id_col, vec_col).select(
        F.col("neighbor_id").alias("_id"), "_cv", "cell"
    )
    a = assigned.select(
        F.col("_id").alias("id_a"), F.col("_cv").alias("_va"), "cell"
    )
    b = assigned.select(
        F.col("_id").alias("id_b"), F.col("_cv").alias("_vb"), "cell"
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            vectors.cosine(F.col("_va"), F.col("_vb"))
            >= F.lit(float(threshold))
        )
        .select("id_a", "id_b")
    )
    comp = neardup.connected_components(pairs)
    return (
        assigned.select(F.col("_id").alias(id_col), "cell")
        .join(
            comp.select(
                F.col("id").alias(id_col),
                F.col("component"),
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            "cell",
            F.coalesce(F.col("component"), F.col(id_col)).alias(
                "component"
            ),
            (
                F.coalesce(F.col("component"), F.col(id_col))
                == F.col(id_col)
            ).alias("is_keeper"),
        )
    )


def davies_bouldin(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> float:
    """Davies-Bouldin index of a centroid set over the corpus: mean over
    clusters of max_{j!=i} (S_i + S_j) / M_ij, with S_i the mean
    Euclidean distance of a cell's UNIT vectors to its unit centroid and
    M_ij the distance between unit centroids -- the spherical-k-means
    flavor of the classic internal quality score (lower = tighter,
    better-separated; Davies & Bouldin 1979). Complements
    kmeans_objective (which has no separation term, so it cannot see
    two centroids collapsing onto one cloud).

    One scan: argmax-cosine assignment inside codegen, one k-row hash
    agg of per-cell mean distance (sqrt(2 - 2 cos) on unit vectors);
    the k x k centroid-distance matrix and the max-ratio fold run on
    the driver (bounded: k rows, k^2 floats). Cells no vector landed in
    are skipped (their S is undefined); a single non-empty cell returns
    0.0 by convention."""
    import math as _math

    cents = [[float(x) for x in row] for row in _normalized(centroids)]
    sims = F.array_max(_cell_sims("_v", cents))
    per = (
        _unit_vectors(corpus, vec_col)
        .select(
            sims["cell"].alias("_cell"),
            F.sqrt(
                F.greatest(2.0 - 2.0 * sims["sim"], F.lit(0.0))
            ).alias("_d"),
        )
        .groupBy("_cell")
        .agg(F.avg("_d").alias("_s"), F.count(F.lit(1)).alias("_n"))
        .collect()  # bounded: k rows
    )
    scatter = {r["_cell"]: float(r["_s"]) for r in per}
    live = sorted(scatter)
    if len(live) <= 1:
        return 0.0
    worst = []
    for i in live:
        best = 0.0
        for j in live:
            if j == i:
                continue
            m = _math.sqrt(
                max(
                    sum((a - b) ** 2 for a, b in zip(cents[i], cents[j])),
                    1e-300,
                )
            )
            best = max(best, (scatter[i] + scatter[j]) / m)
        worst.append(best)
    return float(sum(worst) / len(worst))
