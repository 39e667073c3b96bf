"""Embedding dimensionality reduction: exact distributed PCA (one-pass
tree-aggregated Gram moments + bounded driver eigendecomposition) and
deterministic Johnson-Lindenstrauss sign projection.

Why this belongs in a training-data engine: embedding columns drive the
semantic stack (SemDeDup, cosine near-dup, ANN retrieval), and at
corpus scale the embedding width is the cost multiplier -- every
shuffle, every index, every distance computation pays O(dim). PCA
whitening is SemDeDup's own preprocessing (Abbas et al. 2023 operate
on normalized/centered embeddings), and JL sign projection (Achlioptas
2001: entries +-1/sqrt(q) preserve pairwise distances within (1+-eps)
for q = O(log n / eps^2)) compresses vectors BEFORE they ever shuffle,
so the LSH/IVF/PQ paths downstream index q-dim codes instead of d-dim
floats.

Scale design (100 TB):
- The PCA fit is ONE pass: each Arrow batch folds to a single
  (count, sum_d, Gram_dxd) partial via numpy GEMM (the knn_arrow
  precedent -- similarity.py), so only #batches rows of 1+d+d^2
  doubles ever leave the executors; there is no shuffle at all, just a
  bounded driver collect (documented, the kmeans/centroid precedent).
  The eigendecomposition is O(d^3) on d x d -- driver-side by design,
  like every published distributed PCA (e.g. Spark MLlib's own
  RowMatrix.computePrincipalComponents).
- Projection (PCA apply and JL) is a pure Column expression -- the
  model rides into the plan as literal arrays, executes inside
  whole-stage codegen at scan speed, broadcasts nothing, shuffles
  nothing. The fold is functions/vectors.dot's sequential fold, which
  DuckDB's list_dot_product reproduces bit-exactly, so applies are
  oracle-checkable (fit is numpy-replica-checked, the kmeans
  precedent for driver-side linear algebra).
- JL signs are md5-derived (the repo's determinism coin): the matrix
  is a pure function of (salt, i, j), reproducible across engines,
  sessions, and partitionings without any RNG state.

No reference analogue (the reference has no vector ops at all); this
extends the similarity/clustering family the beyond-reference mandate
asks for.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.functions import vectors


def _lit_vec(xs) -> Column:
    return F.array(*[F.lit(float(x)) for x in xs])


def gram_moments(df: DataFrame, vec_col: str):
    """Exact (n, sum, X^T X) of an array<float|double> column in one
    pass. Per-Arrow-batch numpy partials -> bounded driver fold; rows
    with null vectors are excluded, a ragged width raises (numpy stack
    fails loudly rather than silently truncating).

    Returns (n: int, s: np.ndarray[d], g: np.ndarray[d, d])."""
    import numpy as np
    import pandas as pd

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(m)],
                    "s": [m.sum(axis=0)],
                    "g": [(m.T @ m).ravel()],
                }
            )

    parts = (
        df.select(vectors.as_double(vec_col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .mapInPandas(partial, "n long, s array<double>, g array<double>")
        # bounded collect: one row of 1+d+d^2 doubles per Arrow batch
        .collect()
    )
    if not parts:
        raise ValueError(f"no non-null vectors in column {vec_col!r}")
    n = sum(p.n for p in parts)
    s = np.sum([np.asarray(p.s) for p in parts], axis=0)
    d = len(s)
    g = np.sum([np.asarray(p.g).reshape(d, d) for p in parts], axis=0)
    return n, s, g


def pca_fit(df: DataFrame, vec_col: str, q: int) -> dict:
    """Exact PCA of an embedding column: top-``q`` eigenvectors of the
    sample covariance ((X^T X - n m m^T) / (n-1)) from ONE distributed
    pass (gram_moments) plus an O(d^3) driver ``eigh``. Deterministic
    sign convention: each component's largest-|entry| coordinate is
    made positive (first index on ties), so refits are reproducible.

    Returns a plain-python model dict (broadcast-free -- it enters
    plans as literals): {"mean": [d], "components": [[d]] * q (rows,
    eigenvalue-descending), "eigvals": [q], "n": int}.

    Numpy-replica-parity tested (driver-side linear algebra, the
    kmeans_refine precedent); ``pca_apply`` with a fixed model is the
    oracle-checkable half."""
    import numpy as np

    n, s, g = gram_moments(df, vec_col)
    d = len(s)
    if not 1 <= q <= d:
        raise ValueError(f"q must be in [1, {d}], got {q}")
    if n < 2:
        raise ValueError("pca_fit needs at least 2 vectors")
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / (n - 1)
    cov = (cov + cov.T) / 2.0  # exact-symmetrize fp residue for eigh
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:q]
    comps = []
    eigvals = []
    for idx in order:
        vec = v[:, idx].copy()
        i = int(np.argmax(np.abs(vec)))
        if vec[i] < 0:
            vec = -vec
        comps.append([float(x) for x in vec])
        eigvals.append(float(w[idx]))
    return {
        "mean": [float(x) for x in mean],
        "components": comps,
        "eigvals": eigvals,
        "n": int(n),
    }


def pca_apply(
    df: DataFrame,
    vec_col: str,
    model: dict,
    whiten: bool = False,
    digits: int | None = None,
) -> DataFrame:
    """Project ``vec_col`` onto a fitted PCA model: out[j] =
    (v - mean) . component_j, optionally / sqrt(eigval_j + 1e-9)
    (whitening -- unit variance per component, the SemDeDup/cosine
    preprocessing). Pure Column expressions (model as literal arrays,
    sequential fold == DuckDB list_dot_product), zero shuffle, scan
    speed. ``digits`` stable-rounds each coordinate for cross-engine
    hash comparison."""
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        stable_round,
    )

    centered = F.zip_with(
        vectors.as_double(vec_col), _lit_vec(model["mean"]), lambda x, m: x - m
    )
    cols = []
    for j, comp in enumerate(model["components"]):
        c = vectors.dot(F.col("_centered"), _lit_vec(comp))
        if whiten:
            c = c / math.sqrt(model["eigvals"][j] + 1e-9)
        if digits is not None:
            c = stable_round(c, digits)
        cols.append(c)
    return (
        df.withColumn("_centered", centered)
        .withColumn("proj", F.array(*cols))
        .drop("_centered")
    )


def jl_signs(in_dim: int, out_dim: int, salt: str = "jl") -> list[list[float]]:
    """Deterministic Achlioptas sign matrix: entry (j, i) is
    +-1/sqrt(out_dim) by the low bit of md5(f"{salt}:{i}:{j}") -- the
    repo's md5 determinism coin, reproducible across engines with no
    RNG state. Returned row-major: out_dim rows of in_dim entries."""
    scale = 1.0 / math.sqrt(out_dim)
    rows = []
    for j in range(out_dim):
        row = []
        for i in range(in_dim):
            h = hashlib.md5(f"{salt}:{i}:{j}".encode()).hexdigest()
            row.append(scale if int(h[:8], 16) & 1 else -scale)
        rows.append(row)
    return rows


def jl_project(
    df: DataFrame,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    salt: str = "jl",
    digits: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss compression of an embedding column via the
    deterministic sign matrix (jl_signs): out[j] = v . signs_j.
    Achlioptas 2001 gives (1+-eps) pairwise-distance preservation for
    out_dim = O(log n / eps^2); the win at corpus scale is that every
    DOWNSTREAM byte -- shuffles, LSH/IVF indexes, PQ codebooks --
    shrinks by in_dim/out_dim before any of them run. Pure expression
    fold (literal sign arrays, zero shuffle); exactly reproducible in
    DuckDB via list_dot_product on the same literals, so this one IS
    oracle-checkable end to end."""
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        stable_round,
    )

    cols = []
    for row in jl_signs(in_dim, out_dim, salt):
        c = vectors.dot(vectors.as_double(vec_col), _lit_vec(row))
        if digits is not None:
            c = stable_round(c, digits)
        cols.append(c)
    return df.withColumn("proj", F.array(*cols))


def mahalanobis_fit(df: DataFrame, vec_col: str, ridge: float = 1e-9) -> dict:
    """Multivariate outlier model: mean vector + INVERSE covariance of
    an embedding column, from the same one-pass gram_moments as pca_fit
    plus an O(d^3) driver inversion (numpy-replica-tested, the
    pca_fit/kmeans precedent). ``ridge`` adds a tiny diagonal before
    inverting so a near-singular covariance (collinear dims) fails soft
    instead of exploding; raise it for aggressively degenerate data.

    Returns a plain-python model dict (enters plans as literals):
    {"mean": [d], "inv_cov": [[d]] * d, "n": int}."""
    import numpy as np

    n, s, g = gram_moments(df, vec_col)
    if n < 2:
        raise ValueError("mahalanobis_fit needs at least 2 vectors")
    d = len(s)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / (n - 1)
    cov = (cov + cov.T) / 2.0 + float(ridge) * np.eye(d)
    inv = np.linalg.inv(cov)
    inv = (inv + inv.T) / 2.0  # exact-symmetrize fp residue
    return {
        "mean": [float(x) for x in mean],
        "inv_cov": [[float(x) for x in row] for row in inv],
        "n": int(n),
    }


def mahalanobis_apply(
    df: DataFrame,
    model: dict,
    vec_col: str,
) -> DataFrame:
    """Squared-root Mahalanobis distance sqrt((x-m)^T S^-1 (x-m)) per
    row under a FIXED model -- pure codegen'd higher-order-function
    expressions over literal mean/inverse-covariance (zero shuffles,
    zero UDFs; the ridge-score scoring-with-pinned-model precedent, so
    it is exact-oracle checkable). NULL vectors yield NULL. The classic
    multivariate outlier score: under multivariate normality the square
    is chi2(d), so e.g. sqrt(chi2_ppf(0.999, d)) is a natural cut."""
    mean = model["mean"]
    inv = model["inv_cov"]
    d = len(mean)
    if any(len(r) != d for r in inv) or len(inv) != d:
        raise ValueError("inv_cov must be d x d matching mean")
    mean_lit = F.array(*[F.lit(float(x)) for x in mean])
    rows_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in r]) for r in inv]
    )
    v = vectors.as_double(vec_col)
    centered = F.zip_with(v, mean_lit, lambda a, b: a - b)
    out = df.withColumn("_mh_c", centered)
    c = F.col("_mh_c")
    # q = S^-1 c (one dot per literal row), then d^2 = c . q
    q = F.transform(
        rows_lit,
        lambda r: F.aggregate(
            F.zip_with(r, c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    d2 = F.aggregate(
        F.zip_with(c, q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return out.withColumn(
        "maha_dist", F.sqrt(F.greatest(d2, F.lit(0.0)))
    ).drop("_mh_c")


def frechet_distance(
    df_a: DataFrame,
    df_b: DataFrame,
    vec_col: str,
    ridge: float = 0.0,
) -> dict:
    """Frechet distance between the Gaussian fits of two embedding
    sets (Dowson & Landau 1982; applied to learned embeddings this is
    the FID statistic of Heusel et al. 2017):

      d^2 = |m_a - m_b|^2 + Tr(C_a + C_b - 2 (C_a C_b)^{1/2})

    -- the DISTRIBUTION-level drift gate for embedding columns: a new
    crawl/source's embedding cloud against the reference corpus.
    Near-dup and cosine top-k see individual rows; this sees the whole
    cloud's shape move (a mean shift, a variance collapse, a rotated
    covariance) even when no single pair is close. Zero iff the two
    Gaussian fits coincide; symmetric in its arguments.

    Computation: ONE gram_moments pass per side (Arrow-batched numpy
    partials, bounded driver fold -- nothing data-sized collects),
    then O(d^3) driver eigendecompositions (the pca_fit/kmeans
    numpy-replica precedent). The cross term uses the symmetric PSD
    form Tr((C_a C_b)^{1/2}) = Tr((S C_b S)^{1/2}) with S = C_a^{1/2},
    so only `eigh` on symmetric matrices is needed (no general sqrtm);
    tiny negative eigenvalues from fp roundoff are clipped at 0, and
    the final d^2 is clipped at 0. ``ridge`` adds a diagonal to both
    covariances before the cross term for aggressively degenerate
    inputs (rank-deficient clouds, n barely above d).

    Returns a plain-python dict:
    {"frechet2", "frechet", "mean_term", "trace_term", "n_a", "n_b"}
    where frechet2 = mean_term + trace_term."""
    import numpy as np

    if ridge < 0:
        raise ValueError(f"frechet_distance: ridge must be >= 0: {ridge}")

    def fit(df, side):
        n, s, g = gram_moments(df, vec_col)
        if n < 2:
            raise ValueError(
                f"frechet_distance: side {side} needs >= 2 vectors, got {n}"
            )
        mean = s / n
        cov = (g - n * np.outer(mean, mean)) / (n - 1)
        cov = (cov + cov.T) / 2.0 + float(ridge) * np.eye(len(s))
        return n, mean, cov

    n_a, m_a, c_a = fit(df_a, "a")
    n_b, m_b, c_b = fit(df_b, "b")
    if len(m_a) != len(m_b):
        raise ValueError(
            f"frechet_distance: dimension mismatch {len(m_a)} vs {len(m_b)}"
        )
    diff = m_a - m_b
    mean_term = float(diff @ diff)
    wa, va = np.linalg.eigh(c_a)
    s_a = (va * np.sqrt(np.clip(wa, 0.0, None))) @ va.T
    inner = s_a @ c_b @ s_a
    wm = np.linalg.eigvalsh((inner + inner.T) / 2.0)
    tr_cross = float(np.sqrt(np.clip(wm, 0.0, None)).sum())
    trace_term = float(np.trace(c_a) + np.trace(c_b) - 2.0 * tr_cross)
    d2 = max(0.0, mean_term + trace_term)
    return {
        "frechet2": d2,
        "frechet": float(np.sqrt(d2)),
        "mean_term": mean_term,
        "trace_term": trace_term,
        "n_a": int(n_a),
        "n_b": int(n_b),
    }
