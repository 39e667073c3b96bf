"""Feature engineering with stored fit artifacts: standardization,
quantile binning, target encoding, weight of evidence.

The reference stops at ad-hoc derived columns (spark_batch_v2.py's
withColumn chains, cited at functions/enrich.py); production feature
pipelines need the FIT/TRANSFORM split instead -- statistics computed
once on the training snapshot, persisted as a small frame, and applied
identically to any later batch (train/serve skew dies when the serving
path reuses the STORED artifact instead of refitting on its own data).
Every fit here returns a plain DataFrame artifact (write it to the lake
or a versioned table like any other frame); every apply is a broadcast-
sized join plus codegen'd expressions.

Scale shape: fits are ONE hash aggregation (exact interpolated
percentiles where quantiles are involved -- the median_metrics
precedent; swap in approx_percentile at extreme group counts);
artifacts are O(groups x features), not O(rows); applies never
shuffle the data side (broadcast join on the group key, or a one-row
cross join for ungrouped fits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_GLOBAL_KEY = "_fit_all"


def _with_key(df: DataFrame, keys: list[str] | None):
    """Normalize the grouped/global split: no keys -> a constant key
    column so both paths share one join-shaped implementation."""
    if keys:
        return df, list(keys)
    return df.withColumn(_GLOBAL_KEY, F.lit(1)), [_GLOBAL_KEY]


def standardize_fit(
    df: DataFrame, cols: list[str], keys: list[str] | None = None
) -> DataFrame:
    """Per-group mean/stddev artifact for ``cols``: one row per group,
    columns ``mean_<c>`` / ``std_<c>`` (sample stddev; NULL for
    singleton groups). Persist and feed to standardize_apply."""
    if not cols:
        raise ValueError("cols must be non-empty")
    d, ks = _with_key(df, keys)
    aggs = []
    for c in cols:
        aggs.append(F.avg(F.col(c)).alias(f"mean_{c}"))
        aggs.append(F.stddev_samp(F.col(c)).alias(f"std_{c}"))
    return d.groupBy(*ks).agg(*aggs)


def standardize_apply(
    df: DataFrame,
    fit: DataFrame,
    cols: list[str],
    keys: list[str] | None = None,
    suffix: str = "_z",
) -> DataFrame:
    """Z-score ``cols`` against a stored fit: (x - mean) / std, NULL
    where std is NULL/zero (constant training group) or the row's
    group never appeared in the fit -- unseen groups surface as NULLs,
    never as silently-unscaled values. Original columns retained."""
    d, ks = _with_key(df, keys)
    joined = d.join(F.broadcast(fit), ks, "left")
    out = joined
    for c in cols:
        std = F.col(f"std_{c}")
        out = out.withColumn(
            c + suffix,
            F.when(
                std.isNotNull() & (std != 0),
                (F.col(c) - F.col(f"mean_{c}")) / std,
            ),
        )
    drop = [f"mean_{c}" for c in cols] + [f"std_{c}" for c in cols]
    if keys is None:
        drop.append(_GLOBAL_KEY)
    return out.drop(*drop)


def quantile_bins_fit(
    df: DataFrame,
    col: str,
    n_bins: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Equal-population bin edges per group: an ``edges`` array of the
    n_bins-1 interior quantiles (exact interpolated percentiles) over
    non-null values. The stored discretizer artifact -- the same
    reference-quantile idea psi_bins uses internally, factored into a
    reusable fit."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    d, ks = _with_key(df, keys)
    qs = [i / n_bins for i in range(1, n_bins)]
    return (
        d.filter(F.col(col).isNotNull())
        .groupBy(*ks)
        .agg(
            F.percentile(F.col(col), F.array(*[F.lit(q) for q in qs]))
            .alias("edges")
        )
    )


def quantile_bins_apply(
    df: DataFrame,
    fit: DataFrame,
    col: str,
    keys: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Bin index in [0, n_bins): the count of stored edges at or below
    the value (right-closed bins, the width_bucket convention). NULL
    values and unseen groups yield NULL. One broadcast join + one
    codegen'd array fold per row."""
    out_col = out_col or col + "_bin"
    d, ks = _with_key(df, keys)
    v = F.col(col)
    idx = F.size(F.filter(F.col("edges"), lambda e: v >= e))
    joined = d.join(F.broadcast(fit), ks, "left")
    out = joined.withColumn(
        out_col,
        F.when(v.isNotNull() & F.col("edges").isNotNull(), idx),
    ).drop("edges")
    if keys is None:
        out = out.drop(_GLOBAL_KEY)
    return out


def target_encode_fit(
    df: DataFrame,
    keys: list[str],
    target_col: str,
    smoothing: float = 20.0,
) -> DataFrame:
    """Smoothed target-encoding artifact: per category key, the target's
    sum and non-null count, plus the smoothing constant carried on every
    row (the artifact is self-describing -- apply never re-asks). ONE
    hash aggregation; artifact is O(categories), not O(rows).

    Encoding applied later: (sum + m * prior) / (count + m) with prior =
    the global target mean DERIVED FROM THE ARTIFACT (so serving never
    touches training rows). The m-smoothing shrinks rare categories
    toward the prior -- the standard mean-encoding regularizer
    (Micci-Barreca 2001)."""
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0: {smoothing}")
    if not keys:
        raise ValueError("keys must be non-empty")
    y = F.col(target_col).cast("double")
    return df.groupBy(*keys).agg(
        F.sum(y).alias("_te_sum"),
        F.count(y).alias("_te_cnt"),
        F.lit(float(smoothing)).alias("_te_m"),
    )


def target_encode_apply(
    df: DataFrame,
    artifact: DataFrame,
    keys: list[str],
    out_col: str = "te",
    loo_target: str | None = None,
) -> DataFrame:
    """Apply a target_encode_fit artifact: broadcast join on the keys,
    codegen'd shrinkage expression, data side never shuffles. Unseen
    categories (and all-null-target ones) encode to the global prior.

    ``loo_target``: when encoding the TRAINING frame itself, name the
    target column here and each row's own target is left out --
    ((sum - y) + m * prior) / ((count - 1) + m) -- so the feature never
    contains the row's own label (the leakage that makes naive mean
    encoding overfit); a count-1 category falls back to the prior, and
    a null-target row has nothing to remove. Serving frames omit it."""
    stats = artifact.agg(
        (F.sum("_te_sum") / F.sum("_te_cnt")).alias("_te_prior"),
        F.max("_te_m").alias("_m"),
    )
    joined = df.join(F.broadcast(artifact.drop("_te_m")), keys, "left").crossJoin(
        F.broadcast(stats)
    )
    prior, m = F.col("_te_prior"), F.col("_m")
    if loo_target is None:
        s, c = F.col("_te_sum"), F.col("_te_cnt")
    else:
        y = F.col(loo_target).cast("double")
        s = F.col("_te_sum") - F.coalesce(y, F.lit(0.0))
        c = F.col("_te_cnt") - y.isNotNull().cast("long")
    enc = F.when(
        F.col("_te_cnt").isNull() | (F.col("_te_cnt") == 0), prior
    ).otherwise((s + m * prior) / (c + m))
    return joined.withColumn(out_col, enc).drop(
        "_te_sum", "_te_cnt", "_te_prior", "_m"
    )


def woe_fit(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    eps: float = 0.5,
) -> DataFrame:
    """Weight-of-evidence fit for a categorical feature against a
    binary label -- the credit-scoring-standard encoding next to
    target_encode (Siddiqi 2006 shape): per category, woe = ln(pos_share /
    neg_share) with ``eps`` added to both class counts (the classic
    half-event adjustment, so a pure category gets a large-but-finite woe
    instead of an infinity), and the information-value term iv_term =
    (pos_share - neg_share) * woe. Returns one row per category: (category,
    n, n_pos, n_neg, woe, iv_term) plus the feature's total ``iv`` repeated
    on each row (rule of thumb: iv < 0.02 useless, 0.1-0.3 medium, > 0.5
    suspicious). Shares use the RAW class totals (only the per-category
    numerators are smoothed), so woe values from the same fit are
    comparable.

    Rows with NULL category are a real level ("missing" carries signal) and
    keep their own row; NULL labels are excluded. Labels must be 0/1-valued
    numerics -- ENFORCED by an in-plan raise (a fractional or out-of-range
    label would otherwise truncate silently through cast('long') and corrupt
    every woe/IV), like bh_adjust's p-domain check. A single-class
    population (no positives, or no negatives) has no evidence to weigh and
    fails loud the same way (the raw class totals are NOT eps-smoothed --
    only per-category numerators are -- so a zero total would otherwise
    crash as an opaque ANSI DIVIDE_BY_ZERO mid-job). Scale shape: ONE hash
    agg to O(categories); the class totals fold from that bounded artifact
    (not from a second row-level scan), met in a broadcast join -- the
    artifact is model-sized, the target_encode/hbos precedent. The final
    ``iv`` fold is an unpartitioned window over the POST-AGG category frame:
    bounded for any sane categorical, but an id-like ``cat_col`` (one
    category per row) makes that frame row-sized and the window a
    single-task sort -- bin/hash such columns first (quantile_bins / feature
    hashing), the ks_test honesty standard."""
    if eps <= 0:
        raise ValueError(f"eps must be > 0: {eps}")
    from pyspark.sql import Window

    y_raw = F.col(label_col).cast("double")
    # domain check BEFORE the counts consume it: raise_error evaluates
    # only on an offending row (the bh_adjust p-check pattern)
    y = F.when((y_raw == 0) | (y_raw == 1), y_raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"woe_fit: {label_col} outside {{0, 1}}: "),
                y_raw.cast("string"),
            )
        )
    )
    base = df.filter(y_raw.isNotNull()).select(
        F.col(cat_col).alias("category"), y.alias("_y")
    )
    per = base.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_y").cast("long").alias("n_pos"),
        F.sum(F.lit(1.0) - F.col("_y")).cast("long").alias("n_neg"),
    )
    tot = per.agg(
        F.sum("n_pos").cast("double").alias("_tp"),
        F.sum("n_neg").cast("double").alias("_tn"),
    )

    def _checked(col, name):
        return F.when(col > 0, col).otherwise(
            F.raise_error(
                F.lit(
                    f"woe_fit: label population has no {name} -- "
                    "single-class labels carry no evidence to weigh"
                )
            )
        )

    j = per.join(F.broadcast(tot), F.lit(True))
    pos_share = (F.col("n_pos") + F.lit(eps)) / _checked(F.col("_tp"), "positives")
    neg_share = (F.col("n_neg") + F.lit(eps)) / _checked(F.col("_tn"), "negatives")
    woe = F.log(pos_share / neg_share)
    return j.select(
        "category",
        "n",
        "n_pos",
        "n_neg",
        woe.alias("woe"),
        ((pos_share - neg_share) * woe).alias("iv_term"),
    ).withColumn(
        # global window over O(categories) rows: bounded by design
        "iv",
        F.sum("iv_term").over(Window.partitionBy()),
    )
