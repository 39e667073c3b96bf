"""Z-order (Morton) interleaving for multi-dimensional data skipping.

Linear clustering (repartitionByRange + sortWithinPartitions on a key
list) sorts lexicographically: filters on the FIRST key skip row groups,
filters on later keys don't -- their values are scattered across every
file. Interleaving the bits of k normalized keys into one Morton code
and range-clustering on THAT gives every participating column locality:
a predicate on any of them maps to a bounded set of Z-ranges, so parquet
min/max stats prune for each dimension (the Delta/Iceberg OPTIMIZE
ZORDER idea as a plain column expression -- no table format required).

All pure bit arithmetic on longs, JVM-side, codegen-friendly.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_to_bits(
    col: Column, lo: float, hi: float, bits: int
) -> Column:
    """Map [lo, hi] linearly onto [0, 2^bits - 1] as a long (rank-space
    quantization; ties are fine -- Z-order only needs locality).

    ``lo``/``hi`` of None (empty input or an all-null column -- min/max
    aggregates return null) degrade to a constant 0 code: that column
    contributes no ordering signal but the write still succeeds and any
    other columns still cluster."""
    top = (1 << bits) - 1
    if lo is None or hi is None or hi <= lo:
        return F.lit(0).cast("long")
    scaled = (col.cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo))
    clamped = F.least(F.greatest(scaled, F.lit(0.0)), F.lit(1.0))
    return F.floor(clamped * top).cast("long")


def z_value(normalized: list[Column]) -> Column:
    """Morton code of k pre-normalized [0, 2^16) longs: bit i of column
    j lands at position i*k + j. k*16 must be <= 63 (at most 3 columns)."""
    k = len(normalized)
    if k * 16 > 63:
        raise ValueError(f"{k} cols x 16 bits exceeds a signed long")
    terms = [
        F.shiftleft(
            F.shiftright(c, i).bitwiseAND(F.lit(1).cast("long")), i * k + j
        )
        for j, c in enumerate(normalized)
        for i in range(16)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def _as_double(df: DataFrame, c: str) -> Column:
    """Numeric-space view of a cluster column: numerics cast directly,
    timestamps become fractional epoch seconds, dates become epoch days
    (a bare date->double cast is null in Spark, so both temporal types
    get an explicit normalization)."""
    t = dict(df.dtypes)[c]
    if t == "date":
        return F.unix_date(F.col(c)).cast("double")
    if t.startswith("timestamp"):
        # covers timestamp_ntz too (no direct ->double cast in Spark 4);
        # the ntz->ltz reinterpretation is monotonic, all Z-order needs.
        # NB: the LAYOUT localizes ntz fine, but Spark's parquet stats
        # evaluator won't row-group-prune ntz predicates (pushed yet
        # unapplied) -- cast such columns to timestamp/date before
        # writing if read-side skipping on them matters.
        return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
    return F.col(c).cast("double")


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
) -> None:
    """Z-order-cluster ``df`` on ``cols`` (at most 3, 16 bits each;
    numeric, timestamp, or date typed) and write parquet: one tiny
    min/max agg (2k scalars to the driver -- bounds, not data), Morton
    code as a derived column, global range partitioning + in-file sort
    on it, code column dropped before write. Filters on ANY of ``cols``
    then skip row groups via parquet stats
    (tests/test_lake.py::test_zorder_skips_on_both_dims and
    ::test_zorder_three_dims_and_timestamp). Empty input or an all-null
    column degrades gracefully (constant code for that column)."""
    (
        zorder_cluster(df, cols, n_files=n_files)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_cluster(
    df: DataFrame,
    cols: list[str],
    n_files: int = 16,
) -> DataFrame:
    """The clustering half of write_zordered, reusable by any sink that
    commits a DataFrame instead of writing a path (versioned
    optimize_table(zorder_by=...)): Morton-code derived column, global
    range partition + in-file sort on it, code dropped. Same bounds agg
    and degradation contract as write_zordered."""
    exprs = {c: _as_double(df, c) for c in cols}
    bounds = df.agg(
        *[F.min(exprs[c]).alias(f"_lo_{c}") for c in cols],
        *[F.max(exprs[c]).alias(f"_hi_{c}") for c in cols],
    ).first()
    normalized = [
        normalize_to_bits(exprs[c], bounds[f"_lo_{c}"], bounds[f"_hi_{c}"], 16)
        for c in cols
    ]
    return (
        df.withColumn("_z", z_value(normalized))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
