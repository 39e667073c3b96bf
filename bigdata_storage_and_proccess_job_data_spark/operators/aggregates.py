"""Parameterized aggregation cubes.

The reference builds 7 hand-written groupBy().agg() cubes
(spark_batch_v2.py:261-341, spark_job.py:84-87 -- SURVEY.md §2.4 A1-A7).
Here one builder covers them all: keys + a measure spec. Spark runs each
as partial+final HashAggregate with map-side combine; a single shuffle on
the group keys. At 100 TB the only knobs that matter are key cardinality
and skew -- AQE skew handling is enabled in session.py, and
``salted_two_phase`` spreads pathological dimensions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.session import local_frame


def conditional_count(pred: Column) -> Column:
    """count of rows where pred -- the reference's sum(when(p,1).otherwise(0))
    (spark_batch_v2.py:269). Emitted as BIGINT."""
    return F.sum(F.when(pred, 1).otherwise(0)).cast("long")


def cube(
    df: DataFrame,
    keys: Sequence[str | Column],
    measures: dict[str, Column],
) -> DataFrame:
    """groupBy(keys).agg(measures) with stable output column names."""
    aggs = [expr.alias(name) for name, expr in measures.items()]
    return df.groupBy(*keys).agg(*aggs)


def _row_salt(buckets: int) -> Column:
    """A salt that is INDEPENDENT of any grouping key: derived from the
    row's physical position (monotonically_increasing_id embeds the
    partition id in its high bits), so the rows of one hot key land in
    ~``buckets`` distinct (key, salt) groups. Salting by a hash OF THE
    KEY would be a no-op -- every row of the hot key would get the same
    salt and still melt a single reducer.

    BATCH-ONLY, and nondeterministic in the standard rand()-salting
    sense: monotonically_increasing_id is position-dependent, so a map
    partition recomputed after a shuffle-fetch failure can re-salt its
    rows differently. That is harmless here -- the salt only splits the
    PARTIAL aggregation, and every re-aggregatable measure (count/sum/
    min/max) yields the same final value for any row->salt assignment.
    Streaming frames reject monotonically_increasing_id outright; a
    streaming skew fix would salt by a hash of (key, event-time) cols
    instead (deterministic per row, still spreads a hot key)."""
    return F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(buckets))


def salted_two_phase(
    df: DataFrame,
    key: str | Column,
    measures: dict[str, tuple[str, str | None]],
    key_name: str = "key",
) -> DataFrame:
    """Aggregation over a PATHOLOGICALLY skewed key, salted end-to-end:
    phase 1 groups by (key, salt) so a hot key's rows spread over 16
    reducers instead of melting one; phase 2 re-aggregates the <= 16
    partial rows per key. AQE's skew handling only splits
    skewed JOIN partitions -- a skewed aggregation key needs this
    two-phase shape (or no fix at all, since the final shuffle moves
    only partial rows: key_cardinality x 16, not the fact table).

    ``measures``: name -> (agg, col) with agg in count/sum/min/max --
    the re-aggregatable measures (count re-aggregates as sum of partial
    counts; avg callers derive sum/count themselves). ``key`` may be an
    expression Column (aliased to ``key_name``)."""
    key_col = F.col(key) if isinstance(key, str) else key
    salted = df.withColumn(key_name, key_col).withColumn(
        "_salt", _row_salt(16)
    )
    partial_aggs, final_aggs = [], []
    for name, (agg, col) in measures.items():
        p = f"_p_{name}"
        if agg == "count":
            partial_aggs.append(
                (F.count(F.lit(1)) if col is None else F.count(col)).alias(p)
            )
            final_aggs.append(F.sum(p).cast("long").alias(name))
        elif agg == "sum":
            partial_aggs.append(F.sum(col).alias(p))
            final_aggs.append(F.sum(p).alias(name))
        elif agg == "min":
            partial_aggs.append(F.min(col).alias(p))
            final_aggs.append(F.min(p).alias(name))
        elif agg == "max":
            partial_aggs.append(F.max(col).alias(p))
            final_aggs.append(F.max(p).alias(name))
        else:
            raise ValueError(f"measure {name}: {agg} is not re-aggregatable")
    partial = salted.groupBy(key_name, "_salt").agg(*partial_aggs)
    return partial.groupBy(key_name).agg(*final_aggs)


def count_distinct_spread(
    df: DataFrame,
    key: str | Column,
    val: str | Column,
    key_name: str = "key",
    out: str = "n_distinct",
) -> DataFrame:
    """Skew-safe EXACT distinct count per key: shuffle the (key, value)
    PAIRS first -- the value acts as a perfect salt, so a hot key's rows
    spread over every reducer -- then count the pre-deduped pairs per
    key (second shuffle moves one row per distinct pair, already tiny).

    The naive form, groupBy(key).agg(collect_set(value)), funnels every
    value of a hot key through ONE reducer's in-memory set buffer: at
    100 TB that single task is the job's wall-clock (or its OOM). Here
    both heavy stages are uniform regardless of key skew. This is the
    rewrite Catalyst applies to count_distinct internally -- exposed as
    an operator because the naive collect_set shape is what users
    actually write, and the registered skew_distinct_naive/spread bench
    pair measures the difference on a Zipf key."""
    key_col = F.col(key) if isinstance(key, str) else key
    val_col = F.col(val) if isinstance(val, str) else val
    pairs = df.select(
        key_col.alias(key_name), val_col.alias("_v")
    ).distinct()
    # F.count("_v") (not count(*)): COUNT(DISTINCT v) and
    # size(collect_set(v)) both IGNORE null values, so the distinct
    # (key, NULL) pair must contribute 0 -- counting rows would report
    # one phantom distinct value per key that has any NULLs, and a key
    # whose values are all NULL still surfaces (with 0), exactly like
    # the naive form.
    return pairs.groupBy(key_name).agg(
        F.count("_v").cast("long").alias(out)
    )


def global_sum(df: DataFrame, col: str) -> DataFrame:
    """Whole-table sum -- the DataFrame form of the reference's RDD
    map/reduce demo (k8s/job.py:24-35, SURVEY.md A8)."""
    return df.agg(F.sum(col).alias("total"))


def observe_expectations(
    df: DataFrame,
    checks: dict[str, Column],
    name: str = "expectations",
):
    """Data-quality expectations computed DURING the frame's own
    action instead of by a dedicated aggregation job: each check is a
    boolean Column, and ``df.observe`` piggybacks the violation
    counters on whatever the caller already executes (the production
    write, the downstream agg), so at 100 TB data quality costs ZERO
    extra scans -- a separate report pass would re-read the table.

    NULL semantics: a check that evaluates to NULL (e.g. ``price > 0``
    on a NULL price) counts as a VIOLATION -- expectations are
    must-prove-true, and ``when(cond, 0).otherwise(1)`` encodes that;
    the inverted ``when(~cond, 1).otherwise(0)`` would silently PASS
    null rows (the three-valued-logic trap).

    Returns ``(observed_df, observation)``:
    - batch: ``observation`` is a ``pyspark.sql.Observation``; run any
      action on ``observed_df`` (or a descendant), then read
      ``observation.get`` -> {n_rows, <rule>: violations, ...};
    - streaming: Spark's Observation helper is batch-only, so
      ``observation`` is None and the metrics surface per micro-batch
      in StreamingQueryProgress.observedMetrics[name] -- same counters,
      delivered through the progress stream (the monitoring hook a
      long-running ingest needs anyway).

    Gotcha encoded in the test: observed metrics are computed where the
    observe node sits in the plan -- attach it BEFORE filters/joins that
    drop rows, or the counters see only the surviving rows."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    aggs += [
        F.sum(F.when(cond, 0).otherwise(1)).cast("long").alias(rule)
        for rule, cond in checks.items()
    ]
    if df.isStreaming:
        return df.observe(name, *aggs), None
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *aggs), obs


def hll_sketch(
    df: DataFrame,
    key: str,
    dims: list[str] | None = None,
) -> DataFrame:
    """Mergeable distinct-count sketch per dimension group: one
    Datasketches HLL register set (a few KB at lgk=12, ~1.6% relative
    error) per group, computed in a single partial+final hash
    aggregation. The sketch column is plain BINARY -- write it to
    parquet (or a versioned table) and it becomes an INCREMENTAL
    distinct-count artifact: per-day sketches union into any window's
    estimate without ever rescanning the raw data, which at 100 TB is
    the difference between "distinct users, trailing 2 years" being a
    metadata query vs a full-history scan.

    Register-union is lossless: merging per-batch sketches equals
    sketching the unioned data EXACTLY (same registers), pinned in
    tests -- so daily incremental accumulation gives the identical
    estimate a monolithic scan would."""
    keys = [F.col(d) for d in (dims or [])]
    agg = F.hll_sketch_agg(F.col(key), F.lit(12)).alias("sketch")
    if keys:
        return df.groupBy(*keys).agg(agg)
    return df.agg(agg)


def hll_merge(
    sketches: DataFrame, dims: list[str] | None = None
) -> DataFrame:
    """Union previously-computed sketches (per dimension group when
    ``dims`` given): the incremental step. Input is any union/append of
    hll_sketch outputs -- e.g. a parquet dir the daily job appends to."""
    agg = F.hll_union_agg("sketch").alias("sketch")
    if dims:
        return sketches.groupBy(*[F.col(d) for d in dims]).agg(agg)
    return sketches.agg(agg)


def hll_estimate(sketches: DataFrame) -> DataFrame:
    """Replace the sketch column with its cardinality estimate
    (``distinct_estimate`` BIGINT)."""
    others = [c for c in sketches.columns if c != "sketch"]
    return sketches.select(
        *others,
        F.hll_sketch_estimate("sketch").cast("long").alias(
            "distinct_estimate"
        ),
    )


# NULL keys hash to this sentinel so build and lookup agree on a real
# bucket -- md5(concat(..)) of a NULL key is NULL, which would put NULL
# keys in a NULL bucket that cms_lookup's equi-join can never match,
# silently returning 0 and breaking the one-sided estimate>=truth
# guarantee. The NUL control character can't round-trip
# through a real string key, so no legitimate key collides with it.
_CMS_NULL_SENTINEL = "\x00cms_null"


def _cms_cells(key_col, width: int, depth: int):
    """The (row, bucket) cell array for one key expression -- the ONE
    definition of the CMS hash family, shared by cms_sketch and
    cms_lookup so build and probe can never disagree."""
    key_str = F.coalesce(key_col.cast("string"), F.lit(_CMS_NULL_SENTINEL))
    return F.array(
        *[
            F.struct(
                F.lit(d).cast("int").alias("row"),
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"cms:{d}:"), key_str)),
                            1,
                            13,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(width),
                )
                .cast("int")
                .alias("bucket"),
            )
            for d in range(depth)
        ]
    )


def cms_sketch(
    df: DataFrame,
    key: str,
    width: int = 2048,
    depth: int = 5,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) as a DataFrame:
    ``depth`` independent md5-derived hash rows x ``width`` buckets,
    each cell the count of rows hashing into it. The
    result is at most depth*width rows of (row, bucket, cnt) -- a
    fixed-size frequency summary of an unbounded key space, built by
    ONE partial+final hash aggregation (the explode ships depth tiny
    ints per input row, never the key).

    Like hll_sketch, the artifact is storable and MERGEABLE: summing
    per-batch sketches' ``cnt`` per (row, bucket) gives the monolithic
    sketch EXACTLY, so daily sketches answer "how often did key X
    appear this quarter" without rescanning -- with CMS's one-sided
    guarantee (estimate >= truth; overestimate bounded by
    e * total_rows / width per row, driven down by the min over
    depth rows). NULL keys count under a shared sentinel bucket set
    (all NULLs are one key, as in GROUP BY). Point lookups:
    cms_lookup."""
    if width < 1 or depth < 1:
        raise ValueError("width and depth must be positive")
    rows = F.explode(_cms_cells(F.col(key), width, depth)).alias("_c")
    return (
        df.select(rows)
        .groupBy(F.col("_c.row").alias("row"), F.col("_c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key: str,
    width: int = 2048,
    depth: int = 5,
) -> DataFrame:
    """Frequency estimates for a frame of keys against a sketch:
    recompute each key's (row, bucket) cells, broadcast-join the
    (bounded, depth*width-row) sketch, take the min over rows. Returns
    (key, estimate) with estimate >= the true count (absent cells
    count 0 -- an absent key can still collide upward, never down).
    ``width``/``depth`` must match the sketch's build parameters."""
    cells = keys.select(F.col(key)).distinct().select(
        F.col(key),
        F.explode(_cms_cells(F.col(key), width, depth)).alias("_c"),
    ).select(key, F.col("_c.row").alias("row"), F.col("_c.bucket").alias("bucket"))
    joined = cells.join(F.broadcast(sketch), ["row", "bucket"], "left").select(
        key, F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cnt")
    )
    return joined.groupBy(key).agg(F.min("cnt").alias("estimate"))


def dd_sketch(
    df: DataFrame,
    col: str,
    gamma: float = 1.02,
    dims: list[str] | None = None,
) -> DataFrame:
    """Quantile sketch with RELATIVE-error guarantee (the DDSketch
    idea, Masson/Rim/Lee VLDB 2019): positive values land in
    log-spaced bins ``bin = ceil(log_gamma(x))``, so any quantile
    reconstructed from bin counts is within a factor gamma of the true
    value -- 2% at the default, at any scale of x, which fixed-width
    histograms can't promise. Zero/negative/NULL values are counted in
    a reserved bin (-2^31) and excluded from quantiles (log-bins are
    for positive metrics: latencies, prices, sizes).

    The artifact is (dims..., bin, cnt) -- a few hundred rows per
    group for real-world ranges -- built by one partial+final hash
    aggregation, stored as a plain table, and merged EXACTLY by
    summing bin counts (dd_merge): per-day sketches answer "p99 over
    any window" without rescanning, completing the stored-sketch trio
    (HLL = distinct, CMS = frequency, DD = quantiles)."""
    if gamma <= 1.0:
        raise ValueError("gamma must be > 1")
    import math

    c = F.col(col)
    log_g = math.log(gamma)
    b = F.when(
        c.isNotNull() & (c > 0),
        F.ceil(F.log(c.cast("double")) / F.lit(log_g)).cast("int"),
    ).otherwise(F.lit(-(2**31)).cast("int"))
    keys = [F.col(d) for d in (dims or [])]
    return df.groupBy(*keys, b.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def dd_merge(sketches: DataFrame, dims: list[str] | None = None) -> DataFrame:
    """Bin-wise sum of unioned dd_sketch outputs -- lossless (counts
    commute), so incremental accumulation equals the monolithic build."""
    return sketches.groupBy(*[F.col(d) for d in (dims or [])], "bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def dd_quantile(
    sketch: DataFrame,
    q: float,
    gamma: float = 1.02,
    dims: list[str] | None = None,
) -> DataFrame:
    """Estimate the q-quantile (per dimension group) from a dd_sketch:
    walk the cumulative bin counts to the target rank and return the
    bin's geometric midpoint 2*gamma^b/(gamma+1), which is within a
    factor gamma of the true quantile. One window cumulative sum over
    the (small) sketch frame; the reserved non-positive bin is
    excluded. ``gamma`` must match the build."""
    if not 0 < q < 1:
        raise ValueError("q must be in (0, 1)")
    from pyspark.sql import Window

    pos = sketch.filter(F.col("bin") != -(2**31))
    keys = [F.col(d) for d in (dims or [])]
    w = Window.partitionBy(*keys).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy(*keys)
    ranked = pos.select(
        *keys,
        "bin",
        F.sum("cnt").over(w).alias("_cum"),
        F.sum("cnt").over(tot).alias("_n"),
    ).filter(F.col("_cum") >= F.ceil(F.lit(q) * F.col("_n")))
    first = Window.partitionBy(*keys).orderBy("bin")
    est = (
        F.lit(2.0)
        * F.pow(F.lit(gamma), F.col("bin"))
        / F.lit(gamma + 1.0)
    )
    return (
        ranked.withColumn("_rn", F.row_number().over(first))
        .filter(F.col("_rn") == 1)
        .select(*keys, est.alias("quantile_estimate"))
    )


def psi_bins(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index bins: has a numeric column's
    distribution DRIFTED between a reference snapshot and a current one
    -- the standard feed/model monitoring metric (profile_table is the
    first-look). Bin edges are the
    reference's exact quantiles (equal-population binning, the PSI
    convention), both sides bucket against those SAME edges, and each
    bin contributes (p - q) * ln(p / q); sum `contrib` for the
    headline PSI (rule of thumb: < 0.1 stable, > 0.25 action).

    Fully distributed: the edge array is a one-row exact-percentile agg
    broadcast to both sides (never collected), the bucket index is a
    pure expression (count of edges below the value -- no UDF, no
    width_bucket scalar-bounds limitation), shares come from one hash
    agg per side with add-half smoothing ((n_b + 0.5) / (n + 0.5 *
    bins)) so empty bins stay finite and the zero-drift identity
    psi(ref, ref) = 0 holds exactly. NULLs are excluded on both sides
    (null-rate drift belongs to profile_table/observe_expectations).

    Returns (bin, ref_n, cur_n, ref_share, cur_share, contrib), one row
    per bin 0..bins-1."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        stable_round,
    )

    qs = [i / bins for i in range(1, bins)]
    edges = ref.filter(F.col(value_col).isNotNull()).agg(
        F.percentile(value_col, F.array(*[F.lit(q) for q in qs])).alias(
            "_edges"
        )
    )

    def shares(df: DataFrame, n_name: str, s_name: str) -> DataFrame:
        v = F.col(value_col)
        binned = (
            df.filter(v.isNotNull())
            .crossJoin(F.broadcast(edges))
            .select(
                F.size(
                    F.filter("_edges", lambda e: v > e)
                ).alias("bin")
            )
        )
        counts = binned.groupBy("bin").agg(
            F.count(F.lit(1)).alias(n_name)
        )
        # every bin present even when empty: edges are quantiles, so the
        # frame of all indices is a bounded literal range
        allbins = ref.sparkSession.range(bins).select(
            F.col("id").cast("int").alias("bin")
        )
        filled = allbins.join(counts, "bin", "left").select(
            "bin", F.coalesce(F.col(n_name), F.lit(0)).alias(n_name)
        )
        tot = filled.agg(F.sum(n_name).cast("double").alias("_t"))
        return filled.crossJoin(F.broadcast(tot)).select(
            "bin",
            n_name,
            (
                (F.col(n_name) + 0.5) / (F.col("_t") + 0.5 * bins)
            ).alias(s_name),
        )

    r = shares(ref, "ref_n", "_rs")
    c = shares(cur, "cur_n", "_cs")
    return (
        r.join(c, "bin")
        .select(
            "bin",
            "ref_n",
            "cur_n",
            stable_round(F.col("_rs"), 4).alias("ref_share"),
            stable_round(F.col("_cs"), 4).alias("cur_share"),
            stable_round(
                (F.col("_rs") - F.col("_cs"))
                * F.log(F.col("_rs") / F.col("_cs")),
                4,
            ).alias("contrib"),
        )
        .orderBy("bin")
    )


def profile_table(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    distinct: str = "approx",
) -> DataFrame:
    """Schema-driven table profile in ONE aggregation pass: one output
    row per column with (dtype, n_rows, n_nulls, null_frac, n_distinct,
    min, max, mean, stddev) -- the discovery complement to
    observe_expectations (which checks rules you already know). All
    columns' measures are sibling expressions in a single agg, then the
    wide row unpivots via inline; min/max cast to string for a uniform
    schema, mean/stddev populated for numeric columns only.

    ``distinct='approx'`` (default) uses approx_count_distinct (HLL, 5%
    relative error) -- the 100 TB path, since EXACT multi-column
    count_distinct plans an Expand that multiplies every input row by
    the number of distinct aggregates. ``distinct='exact'`` accepts that
    cost for audit runs (and is what the cross-engine parity test uses);
    ``distinct='skip'`` omits the measure entirely (NULL)."""
    if distinct not in ("approx", "exact", "skip"):
        raise ValueError("distinct must be approx | exact | skip")
    from pyspark.sql.types import NumericType

    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        stable_round,
    )

    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = list(cols or fields)
    missing = [c for c in cols if c not in fields]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    structs = []
    for i, c in enumerate(cols):
        dt = fields[c]
        numeric = isinstance(dt, NumericType)
        col = F.col(c)
        if distinct == "exact":
            nd = F.count_distinct(col).cast("long")
        elif distinct == "approx":
            nd = F.approx_count_distinct(col, 0.05).cast("long")
        else:
            nd = F.lit(None).cast("long")
        null_double = F.lit(None).cast("double")
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dt.simpleString()).alias("dtype"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(col.isNull().cast("long")).alias("n_nulls"),
                nd.alias("n_distinct"),
                F.min(col).cast("string").alias("min"),
                F.max(col).cast("string").alias("max"),
                (
                    stable_round(F.avg(col), 4)
                    if numeric
                    else null_double
                ).alias("mean"),
                (
                    stable_round(F.stddev_samp(col), 4)
                    if numeric
                    else null_double
                ).alias("stddev"),
            ).alias(f"_c_{i}")
        )
    wide = df.agg(*structs)
    return wide.select(
        F.inline(F.array(*[F.col(f"_c_{i}") for i in range(len(cols))]))
    ).select(
        "column",
        "dtype",
        "n_rows",
        "n_nulls",
        stable_round(F.col("n_nulls") / F.col("n_rows"), 4).alias("null_frac"),
        "n_distinct",
        "min",
        "max",
        "mean",
        "stddev",
    )


# ---------------------------------------------------------------------------
# Incremental aggregate-view maintenance over a change feed
# ---------------------------------------------------------------------------
# The materialized-view story for the versioned table format
# (sources/versioned.py): a stored grouped aggregate is kept current by
# folding change_feed/diff_versions deltas into it -- O(|changes|)
# work per refresh instead of an O(|table|) rescan, which at 100 TB is
# the difference between a metadata-sized incremental job and a
# full-table shuffle. Count/sum/avg are the delta-maintainable
# (abelian-group) aggregates; the state carries a per-measure non-null
# count so SQL NULL semantics (SUM of an all-NULL group is NULL, AVG
# likewise) survive deletes exactly. Min/max are NOT maintainable under
# deletes without per-group rescans -- deliberately out of scope,
# documented here rather than approximated.


def agg_state_init(
    df, keys: list[str], measures: list[str], track_var: bool = False
):
    """Build maintainable aggregate state from a base snapshot:
    one row per group with ``cnt`` = COUNT(*) plus, per measure m,
    ``sum_m`` = SUM(m) and ``nn_m`` = COUNT(m). Groups join on a
    null-safe struct key, so NULL group keys are first-class. Persist
    this frame (e.g. as a versioned table) and refresh it with
    agg_state_apply.

    ``track_var=True`` also keeps ``ss_m`` = SUM(m^2) -- the third
    abelian moment, which makes VARIANCE/STDDEV delta-maintainable too
    (agg_state_result derives var_samp from (ss, sum, nn)). Textbook
    caveat: the ss-based formula loses precision when |mean| >>
    stddev (catastrophic cancellation) -- for metrics living far from
    zero, center the measure upstream or accept ~1e-7 relative noise.
    """
    if not keys or not measures:
        raise ValueError("keys and measures must be non-empty")
    aggs = [F.count(F.lit(1)).alias("cnt")]
    for m in measures:
        aggs.append(F.sum(F.col(m)).alias(f"sum_{m}"))
        aggs.append(F.count(F.col(m)).alias(f"nn_{m}"))
        if track_var:
            aggs.append(
                F.sum(F.col(m) * F.col(m)).alias(f"ss_{m}")
            )
    return df.groupBy(*keys).agg(*aggs)


def agg_state_apply(
    state, feed, keys: list[str], measures: list[str]
):
    # variance tracking is detected from the STATE's own columns, so
    # callers never repeat the track_var flag after init
    """Fold a change feed (change_type / before / after struct rows --
    the exact shape versioned.change_feed emits) into stored aggregate
    state. Inserts contribute +1 via ``after``, deletes -1 via
    ``before``, updates both; one explode, one hash agg over the FEED
    (never the base table), one null-safe full-outer merge against the
    state on the group key. Groups whose count reaches zero drop, new
    groups appear -- the result is bit-identical to agg_state_init on
    the new snapshot for integer measures, and equal up to float
    summation order otherwise (both tested)."""
    if not keys or not measures:
        raise ValueError("keys and measures must be non-empty")
    fields = list(keys) + list(measures)

    def side(struct_col, sign):
        return F.struct(
            *[struct_col[f].alias(f) for f in fields],
            F.lit(sign).alias("_sign"),
        )

    signed = (
        feed.select(
            F.explode(
                F.array(
                    F.when(
                        F.col("change_type").isin("delete", "update"),
                        side(F.col("before"), -1),
                    ),
                    F.when(
                        F.col("change_type").isin("insert", "update"),
                        side(F.col("after"), 1),
                    ),
                )
            ).alias("_x")
        )
        .filter(F.col("_x").isNotNull())
        .select("_x.*")
    )
    track_var = any(
        f"ss_{m}" in state.columns for m in measures
    )
    daggs = [F.sum("_sign").alias("d_cnt")]
    for m in measures:
        daggs.append(
            F.sum(F.col("_sign") * F.col(m)).alias(f"d_sum_{m}")
        )
        daggs.append(
            F.sum(
                F.when(F.col(m).isNotNull(), F.col("_sign")).otherwise(
                    F.lit(0)
                )
            ).alias(f"d_nn_{m}")
        )
        if track_var:
            daggs.append(
                F.sum(F.col("_sign") * F.col(m) * F.col(m)).alias(
                    f"d_ss_{m}"
                )
            )
    deltas = signed.groupBy(*keys).agg(*daggs)

    s = state.select(
        F.struct(*keys).alias("_k"), F.struct(*state.columns).alias("_s")
    )
    d = deltas.select(
        F.struct(*keys).alias("_k"),
        F.struct(*deltas.columns).alias("_d"),
    )
    j = s.join(d, s["_k"].eqNullSafe(d["_k"]), "full_outer")
    key_src = F.coalesce(s["_k"], d["_k"])
    out_cols = [key_src[k].alias(k) for k in keys]
    new_cnt = F.coalesce(F.col("_s.cnt"), F.lit(0)) + F.coalesce(
        F.col("_d.d_cnt"), F.lit(0)
    )
    out_cols.append(new_cnt.alias("cnt"))
    for m in measures:
        nn = F.coalesce(F.col(f"_s.nn_{m}"), F.lit(0)) + F.coalesce(
            F.col(f"_d.d_nn_{m}"), F.lit(0)
        )
        sm = F.when(
            nn > 0,
            F.coalesce(F.col(f"_s.sum_{m}"), F.lit(0))
            + F.coalesce(F.col(f"_d.d_sum_{m}"), F.lit(0)),
        )
        out_cols.append(sm.alias(f"sum_{m}"))
        out_cols.append(nn.alias(f"nn_{m}"))
        if track_var:
            ss = F.when(
                nn > 0,
                F.coalesce(F.col(f"_s.ss_{m}"), F.lit(0))
                + F.coalesce(F.col(f"_d.d_ss_{m}"), F.lit(0)),
            )
            out_cols.append(ss.alias(f"ss_{m}"))
    return j.select(*out_cols).filter(F.col("cnt") > 0)


def agg_state_result(state, keys: list[str], measures: list[str]):
    """User-facing view of aggregate state: (keys..., cnt, sum_m,
    avg_m) with SQL semantics -- sum/avg NULL when the group holds no
    non-null values. Pure projection; no shuffle."""
    cols = [*keys, F.col("cnt")]
    for m in measures:
        sm = F.when(F.col(f"nn_{m}") > 0, F.col(f"sum_{m}"))
        cols.append(sm.alias(f"sum_{m}"))
        cols.append(
            F.when(
                F.col(f"nn_{m}") > 0,
                F.col(f"sum_{m}") / F.col(f"nn_{m}"),
            ).alias(f"avg_{m}")
        )
        if f"ss_{m}" in state.columns:
            nn = F.col(f"nn_{m}")
            var = (
                F.col(f"ss_{m}")
                - F.col(f"sum_{m}") * F.col(f"sum_{m}") / nn
            ) / (nn - 1)
            cols.append(
                F.when(nn > 1, F.greatest(var, F.lit(0.0))).alias(
                    f"var_{m}"
                )
            )
    return state.select(*cols)


# ---------------------------------------------------------------------------
# Experiment analysis: two-sample tests + per-group linear fits
# ---------------------------------------------------------------------------


def welch_ttest(
    df,
    treat_col: str,
    value_col: str,
    group_a,
    group_b,
    keys: list[str] | None = None,
):
    """Welch's unequal-variance two-sample t statistic per key group
    (the A/B-test default -- no pooled-variance assumption): one row
    per key with per-arm n/mean/variance, the mean difference, its
    standard error, ``t_stat``, and the Welch-Satterthwaite degrees of
    freedom. Deliberately stops at the statistic: Spark SQL has no
    t-distribution CDF, and shipping a homegrown p-value approximation
    would invite silent misuse -- threshold t against critical values
    downstream. NULL values and rows in neither arm are excluded.

    Scale shape: ONE hash aggregation with conditional sibling
    aggregates (no per-arm scans, no join between arms); grouped by
    ``keys`` so one pass scores every experiment/metric slice."""
    keys = keys or []
    t = F.col(treat_col)
    v = F.col(value_col)
    in_a, in_b = t == F.lit(group_a), t == F.lit(group_b)

    def arm(cond, fn, alias):
        return fn(F.when(cond, v)).alias(alias)

    g = df.filter(in_a | in_b).groupBy(*keys).agg(
        arm(in_a, F.count, "n_a"),
        arm(in_b, F.count, "n_b"),
        arm(in_a, F.avg, "mean_a"),
        arm(in_b, F.avg, "mean_b"),
        arm(in_a, F.var_samp, "var_a"),
        arm(in_b, F.var_samp, "var_b"),
    )
    sa2 = F.col("var_a") / F.col("n_a")
    sb2 = F.col("var_b") / F.col("n_b")
    se = F.sqrt(sa2 + sb2)
    dof = (sa2 + sb2) * (sa2 + sb2) / (
        sa2 * sa2 / (F.col("n_a") - 1) + sb2 * sb2 / (F.col("n_b") - 1)
    )
    return g.select(
        *keys,
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        (F.col("mean_b") - F.col("mean_a")).alias("diff"),
        F.when(se > 0, se).alias("se"),
        F.when(se > 0, (F.col("mean_b") - F.col("mean_a")) / se).alias(
            "t_stat"
        ),
        F.when(se > 0, dof).alias("dof"),
    )


def proportion_ztest(
    df,
    treat_col: str,
    success_col: str,
    group_a,
    group_b,
    keys: list[str] | None = None,
):
    """Two-proportion pooled z statistic per key group (conversion-
    rate A/B): success_col is evaluated as a boolean. One hash agg of
    conditional counts; z is NULL when an arm is empty or the pooled
    rate is degenerate (0 or 1 -- zero variance). The standard-normal
    p-value is left to the caller for the same reason welch_ttest
    stops at t."""
    keys = keys or []
    t = F.col(treat_col)
    s = F.col(success_col).cast("boolean")
    in_a, in_b = t == F.lit(group_a), t == F.lit(group_b)
    g = df.filter((in_a | in_b) & s.isNotNull()).groupBy(*keys).agg(
        F.count(F.when(in_a, 1)).alias("n_a"),
        F.count(F.when(in_b, 1)).alias("n_b"),
        F.count(F.when(in_a & s, 1)).alias("succ_a"),
        F.count(F.when(in_b & s, 1)).alias("succ_b"),
    )
    p_a = F.col("succ_a") / F.col("n_a")
    p_b = F.col("succ_b") / F.col("n_b")
    pooled = (F.col("succ_a") + F.col("succ_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pooled
        * (1 - pooled)
        * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    return g.select(
        *keys,
        "n_a",
        "n_b",
        p_a.alias("rate_a"),
        p_b.alias("rate_b"),
        (p_b - p_a).alias("diff"),
        F.when(se > 0, (p_b - p_a) / se).alias("z_stat"),
    )


def group_linear_fit(
    df,
    x_col: str,
    y_col: str,
    keys: list[str] | None = None,
):
    """Per-group ordinary-least-squares line y = slope*x + intercept
    with r2 and the pair count -- trend extraction over millions of
    groups in ONE hash aggregation (Spark's regr_* family, map-side
    combinable; the oracle uses DuckDB's identical regr_* aggregates).
    Rows where either coordinate is NULL are excluded (regr_count
    semantics). Degenerate groups (constant x) report NULL slope."""
    keys = keys or []
    y, x = F.col(y_col), F.col(x_col)
    return df.groupBy(*keys).agg(
        F.regr_count(y, x).alias("n"),
        F.regr_slope(y, x).alias("slope"),
        F.regr_intercept(y, x).alias("intercept"),
        F.regr_r2(y, x).alias("r2"),
    )


def calibration_bins(
    df,
    label_col: str,
    score_col: str,
    bins: int = 10,
    keys: list[str] | None = None,
    summaries: bool = False,
):
    """Reliability-diagram data: scores bucket onto a fixed [0, 1)
    grid (floor to 1/bins steps, score 1.0 clamps into the top bin)
    and each bin reports n, mean predicted score, observed positive
    rate, and the gap -- the probability-quality readout. One hash
    agg; empty bins simply absent.

    ``summaries=True`` appends three more columns (Guo et al. 2017
    shape -- a ranker can order perfectly while its probabilities are
    wildly over-confident, and a quality filter thresholded at p>=0.9
    needs that 0.9 to MEAN 0.9): per-bin ``abs_gap``, plus two per-key
    scalars repeated on each row --
    ``ece``, the expected calibration error sum(n_b/N * |gap_b|), and
    ``brier``, mean (score - label)^2. One broadcast-sized window over
    the keys x bins frame; default False keeps the original schema."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    keys = keys or []
    lab = F.col(label_col).cast("boolean")
    s = F.col(score_col).cast("double")
    b = F.least(
        F.floor(s * bins).cast("int"), F.lit(bins - 1)
    )
    base = df.filter(lab.isNotNull() & s.isNotNull()).select(
        *keys, b.alias("bin"), lab.alias("_y"), s.alias("_s")
    )
    y = F.col("_y").cast("double")
    binned = base.groupBy(*keys, "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("_s").alias("mean_score"),
        F.avg(y).alias("observed_rate"),
        (F.avg(y) - F.avg("_s")).alias("gap"),
        F.sum((F.col("_s") - y) * (F.col("_s") - y)).alias("_se"),
    )
    if not summaries:
        return binned.drop("_se")
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(k) for k in keys])
    tot = F.sum("n").over(w)
    gap = F.abs(F.col("gap"))
    return (
        binned.withColumn("abs_gap", gap)
        .withColumn("ece", F.sum(F.col("n") * gap).over(w) / tot)
        .withColumn("brier", F.sum("_se").over(w) / tot)
        .drop("_se")
    )


# ---------------------------------------------------------------------------
# KMV distinct sketch: the set-OPERATIONS member of the stored-sketch
# family (HLL = distinct union, CMS = frequency, DD = quantiles, KMV =
# distinct + intersection/Jaccard). HLL registers union losslessly but
# cannot intersect; audience-overlap / cross-source dedup-rate questions
# ("how many users did segments A and B share last quarter?") need a
# sketch whose ELEMENTS survive, which is exactly the k-minimum-values
# idea (Bar-Yossef et al. 2002; Beyer et al. SIGMOD 2007): keep the k
# smallest distinct hash values per group. Everything downstream is
# deterministic arithmetic on those arrays, so the whole family gets an
# exact cross-engine oracle through the md5_hash60 bridge -- unlike
# register-based HLL, a KMV run is reproducible in any engine.
# ---------------------------------------------------------------------------

_KMV_SPACE = float(1 << 60)  # md5_hash60 values are uniform on [0, 2^60)


def kmv_sketch(
    df: DataFrame,
    key: str,
    dims: list[str] | None = None,
    k: int = 256,
) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest distinct md5_hash60
    values of ``key``, as a sorted ``array<bigint>`` column ``sketch``
    (shorter than k when the group has fewer distinct keys -- then every
    estimate is EXACT). NULL keys are excluded (COUNT DISTINCT
    semantics).

    Skew-proof build, ONE bounded exchange: a dense_rank <= k
    filter over a (dims)-partitioned window plans as WindowGroupLimit,
    whose PARTIAL mode prunes every scan partition to its k smallest
    DISTINCT hashes (all copies -- dense_rank ties share a rank)
    BEFORE the exchange, so at most ~k rows per group per input
    partition ever cross the wire; the final window re-ranks the
    survivors and one exchange-free hash agg (already partitioned by
    dims) folds them into the sorted, deduped, k-cut sketch array.
    No task ever sorts a hot group's full distinct set -- the final
    window's state per group is at most (input partitions x k) rows.
    Bit-identical to a global distinct + sort by the subset argument:
    the k smallest distinct of a union are each among the k smallest
    distinct of their source partition. Shuffling each (group x
    partition) distinct set whole instead carries ~the full dataset
    on near-unique keys: 69 MB at sf1 on the kmv_zipf_build probe vs
    ~1 MB with the WindowGroupLimit pre-cut.

    Floor: the pre-cut is Catalyst's InferWindowGroupLimit rule, which
    needs Spark >= 3.5 and ``k`` at most
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by
    default; -1 disables the rule). Without it the sketch is still
    exact, but the dense_rank window sorts each group's full input in
    one task (the whole input when ``dims`` is None).

    The artifact is mergeable EXACTLY: the k smallest of the distinct
    union of per-day sketch arrays is the sketch of all those days,
    bit-for-bit by the same subset argument -- the incremental contract
    of hll_sketch, plus set ops (kmv_set_ops)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    from pyspark.sql import Window

    from .neardup import md5_hash60

    keys = [F.col(d) for d in (dims or [])]
    hashed = df.filter(F.col(key).isNotNull()).select(
        *keys, md5_hash60(F.col(key).cast("string")).alias("_h")
    )
    w = Window.partitionBy(*keys).orderBy("_h")
    cut = hashed.withColumn("_r", F.dense_rank().over(w)).filter(
        F.col("_r") <= k
    )
    sketch = F.slice(F.array_sort(F.collect_set("_h")), 1, k).alias(
        "sketch"
    )
    if dims:
        return cut.groupBy(*[F.col(d) for d in dims]).agg(sketch)
    return cut.agg(sketch)


def _kmv_estimate_expr(sketch: Column, k: int) -> Column:
    """Distinct-count estimate from one sketch array: exact size when
    the group never filled the sketch; otherwise the classic unbiased
    KMV estimator (k-1) / U_(k) with U_(k) = the k-th smallest hash
    normalized to (0, 1]."""
    n = F.size(sketch)
    kth = F.element_at(sketch, k).cast("double") / F.lit(_KMV_SPACE)
    return F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) / kth
    )


def kmv_estimate(sketches: DataFrame, k: int = 256) -> DataFrame:
    """Replace the sketch column with its cardinality estimate
    (``distinct_estimate`` BIGINT, exact below k distinct keys;
    relative error ~1/sqrt(k-2) above -- ~6% at the default).
    ``k`` must match the build."""
    others = [c for c in sketches.columns if c != "sketch"]
    return sketches.select(
        *others,
        F.round(_kmv_estimate_expr(F.col("sketch"), k))
        .cast("long")
        .alias("distinct_estimate"),
    )


def kmv_set_ops(pairs: DataFrame, k: int = 256) -> DataFrame:
    """Set-operation estimates for the two sketch columns ``sketch_a``
    and ``sketch_b`` side by side
    (join your per-segment sketch frames however the question demands,
    then call this): appends ``union_estimate``, ``jaccard``,
    ``intersection_estimate``, ``left_only_estimate`` and
    ``right_only_estimate`` (DOUBLE; BIGINT for the union).

    Method (Beyer et al.): the k smallest of the combined arrays form
    the union's own KMV sketch; within that sketch, the fraction of
    values present in BOTH inputs is an unbiased Jaccard estimate, and
    intersection = jaccard * |union|. Pure array expressions -- codegen,
    no shuffle, no UDF; both empty -> jaccard NULL, estimates 0."""
    a, b = F.col("sketch_a"), F.col("sketch_b")
    u = F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, k)
    out = pairs.withColumn("_u", u)
    union_est = _kmv_estimate_expr(F.col("_u"), k)
    inter_in_u = F.size(
        F.array_intersect(F.array_intersect(F.col("_u"), a), b)
    )
    jac = F.when(
        F.size(F.col("_u")) > 0,
        inter_in_u.cast("double") / F.size(F.col("_u")).cast("double"),
    )
    out = (
        out.withColumn("union_estimate", F.round(union_est).cast("long"))
        .withColumn("jaccard", jac)
        .withColumn(
            "intersection_estimate",
            F.coalesce(jac * union_est, F.lit(0.0)),
        )
    )
    return (
        out.withColumn(
            "left_only_estimate",
            F.greatest(
                _kmv_estimate_expr(a, k)
                - F.col("intersection_estimate"),
                F.lit(0.0),
            ),
        )
        .withColumn(
            "right_only_estimate",
            F.greatest(
                _kmv_estimate_expr(b, k)
                - F.col("intersection_estimate"),
                F.lit(0.0),
            ),
        )
        .drop("_u")
    )


# Poisson(1) CDF thresholds for the bootstrap weights: hard-coded
# literals so Spark and DuckDB make bit-identical comparisons. The
# tail is truncated at weight 7 (P(X >= 7) ~ 8.3e-5 -- statistically
# negligible, deterministically identical across engines).
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


def _safe_salt(salt: str) -> str:
    """Validate a salt destined for a SQL string literal (the
    interpolation is an injection seam in a public API). A strict
    charset beats escaping here because the coin must parse IDENTICALLY
    in Spark and the DuckDB twin, and the two dialects disagree on
    backslash escapes ('' vs \\')."""
    import re

    if not re.fullmatch(r"[A-Za-z0-9_\-./:]*", salt):
        raise ValueError(
            "salt must contain only [A-Za-z0-9_-./:] characters "
            f"(got {salt!r}); it is embedded in a SQL string literal "
            "replayed by both engines"
        )
    return salt


def _bootstrap_u_sql(id_sql: str, salt: str, r: int) -> str:
    """SQL text for one replicate's md5-uniform on [0, 1): the coin of
    (id, salt, replicate). Spark dialect; the DuckDB twin mirrors it
    through the md5_hash60 bridge."""
    return (
        f"conv(substring(md5(concat_ws(':', {id_sql}, "
        f"'{_safe_salt(salt)}', "
        f"'{r}')), 1, 15), 16, 10) / 1152921504606846976.0"
    )


def _pois1_case_sql(u_sql: str) -> str:
    """Poisson(1) weight from a uniform: the hard-coded CDF step."""
    cases = " ".join(
        f"WHEN {u_sql} < {t!r} THEN {float(k)}"
        for k, t in enumerate(_POIS1_CDF)
    )
    return f"(CASE {cases} ELSE 7.0 END)"


def bootstrap_ci(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    id_col: str,
    n_boot: int = 100,
    level: float = 0.95,
    salt: str = "",
    digits: int = 4,
) -> DataFrame:
    """Bootstrap confidence interval for the per-key MEAN via the
    Poisson bootstrap (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012) -- the distributed bootstrap:
    instead of resampling rows (a shuffle per replicate), every row
    gets an independent Poisson(1) weight per replicate, so ALL
    ``n_boot`` replicate means come out of ONE hash aggregate as
    sibling weighted sums. No second pass over the data, no shuffle
    beyond the group-by.

    Weights are md5-derived from (``id_col``, salt, replicate) --
    deterministic, partition-independent, and exactly replayable by
    the DuckDB twin (the coin convention of leakage_safe_split /
    negative_samples). ``id_col`` must identify rows stably across
    runs. CI bounds are the nearest-rank percentiles of the sorted
    replicate means (indices round(B*a/2) and round(B*(1-a/2)),
    1-clamped); NULL values drop; a replicate whose weights all land 0
    contributes a NULL mean, ignored by the rank pick (array_compact).

    Returns keys + (n, mean, ci_lo, ci_hi), stable-rounded. Plan cost:
    2*n_boot sibling aggregate expressions plus n_boot md5 evaluations
    per row -- flat but real; keep n_boot in the hundreds, and at
    extreme row counts run it over a hash-bucketed sample (the
    bootstrap's own Monte-Carlo error, ~1/sqrt(n_boot), dominates the
    subsampling error long before the sample gets small)."""
    if not 0 < level < 1:
        raise ValueError("level must be in (0, 1)")
    if n_boot < 10:
        raise ValueError("n_boot must be >= 10")
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        stable_round,
    )

    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull() & F.col(id_col).isNotNull()).select(
        *keys, v.alias("_v"), F.col(id_col).cast("string").alias("_id")
    )
    # one md5 per replicate per row: hoist the uniform into its own
    # projection so the CDF CASE reads a column reference, not seven
    # re-evaluations of the hash
    base = base.select(
        "*",
        *[
            F.expr(_bootstrap_u_sql("_id", salt, r)).alias(f"_u{r}")
            for r in range(n_boot)
        ],
    ).select(
        *keys,
        "_v",
        *[
            F.expr(_pois1_case_sql(f"_u{r}")).alias(f"_wt{r}")
            for r in range(n_boot)
        ],
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.avg("_v").alias("_mean"),
    ]
    for r in range(n_boot):
        aggs.append(F.expr(f"sum(_wt{r} * _v)").alias(f"_s{r}"))
        aggs.append(F.expr(f"sum(_wt{r})").alias(f"_w{r}"))
    agg = base.groupBy(*keys).agg(*aggs)
    means = F.array_compact(
        F.array(
            *[
                F.when(
                    F.col(f"_w{r}") > 0,
                    F.col(f"_s{r}") / F.col(f"_w{r}"),
                )
                for r in range(n_boot)
            ]
        )
    )
    alpha = 1.0 - level
    sorted_means = F.array_sort(means)
    b = F.size(sorted_means)
    lo_i = F.greatest(F.lit(1), F.round(b * F.lit(alpha / 2)).cast("int"))
    hi_i = F.least(b, F.round(b * F.lit(1 - alpha / 2)).cast("int"))
    return agg.select(
        *keys,
        "n",
        stable_round(F.col("_mean"), digits).alias("mean"),
        stable_round(
            F.element_at(sorted_means, lo_i), digits
        ).alias("ci_lo"),
        stable_round(
            F.element_at(sorted_means, hi_i), digits
        ).alias("ci_hi"),
    )


def cuped_adjust(
    df: DataFrame,
    keys: list[str],
    metric_col: str,
    covariate_col: str,
) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013): adjust an
    experiment metric by a PRE-PERIOD covariate so welch_ttest /
    bootstrap_ci read a tighter signal at the same traffic --
    y' = y - theta * (x - mean(x)), theta = cov(x, y) / var(x), fitted
    PER KEY GROUP (the experiment slice). The adjustment preserves the
    group mean exactly and shrinks variance by the squared correlation
    -- both pinned in tests.

    One hash agg fits (theta, mean_x) per group, broadcast-joined back;
    rows with a NULL covariate or metric pass through unadjusted (NULL
    metric_cuped -- the caller decides whether unadjusted units enter
    the readout). Degenerate groups (var(x) = 0 or < 2 pairs) adjust by
    theta = 0, i.e. metric_cuped = metric unchanged -- never a silent
    drop. Returns the input plus ``metric_cuped``."""
    y = F.col(metric_col).cast("double")
    x = F.col(covariate_col).cast("double")
    both = x.isNotNull() & y.isNotNull()
    fit = (
        df.filter(both)
        .groupBy(*keys)
        .agg(
            F.covar_samp(x, y).alias("_cov"),
            F.var_samp(x).alias("_var"),
            F.avg(x).alias("_mx"),
            F.count(F.lit(1)).alias("_np"),
        )
        .select(
            *keys,
            F.when(
                (F.col("_np") >= 2)
                & F.col("_var").isNotNull()
                & (F.col("_var") > 0),
                F.col("_cov") / F.col("_var"),
            )
            .otherwise(F.lit(0.0))
            .alias("_theta"),
            "_mx",
        )
    )
    out = df.join(F.broadcast(fit), list(keys), "left")
    return out.withColumn(
        "metric_cuped",
        F.when(
            both & F.col("_theta").isNotNull(),
            y - F.col("_theta") * (x - F.col("_mx")),
        ),
    ).drop("_theta", "_mx")


def rank_sum_test(
    df,
    treat_col: str,
    value_col: str,
    group_a,
    group_b,
    keys: list[str] | None = None,
) -> DataFrame:
    """Mann-Whitney / Wilcoxon rank-sum test statistic per key group --
    the nonparametric sibling of welch_ttest for metrics whose
    distributions are heavy-tailed or ordinal (latency, counts,
    satisfaction scores), where mean-based tests mislead. Returns one
    row per key with per-arm n, the U statistic for ``group_a``
    (``u_stat``) and the tie-corrected normal-approximation
    ``z_stat``. Like welch_ttest it deliberately STOPS at the
    statistic (no homegrown CDF); threshold z against critical values
    downstream. NULL values and rows in neither arm are excluded; a
    degenerate group (an empty arm, or every value tied so the
    variance is 0) reports NULL z.

    Method: midranks via two windows -- ``rank()`` over value within
    key gives the min-rank, a count over (key, value) gives the tie
    size t, midrank = min_rank + (t-1)/2 -- then ONE hash aggregate
    per key: R_a = sum of arm-a midranks, U_a = R_a - n_a(n_a+1)/2,
    var(U) = (n_a n_b / 12) * ((n+1) - sum(t^3 - t)/(n(n-1))) where
    the tie sum folds out of the same per-row t (sum over rows of
    (t^2 - 1) = sum over distinct values of t^3 - t).

    Scale shape: the rank window sorts each key group within one task
    -- inherent to rank statistics (a global order per group is the
    statistic). Right-sized for experiment slices (millions of rows
    per slice sort comfortably); for ONE giant undivided population,
    pre-bucket the metric (the DDSketch/quantile route) instead of
    exact ranks."""
    from pyspark.sql import Window

    keys = list(keys or [])
    t = F.col(treat_col)
    v = F.col(value_col).cast("double")
    in_a, in_b = t == F.lit(group_a), t == F.lit(group_b)
    base = df.filter((in_a | in_b) & v.isNotNull()).select(
        *keys, t.alias("_arm"), v.alias("_v")
    )
    w_rank = Window.partitionBy(*keys).orderBy("_v")
    w_tie = Window.partitionBy(*keys, "_v")
    ranked = base.select(
        *keys,
        "_arm",
        (
            F.rank().over(w_rank)
            + (F.count(F.lit(1)).over(w_tie) - 1) / 2.0
        ).alias("_mid"),
        F.count(F.lit(1)).over(w_tie).alias("_t"),
    )
    a_arm = F.col("_arm") == F.lit(group_a)
    g = ranked.groupBy(*keys).agg(
        F.count(F.when(a_arm, 1)).alias("n_a"),
        F.count(F.when(~a_arm, 1)).alias("n_b"),
        F.sum(F.when(a_arm, F.col("_mid"))).alias("_ra"),
        F.sum(F.col("_t") * F.col("_t") - 1).alias("_ties"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = na + nb
    u = F.col("_ra") - na * (na + 1) / 2
    var_u = (na * nb / 12.0) * (
        (n + 1) - F.col("_ties") / (n * (n - 1))
    )
    return g.select(
        *keys,
        "n_a",
        "n_b",
        u.alias("u_stat"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var_u > 0),
            (u - na * nb / 2) / F.sqrt(var_u),
        ).alias("z_stat"),
    )


def sequential_mixture_test(
    df,
    keys: list[str],
    order_col: str,
    value_col: str,
    theta0: float = 0.0,
    tau: float | None = None,
) -> DataFrame:
    """mSPRT always-valid sequential test (Johari, Koomen, Pekelis,
    Walsh -- "Peeking at A/B Tests", KDD 2017): the experiment readout
    you may look at AFTER EVERY EVENT without inflating false
    positives. For H0: mean = ``theta0`` with a N(theta0, tau^2)
    mixture prior over the alternative, the mixture likelihood ratio
    at the n-th observation is

        Lambda_n = sqrt(s2/(s2 + n tau^2))
                   * exp(n^2 tau^2 (xbar_n - theta0)^2
                         / (2 s2 (s2 + n tau^2)))

    and the always-valid p-value is the running minimum of
    1/Lambda -- monotone by construction, so "stop when p < alpha" is
    valid at any peek. Returns one row per input observation:
    keys + order_col + (n, xbar, log_lambda, p_always_valid).

    ``tau`` defaults to the per-key sample sd (a readout-time
    recompute; a LIVE monitor fixes tau a priori -- pass it). s2 is
    the per-key sample variance of the full series (the paper's
    plug-in; documented approximation). Degenerate series (variance 0
    or a single point) report NULL log_lambda and p 1.0.

    Scale shape: one hash agg for (s2, tau), broadcast back; then
    ONE ordered window per key computes the cumulative (n, sum) pair
    and the running max of log Lambda -- O(rows), no shuffle beyond
    the window's key partitioning. ``order_col`` must be unique per
    key (event sequence / timestamp) -- the peek order IS the
    statistic, so a nondeterministic order would change p."""
    from pyspark.sql import Window

    keys = list(keys)
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(
        *keys, F.col(order_col), v.alias("_v")
    )
    fit = base.groupBy(*keys).agg(
        F.var_samp("_v").alias("_s2"),
        F.stddev_samp("_v").alias("_sd"),
        F.count(F.lit(1)).alias("_nn"),
    )
    out = base.join(F.broadcast(fit), keys, "left")
    tau_c = F.lit(float(tau)) if tau is not None else F.col("_sd")
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w).cast("double")
    xbar = F.sum("_v").over(w) / n
    s2 = F.col("_s2")
    t2 = tau_c * tau_c
    denom = s2 + n * t2
    log_lam = 0.5 * F.log(s2 / denom) + (
        n * n * t2 * (xbar - F.lit(float(theta0))) * (xbar - F.lit(float(theta0)))
    ) / (2 * s2 * denom)
    ok = (
        s2.isNotNull()
        & (s2 > 0)
        & tau_c.isNotNull()
        & (tau_c > 0)
        & (F.col("_nn") >= 2)
    )
    scored = out.select(
        *keys,
        order_col,
        n.cast("long").alias("n"),
        xbar.alias("xbar"),
        F.when(ok, log_lam).alias("log_lambda"),
    )
    w_run = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run_max = F.max("log_lambda").over(w_run)
    return scored.withColumn(
        "p_always_valid",
        F.when(
            run_max.isNotNull(), F.least(F.lit(1.0), F.exp(-run_max))
        ).otherwise(F.lit(1.0)),
    )


def global_row_number(
    df,
    order_cols: list[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based row numbers under a TOTAL order -- without the
    single-task global sort. ``Window.orderBy(...)`` with no
    partitionBy moves EVERY row into one task (Spark even warns); at
    100 TB that is the same melt as an unpartitioned rank window. This
    is the classic two-phase formulation instead:

      1. range-partition on the order columns (one shuffle; Spark's
         RangePartitioner samples split points, equal keys land in one
         partition and partitions are themselves ordered);
      2. per-partition row_number over a window keyed by the physical
         partition id -- each task sorts only its own range;
      3. per-partition counts collect to the driver (bounded by the
         partition count -- the documented collect class), fold into
         cumulative offsets, and broadcast back as a join on the
         partition id: global rn = offset(pid) + local rn.

    ``order_cols`` must be a TOTAL order (append a unique tiebreak
    column if the prefix has ties) -- row numbers under a partial
    order are nondeterministic in ANY engine, and this operator
    refuses to hide that: it computes row_number, not rank, so ties
    would be broken by partition layout. The result is then
    bit-reproducible across runs, partitionings and engines.

    Returns the input plus ``out_col`` (BIGINT). percent_rank under a
    total order = (rn - 1) / (n - 1); ntile(k) = ceil(rn * k / n)."""
    if not order_cols:
        raise ValueError("order_cols must be non-empty")
    from pyspark.sql import Window

    parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"
    )
    ranged = df.repartitionByRange(int(parts), *order_cols).withColumn(
        "_gpid", F.spark_partition_id()
    )
    # cache so the counts pass and the ranked pass see the SAME range
    # boundaries (RangePartitioner samples; two evaluations could split
    # differently and misalign the offsets)
    ranged = ranged.localCheckpoint()
    counts = {
        r._gpid: r.cnt
        for r in ranged.groupBy("_gpid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = local_frame(
        df.sparkSession, list(offsets.items()), "_gpid INT, _goff LONG"
    )
    w = Window.partitionBy("_gpid").orderBy(*order_cols)
    return (
        ranged.join(F.broadcast(off_df), "_gpid")
        .withColumn(
            out_col,
            (F.row_number().over(w) + F.col("_goff")).cast("long"),
        )
        .drop("_gpid", "_goff")
    )


def mutual_information(
    df,
    col_a: str,
    col_b: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Mutual information between two categorical columns, per key
    group -- the model-free dependence measure feature-selection and
    drift checks want where correlation only sees linear numeric
    relationships (does `source` carry information about `lang`? does
    a feature leak the label?). Returns one row per key with ``n``
    (scored rows), ``mi`` (nats), per-column entropies ``h_a``/``h_b``
    and ``nmi`` = mi / sqrt(h_a * h_b) (NULL when either marginal is
    deterministic -- there is nothing to share information with).

    I(A;B) = sum over observed (a,b) cells of p(a,b) *
    ln(p(a,b) / (p(a) p(b))). Rows where either side is NULL are
    excluded (NULL is missingness, not a category; cast it to a
    sentinel upstream to score it).

    Scale shape: ONE hash aggregate builds the joint contingency frame
    (one row per observed (key, a, b) cell -- the frame is bounded by
    CELL cardinality, not row count); marginals fold over that same
    frame as two window sums partitioned by (key, a) / (key, b), so
    nothing bigger than the contingency table ever shuffles again, and
    no cell group concentrates more than its own distinct partners.
    Cardinality assumption: "bounded" means bounded by the CATEGORY
    alphabets -- an id-like column on either side makes the
    contingency frame row-sized and the per-key window a single-task
    sort; bin or hash such columns first (the ks_test honesty
    standard)."""
    from pyspark.sql import Window

    keys = list(keys or [])
    a, b = F.col(col_a), F.col(col_b)
    joint = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(*keys, a.alias("_a"), b.alias("_b"))
        .agg(F.count(F.lit(1)).cast("double").alias("_c"))
    )
    w_k = Window.partitionBy(*keys) if keys else Window.partitionBy()
    w_a = Window.partitionBy(*keys, "_a")
    w_b = Window.partitionBy(*keys, "_b")
    n = F.sum("_c").over(w_k)
    ca = F.sum("_c").over(w_a)
    cb = F.sum("_c").over(w_b)
    c = F.col("_c")
    cells = joint.select(
        *keys,
        n.alias("_n"),
        ((c / n) * F.log(c * n / (ca * cb))).alias("_mi_term"),
        # entropy terms, divided by the cell's partner count so each
        # marginal contributes exactly once despite living on every
        # joint row that shares it
        (
            -(ca / n) * F.log(ca / n) / F.count(F.lit(1)).over(w_a)
        ).alias("_ha_term"),
        (
            -(cb / n) * F.log(cb / n) / F.count(F.lit(1)).over(w_b)
        ).alias("_hb_term"),
    )
    g = cells.groupBy(*keys).agg(
        F.first("_n").cast("long").alias("n"),
        F.sum("_mi_term").alias("mi"),
        F.sum("_ha_term").alias("h_a"),
        F.sum("_hb_term").alias("h_b"),
    )
    denom = F.sqrt(F.col("h_a") * F.col("h_b"))
    return g.select(
        *keys,
        "n",
        "mi",
        "h_a",
        "h_b",
        F.when(denom > 0, F.col("mi") / denom).alias("nmi"),
    )


def diff_in_diff(
    df,
    treat_col: str,
    period_col: str,
    value_col: str,
    treated,
    post,
    keys: list[str] | None = None,
) -> DataFrame:
    """Difference-in-differences readout per key group -- the
    quasi-experimental estimator for rollouts WITHOUT randomization (a
    feature shipped to one region/cohort): the treated group's
    pre-to-post change minus the control group's, so any shared trend
    (seasonality, marketing, macro shifts) cancels instead of being
    credited to the launch. Rows where ``treat_col`` != ``treated``
    are control; rows where ``period_col`` != ``post`` are pre.

    Returns one row per key: the four cell means/counts
    (``mean_t_post`` etc.), ``did`` = (t_post - t_pre) - (c_post -
    c_pre), its large-sample ``se`` = sqrt(sum of cell var/n), and
    ``z_stat`` = did/se (NULL when any cell is empty or the SE is 0 --
    a missing cell makes the contrast undefined). Like welch_ttest it
    stops at the statistic; the parallel-trends ASSUMPTION is the
    analyst's to defend, not the engine's.

    Scale shape: ONE hash aggregate with conditional sibling
    aggregates over the four (treat x period) cells -- no per-cell
    scans, no joins, grouped by ``keys`` so one pass scores every
    slice."""
    keys = list(keys or [])
    v = F.col(value_col).cast("double")
    is_t = F.col(treat_col) == F.lit(treated)
    is_p = F.col(period_col) == F.lit(post)

    def cell(ct, cp, fn, alias):
        cond = (is_t == F.lit(ct)) & (is_p == F.lit(cp))
        return fn(F.when(cond, v)).alias(alias)

    g = df.filter(v.isNotNull()).groupBy(*keys).agg(
        cell(True, True, F.count, "n_t_post"),
        cell(True, False, F.count, "n_t_pre"),
        cell(False, True, F.count, "n_c_post"),
        cell(False, False, F.count, "n_c_pre"),
        cell(True, True, F.avg, "mean_t_post"),
        cell(True, False, F.avg, "mean_t_pre"),
        cell(False, True, F.avg, "mean_c_post"),
        cell(False, False, F.avg, "mean_c_pre"),
        cell(True, True, F.var_samp, "_v_tt"),
        cell(True, False, F.var_samp, "_v_tp"),
        cell(False, True, F.var_samp, "_v_ct"),
        cell(False, False, F.var_samp, "_v_cp"),
    )
    did = (F.col("mean_t_post") - F.col("mean_t_pre")) - (
        F.col("mean_c_post") - F.col("mean_c_pre")
    )
    se = F.sqrt(
        F.col("_v_tt") / F.col("n_t_post")
        + F.col("_v_tp") / F.col("n_t_pre")
        + F.col("_v_ct") / F.col("n_c_post")
        + F.col("_v_cp") / F.col("n_c_pre")
    )
    ok = (
        (F.col("n_t_post") > 0)
        & (F.col("n_t_pre") > 0)
        & (F.col("n_c_post") > 0)
        & (F.col("n_c_pre") > 0)
    )
    return g.select(
        *keys,
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        "mean_t_pre",
        "mean_t_post",
        "mean_c_pre",
        "mean_c_post",
        F.when(ok, did).alias("did"),
        F.when(ok & (se > 0), se).alias("se"),
        F.when(ok & (se > 0), did / se).alias("z_stat"),
    )


def minimum_detectable_effect(
    df,
    treat_col: str,
    value_col: str,
    group_a,
    group_b,
    keys: list[str] | None = None,
) -> DataFrame:
    """Experiment power readout per key group: given the traffic an
    experiment ACTUALLY collected, the smallest true mean difference
    it could reliably have detected -- the number that separates "no
    effect" from "underpowered" when a test comes back flat, and the
    sizing input for the next experiment. Returns one row per key with
    per-arm n, the pooled sd, ``se`` of the mean difference,
    ``mde_abs`` = (z_alpha + z_power) * se, and ``mde_rel`` = mde_abs
    / |mean_a| (NULL when the baseline mean is 0).

    The z's are the conventional two-sided alpha=0.05 (z=1.959964) and
    power=0.80 (z=0.841621), as constants (no homegrown CDF -- the
    welch_ttest discipline). Degenerate groups (an empty arm, or
    zero variance) report NULL mde.

    Scale shape: ONE hash aggregate with conditional sibling
    aggregates -- the same single pass as welch_ttest, so one scan
    sizes every experiment/metric slice."""
    keys = list(keys or [])
    t = F.col(treat_col)
    v = F.col(value_col).cast("double")
    in_a, in_b = t == F.lit(group_a), t == F.lit(group_b)

    def arm(cond, fn, alias):
        return fn(F.when(cond, v)).alias(alias)

    g = df.filter((in_a | in_b) & v.isNotNull()).groupBy(*keys).agg(
        arm(in_a, F.count, "n_a"),
        arm(in_b, F.count, "n_b"),
        arm(in_a, F.avg, "mean_a"),
        arm(in_a, F.var_samp, "_var_a"),
        arm(in_b, F.var_samp, "_var_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    # pooled variance, the standard sizing assumption
    s2 = (
        (na - 1) * F.col("_var_a") + (nb - 1) * F.col("_var_b")
    ) / (na + nb - 2)
    se = F.sqrt(s2 * (1 / na + 1 / nb))
    mde = F.lit(1.959964 + 0.841621) * se
    ok = (na > 1) & (nb > 1) & (se > 0)
    return g.select(
        *keys,
        "n_a",
        "n_b",
        "mean_a",
        F.when(ok, F.sqrt(s2)).alias("pooled_sd"),
        F.when(ok, se).alias("se"),
        F.when(ok, mde).alias("mde_abs"),
        F.when(
            ok & (F.abs(F.col("mean_a")) > 0),
            mde / F.abs(F.col("mean_a")),
        ).alias("mde_rel"),
    )


def conformal_interval(
    cal_df,
    pred_col: str,
    actual_col: str,
    alpha: float = 0.1,
    keys: list[str] | None = None,
) -> DataFrame:
    """Split-conformal calibration (Vovk et al.; Lei et al. 2018):
    from a held-out calibration frame of (prediction, actual) pairs,
    the absolute-residual quantile ``qhat`` such that ``pred +- qhat``
    covers a fresh point with probability >= 1 - alpha -- a
    DISTRIBUTION-FREE guarantee needing only exchangeability, which is
    why it has become the standard cheap uncertainty wrapper around
    any point forecaster. Returns one row per key: ``n_cal``, ``k_rank``
    (the order-statistic index ceil((n+1)(1-alpha))), and ``qhat``
    (NULL when n_cal < k -- too little calibration data to certify the
    level; widening to +inf is the caller's policy call).

    qhat is the k-th SMALLEST |actual - pred| -- the exact finite-
    sample order statistic, not an interpolated quantile, so the
    coverage proof applies verbatim and any engine replays it
    bit-for-bit. Apply downstream as a broadcast join on ``keys``:
    lo = pred - qhat, hi = pred + qhat (see conformal_apply). The
    index column is named ``k_rank`` (not ``k``) so a key column with
    the conventional short name can't collide with it.

    Scale shape: one rank window per key group (the rank_sum_test
    trade: an exact order statistic IS a per-group sort) over just the
    residuals, then one hash agg. Calibration sets are the small split
    by construction; the 100 TB frame is the one you APPLY to, and
    that side is a broadcast join of one row per key."""
    keys = list(keys or [])
    if not 0 < alpha < 1:
        raise ValueError("alpha must be in (0, 1)")
    from pyspark.sql import Window

    r = F.abs(
        F.col(actual_col).cast("double") - F.col(pred_col).cast("double")
    )
    base = cal_df.filter(r.isNotNull()).select(*keys, r.alias("_r"))
    w_rank = Window.partitionBy(*keys).orderBy("_r")
    w_all = Window.partitionBy(*keys)
    lvl = 1.0 - float(alpha)
    k = F.ceil((F.count(F.lit(1)).over(w_all) + 1) * F.lit(lvl)).cast(
        "long"
    )
    ranked = base.select(
        *keys,
        "_r",
        F.row_number().over(w_rank).alias("_rn"),
        k.alias("_k"),
    )
    return ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_cal"),
        F.first("_k").alias("k_rank"),
        F.max(
            F.when(F.col("_rn") == F.col("_k"), F.col("_r"))
        ).alias("qhat"),
    )


def conformal_apply(
    df,
    fit: DataFrame,
    pred_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Attach split-conformal bands from ``conformal_interval``'s fit
    frame: lo/hi = pred -+ qhat, NULL when the key's calibration was
    too small to certify the level (qhat NULL or key unseen). Broadcast
    join -- the fit is one row per key, so the 100 TB prediction frame
    never shuffles."""
    keys = list(keys or [])
    sel = fit.select(*keys, "qhat")
    j = (
        df.join(F.broadcast(sel), keys, "left")
        if keys
        else df.crossJoin(F.broadcast(sel))
    )
    p = F.col(pred_col).cast("double")
    return j.withColumn("lo", p - F.col("qhat")).withColumn(
        "hi", p + F.col("qhat")
    ).drop("qhat")


def srm_check(
    df,
    arm_col: str,
    expected: dict,
    keys: list[str] | None = None,
) -> DataFrame:
    """Sample-ratio-mismatch check per key group -- the experiment
    health gate that runs BEFORE any metric readout: when the observed
    arm split deviates from the designed allocation (``expected``,
    e.g. {"control": 1, "treat": 1}), assignment is broken (a
    redirect bug, a bot filter firing asymmetrically, a logging drop)
    and every downstream statistic is invalid. Industry practice flags
    chi2 p < 0.001; like welch_ttest this stops at the statistic --
    threshold ``chi2`` against the critical value for ``dof`` = arms-1
    downstream (10.83 at dof 1).

    chi2 = sum over arms (obs - n*w)^2 / (n*w) with w the arm's
    normalized expected weight. Rows whose arm is NOT in ``expected``
    are counted in ``n_unexpected`` and EXCLUDED from the test (an
    unknown arm is its own, louder, bug); arms in ``expected`` with
    zero observed rows still contribute their full expected mass.
    Returns one row per key: n, n_unexpected, per-arm observed counts
    (``obs_<arm>``), chi2, dof.

    Scale shape: ONE hash aggregate with one conditional count per
    designed arm -- the arm list is the experiment design (a handful),
    so the sibling-aggregate row stays tiny at any row count."""
    if not expected:
        raise ValueError("expected must name at least one arm")
    keys = list(keys or [])
    total_w = float(sum(expected.values()))
    if total_w <= 0:
        raise ValueError("expected weights must sum to > 0")
    arms = list(expected)
    a = F.col(arm_col)
    g = df.groupBy(*keys).agg(
        F.count(F.when(a.isin(arms), 1)).alias("n"),
        F.count(
            F.when(a.isNotNull() & ~a.isin(arms), 1)
        ).alias("n_unexpected"),
        *[
            F.count(F.when(a == F.lit(arm), 1)).alias(f"obs_{arm}")
            for arm in arms
        ],
    )
    n = F.col("n").cast("double")
    chi2 = None
    for arm in arms:
        w = float(expected[arm]) / total_w
        exp_n = n * F.lit(w)
        term = (F.col(f"obs_{arm}") - exp_n) ** 2 / exp_n
        chi2 = term if chi2 is None else chi2 + term
    return g.select(
        *keys,
        "n",
        "n_unexpected",
        *[f"obs_{arm}" for arm in arms],
        F.when(n > 0, chi2).alias("chi2"),
        F.lit(len(arms) - 1).alias("dof"),
    )


def cusum_changepoints(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    drift: float = 0.5,
    threshold: float = 5.0,
    target: float | None = None,
    scale: float | None = None,
    digits: int = 6,
) -> DataFrame:
    """Tabular CUSUM (Page) change detection per key -- the sustained
    mean-shift detector a pointwise z-score cannot give: a 0.5-sigma
    drift that never trips a single-bucket z accumulates in the CUSUM
    statistic and alarms within a few points.

    Method, stated so the oracle can replay it: with standardized
    deviation z_i = (x_i - mu) / sd, the textbook recursions
    s+_i = max(0, s+_{i-1} + z_i - k) and
    s-_i = max(0, s-_{i-1} - z_i - k) have the EXACT prefix-extremum
    closed form s_i = P_i - min(0, min_{j<=i} P_j) where P is the
    running sum of the increments (y_i = z_i - k resp. -z_i - k) --
    every reset that max(0, .) performs is a new running minimum of P.
    That turns an inherently sequential recursion into two running
    sums + two running mins over ONE sorted window per key: no UDF, no
    applyInPandas, whole-stage codegen end to end, and DuckDB replays
    the identical formula (the parity test's oracle).

    ``target``/``scale`` pin mu/sd explicitly (online monitoring
    against a known baseline); left None they default to the per-key
    mean / sample stddev via one hash agg broadcast back (offline
    retrospective scan). Keys whose sd is 0 or NULL (constant or
    singleton series) emit NULL scores rather than infinities. NULL
    values are dropped at entry (a skipped reading does not advance
    the statistic). Ties in ``order_col`` make prefix sums
    nondeterministic -- pre-compose a tiebreaker.

    Scale shape: one bounded hash agg (per-key baseline, rows = keys)
    broadcast-joined back, then a single sort exchange per key serves
    all four window expressions -- consecutive Window nodes over the
    same (partition, order) share one sort. State per task is O(1).

    Returns keys + (order_col, value_col, cusum_pos, cusum_neg,
    alarm) with alarm = either statistic above ``threshold``.

    Pure Spark composition; no reference analogue (the reference has
    no window functions at all -- SURVEY.md SS2.6).
    """
    if drift < 0:
        raise ValueError("drift must be >= 0")
    if threshold <= 0:
        raise ValueError("threshold must be > 0")
    if (target is None) != (scale is None):
        raise ValueError("set both target and scale, or neither")
    from pyspark.sql import Window

    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        stable_round,
    )

    keys = list(keys)
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(*keys, order_col, v.alias("_v"))
    if target is None:
        stats = base.groupBy(*keys).agg(
            F.avg("_v").alias("_mu"),
            F.stddev_samp("_v").alias("_sd"),
        )
        # keyless self-fit: stats is ONE row, and join([]) is an error
        # -- attach it as a broadcast scalar (the impute_mean pattern;
        # found when the pipeline_health demo ran the global form)
        base = (
            base.join(F.broadcast(stats), keys)
            if keys
            else base.join(F.broadcast(stats), F.lit(True))
        )
    else:
        if scale is not None and scale <= 0:
            raise ValueError("scale must be > 0")
        base = base.withColumns(
            {"_mu": F.lit(float(target)), "_sd": F.lit(float(scale))}
        )
    z = F.when(
        F.col("_sd") > 0, (F.col("_v") - F.col("_mu")) / F.col("_sd")
    )
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    k = F.lit(float(drift))
    summed = base.withColumns(
        {
            "_p": F.sum(z - k).over(w_cum),
            "_q": F.sum(-z - k).over(w_cum),
            "_null_seen": F.max(z.isNull().cast("int")).over(w_cum),
        }
    )
    # second Window pass over the SAME (partition, order): running min
    # of the prefix sums themselves -- no extra exchange or sort
    ranged = summed.withColumns(
        {
            "_pmin": F.min("_p").over(w_cum),
            "_qmin": F.min("_q").over(w_cum),
        }
    )
    s_pos = F.col("_p") - F.least(F.lit(0.0), F.col("_pmin"))
    s_neg = F.col("_q") - F.least(F.lit(0.0), F.col("_qmin"))
    ok = F.col("_null_seen") == 0
    return ranged.select(
        *keys,
        order_col,
        F.col("_v").alias(value_col),
        stable_round(F.when(ok, s_pos), digits).alias("cusum_pos"),
        stable_round(F.when(ok, s_neg), digits).alias("cusum_neg"),
        F.when(
            ok,
            (s_pos > F.lit(float(threshold)))
            | (s_neg > F.lit(float(threshold))),
        ).alias("alarm"),
    )


def holt_smooth(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """Per-key Holt double-exponential smoothing (level + trend): a
    level-only EWMA lags a ramp by (1-alpha)/alpha steps forever; Holt
    carries an explicit trend state so a steady ramp is
    tracked exactly (the replica test pins this: on a perfectly linear
    series the one-step-ahead fit is the series itself, any alpha/beta).

    Recursions (Holt 1957, Hyndman-Athanasopoulos init l_1 = x_1,
    b_1 = x_2 - x_1, b_1 = 0 for singletons):
        fitted_t = l_{t-1} + b_{t-1}           (one-step-ahead, NULL at t=1)
        l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}
    Order-sequential with data-dependent state -- no closed window
    form (unlike cusum_changepoints' prefix-extremum identity), so
    this joins bpe_encode as a justified Arrow path: ONE
    applyInPandas per key group after one shuffle on the keys; per-key
    series must fit an executor (keys like (series, day) at 100 TB,
    never one global key). NULL values are dropped at entry (a missing
    reading neither advances nor decays the state). Ties in
    ``order_col`` make the recursion nondeterministic -- pre-compose a
    tiebreaker. Test-only by design: exact pure-Python replica
    equality in tests/test_mining.py.

    Returns input columns + (level, trend, fitted)."""
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    if not 0 <= beta <= 1:
        raise ValueError("beta must be in [0, 1]")
    from pyspark.sql.types import DoubleType, StructField, StructType

    base = df.filter(F.col(value_col).isNotNull())
    schema = StructType(
        base.schema.fields
        + [
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("fitted", DoubleType()),
        ]
    )

    def smooth(pdf):
        import numpy as np

        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(
            drop=True
        )
        x = pdf[value_col].astype("float64").to_numpy()
        n = len(x)
        lev = np.empty(n)
        tr = np.empty(n)
        fit = np.full(n, np.nan)
        if n:
            lev[0] = x[0]
            tr[0] = (x[1] - x[0]) if n > 1 else 0.0
            for t in range(1, n):
                prev = lev[t - 1] + tr[t - 1]
                fit[t] = prev
                lev[t] = alpha * x[t] + (1 - alpha) * prev
                tr[t] = beta * (lev[t] - lev[t - 1]) + (1 - beta) * tr[
                    t - 1
                ]
        pdf["level"] = lev
        pdf["trend"] = tr
        pdf["fitted"] = fit
        return pdf

    out = base.groupBy(*list(keys)).applyInPandas(smooth, schema=schema)
    # NaN marks the undefined first fit; surface it as SQL NULL
    return out.withColumn(
        "fitted", F.when(~F.isnan("fitted"), F.col("fitted"))
    )


def holt_forecast(
    smoothed: DataFrame,
    keys: Sequence[str],
    order_col: str,
    horizon: int,
) -> DataFrame:
    """h-step-ahead Holt forecasts from ``holt_smooth`` output: the
    terminal (level, trend) per key extrapolates linearly,
    yhat(T+h) = l_T + h*b_T. Pure DataFrame composition on top of the
    smoothed frame -- one row_number window to find each key's last
    state (the sort ``holt_smooth`` already shuffled for), then an
    explode of sequence(1..horizon): rows out = keys x horizon, no
    re-read of the series. Returns keys + (h, forecast)."""
    if horizon < 1:
        raise ValueError("horizon must be >= 1")
    from pyspark.sql import Window

    keys = list(keys)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    last = (
        smoothed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*keys, "level", "trend")
    )
    return last.select(
        *keys,
        F.explode(
            F.sequence(F.lit(1), F.lit(int(horizon)))
        ).alias("h"),
        "level",
        "trend",
    ).select(
        *keys,
        "h",
        (F.col("level") + F.col("h") * F.col("trend")).alias("forecast"),
    )


def anova_oneway(
    df,
    group_col: str,
    value_col: str,
    keys: "list[str] | None" = None,
):
    """One-way ANOVA F statistic per key slice -- the k-group
    generalization completing the two-sample family (welch_ttest,
    proportion_ztest, rank_sum_test): does ANY of k arms differ in
    mean? One row per key with n, k, the between/within sum-of-squares
    decomposition, degrees of freedom, and ``f_stat``. Deliberately
    stops at the statistic (no F-distribution CDF in Spark SQL -- the
    welch_ttest rationale); threshold downstream.

    Scale shape: TWO hash aggregations, both uniform -- per (keys,
    group) moment sums (n, sum, sum of squares; map-side combined),
    then per keys the closed-form decomposition
    SS_between = sum(s_g^2 / n_g) - S^2 / n,
    SS_within  = sum(ss_g) - sum(s_g^2 / n_g)
    -- no join between arms, no second scan. NULL values and NULL
    group labels are excluded."""
    keys = keys or []
    v = F.col(value_col).cast("double")
    per_group = (
        df.filter(F.col(group_col).isNotNull() & v.isNotNull())
        .groupBy(*keys, group_col)
        .agg(
            F.count(v).alias("_n"),
            F.sum(v).alias("_s"),
            F.sum(v * v).alias("_ss"),
        )
    )
    g = per_group.groupBy(*keys).agg(
        F.sum("_n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("_s").alias("_gs"),
        F.sum("_ss").alias("_gss"),
        F.sum(F.col("_s") * F.col("_s") / F.col("_n")).alias("_between_raw"),
    )
    ss_between = F.col("_between_raw") - F.col("_gs") * F.col("_gs") / F.col("n")
    ss_within = F.col("_gss") - F.col("_between_raw")
    df_b = (F.col("k") - 1).cast("long")
    df_w = (F.col("n") - F.col("k")).cast("long")
    f_stat = F.when(
        (df_b > 0) & (df_w > 0) & (ss_within > 0),
        (ss_between / df_b) / (ss_within / df_w),
    )
    return g.select(
        *keys,
        "n",
        "k",
        ss_between.alias("ss_between"),
        ss_within.alias("ss_within"),
        df_b.alias("df_between"),
        df_w.alias("df_within"),
        f_stat.alias("f_stat"),
    )


def rfm_scores(
    df,
    user_col: str,
    ts_col: str,
    value_col: str,
    as_of,
    n_bins: int = 5,
) -> DataFrame:
    """RFM segmentation: per user, Recency (days since last activity,
    relative to ``as_of``), Frequency (events), Monetary (summed value),
    each scored 1..n_bins by EXACT population quantile, plus the classic
    rule-table segment label -- the standard customer-value readout
    next to retention_matrix. Returns (user, recency_days,
    frequency, monetary, r_score, f_score, m_score, segment).

    Scores are exact ntiles computed skew-free: rank by (metric,
    user) via the two-phase global_row_number (NO single-task window),
    score = ceil(rank * n_bins / n_users); recency ranks DESCENDING so
    the MOST RECENT users score highest -- every score reads "higher =
    better". Ties break on the user id, so scoring is bit-reproducible
    and engine-replayable.

    Segment rules (documented fixed table; r/f on the 1..n scale
    normalized to quintile semantics): champion (r,f both top-2),
    loyal (both top-3), new (top-2 recency, bottom-1 frequency),
    at_risk (bottom-2 recency, top-3 frequency), hibernating (both
    bottom-2), else regular. NULL users/timestamps are excluded; NULL
    values count 0 toward monetary."""
    if n_bins < 4:
        # review: at n_bins=2 every user is 'champion' and at 3 the
        # hibernating rule is unreachable -- the rule table needs at
        # least a top-2/bottom-2 band separation
        raise ValueError(
            f"n_bins must be >= 4 (the rule table degenerates below "
            f"quartiles): {n_bins}"
        )
    u, t = F.col(user_col), F.col(ts_col)
    per_user = (
        df.filter(u.isNotNull() & t.isNotNull())
        .groupBy(u.alias("user"))
        .agg(
            F.datediff(
                F.lit(as_of).cast("date"), F.max(t).cast("date")
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.coalesce(F.col(value_col).cast("double"), F.lit(0.0))
            ).alias("monetary"),
        )
    ).localCheckpoint()  # three rank passes read the SAME frame
    n_users = per_user.count()  # bounded driver scalar
    if n_users == 0:
        raise ValueError("no users with non-null id and timestamp")

    def score(frame, metric, desc: bool, out: str):
        order = [
            F.col(metric).desc() if desc else F.col(metric).asc(),
            F.col("user"),
        ]
        ranked = global_row_number(frame, order, out_col="_rn")
        return ranked.withColumn(
            out,
            F.ceil(F.col("_rn") * n_bins / F.lit(n_users)).cast("int"),
        ).drop("_rn")

    scored = score(per_user, "recency_days", desc=True, out="r_score")
    scored = score(scored, "frequency", desc=False, out="f_score")
    scored = score(scored, "monetary", desc=False, out="m_score")
    r, f = F.col("r_score"), F.col("f_score")
    # thresholds scale with n_bins (quintile semantics at the default)
    hi2 = n_bins - 1  # top-2 band starts here at n_bins=5 -> 4
    hi3 = n_bins - 2
    lo2 = 2
    seg = (
        F.when((r >= hi2) & (f >= hi2), F.lit("champion"))
        .when((r >= hi2) & (f <= 1), F.lit("new"))
        .when((r >= hi3) & (f >= hi3), F.lit("loyal"))
        .when((r <= lo2) & (f >= hi3), F.lit("at_risk"))
        .when((r <= lo2) & (f <= lo2), F.lit("hibernating"))
        .otherwise(F.lit("regular"))
    )
    return scored.withColumn("segment", seg)


def weighted_quantile(
    df,
    keys: "list[str] | None",
    val_col: str,
    weight_col: str,
    q: float,
) -> DataFrame:
    """EXACT weighted q-quantile per key group -- the weighted
    percentile Spark SQL lacks (percentile/percentile_approx weight
    every row equally; survey weights, token counts, or dollar weights
    need this form). Definition: the smallest value whose cumulative
    weight reaches q * total weight (the left-continuous inverse CDF --
    deterministic, no interpolation, engine-replayable).

    One partitioned window per key (ordered by value with the weight
    cumsum) + one hash agg: keyed windows spread across reducers, so
    unlike a GLOBAL quantile there is no single-task melt -- per-key
    state is that key's rows, the same bound as any keyed window in
    the engine (a single pathological key wants a two-phase global
    rank like global_row_number instead). Rows with NULL value or NULL/
    non-positive weight are excluded; a group with no surviving rows
    emits no row. The quantile is the ``wq`` column."""
    if not 0 < q <= 1:
        raise ValueError(f"q must be in (0, 1]: {q}")
    keys = keys or []
    from pyspark.sql import Window

    v = F.col(val_col).cast("double")
    w = F.col(weight_col).cast("double")
    base = df.filter(v.isNotNull() & w.isNotNull() & (w > 0)).select(
        *keys, v.alias("_v"), w.alias("_w")
    )
    win = (
        Window.partitionBy(*[F.col(k) for k in keys])
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(*[F.col(k) for k in keys])
    cum = base.withColumn("_cw", F.sum("_w").over(win)).withColumn(
        "_tw", F.sum("_w").over(tot)
    )
    hit = cum.filter(F.col("_cw") >= F.lit(q) * F.col("_tw"))
    # the NULL filter makes the keyless form honor "no surviving rows
    # emits no row" too: a global agg over an empty frame returns one
    # NULL row (review), and no legitimate group can yield a NULL min
    return (
        hit.groupBy(*keys)
        .agg(F.min("_v").alias("wq"))
        .filter(F.col("wq").isNotNull())
    )


def freshness_report(
    df,
    keys: "list[str] | None",
    ts_col: str,
    as_of,
    sla_seconds: int,
) -> DataFrame:
    """Data-freshness SLA readout per key slice (source, partition,
    feed): latest event time, lag behind ``as_of`` in seconds, row
    count, and a boolean ``within_sla`` -- the first gate an operating
    pipeline checks before believing ANY downstream metric (a green
    aggregate over a feed that stopped arriving yesterday is the worst
    kind of wrong). ``as_of`` is an explicit timestamp, never now():
    determinism and engine replay over wall-clock convenience. Slices
    with only NULL timestamps report NULL last_ts/lag and
    within_sla = false (unknown freshness fails closed). ONE hash
    aggregation; NULL key values are excluded (the convention)."""
    if sla_seconds <= 0:
        raise ValueError(f"sla_seconds must be > 0: {sla_seconds}")
    keys = keys or []
    nn = F.lit(True)
    for k in keys:
        nn = nn & F.col(k).isNotNull()
    t = F.col(ts_col)
    agg = (
        df.filter(nn)
        .groupBy(*keys)
        .agg(
            F.max(t).alias("last_ts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    lag = (
        F.unix_timestamp(F.lit(as_of).cast("timestamp"))
        - F.unix_timestamp(F.col("last_ts"))
    ).cast("long")
    return agg.select(
        *keys,
        "last_ts",
        lag.alias("lag_seconds"),
        "n_rows",
        F.coalesce(
            lag <= F.lit(int(sla_seconds)), F.lit(False)
        ).alias("within_sla"),
    )


def bh_adjust(
    df,
    p_col: str,
    alpha: float = 0.05,
    keys: "list[str] | None" = None,
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment per key family -- the
    multiple-testing control an experiment platform runs over its
    per-metric p-values (welch_ttest / proportion_ztest / rank_sum_test
    / srm_check all stop at a statistic or p; when a readout tests
    dozens of metrics at once, raw p <= alpha inflates the false
    discovery rate, and BH 1995 is the standard correction). Input
    rows are tests; output is the input plus ``q_value`` (the BH
    adjusted p: q_i = min_{j >= i} p_(j) * m / j, capped at 1) and
    ``reject`` (q <= alpha -- equivalent to the classic step-up rule).

    Ties are safe: tied p-values provably receive the SAME q whatever
    order the window breaks them in (the running min from the tail
    always reaches the tie group's smallest m/j raw value), so the
    output is deterministic with no tiebreak column required.

    Scale shape: one partitioned window per key family, ordered by p,
    carrying the per-family count and the reverse running min -- the
    per-key state is that family's tests (metrics-sized, never
    row-sized). Rows with NULL p are excluded (nothing was tested);
    p outside [0, 1] raises rather than silently corrupting every
    other q in the family."""
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1): {alpha}")
    keys = keys or []
    from pyspark.sql import Window

    p = F.col(p_col).cast("double")
    base = df.filter(p.isNotNull())
    # fail loud on malformed p BEFORE it poisons the family's ranks:
    # raise_error only evaluates on an offending row
    checked = base.withColumn(
        "_p",
        F.when(
            (p >= 0) & (p <= 1), p
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"bh_adjust: {p_col} outside [0, 1]: "),
                    p.cast("string"),
                )
            )
        ),
    )
    part = [F.col(k) for k in keys]
    w_rank = Window.partitionBy(*part).orderBy("_p")
    w_all = Window.partitionBy(*part)
    ranked = checked.withColumn("_rn", F.row_number().over(w_rank)).withColumn(
        "_m", F.count(F.lit(1)).over(w_all)
    )
    # the tail min MUST traverse by the (unique) rank, not by p: with
    # tied p, a p-ordered desc window visits the tie group in arbitrary
    # order and a row's running min can miss the partner holding the
    # group's smallest m/j raw value
    w_tail = (
        Window.partitionBy(*part)
        .orderBy(F.col("_rn").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    q = F.least(
        F.min(F.col("_p") * F.col("_m") / F.col("_rn")).over(w_tail),
        F.lit(1.0),
    )
    return (
        ranked.withColumn("q_value", q)
        .withColumn("reject", F.col("q_value") <= F.lit(alpha))
        .drop("_p", "_rn", "_m")
    )


def fk_integrity_report(
    fact,
    dim,
    fk_col: str,
    pk_col: str,
) -> DataFrame:
    """Cross-table referential-integrity gate -- the check
    observe_expectations (single-table rules) and freshness_report
    (staleness) cannot make: does every foreign key actually resolve?
    An orphaned FK silently becomes a dropped row at the next inner
    join or a NULL-enriched row at the next left join; this reports it
    BEFORE the join does. Returns ONE row:

      n_fact, n_null_fk     fact rows / rows with NULL fk (excused --
                            NULL means "no parent", not "bad parent")
      n_orphans             non-null fks with NO matching pk
      orphan_rate           n_orphans / non-null fks (NULL if none)
      n_dim, n_dup_pk       dim rows / rows beyond the first per
                            non-null pk (a dup pk makes joins fan out)
      n_null_pk             dim rows whose pk is NULL -- they can
                            never match any fk, the dim-side defect
                            (review: count/count_distinct both skip
                            NULLs, so these rows were invisible to
                            n_dup_pk and ok said True over a broken
                            dimension)
      ok                    n_orphans = 0 AND n_dup_pk = 0 AND
                            n_null_pk = 0. Defined even on an EMPTY
                            fact or dim: zero-row conditional sums
                            coalesce to 0, so no-data
                            reads ok=true with every count 0 rather
                            than a NULL a gate cannot branch on

    Scale shape: ONE scan of the fact projected to the fk column,
    LEFT-joined against the DISTINCT non-null dim key set (one
    shuffle; dedup first so a dup pk cannot fan the fact out), then
    one conditional-count hash agg gives n_fact / n_null_fk /
    n_orphans together (review: the earlier agg + separate anti-join
    read the fact twice -- the docstring claimed one scan, the plan
    disagreed); the dim stats are one agg on the dim side, and the
    two bounded one-row frames meet in a broadcast join."""
    fk, pk = F.col(fk_col), F.col(pk_col)
    fact_keys = fact.select(fk.alias("_fk"))
    dim_keys = dim.select(pk.alias("_pk"))
    hits = (
        dim_keys.filter(F.col("_pk").isNotNull())
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    # conditional SUMs return NULL over zero rows, so an EMPTY fact (or
    # dim) would surface NULL counts and a NULL ``ok`` -- a gate could
    # not tell "clean" from "no data". Coalesce to 0: an
    # empty fact has zero orphans by definition and reads ok=true.
    zero = F.lit(0).cast("long")
    fact_agg = (
        fact_keys.join(hits, F.col("_fk") == F.col("_pk"), "left")
        .agg(
            F.count(F.lit(1)).alias("n_fact"),
            F.coalesce(
                F.sum(F.col("_fk").isNull().cast("long")), zero
            ).alias("n_null_fk"),
            F.coalesce(
                F.sum(
                    (
                        F.col("_fk").isNotNull() & F.col("_hit").isNull()
                    ).cast("long")
                ),
                zero,
            ).alias("n_orphans"),
        )
    )
    dim_agg = dim_keys.agg(
        F.count(F.lit(1)).alias("n_dim"),
        (F.count("_pk") - F.count_distinct("_pk")).alias("n_dup_pk"),
        F.coalesce(
            F.sum(F.col("_pk").isNull().cast("long")), zero
        ).alias("n_null_pk"),
    )
    joined = fact_agg.join(F.broadcast(dim_agg), F.lit(True))
    nonnull = F.col("n_fact") - F.col("n_null_fk")
    return joined.select(
        "n_fact",
        "n_null_fk",
        "n_orphans",
        F.when(
            nonnull > 0, F.col("n_orphans") / nonnull
        ).alias("orphan_rate"),
        "n_dim",
        "n_dup_pk",
        "n_null_pk",
        (
            (F.col("n_orphans") == 0)
            & (F.col("n_dup_pk") == 0)
            & (F.col("n_null_pk") == 0)
        ).alias("ok"),
    )


def ks_test(
    df_a,
    df_b,
    val_col: str,
    keys: "list[str] | None" = None,
    quantize: "int | None" = 6,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per key slice -- the
    nonparametric distribution-drift test beside psi_bins (PSI needs
    binning and smoothing; KS is exact and binning-free, the right
    gate when the drift might live between bin edges). D = the maximum
    absolute ECDF gap, evaluated exactly at every distinct value (ties
    pre-aggregate, so the ECDFs step correctly). Returns one row per
    key: (keys, n_a, n_b, d_stat) -- stops at the statistic (the
    welch_ttest rationale; reject when d_stat > c(alpha) *
    sqrt((n_a + n_b) / (n_a * n_b)), c(0.05) ~ 1.358).

    Scale shape: one hash agg per side to (keys, value) counts, a
    union, one ordered window per key for the two running sums
    (bounded by the key's DISTINCT values, not its rows), one final
    hash agg for the max gap. The honest caveat (the skew_distinct
    lesson): on a CONTINUOUS column distinct ~ rows, so a hot key's --
    or the keyless form's single global -- window degenerates to a
    row-sized single-task sort. ``quantize=d`` rounds values to d
    decimal places first (pure expression, map-side), bounding the
    window at the grid's cardinality; the statistic becomes the exact
    KS of the quantized distributions, which brackets the true D
    within one grid cell's probability mass -- the right trade at
    100 TB (or use psi_bins' fixed-bin form). SAFE BY DEFAULT:
    ``quantize`` defaults to 6 -- a micro-precision grid
    that is an exact no-op on any value with <= 6 fractional digits
    (counts, currencies, ratios rounded upstream) while capping the
    per-key window at the 1e-6 grid's cardinality on truly continuous
    data. The unbounded exact form is the explicit opt-in:
    ``quantize=None``. NULL values are excluded; a key present in
    only one side emits no row (no second ECDF to compare -- detect
    one-sided keys with fk_integrity_report / a join audit)."""
    keys = keys or []
    from pyspark.sql import Window

    def side(df, is_a: bool):
        nn = F.lit(True)
        for k in keys:
            nn = nn & F.col(k).isNotNull()
        v = F.col(val_col).cast("double")
        if quantize is not None:
            v = F.round(v, quantize)
        c = F.col("_c")
        zero = F.lit(0).cast("long")
        return (
            df.filter(nn & v.isNotNull())
            .groupBy(*keys, v.alias("_v"))
            .agg(F.count(F.lit(1)).alias("_c"))
            .select(
                *keys,
                "_v",
                (c if is_a else zero).alias("_ca"),
                (zero if is_a else c).alias("_cb"),
            )
        )

    u = side(df_a, True).unionByName(side(df_b, False))
    per_v = u.groupBy(*keys, "_v").agg(
        F.sum("_ca").alias("_da"), F.sum("_cb").alias("_db")
    )
    part = [F.col(k) for k in keys]
    w_cum = (
        Window.partitionBy(*part)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*part)
    stepped = (
        per_v.withColumn("_cum_a", F.sum("_da").over(w_cum))
        .withColumn("_cum_b", F.sum("_db").over(w_cum))
        .withColumn("_n_a", F.sum("_da").over(w_all))
        .withColumn("_n_b", F.sum("_db").over(w_all))
    )
    gap = F.abs(
        F.col("_cum_a") / F.col("_n_a") - F.col("_cum_b") / F.col("_n_b")
    )
    return (
        stepped.filter((F.col("_n_a") > 0) & (F.col("_n_b") > 0))
        .groupBy(*keys)
        .agg(
            F.max("_n_a").cast("long").alias("n_a"),
            F.max("_n_b").cast("long").alias("n_b"),
            F.max(gap).alias("d_stat"),
        )
    )


def fleiss_kappa(
    df,
    item_col: str,
    label_col: str,
    keys: "list[str] | None" = None,
) -> DataFrame:
    """Fleiss' kappa for MANY raters -- the multi-annotator
    generalization of Cohen's kappa (crowdsourced labeling rarely has
    two fixed raters; Fleiss 1971 measures agreement from the per-item
    label distribution alone, raters anonymous and interchangeable).
    Input rows are (item, label) assignments -- one per rating; output
    one row per key slice: (keys, n_items, n_raters, po, pe, kappa).
    The classic statistic requires the SAME number of ratings per
    item; items with a different count than the slice's modal count
    are excluded and the kept share is reported as ``coverage`` (the
    no-silent-caps convention -- a coverage well below 1.0 means the
    rating design is ragged and wants per-item weighting upstream).
    kappa is NULL when pe = 1 or n_raters < 2.

    Scale shape: one hash agg to (item, label) counts -- checkpointed,
    as is the per-item frame, so the raw ratings are scanned and
    aggregated exactly ONCE across the statistic's five consumers --
    then P_i = (sum c^2 - n) / (n (n - 1)) per item and class shares
    for pe; every frame after the first agg is item- or class-bounded
    and nothing joins the raw ratings."""
    keys = keys or []
    from pyspark.sql import Window

    nn = F.lit(True)
    for k in keys:
        nn = nn & F.col(k).isNotNull()
    base = df.filter(
        nn
        & F.col(item_col).isNotNull()
        & F.col(label_col).isNotNull()
    )
    cell = base.groupBy(
        *keys, F.col(item_col).alias("_item"), F.col(label_col).alias("_cls")
    ).agg(F.count(F.lit(1)).alias("_c"))
    # cell is read twice (per_item, class shares) and per_item four
    # times (modal, kept, coverage, totals): checkpoint both bounded
    # frames so the raw ratings are scanned and aggregated exactly
    # ONCE (the bh_adjust convention; without it the physical plan
    # recomputes the base agg once per consumer -- 5 scans)
    cell = cell.localCheckpoint()
    per_item = cell.groupBy(*keys, "_item").agg(
        F.sum("_c").alias("_n"),
        F.sum(F.col("_c") * F.col("_c")).alias("_ss"),
    ).localCheckpoint()
    # modal ratings-per-item count per slice (the Fleiss design n)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col("_cnt").desc(), F.col("_n").asc()
    )
    modal = (
        per_item.groupBy(*keys, "_n")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(*keys, F.col("_n").alias("_design_n"), "_cnt")
    )
    if keys:
        kept = per_item.join(modal, keys)
    else:
        kept = per_item.join(F.broadcast(modal), F.lit(True))
    kept = kept.filter(F.col("_n") == F.col("_design_n"))
    totals = kept.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.max("_design_n").alias("n_raters"),
        F.avg(
            F.when(
                F.col("_n") > 1,
                (F.col("_ss") - F.col("_n"))
                / (F.col("_n") * (F.col("_n") - 1)),
            )
        ).alias("po"),
    )
    share_base = cell.join(
        kept.select(*keys, "_item"), keys + ["_item"], "left_semi"
    )
    pe = (
        share_base.groupBy(*keys, "_cls")
        .agg(F.sum("_c").alias("_ck"))
        .groupBy(*keys)
        .agg(
            (
                F.sum(F.col("_ck") * F.col("_ck"))
                / (F.sum("_ck") * F.sum("_ck"))
            ).alias("pe")
        )
    )
    cov = per_item.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n_all")
    )
    if keys:
        joined = totals.join(pe, keys).join(cov, keys)
    else:
        joined = totals.join(F.broadcast(pe), F.lit(True)).join(
            F.broadcast(cov), F.lit(True)
        )
    kappa = F.when(
        (F.col("pe") < 1) & (F.col("n_raters") >= 2),
        (F.col("po") - F.col("pe")) / (1 - F.col("pe")),
    )
    return joined.select(
        *keys,
        "n_items",
        "n_raters",
        "po",
        "pe",
        kappa.alias("kappa"),
        (F.col("n_items") / F.col("_n_all")).alias("coverage"),
    )


def krippendorff_alpha(
    df,
    item_col: str,
    label_col: str,
    keys: "list[str] | None" = None,
) -> DataFrame:
    """Krippendorff's alpha for nominal labels (Krippendorff 2004 ch.
    11) -- the agreement gate for RAGGED rating designs, exactly where
    fleiss_kappa abstains: Fleiss requires the same number of ratings
    per item and EXCLUDES off-design items (reported as coverage);
    alpha weighs every pairable value, so a crowdsourcing run where
    items got 2, 3, or 5 ratings is measured whole. Input rows are
    (item, label) assignments; output one row per key slice:

      (keys..., n_items, n_values, do, de, alpha, coverage)

    with, over PAIRABLE items (n_u >= 2 ratings; singletons carry no
    agreement information and count only against ``coverage``):

      D_o = (1/N)        * sum_u (n_u^2 - sum_c n_uc^2) / (n_u - 1)
      D_e = (1/(N(N-1))) * (N^2 - sum_c N_c^2)
      alpha = 1 - D_o / D_e

    where N = total pairable values and N_c the per-category totals.
    alpha is NULL when N < 2 or D_e = 0 (one observed category: no
    disagreement is expected, so none can be measured -- abstention,
    not a flattering 1.0); an all-singleton input emits an abstention
    row (n_items 0, alpha NULL, coverage 0.0) -- one row keyless, and
    one row PER all-singleton key slice in the keyed form (the keyed
    assembly drives from the all-slices coverage frame with left
    joins, so no slice vanishes). Perfect
    agreement gives exactly 1.0; chance-level labeling sits near 0;
    systematic disagreement goes negative.

    Scale shape (the fleiss_kappa convention): one hash agg to
    (item, label) cells -- checkpointed, as is the per-item frame, so
    the raw ratings are scanned exactly once across the statistic's
    consumers -- then everything downstream is item- or class-bounded;
    nothing joins the raw ratings. The KEYLESS final assembly joins
    three ONE-ROW frames via broadcast cross join (the documented
    impute_mean waiver class; with keys it is plain equi-joins on the
    key)."""
    keys = keys or []
    nn = F.lit(True)
    for k in keys:
        nn = nn & F.col(k).isNotNull()
    base = df.filter(
        nn
        & F.col(item_col).isNotNull()
        & F.col(label_col).isNotNull()
    )
    cell = base.groupBy(
        *keys, F.col(item_col).alias("_item"), F.col(label_col).alias("_cls")
    ).agg(F.count(F.lit(1)).alias("_c"))
    # read twice (per-item fold, class totals): checkpoint the bounded
    # post-agg frames so raw ratings aggregate exactly once
    cell = cell.localCheckpoint()
    per_item = cell.groupBy(*keys, "_item").agg(
        F.sum("_c").alias("_n"),
        F.sum(F.col("_c") * F.col("_c")).alias("_ss"),
    ).localCheckpoint()
    pairable = per_item.filter(F.col("_n") >= 2)
    # D_o numerator as an exact DECIMAL sum: the per-item term is a
    # deterministically-rounded decimal(38,10) quotient and decimal
    # addition is exact, so the fold is identical under ANY
    # partitioning -- a plain double sum here returned last-ULP
    # different alpha depending on partition merge order (the replica
    # test pins repartition-invariance). Operand
    # precisions chosen so Spark's divide rule keeps scale 10 with no
    # precision loss (28 + 10 = 38).
    totals = pairable.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("_n").alias("n_values"),
        F.sum(
            (F.col("_n") * F.col("_n") - F.col("_ss")).cast(
                "decimal(28,0)"
            )
            / (F.col("_n") - 1).cast("decimal(9,0)")
        ).alias("_do_num"),
    )
    cls_tot = (
        cell.join(
            pairable.select(*keys, "_item"), keys + ["_item"], "left_semi"
        )
        .groupBy(*keys, "_cls")
        .agg(F.sum("_c").alias("_nc"))
        .groupBy(*keys)
        .agg(F.sum(F.col("_nc") * F.col("_nc")).alias("_ss_cls"))
    )
    cov = per_item.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n_all"))
    if keys:
        # drive the assembly from cov -- the one frame with EVERY key
        # slice -- via LEFT joins: a slice whose items are all
        # singletons has no totals/cls_tot row, and an inner join
        # would make it vanish instead of emitting the documented
        # abstention row (n_items 0, alpha NULL, coverage 0.0) the
        # keyless path produces
        joined = cov.join(totals, keys, "left").join(cls_tot, keys, "left")
    else:
        joined = totals.join(F.broadcast(cls_tot), F.lit(True)).join(
            F.broadcast(cov), F.lit(True)
        )
    n = F.col("n_values").cast("double")
    do = F.col("_do_num").cast("double") / n
    de = (n * n - F.col("_ss_cls")) / (n * (n - 1))
    alpha = F.when((n >= 2) & (de > 0), 1 - do / de)
    n_items = F.coalesce(F.col("n_items"), F.lit(0).cast("long"))
    return joined.select(
        *keys,
        n_items.alias("n_items"),
        "n_values",
        do.alias("do"),
        F.when(n >= 2, de).alias("de"),
        alpha.alias("alpha"),
        (n_items / F.col("_n_all")).alias("coverage"),
    )


def _binary01(col, fn_name: str, col_name: str):
    """Cast to double and fail LOUD on values outside {0, 1} -- the
    shared domain guard for binary-label operators (the bh_adjust /
    woe_fit pattern: raise_error only evaluates on an offending row, so
    the check is free on clean data and a fractional or out-of-range
    label can never truncate silently into corrupted counts)."""
    c = col.cast("double")
    return F.when((c == 0) | (c == 1), c).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{fn_name}: {col_name} outside {{0, 1}}: "),
                c.cast("string"),
            )
        )
    )


def classification_report(
    df,
    label_col: str,
    pred_col: str,
    keys: "list[str] | None" = None,
) -> DataFrame:
    """Binary-classification confusion counts + derived metrics per key
    slice -- the model-eval readout beside lift_table (ranking
    quality) and calibration_bins (probability quality): once a threshold turns
    scores into 0/1 predictions, THIS is the precision/recall/F1 gate a
    labeling or filtering pipeline promotes on. Returns one row per
    key: (keys..., n, tp, fp, fn, tn, accuracy, precision, recall, f1).

    Degenerate slices stay NULL, never a crash or a flattering 0: a
    slice with no predicted positives has undefined precision (tp+fp =
    0), no actual positives undefined recall, and f1 is NULL whenever
    either input is (or both are 0 -- the 0/0 harmonic mean). Labels
    and predictions must be 0/1-valued (booleans cast cleanly); out-of-
    domain values fail loud via _binary01, rows with a NULL on either
    side are excluded (unscored is not wrong). NULL key values form
    their own slice (plain groupBy semantics -- an unattributed
    segment is still a segment; disparity_report keeps the same rule
    for its group column -- a NULL group is a real slice and its
    counts feed the pooled denominators its gaps compare against).

    Scale shape: ONE conditional-count hash aggregate over one scan --
    all four confusion cells are sibling sums, the observe_expectations
    form; no windows, no joins, no second pass."""
    keys = keys or []
    y = _binary01(F.col(label_col), "classification_report", label_col)
    p = _binary01(F.col(pred_col), "classification_report", pred_col)
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(pred_col).isNotNull()
    ).select(*keys, (y == 1).alias("_y"), (p == 1).alias("_p"))
    cell = lambda a, b: F.sum(  # noqa: E731
        ((F.col("_y") == a) & (F.col("_p") == b)).cast("long")
    )
    agg = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        cell(True, True).alias("tp"),
        cell(False, True).alias("fp"),
        cell(True, False).alias("fn"),
        cell(False, False).alias("tn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    precision = F.when((tp + fp) > 0, tp / (tp + fp))
    recall = F.when((tp + fn) > 0, tp / (tp + fn))
    return agg.select(
        *keys,
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        ((tp + F.col("tn")) / F.col("n")).alias("accuracy"),
        precision.alias("precision"),
        recall.alias("recall"),
        F.when(
            precision.isNotNull()
            & recall.isNotNull()
            & ((precision + recall) > 0),
            2 * precision * recall / (precision + recall),
        ).alias("f1"),
    )


def disparity_report(
    df,
    group_col: str,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-group fairness slices for a binary classifier -- the
    disaggregated readout a responsible pipeline checks before shipping
    a filter or ranker trained on its labels: does the model's positive
    rate / true-positive rate / false-positive rate differ across
    segments? Returns one row per group: n, positive_rate
    (P(pred=1) -- the demographic-parity quantity), tpr (P(pred=1 |
    label=1) -- equal opportunity), fpr (P(pred=1 | label=0)), each
    group's POOLED counterpart repeated on the row (the benford/woe
    convention: positive_rate_overall / tpr_overall / fpr_overall from
    the pooled counts over all groups), and the gaps
    dp_gap / eo_gap / fpr_gap = group rate minus pooled rate. A group
    with no positives (or no negatives) has an undefined tpr (fpr) and
    the gap stays NULL -- absence of evidence, not zero disparity.
    NULL group is a REAL level (the woe_fit convention: missingness of
    the segment attribute is itself a segment); NULL labels/preds are
    excluded; out-of-domain labels fail loud via _binary01.

    Scale shape: ONE conditional-count hash agg to the group frame; the
    pooled rates fold over that POST-AGG frame as unpartitioned window
    sums -- bounded by the GROUP alphabet, the
    ks_test honesty standard: an id-like group_col (one group per row)
    makes the frame row-sized and the window a single-task sort; bin
    or hash such columns first."""
    from pyspark.sql import Window

    y = _binary01(F.col(label_col), "disparity_report", label_col)
    p = _binary01(F.col(pred_col), "disparity_report", pred_col)
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(pred_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        (y == 1).alias("_y"),
        (p == 1).alias("_p"),
    )
    agg = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_p").cast("long")).alias("_n_pp"),
        F.sum(F.col("_y").cast("long")).alias("_n_pos"),
        F.sum((F.col("_y") & F.col("_p")).cast("long")).alias("_tp"),
        F.sum((~F.col("_y") & F.col("_p")).cast("long")).alias("_fp"),
    )
    w = Window.partitionBy()
    t_n = F.sum("n").over(w)
    t_pp = F.sum("_n_pp").over(w)
    t_pos = F.sum("_n_pos").over(w)
    t_neg = t_n - t_pos
    t_tp = F.sum("_tp").over(w)
    t_fp = F.sum("_fp").over(w)
    n_neg = F.col("n") - F.col("_n_pos")
    rate = F.col("_n_pp") / F.col("n")
    tpr = F.when(F.col("_n_pos") > 0, F.col("_tp") / F.col("_n_pos"))
    fpr = F.when(n_neg > 0, F.col("_fp") / n_neg)
    rate_all = t_pp / t_n
    tpr_all = F.when(t_pos > 0, t_tp / t_pos)
    fpr_all = F.when(t_neg > 0, t_fp / t_neg)
    return agg.select(
        F.col("_g").alias(group_col),
        "n",
        rate.alias("positive_rate"),
        tpr.alias("tpr"),
        fpr.alias("fpr"),
        rate_all.alias("positive_rate_overall"),
        tpr_all.alias("tpr_overall"),
        fpr_all.alias("fpr_overall"),
        (rate - rate_all).alias("dp_gap"),
        (tpr - tpr_all).alias("eo_gap"),
        (fpr - fpr_all).alias("fpr_gap"),
    )


def lift_table(
    df,
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Decile lift / cumulative-gains table -- the targeting readout:
    rank the population by model score, cut it into
    ``n_buckets`` equal score-ordered buckets, and report how much
    better each bucket converts than the base rate (lift) and what
    share of ALL positives the top-k buckets capture (gains). The
    classic campaign/filter-budget question -- "if I can only afford to
    process the top 10%, how many positives do I get?" -- answered per
    bucket. Returns one row per bucket (1 = highest scores):
    (bucket, n, n_pos, response_rate, lift, cum_n, cum_pos,
    cum_capture, cum_lift), ordered by bucket.

    Exactness/determinism: ranking is the two-phase global_row_number
    (NO single-task global window -- the rfm_scores precedent) over
    (score DESC, id ASC), so ties break on the unique id and the table
    is bit-reproducible and engine-replayable; bucket = ceil(rank *
    n_buckets / n), the exact-ntile identity. A population with zero
    positives reports NULL lift/capture (nothing to capture -- not a
    flattering 0). NULL score/label/id rows are excluded; labels must
    be 0/1 (fails loud via _binary01).

    Scale shape: one range-partitioned rank pass (global_row_number:
    per-partition sort + bounded offset fold), one hash agg to the
    n_buckets-row frame, then cumulative windows over that BOUNDED
    frame (n_buckets rows, never data-sized)."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2: {n_buckets}")
    from pyspark.sql import Window

    y = _binary01(F.col(label_col), "lift_table", label_col)
    base = df.filter(
        F.col(score_col).isNotNull()
        & F.col(label_col).isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        (-F.col(score_col).cast("double")).alias("_neg_score"),
        F.col(id_col).alias("_lift_id"),
        (y == 1).cast("long").alias("_pos"),
    )
    ranked = global_row_number(base, ["_neg_score", "_lift_id"], "_rn")
    n_total = ranked.count()  # bounded driver scalar (rfm precedent)
    if n_total == 0:
        # empty input: emit the empty table, not a division error
        return ranked.select(
            F.col("_rn").cast("int").alias("bucket"),
            F.lit(0).cast("long").alias("n"),
            F.lit(0).cast("long").alias("n_pos"),
            F.lit(None).cast("double").alias("response_rate"),
            F.lit(None).cast("double").alias("lift"),
            F.lit(0).cast("long").alias("cum_n"),
            F.lit(0).cast("long").alias("cum_pos"),
            F.lit(None).cast("double").alias("cum_capture"),
            F.lit(None).cast("double").alias("cum_lift"),
        )
    bucket = F.ceil(
        F.col("_rn") * F.lit(n_buckets) / F.lit(float(n_total))
    ).cast("int")
    per = ranked.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_pos").alias("n_pos"),
    )
    w_cum = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    # windows over the POST-AGG bucket frame: bounded at n_buckets rows
    t_n = F.sum("n").over(w_all)
    t_pos = F.sum("n_pos").over(w_all)
    base_rate = t_pos / t_n
    cum_n = F.sum("n").over(w_cum)
    cum_pos = F.sum("n_pos").over(w_cum)
    rr = F.col("n_pos") / F.col("n")
    return (
        per.select(
            "bucket",
            "n",
            "n_pos",
            rr.alias("response_rate"),
            F.when(t_pos > 0, rr / base_rate).alias("lift"),
            cum_n.alias("cum_n"),
            cum_pos.alias("cum_pos"),
            F.when(t_pos > 0, cum_pos / t_pos).alias("cum_capture"),
            F.when(t_pos > 0, (cum_pos / cum_n) / base_rate).alias(
                "cum_lift"
            ),
        )
        .orderBy("bucket")
    )


def pass_at_k(
    df,
    problem_col: str,
    correct_col: str,
    ks: "Sequence[int]" = (1, 10, 100),
) -> DataFrame:
    """Unbiased pass@k estimator per problem (Chen et al. 2021,
    "Evaluating Large Language Models Trained on Code", eq. 1) -- the
    sampled-generation eval gate beside classification_report's
    thresholded one: draw n samples per problem, count c correct, and
    estimate the probability that at least one of k samples passes,

        pass@k = 1 - C(n-c, k) / C(n, k)
               = 1 - prod_{j=0..k-1} (n - c - j) / (n - j)

    computed in the numerically stable product form (never raw
    factorials -- C(10000, 100) overflows anything). Returns one row
    per problem: (problem, n_samples, n_correct, pass_at_{k}...).

    Estimator edges, honest by construction: a problem with fewer than
    k samples reports NULL for that k (the estimator is undefined at
    n < k -- abstention, not a flattering number); n - c < k
    short-circuits to exactly 1.0 (some draw of k must contain a
    correct sample -- also where the product's zero factor lands, kept
    explicit so -0.0 noise can't leak). ``correct`` must be 0/1-valued
    (fails loud via _binary01); NULL-correct rows are excluded
    (unscored is not wrong); a NULL problem id is a real slice (the
    classification_report groupBy rule).

    Scale shape: ONE hash aggregate over one scan to the
    problems-bounded frame, then per-row k-term fold expressions
    (F.aggregate over a k-length sequence -- JVM-side, no UDF, no
    second pass). try_divide keeps the fold total even if an
    engine evaluates a guarded branch speculatively (the ANSI
    division-in-aggregate rule)."""
    for k in ks:
        # fail loud like the other guards -- int(2.7) would silently
        # compute pass@2
        if int(k) != k:
            raise ValueError(f"pass_at_k: every k must be an integer: {k}")
    ks = list(dict.fromkeys(int(k) for k in ks))
    if not ks:
        raise ValueError("pass_at_k: ks must be non-empty")
    for k in ks:
        if k < 1:
            raise ValueError(f"pass_at_k: every k must be >= 1: {k}")
        if k > 10_000:
            # each k costs a k-length fold expression per output row;
            # sampled-eval k is tens-to-hundreds, so an unbounded k is
            # a misuse (and 1 - pass@k underflows double long before)
            raise ValueError(f"pass_at_k: k too large (max 10000): {k}")
    y = _binary01(F.col(correct_col), "pass_at_k", correct_col)
    agg = (
        df.filter(F.col(correct_col).isNotNull())
        .select(F.col(problem_col).alias("problem"), (y == 1).alias("_c"))
        .groupBy("problem")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(F.col("_c").cast("long")).alias("n_correct"),
        )
    )
    n, c = F.col("n_samples"), F.col("n_correct")
    nd, cd = n.cast("double"), c.cast("double")

    def est(k: int):
        prod = F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.lit(1.0),
            lambda acc, j: acc * F.try_divide(nd - cd - j, nd - j),
        )
        return (
            F.when(n < k, F.lit(None).cast("double"))
            .when(n - c < k, F.lit(1.0))
            .otherwise(F.lit(1.0) - prod)
        )

    return agg.select(
        "problem",
        "n_samples",
        "n_correct",
        *[est(k).alias(f"pass_at_{k}") for k in ks],
    )


def mcnemar_test(
    df,
    a_col: str,
    b_col: str,
    keys: "list[str] | None" = None,
) -> DataFrame:
    """McNemar's paired test (McNemar 1947) -- the "did model B
    actually beat model A" significance gate the eval family needed:
    classification_report grades each model alone, pass_at_k grades
    sampled generation, THIS asks whether two models' per-item
    correctness on the SAME eval set differs beyond chance. Input rows
    are paired binary outcomes (one row per eval item; ``a_col`` /
    ``b_col`` = each model's correctness, 0/1 via the shared _binary01
    loud guard). Only DISCORDANT items carry signal: with b = items
    only B got right and a = items only A got right,

      statistic           = (b - a)^2 / (a + b)          ~ chi2(1)
      statistic_corrected = (|b - a| - 1)^2 / (a + b)    (Edwards CC)

    Returns one row per key slice: (keys..., n, both_right, both_wrong,
    a_only, b_only, accuracy_a, accuracy_b, statistic, statistic_corrected).
    The p-value lookup stays with the caller (chi2(1): 3.841 = p 0.05, 6.635
    = p 0.01); both statistics are NULL when there are no discordant items
    (the models are indistinguishable on the slice -- abstention, not
    significance), and the corrected form is also NULL when |b - a| < 1
    would drive it negative (it is a small-count guard, not a statistic of
    its own there). Rows with a NULL on either side are excluded (unscored
    is not wrong); a NULL key is a real slice.

    Scale shape: ONE conditional hash aggregate over one scan -- all
    four concordance cells are sibling sums, the classification_report
    form; the statistics are closed-form column algebra on the
    post-agg frame."""
    keys = keys or []
    a = _binary01(F.col(a_col), "mcnemar_test", a_col)
    b = _binary01(F.col(b_col), "mcnemar_test", b_col)
    base = df.filter(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    ).select(*keys, (a == 1).alias("_a"), (b == 1).alias("_b"))
    cell = lambda x, y: F.sum(  # noqa: E731
        ((F.col("_a") == x) & (F.col("_b") == y)).cast("long")
    )
    agg = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        cell(True, True).alias("both_right"),
        cell(False, False).alias("both_wrong"),
        cell(True, False).alias("a_only"),
        cell(False, True).alias("b_only"),
    )
    ao, bo = F.col("a_only").cast("double"), F.col("b_only").cast("double")
    disc = ao + bo
    diff = F.abs(bo - ao)
    return agg.select(
        *keys,
        "n",
        "both_right",
        "both_wrong",
        "a_only",
        "b_only",
        ((F.col("both_right") + F.col("a_only")) / F.col("n")).alias(
            "accuracy_a"
        ),
        ((F.col("both_right") + F.col("b_only")) / F.col("n")).alias(
            "accuracy_b"
        ),
        F.when(disc > 0, diff * diff / disc).alias("statistic"),
        F.when(
            (disc > 0) & (diff >= 1),
            (diff - 1) * (diff - 1) / disc,
        ).alias("statistic_corrected"),
    )


def profile_diff(
    old,
    new,
    distinct: str = "approx",
    null_frac_tol: float = 0.01,
) -> DataFrame:
    """Column-level diff of two snapshots' PROFILES -- the schema-drift
    alarm beside table_diff's row-level one: table_diff answers "which
    rows changed", this answers "did a column's SHAPE change" (a feed
    that silently starts sending NULLs, an id column collapsing to one
    value, a unit change shifting every mean) even when row counts look
    normal. Profiles both frames with profile_table (ONE agg pass per
    side), full-outer joins the two bounded column frames, and grades
    each column:

      status        'added' / 'removed' (schema change),
                    'dtype_changed' (same name, new type),
                    'drifted' (any tripped check), 'stable'
      flags         array of tripped checks in fixed order, the
                    table_diff changed_cols convention:
                    'null_frac'  |null_frac delta| > null_frac_tol
                    'n_distinct' cardinality ratio outside
                                 [1/1.5, 1.5] (both sides > 0)
                    'mean'       |mean delta| > 0.25 * stddev_old
                                 (numeric, stddev_old > 0)
      plus the per-side evidence columns (null_frac / n_distinct /
      mean / stddev, old and new) so the alarm is auditable in place.

    A check whose inputs are missing on either side (non-numeric mean,
    zero stddev, zero distincts) abstains rather than alarms -- absence
    of evidence is not drift (the disparity_report convention).
    ``distinct='approx'`` is the 100 TB default (HLL); remember approx
    counts jitter run to run -- the 1.5x cardinality band absorbs that
    rather than reading single-digit deltas. Scale shape: two one-pass profile
    aggs, then everything operates on the two O(columns) frames met in
    a broadcast full-outer join."""
    if null_frac_tol < 0:
        raise ValueError("tolerances must be >= 0")
    o = profile_table(old, distinct=distinct)
    n = profile_table(new, distinct=distinct)
    os_ = o.select(
        "column",
        *[F.col(c).alias(f"{c}_old") for c in (
            "dtype", "null_frac", "n_distinct", "mean", "stddev"
        )],
    )
    ns = n.select(
        "column",
        *[F.col(c).alias(f"{c}_new") for c in (
            "dtype", "null_frac", "n_distinct", "mean", "stddev"
        )],
    )
    j = os_.join(F.broadcast(ns), "column", "full_outer")
    in_old = F.col("dtype_old").isNotNull()
    in_new = F.col("dtype_new").isNotNull()
    nf_trip = (
        F.abs(F.col("null_frac_new") - F.col("null_frac_old"))
        > F.lit(null_frac_tol)
    )
    ratio_hi = F.lit(1.5)
    nd_old, nd_new = F.col("n_distinct_old"), F.col("n_distinct_new")
    nd_trip = (
        (nd_old > 0)
        & (nd_new > 0)
        & (
            (nd_new.cast("double") / nd_old > ratio_hi)
            | (nd_old.cast("double") / nd_new > ratio_hi)
        )
    )
    mean_trip = (
        F.col("mean_old").isNotNull()
        & F.col("mean_new").isNotNull()
        & (F.col("stddev_old") > 0)
        & (
            F.abs(F.col("mean_new") - F.col("mean_old"))
            > F.lit(0.25) * F.col("stddev_old")
        )
    )
    flags = F.array_compact(
        F.array(
            F.when(F.coalesce(nf_trip, F.lit(False)), F.lit("null_frac")),
            F.when(F.coalesce(nd_trip, F.lit(False)), F.lit("n_distinct")),
            F.when(F.coalesce(mean_trip, F.lit(False)), F.lit("mean")),
        )
    )
    status = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(F.col("dtype_old") != F.col("dtype_new"), F.lit("dtype_changed"))
        .when(F.size("_flags") > 0, F.lit("drifted"))
        .otherwise(F.lit("stable"))
    )
    return (
        j.withColumn("_flags", flags)
        .withColumn("status", status)
        .select(
            "column",
            "status",
            F.when(F.col("status").isin("drifted"), F.col("_flags"))
            .otherwise(F.array().cast("array<string>"))
            .alias("flags"),
            "dtype_old",
            "dtype_new",
            "null_frac_old",
            "null_frac_new",
            "n_distinct_old",
            "n_distinct_new",
            "mean_old",
            "mean_new",
            "stddev_old",
            "stddev_new",
        )
    )
