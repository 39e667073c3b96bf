"""Range (interval) join: points joined to the ranges containing them.

The reference has no joins at all (SURVEY.md §2.6); this is the
beyond-reference interval primitive (as-of's sibling, operators/asof.py)
that Spark also lacks natively: ``p.ts >= r.start AND p.ts < r.end`` as
a bare predicate plans as BroadcastNestedLoopJoin -- O(|P| x |R|) and
OOM-prone once the range side outgrows a broadcast.

Scale path = bin-and-verify:

1. pick a bin width W (seconds) comparable to the typical range length;
2. each point maps to exactly ONE bin (epoch div W);
3. each range replicates to EVERY bin it overlaps (sequence(start_bin,
   end_bin) -- ~len/W + 1 copies);
4. equi-join on the bin key, then verify the exact predicate.

The cross product becomes a shuffle hash join on a narrow long key;
each (point, range) candidate pair meets in exactly one bin (the
point's), so the output needs no dedup. Replication cost is explicit
and tunable via W; AQE's skew split covers hot bins. An optional
``partition_key`` (e.g. user_id, tenant) joins equi + bin, shrinking
candidates further.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bin(ts: Column, width_s: int) -> Column:
    # cast timestamp->long truncates to whole epoch seconds; integer div
    # by an integer W preserves floor(epoch/W), so a point and any range
    # overlapping it always agree on the point's bin id. The intermediate
    # cast to timestamp_ltz makes this legal on TIMESTAMP_NTZ inputs too
    # (Spark 4 rejects NTZ->BIGINT directly); session TZ is pinned UTC
    # (session.py), so both join sides bin against the same epoch.
    epoch = ts.cast("timestamp_ltz").cast("long")
    return epoch - (epoch % F.lit(width_s))


def point_in_range_join(
    points: DataFrame,
    ranges: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bin_seconds: int = 600,
    partition_key: tuple[str, str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every range row whose half-open interval
    [start_ts, end_ts) contains it. Columns of both inputs pass through
    (names must not collide). ``partition_key=(point_col, range_col)``
    adds an equi condition evaluated in the same shuffle.

    ``how`` is 'inner' or 'left': the containment predicate is part of
    the JOIN CONDITION (not a post-filter), so with 'left' an unmatched
    point survives with null range columns instead of being silently
    dropped by a null-comparison filter. Outer modes on the RANGE side
    are rejected -- ranges replicate to every bin they overlap, so an
    unmatched range would surface once per replica."""
    if bin_seconds <= 0:
        raise ValueError("bin_seconds must be positive")
    if how not in ("inner", "left"):
        raise ValueError(
            f"how={how!r}: only 'inner'/'left' are well-defined (the range "
            "side is bin-replicated, outer-preserving it duplicates rows)"
        )
    p = points.withColumn("_pbin", _bin(F.col(point_ts), bin_seconds))
    r = ranges.withColumn(
        "_rbin",
        F.explode(
            F.sequence(
                _bin(F.col(start_ts), bin_seconds),
                _bin(F.col(end_ts), bin_seconds),
                F.lit(bin_seconds).cast("long"),
            )
        ),
    )
    cond = (
        (p["_pbin"] == r["_rbin"])
        & (p[point_ts] >= r[start_ts])
        & (p[point_ts] < r[end_ts])
    )
    if partition_key is not None:
        cond = cond & (p[partition_key[0]] == r[partition_key[1]])
    return p.join(r, cond, how).drop("_pbin", "_rbin")


def merge_intervals(
    df: DataFrame,
    start_col: str,
    end_col: str,
    keys: "list[str] | None" = None,
    max_gap: "float | None" = None,
) -> DataFrame:
    """Coalesce overlapping-or-touching intervals per key into maximal
    disjoint spans -- the gaps-and-islands reduction that turns
    duplicate_ngram_spans' per-match token windows into excisable
    regions, activity spans into usage sessions, and fragmented SCD
    validity rows into clean timelines. Returns one row per merged
    island: (keys..., span_start, span_end, n_spans) with n_spans the
    count of input intervals absorbed.

    Method (the classic window form, no recursion): order each key's
    intervals by (start, end); a row STARTS a new island iff its start
    exceeds the running maximum of all PRECEDING ends -- every reset of
    the merge is a new-island flag, and the running sum of flags is the
    island id; one hash agg per island finishes. Tie order within equal
    starts cannot change the merged output: a tied row's start is <=
    its partner's end (valid intervals have start <= end), so tied rows
    always land in one island whichever the window visits first.

    ``max_gap`` (same units as the columns, numeric columns only --
    pre-cast timestamps to epoch seconds) also merges islands separated
    by at most that gap: start <= prev_end + max_gap. Left None the
    rule is touch-or-overlap on the columns' native type (timestamps
    included). Rows with a NULL start or end are excluded; an inverted
    interval (end < start) raises in-plan rather than silently seeding
    an island that can never absorb anything. Scale shape: one ordered
    window per key (state bounded by that key's intervals -- per-key
    spans, not global rows; an unkeyed call over a row-sized table is
    the documented ks_test-style melt) + one hash agg."""
    keys = keys or []
    from pyspark.sql import Window

    s, e = F.col(start_col), F.col(end_col)
    nn = F.lit(True)
    for k in keys:
        nn = nn & F.col(k).isNotNull()
    base = df.filter(nn & s.isNotNull() & e.isNotNull()).select(
        *keys,
        s.alias("_s"),
        # inverted-interval guard folded into the consumed column (the
        # bh_adjust pattern -- a free-standing guard would be pruned)
        F.when(e >= s, e).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"merge_intervals: {end_col} < {start_col}: "
                    ),
                    e.cast("string"),
                )
            )
        ).alias("_e"),
    )
    part = [F.col(k) for k in keys]
    w_prev = (
        Window.partitionBy(*part)
        .orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max("_e").over(w_prev)
    if max_gap is not None:
        if max_gap < 0:
            raise ValueError(f"max_gap must be >= 0: {max_gap}")
        reach = prev_end.cast("double") + F.lit(float(max_gap))
        new_island = F.col("_s").cast("double") > reach
    else:
        new_island = F.col("_s") > prev_end
    flagged = base.withColumn(
        "_new", F.coalesce(new_island, F.lit(True)).cast("long")
    )
    w_cum = (
        Window.partitionBy(*part)
        .orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("_island", F.sum("_new").over(w_cum))
    return islands.groupBy(*keys, "_island").agg(
        F.min("_s").alias("span_start"),
        F.max("_e").alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    ).drop("_island")
