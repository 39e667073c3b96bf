"""Join helpers for skew and join planning.

AQE's skew-join splitting (on in session.py) covers value skew inside a
sort-merge join; the helpers here cover the cases it cannot:

- hot_key_split_join: when the hot key VALUES are known (a per-key count
  or a cached skew report), the hot slice joins map-side against a
  broadcast of the other side's hot rows -- hot fact rows never shuffle
  AT ALL, strictly better than AQE's skew split, which still shuffles
  the hot rows (just in chunks).
- join_size_report: the exact output size and hottest-key share of an
  equi-join, from per-key counts alone, before running it.
- table_diff: row-level differences between two snapshots of a table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_key_split_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    hot_keys: list,
    how: str = "inner",
) -> DataFrame:
    """Equi-join split on a known hot-key list: rows whose ``key`` is in
    ``hot_keys`` join map-side against a BROADCAST of the other side's
    hot rows; everything else takes the normal shuffled path; the two
    slices union. Result identical to ``left.join(right, key, how)``.

    Why this beats AQE at 100 TB: OptimizeSkewedJoin splits a skewed
    sort-merge partition into chunks, but every hot row still crosses
    the wire into those chunks. Here the hot slice's fact rows NEVER
    shuffle -- the only movement is the broadcast of the other side's
    hot rows (a handful of rows for a handful of keys, by definition of
    "hot dimension key"), and the cold shuffle is uniform. Pair with
    one uniform per-key counting pass or a cached skew report.

    The price, stated: the two filtered branches are TWO pruned scans
    of each input (no exchange exists for Spark to reuse across them --
    the join_hot_naive/join_hot_split bench twin records exactly 2x
    rows_read). The split wins when the avoided movement (network
    shuffle write+read+sort of the hot slice) outweighs a second local
    columnar read of the join columns -- true on a real cluster with a
    meaningfully hot slice, NOT necessarily true on a single JVM where
    a "shuffle" is a memory copy; measure with the bench pair before
    adopting at small scale.

    ``how``: "inner" or "left". NULL left keys can never equi-match:
    inner drops them (same as the plain join); left routes them down the
    cold path, whose left join emits them with null right columns.
    Non-key column-name collisions are rejected up front; the joined
    key appears once
    (``on=<name>`` semantics). ``hot_keys`` must be a bounded in-list
    (<= 1000 -- beyond that the isin literal bloats every task's plan;
    a list that size means the key isn't "a few hot values" and wants
    salted_two_phase-style spreading instead)."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left': {how!r}")
    if not hot_keys:
        raise ValueError("hot_keys is empty: use a plain join")
    if len(hot_keys) > 1000:
        raise ValueError(
            f"{len(hot_keys)} hot keys: an in-list this size belongs in a "
            "join, not a broadcast split -- salt instead"
        )
    if any(k is None for k in hot_keys):
        raise ValueError("NULL is not a joinable hot key")
    overlap = (set(left.columns) & set(right.columns)) - {key}
    if overlap:
        raise ValueError(
            f"non-key column names collide: {sorted(overlap)}; rename before joining"
        )
    is_hot = F.col(key).isin(hot_keys)
    left_hot = left.filter(is_hot)
    right_hot = right.filter(is_hot)
    right_cold = right.filter(~is_hot)  # NULL right keys never match: drop
    if how == "left":
        # keep NULL-key rows: ~is_hot is NULL for them, so name them
        left_cold = left.filter(~is_hot | F.col(key).isNull())
    else:
        left_cold = left.filter(~is_hot)
    hot_joined = left_hot.join(F.broadcast(right_hot), key, how)
    cold_joined = left_cold.join(right_cold, key, how)
    return hot_joined.unionByName(cold_joined)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: "list[str]",
    compare_cols: "list[str] | None" = None,
) -> DataFrame:
    """Row-level diff of two snapshots of the same logical table -- the
    data-regression check a pipeline runs between yesterday's output
    and today's (sources/versioned.py:change_feed serves versioned
    tables; this serves ANY two frames). Returns one row per key present in either
    side: (keys..., status, changed_cols) with status in
    'added' (new only) / 'removed' (old only) / 'changed' (both, some
    compared column differs) / 'unchanged', and changed_cols the array
    of differing column names in ``compare_cols`` order (empty array
    unless status = 'changed'). Comparison is null-safe per column
    (NULL -> value counts as a change, NULL -> NULL does not).

    ``compare_cols`` defaults to every shared non-key column. Keys are
    assumed unique per side (the snapshot convention); a duplicate key
    fans out exactly like any join would -- run fk_integrity_report /
    a dedup first if that is not guaranteed. NULL key values are
    excluded (the convention; a NULL key matches nothing anyway under
    equi-join semantics and would misreport as added+removed).

    Scale shape: ONE full outer join on the keys, everything else
    codegen'd expressions -- no windows, no second shuffle. At 100 TB
    both sides shuffle once on the same key (co-partitioned if both
    are bucketed on it, in which case the exchange disappears)."""
    if not keys:
        raise ValueError("keys is empty: a diff needs a row identity")
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    missing = [
        c
        for c in list(keys) + list(compare_cols)
        if c not in old.columns or c not in new.columns
    ]
    if missing:
        raise ValueError(f"columns missing from a side: {missing}")
    nn = F.lit(True)
    for k in keys:
        nn = nn & F.col(k).isNotNull()
    o = old.filter(nn).select(
        *keys,
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
    )
    n = new.filter(nn).select(
        *keys,
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
    )
    j = o.join(n, keys, "full_outer")
    diffs = [
        F.when(
            ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")), F.lit(c)
        )
        for c in compare_cols
    ]
    changed = (
        F.array_compact(F.array(*diffs))
        if compare_cols
        else F.array().cast("array<string>")
    )
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.size("_changed") > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("_changed", changed)
        .withColumn("status", status)
        .select(
            *keys,
            "status",
            F.when(
                F.col("status") == "changed", F.col("_changed")
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("changed_cols"),
        )
    )


def join_size_report(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: "str | None" = None,
) -> DataFrame:
    """EXACT inner-join size pre-flight -- the number AQE only learns
    mid-query and a planner's estimate can miss by orders of magnitude:
    before shuffling two fact tables, compute exactly how many rows the
    equi-join would emit and how much of that lands on the single hottest
    key. |A join B| = sum over matched keys of cl * cr, which needs only the
    per-key COUNT frames -- the key column shuffles, the payloads never
    move, so the report costs a fraction of the join it sizes. Read it to
    choose the strategy: tiny right side -> broadcast; top_share near 1 ->
    salt or hot_key_split_join; huge n_out_inner on both-sides-large ->
    bucket both on the key and co-locate.

    Returns ONE row:
      n_left, n_right              input row counts
      n_left_null_key / n_right_…  rows whose key is NULL (join nothing
                                   under equi-join semantics, excused
                                   like fk_integrity_report's NULL fks)
      n_left_keys / n_right_keys   distinct non-null keys per side
      n_matched_keys               keys present on BOTH sides
      n_out_inner                  EXACT inner-join output rows
      max_key_out                  the hottest key's output contribution
      top_share                    max_key_out / n_out_inner (NULL when
                                   the join is empty)

    Every count is defined on empty inputs (zero-row sums coalesce to
    0 -- the fk_integrity_report convention). Scale shape:
    one key-grain hash agg per side, one equi-join of the two DISTINCT
    key frames, three bounded one-row aggregates met by broadcast
    joins."""
    rk = right_key or left_key
    zero = F.lit(0).cast("long")

    def side(df, key):
        return (
            df.select(F.col(key).alias("_k"))
            .groupBy("_k")
            .agg(F.count(F.lit(1)).alias("_c"))
        )

    def side_stats(keyed, n_name, null_name, keys_name):
        return keyed.agg(
            F.coalesce(F.sum("_c"), zero).alias(n_name),
            F.coalesce(
                F.sum(F.when(F.col("_k").isNull(), F.col("_c"))), zero
            ).alias(null_name),
            F.count(F.when(F.col("_k").isNotNull(), F.lit(1))).alias(
                keys_name
            ),
        )
    l_keys, r_keys = side(left, left_key), side(right, rk)
    l_stats = side_stats(l_keys, "n_left", "n_left_null_key", "n_left_keys")
    r_stats = side_stats(
        r_keys, "n_right", "n_right_null_key", "n_right_keys"
    )
    matched = l_keys.filter(F.col("_k").isNotNull()).join(
        r_keys.filter(F.col("_k").isNotNull()).withColumnRenamed(
            "_c", "_cr"
        ),
        "_k",
    )
    m_stats = matched.agg(
        F.count(F.lit(1)).alias("n_matched_keys"),
        F.coalesce(F.sum(F.col("_c") * F.col("_cr")), zero).alias(
            "n_out_inner"
        ),
        F.coalesce(F.max(F.col("_c") * F.col("_cr")), zero).alias(
            "max_key_out"
        ),
    )
    joined = (
        l_stats.join(F.broadcast(r_stats), F.lit(True))
        .join(F.broadcast(m_stats), F.lit(True))
    )
    return joined.select(
        "n_left",
        "n_right",
        "n_left_null_key",
        "n_right_null_key",
        "n_left_keys",
        "n_right_keys",
        "n_matched_keys",
        "n_out_inner",
        "max_key_out",
        F.when(
            F.col("n_out_inner") > 0,
            F.col("max_key_out") / F.col("n_out_inner"),
        ).alias("top_share"),
    )
