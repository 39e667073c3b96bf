"""Ordered event-funnel analytics over an event stream.

The reference's event surface stops at windowed counts
(spark_streaming_v2.py:223-359); a funnel asks the sequential question
those can't: of the users who did step 1, how many went on to do step 2
AFTER it, then step 3 after that. This is the standard
conversion-analysis primitive (view -> click -> purchase).

Scale shape: ONE scan, ONE shuffle. Every step is a conditional min
window over the same user partitioning -- ``min(when(type = step_k AND
ts > t_{k-1}, ts)) over (partition by user)`` -- so the step cascade is
k projections over one already-partitioned dataset, not k self-joins.
(The obvious join formulation -- step k filters events and joins step
k-1's times -- re-expands the plan tree: with 3 steps Catalyst plans 14
scans of the event table. The window cascade pins scans at 1 regardless
of step count.) The final per-user reduction rides the same hash
partitioning, so no second exchange of event rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_times(
    events: DataFrame,
    steps: list[str],
) -> DataFrame:
    """Per-user earliest completion time of each funnel step, strictly
    ordered: step k counts only at timestamps strictly after the user's
    step k-1 time. Returns (user, t_<step0>, t_<step1>, ...) for every
    user who completed step 0, with nulls from the first incomplete
    step onward."""
    if not steps:
        raise ValueError("steps must be non-empty")
    w = Window.partitionBy("user_id")
    cur = events.select("user_id", "ts", "event_type")
    prev_t: str | None = None
    for step in steps:
        cond = F.col("event_type") == step
        if prev_t is not None:
            cond = cond & (F.col("ts") > F.col(prev_t))
        cur = cur.withColumn(
            f"t_{step}", F.min(F.when(cond, F.col("ts"))).over(w)
        )
        prev_t = f"t_{step}"
    return (
        cur.filter(F.col(f"t_{steps[0]}").isNotNull())
        .groupBy("user_id")
        .agg(*[F.first(f"t_{s}").alias(f"t_{s}") for s in steps])
    )


def funnel_counts(
    events: DataFrame,
    steps: list[str],
) -> DataFrame:
    """Funnel summary: one row per step with the number of users who
    reached it in order -- counts are non-increasing by construction.
    Output: (step_index, step, users)."""
    times = funnel_times(events, steps)
    counts = times.agg(
        *[
            F.count(f"t_{s}").cast("long").alias(f"_c_{i}")
            for i, s in enumerate(steps)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("step_index"),
                F.lit(s).alias("step"),
                F.col(f"_c_{i}").alias("users"),
            )
            for i, s in enumerate(steps)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select(
        "r.step_index", "r.step", "r.users"
    )


def retention_matrix(
    events: DataFrame,
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-activity
    period, tracked across subsequent periods -- the standard
    growth-analytics readout next to funnel_counts. The
    operator-library generalization of the former cohort_retention
    query (SIGNUP-anchored weekly counts, single-scan window form,
    merged into this operator's registered retention_matrix query):
    this one anchors on first activity of any kind, parameterizes the
    calendar grain, and emits the retention RATIO against broadcast
    cohort sizes. Returns
    (cohort, period_offset, n_users, retention) where retention =
    active users at the offset / cohort size (offset 0 is 1.0 by
    construction; a cohort-period pair with no activity simply has no
    row -- readers pivot and fill 0).

    ``period``: 'day' | 'week' | 'month' (date_trunc grains; week is
    ISO-Monday on both engines, so the oracle matches exactly). Offsets
    are calendar-period differences, not elapsed-time buckets.

    Scale shape: one (user, period) distinct (the value acts as its own
    salt -- a hot user spreads, the count_distinct_spread argument),
    one min-per-user hash agg, a shuffle join back on the user key, one
    hash agg to (cohort, offset), and a broadcast join of the bounded
    cohort-size table. NULL users/timestamps are excluded."""
    if period not in ("day", "week", "month"):
        raise ValueError(f"period must be day|week|month: {period!r}")
    u, t = F.col("user_id"), F.col("ts")
    active = (
        events.filter(u.isNotNull() & t.isNotNull())
        .select(
            u.alias("_u"),
            F.date_trunc(period, t).cast("date").alias("_p"),
        )
        .distinct()
        # active feeds firsts AND the cells join, firsts feeds cells
        # AND sizes: checkpoint both bounded frames (the bh_adjust
        # convention) so the raw events are scanned and deduped
        # exactly ONCE, not once per consumer chain (3 scans before)
        .localCheckpoint()
    )
    firsts = (
        active.groupBy("_u")
        .agg(F.min("_p").alias("_cohort"))
        .localCheckpoint()
    )
    if period == "month":
        off = (
            (F.year("_p") - F.year("_cohort")) * 12
            + (F.month("_p") - F.month("_cohort"))
        ).cast("long")
    elif period == "week":
        off = (F.datediff("_p", "_cohort") / 7).cast("long")
    else:
        off = F.datediff("_p", "_cohort").cast("long")
    cells = (
        active.join(firsts, "_u")
        .select(F.col("_cohort").alias("cohort"), off.alias("period_offset"))
        .groupBy("cohort", "period_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    sizes = firsts.groupBy(F.col("_cohort").alias("cohort")).agg(
        F.count(F.lit(1)).alias("_size")
    )
    return (
        cells.join(F.broadcast(sizes), "cohort")
        .withColumn("retention", F.col("n_users") / F.col("_size"))
        .drop("_size")
    )
