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
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user earliest completion time of each funnel step, strictly
    ordered: step k counts only at timestamps strictly after the user's
    step k-1 time. Returns (user, t_<step0>, t_<step1>, ...) for every
    user who completed step 0, with nulls from the first incomplete
    step onward."""
    if not steps:
        raise ValueError("steps must be non-empty")
    w = Window.partitionBy(user_col)
    cur = events.select(user_col, ts_col, type_col)
    prev_t: str | None = None
    for step in steps:
        cond = F.col(type_col) == step
        if prev_t is not None:
            cond = cond & (F.col(ts_col) > F.col(prev_t))
        cur = cur.withColumn(
            f"t_{step}", F.min(F.when(cond, F.col(ts_col))).over(w)
        )
        prev_t = f"t_{step}"
    return (
        cur.filter(F.col(f"t_{steps[0]}").isNotNull())
        .groupBy(user_col)
        .agg(*[F.first(f"t_{s}").alias(f"t_{s}") for s in steps])
    )


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Funnel summary: one row per step with the number of users who
    reached it in order -- counts are non-increasing by construction.
    Output: (step_index, step, users)."""
    times = funnel_times(events, steps, user_col, ts_col, type_col)
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


_INTERVAL_UNITS = {
    "second": 1.0,
    "seconds": 1.0,
    "minute": 60.0,
    "minutes": 60.0,
    "hour": 3600.0,
    "hours": 3600.0,
    "day": 86400.0,
    "days": 86400.0,
}


def _interval_seconds(gap: "str | float | int") -> float:
    """'30 minutes' / '2 hours' / plain seconds -> float seconds (the
    duration grammar streaming session_window uses, minus compound
    forms)."""
    if isinstance(gap, (int, float)):
        s = float(gap)
    else:
        parts = gap.strip().split()
        if len(parts) != 2 or parts[1].lower() not in _INTERVAL_UNITS:
            raise ValueError(
                f"gap must be '<n> <unit>' with unit in "
                f"{sorted(set(_INTERVAL_UNITS))} or numeric seconds, "
                f"got {gap!r}"
            )
        s = float(parts[0]) * _INTERVAL_UNITS[parts[1].lower()]
    if s <= 0:
        raise ValueError("gap must be positive")
    return s


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level session assignment: within each user's time-ordered
    events, a gap larger than ``gap`` starts a new session. Adds
    ``session_seq`` (1-based per user) and ``session_id``
    (user||'#'||seq, globally unique). The batch counterpart of
    streaming session_window aggregation (streaming/windows.py) -- that
    one emits per-SESSION aggregates; this labels every ROW, which is
    what path extraction and per-session joins need.

    Classic lag + running-sum formulation: ONE shuffle+sort per user
    drives both windows (Spark reuses the sorted exchange), no joins.
    NULL users or timestamps drop (no order to assign). Deterministic
    under equal timestamps via ``tiebreak_cols``."""
    gap_s = _interval_seconds(gap)
    order = [ts_col, *(tiebreak_cols or [])]
    w = Window.partitionBy(user_col).orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (
            F.col(ts_col).cast("double") - prev_ts.cast("double")
            > F.lit(gap_s)
        ),
        1,
    ).otherwise(0)
    out = (
        df.filter(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .withColumn("session_seq", F.sum(is_new).over(run))
        .withColumn(
            "session_id",
            F.concat_ws(
                "#",
                F.col(user_col).cast("string"),
                F.col("session_seq").cast("string"),
            ),
        )
    )
    return out


def session_stats(
    sessions: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-session rollup over sessionize() output: event count,
    start/end, duration seconds. One hash agg on the session id."""
    return sessions.groupBy(user_col, "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        (
            F.max(F.col(ts_col).cast("double"))
            - F.min(F.col(ts_col).cast("double"))
        ).alias("duration_s"),
    )


def retention_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-activity
    period, tracked across subsequent periods -- the standard
    growth-analytics readout next to funnel_counts/sessionize. The
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
    u, t = F.col(user_col), F.col(ts_col)
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
