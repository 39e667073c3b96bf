"""As-of (point-in-time) join: for each left row, the most recent right
row with right_ts <= left_ts per key.

Spark has no native ASOF join; the scalable formulation is the
union + last_value(ignorenulls) trick:

  union(left-tagged, right-tagged)
    -> window per key ordered by (ts, right-before-left on ties)
    -> last_value(right_cols, ignorenulls) over rows unbounded..current
    -> keep left rows

ONE shuffle+sort on the key -- never a range cross join (a theta-join
formulation explodes to |L|x|R| per key before filtering, which is
exactly what kills point-in-time joins at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.functions.eventtime import interval_expr


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    suffix: str = "_asof",
    tolerance: str | None = None,
) -> DataFrame:
    """Backward (inclusive) as-of join. Right rows are deduplicated to
    one per (key, ts) beforehand by callers if multiple candidates per
    instant need a deterministic winner.

    ``tolerance`` (an SQL INTERVAL literal body, e.g. "15 minutes")
    bounds how STALE the matched right row may be: a match older than
    left_ts - tolerance is nulled out, exactly pandas merge_asof's
    tolerance semantics -- the point-in-time-correctness knob for
    feature lookups where "the last known value" stops being meaningful
    after a while. Implemented as a post-fill predicate on the matched
    row's own timestamp, so the plan shape is unchanged: still ONE
    shuffle+sort, no range join.

    The fill is a SINGLE struct of (right_ts, *value_cols) per right row,
    carried with one last(ignorenulls) pass: every returned value comes
    from the same matched right row as the timestamp the tolerance check
    uses. A matched row whose value column is NULL yields NULL (pandas
    merge_asof semantics) rather than silently reaching back to an older
    row's value -- per-column reach-back would let a value escape the
    tolerance bound its own supplying row violates.

    Returns all left columns + ``<value_col><suffix>`` columns (null when
    no right row precedes the left row, or none within tolerance).
    """
    lcols = left.columns
    tagged_left = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(0).alias("_is_right"),
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
        F.lit(None)
        .cast(
            "struct<rts:"
            + right.schema[right_ts].dataType.simpleString()
            + ","
            + ",".join(
                f"`{c}`:{right.schema[c].dataType.simpleString()}" for c in value_cols
            )
            + ">"
        )
        .alias("_snap"),
    )
    tagged_right = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(1).alias("_is_right"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in lcols],
        F.struct(
            F.col(right_ts).alias("rts"),
            *[F.col(c).alias(c) for c in value_cols],
        ).alias("_snap"),
    )
    unioned = tagged_left.unionByName(tagged_right)
    # right rows sort BEFORE left rows at equal ts => inclusive backward
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_is_right").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "*",
        F.last("_snap", ignorenulls=True).over(w).alias("_m"),
    )
    if tolerance is None:
        fresh = F.col("_m").isNotNull()
    else:
        fresh = F.col("_m.rts") >= (F.col("_ts") - interval_expr(tolerance))
    return filled.filter(F.col("_is_right") == 0).select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[
            F.when(fresh, F.col(f"_m.{c}"))
            .otherwise(F.lit(None))
            .alias(f"{c}{suffix}")
            for c in value_cols
        ],
    )
