"""Deterministic scale-up of the driver fixtures for SPOT-BENCHING at
sf >= 1 -- the committed sf dirs stop at 0.1, where every bench entry
is job-overhead-bound (8 cores beats 32),
so shuffle-BYTE claims need a bigger input. NOT part of the driver
contract: bench.py and the oracle never read these dirs; this tool
exists so `tools/bench_spot.py` has a scale where bytes matter.

Scaling = key-shifted unions of the source tables (factor copies),
fully deterministic (no rand()):

- ``lineitem``: copy ``c`` shifts l_orderkey by c*S_O with S_O a
  multiple of 4 (preserves the Zipf company split l_orderkey % 4),
  l_partkey / l_suppkey by their max+1 (cardinalities scale like the
  generator would scale them). l_linenumber untouched, so the packed
  line uid (orderkey*8 + linenumber) stays injective across copies.
- ``orders``: o_orderkey shifted by the same S_O (multiple of 20 so
  the versioned-probe merge split o_orderkey % 10 keeps its shape).
- ``embeddings``: vec_id shifted by max+1; each copy's vectors are
  ROTATED by c positions (norm-preserving, direction-changing), so
  the corpus grows without creating factor-many exact duplicates of
  every vector. Copy 0 is the source verbatim -- the probes' query
  set (vec_id < 20) is unchanged.
- ``events``: event_id / user_id shifted by max+1; ts shifted by
  c * (span + 1 hour), so each copy's incident windows stay disjoint
  from every other copy's events (range-join output scales linearly,
  per-incident results identical to the source copy's).

Usage:
    python -m tools.gen_scale SRC_SF_DIR DEST_DIR FACTOR
e.g.
    python -m tools.gen_scale /root/testdata/sf0.1 /tmp/sfgen/sf1 10
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, functions as F


def _shifted_union(df: DataFrame, factor: int, shifts: dict) -> DataFrame:
    parts = []
    for c in range(factor):
        part = df
        if c:
            part = part.withColumns(
                {col: F.col(col) + F.lit(int(step) * c) for col, step in shifts.items()}
            )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _round_up(n: int, grain: int) -> int:
    return ((n + grain - 1) // grain) * grain


def main() -> None:
    src, dest, factor_s = sys.argv[1], sys.argv[2], sys.argv[3]
    factor = int(factor_s)
    os.makedirs(dest, exist_ok=True)

    from bigdata_storage_and_proccess_job_data_spark.session import get_spark

    spark = get_spark(app_name="gen-scale")
    spark.sparkContext.setLogLevel("ERROR")

    li = spark.read.parquet(f"{src}/lineitem.parquet")
    om = li.agg(
        F.max("l_orderkey"), F.max("l_partkey"), F.max("l_suppkey")
    ).first()
    s_o = _round_up(int(om[0]) + 1, 20)
    spark.sparkContext.setJobDescription(f"gen_scale lineitem x{factor}")
    _shifted_union(
        li,
        factor,
        {"l_orderkey": s_o, "l_partkey": int(om[1]) + 1, "l_suppkey": int(om[2]) + 1},
    ).repartition(max(16, 2 * factor)).write.mode("overwrite").parquet(
        f"{dest}/lineitem.parquet"
    )

    orders = spark.read.parquet(f"{src}/orders.parquet")
    spark.sparkContext.setJobDescription(f"gen_scale orders x{factor}")
    _shifted_union(orders, factor, {"o_orderkey": s_o}).repartition(
        max(8, factor)
    ).write.mode("overwrite").parquet(f"{dest}/orders.parquet")

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    vmax = int(emb.agg(F.max("vec_id")).first()[0])
    parts = []
    for c in range(factor):
        part = emb
        if c:
            part = part.withColumn(
                "vec_id", F.col("vec_id") + F.lit((vmax + 1) * c)
            ).withColumn(
                "embedding",
                F.expr(
                    f"transform(sequence(1, size(embedding)), i -> "
                    f"element_at(embedding, ((i - 1 + {c}) % size(embedding)) + 1))"
                ),
            )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    spark.sparkContext.setJobDescription(f"gen_scale embeddings x{factor}")
    out.repartition(max(4, factor // 2)).write.mode("overwrite").parquet(
        f"{dest}/embeddings.parquet"
    )

    ev = spark.read.parquet(f"{src}/events.parquet")
    em = ev.agg(
        F.max("event_id"),
        F.max("user_id"),
        F.min(F.col("ts").cast("timestamp_ltz").cast("long")),
        F.max(F.col("ts").cast("timestamp_ltz").cast("long")),
    ).first()
    span_s = int(em[3]) - int(em[2]) + 3600  # +1h: copies never overlap
    parts = []
    for c in range(factor):
        part = ev
        if c:
            part = part.withColumns(
                {
                    "event_id": F.col("event_id") + F.lit((int(em[0]) + 1) * c),
                    "user_id": F.col("user_id") + F.lit((int(em[1]) + 1) * c),
                    "ts": F.timestamp_add("SECOND", F.lit(span_s * c), F.col("ts")),
                }
            )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    spark.sparkContext.setJobDescription(f"gen_scale events x{factor}")
    out.repartition(max(8, factor)).write.mode("overwrite").parquet(
        f"{dest}/events.parquet"
    )
    spark.sparkContext.setJobDescription(None)
    print(f"wrote lineitem/orders/embeddings/events x{factor} under {dest}")


if __name__ == "__main__":
    main()
