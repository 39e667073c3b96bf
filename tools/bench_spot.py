"""Spot-bench named queries at an arbitrary fixture dir, recording
wall time AND per-query shuffle read/write bytes -- the measurement
the sf0.1 headline bench can't provide because every entry there is
job-overhead-bound (8 cores beats 32).

NOT part of the driver contract: bench.py is untouched; this is a
read-only sidecar tool. Methodology mirrors bench.py (noop sink,
round-robin iterations, median + min), plus a shuffle-byte delta per
query read from the AppStatusStore stage list (the same numbers the
Spark UI's stage table shows).

Usage:
    SPARK_GRAFT_CPUS=32 python -m tools.bench_spot SF_DIR q1 q2 ... \
        [--iters N] [--out FILE.json]

Queries resolve from the registry's headline set first, then from
plans.bench_probes. Versioned/IVM probes build their prepared layouts
on first call (untimed warmup pass), exactly as bench.py does.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from bigdata_storage_and_proccess_job_data_spark.plans import (  # noqa: E402
    bench_probes,
    registry,
)
from bigdata_storage_and_proccess_job_data_spark.session import (  # noqa: E402
    get_spark,
)


def _shuffle_totals(spark) -> tuple[int, int]:
    """(read_bytes, write_bytes) summed over every stage the status
    store retains -- deltas around a query give that query's shuffle
    traffic. Uses the same AppStatusStore the UI/REST API reads."""
    jvm = spark.sparkContext._jvm
    gw = spark.sparkContext._gateway
    store = spark._jsparkSession.sparkContext().statusStore()
    # Spark 4 signature: stageList(statuses, details, withSummaries,
    # unsortedQuantiles, taskStatus); empty statuses == all stages
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    rd = wr = 0
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        rd += s.shuffleReadBytes()
        wr += s.shuffleWriteBytes()
    return rd, wr


def main() -> None:
    args = [a for a in sys.argv[1:]]
    iters = 3
    out_path = None
    if "--iters" in args:
        i = args.index("--iters")
        iters = int(args[i + 1])
        del args[i : i + 2]
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i : i + 2]
    sf_dir, names = args[0], args[1:]

    spark = get_spark(app_name="engine-bench-spot")
    spark.sparkContext.setLogLevel("ERROR")

    # same JVM/codegen warmup as bench.py
    spark.range(100_000).selectExpr("sum(id)").collect()

    headline = {
        name: qd.fn for name, qd in registry.headline_queries().items()
    }
    probes = bench_probes.bench_probes()
    runnable = {}
    for n in names:
        if n in headline:
            runnable[n] = headline[n]
        elif n in probes:
            runnable[n] = probes[n]
        else:
            raise SystemExit(f"unknown query: {n}")

    # untimed first pass: prepared layouts (versioned table, key
    # caches) build here, outside the timed region
    for n, fn in runnable.items():
        spark.sparkContext.setJobDescription(f"spot warmup {n}")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    samples: dict[str, list[float]] = {n: [] for n in runnable}
    shuf: dict[str, dict[str, int]] = {}
    for it in range(max(1, iters)):
        for n, fn in runnable.items():
            spark.sparkContext.setJobDescription(f"spot {n} iter{it}")
            r0, w0 = _shuffle_totals(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples[n].append(time.perf_counter() - t0)
            if it == 0:
                r1, w1 = _shuffle_totals(spark)
                shuf[n] = {
                    "shuffle_read_bytes": r1 - r0,
                    "shuffle_write_bytes": w1 - w0,
                }
    spark.sparkContext.setJobDescription(None)

    summary = {
        "metric": "spot_bench",
        "sf_dir": sf_dir,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "iters": max(1, iters),
        "unit": "sec",
        "queries": {
            n: round(statistics.median(ts), 3)
            for n, ts in samples.items()
        },
        "queries_min": {
            n: round(min(ts), 3) for n, ts in samples.items()
        },
        "shuffle": shuf,
        "value": round(
            sum(statistics.median(ts) for ts in samples.values()), 3
        ),
    }
    line = json.dumps(summary, sort_keys=True)
    print(line)
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main()
