"""Plan-smell sweep over EVERY registered query (r14 optimization
audit): builds each query's DataFrame at a small SF and greps the
physical plan for shapes the bench review hunted -- SortAggregate
(usually a first(array)/dropDuplicates-with-payload), CartesianProduct,
BatchEvalPython/ArrowEvalPython (Python boundary in a query path),
RoundRobinPartitioning (the _spread class), ExistingRDD (a driver-built
frame still scanned through parallelize and a Python worker, where
session.local_frame gives a job-free LocalRelation), and the exchange
count.
The hard antipatterns are already lint-enforced per query
(tests/test_plans.py:test_no_scale_antipatterns_anywhere); this tool
is the broader advisory sweep that feeds OPTIMIZATION_r{N}.md.

Usage: python tools/plan_smells.py [sf_dir] -- prints one line per
query plus a summary of queries carrying each smell. Eager operators
(localCheckpoint-based) execute during build; their returned frame's
plan is the post-materialization scan, so their pipeline shape is
covered by the registry plan_probes instead (noted in the output).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from bigdata_storage_and_proccess_job_data_spark.plans import (  # noqa: E402
    lint,
    registry,
)
from bigdata_storage_and_proccess_job_data_spark.session import (  # noqa: E402
    get_spark,
)

SMELLS = (
    "SortAggregate",
    "CartesianProduct",
    "BatchEvalPython",
    "ArrowEvalPython",
    "RoundRobinPartitioning",
    "ExistingRDD",
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-smells")
    spark.sparkContext.setLogLevel("ERROR")
    hits: dict[str, list[str]] = {s: [] for s in SMELLS}
    for name, qd in registry.all_queries().items():
        try:
            df = qd.fn(spark, sf_dir)
            plan = lint.plan_string(df)
        except Exception as exc:  # pragma: no cover - diagnostic tool
            print(f"{name}: BUILD-ERROR {type(exc).__name__}: {exc}")
            continue
        found = [s for s in SMELLS if s in plan]
        n_ex = plan.count("Exchange ")
        for s in found:
            hits[s].append(name)
        flag = f"  <-- {','.join(found)}" if found else ""
        print(f"{name}: exchanges={n_ex}{flag}")
    print("\n== summary ==")
    for s, qs in hits.items():
        print(f"{s}: {len(qs)}: {qs}")


if __name__ == "__main__":
    main()
