"""Duplicate-scan audit over the full query registry.

For every registered query, greps the EXECUTED plan for repeated
parquet scans of the same table. A table appearing N >= 2 times means
one of:

1. A branching dataflow that recomputes its shared frame once per
   consumer (fleiss_kappa re-aggregated the raw ratings 5x,
   unigram_logprob_table re-tokenized the corpus ~9x, retention_matrix
   re-deduped events 3x, before the fix). The fix: checkpoint
   the shared POST-AGGREGATION frame (the bh_adjust localCheckpoint
   convention) -- the base scan then runs exactly once.
2. A two-sided computation (self-join, query-vs-corpus, A/B split,
   measured twin) -- inherent, leave it.
3. Plan-text lineage of a persisted iterative frame (neardup_clusters)
   -- cached at runtime, not a real rescan.

The principled line for case 1: checkpoint BOUNDED post-agg frames
only. A corpus-sized frame should re-scan instead -- materializing
100 TB to executor-local disk costs more than a column-pruned
columnar re-read.

Run: ``python -m tools.scan_audit [sf_dir]`` (default
/root/testdata/sf0.01). Regression pins for the fixed queries live in
tests/test_plans.py::test_scan_once_pins.

Scope: the QUERY REGISTRY only, not examples/. The examples are eager
end-to-end scripts that interleave actions with writes, so no single
returned frame's executed plan represents the run. If an example grows
a branching LAZY dataflow, register the shape as a query (or a plan
probe) and the audit covers it.
"""

from __future__ import annotations

import re
import sys
from collections import Counter


def audit(sf_dir: str) -> list[tuple[str, dict]]:
    from pyspark.sql import SparkSession

    from bigdata_storage_and_proccess_job_data_spark import plans
    from bigdata_storage_and_proccess_job_data_spark.plans import lint

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.debug.maxToStringFields", "2000")
        .config("spark.sql.maxPlanStringLength", "10000000")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    out = []
    for name, qd in plans.all_queries().items():
        plan = lint.plan_string(qd.fn(spark, sf_dir))
        counts = Counter(re.findall(r"(\w+)\.parquet", plan))
        dups = {t: n for t, n in counts.items() if n >= 2}
        if dups:
            out.append((name, dups))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    for name, dups in audit(sf_dir):
        print(name, dups)


if __name__ == "__main__":
    main()
