"""Plan linting: the registry-wide hygiene gate as a user-facing API.

tests/test_plans.py:test_no_scale_antipatterns_anywhere sweeps every
registered query for the physical-plan shapes that do not survive a
100x scale-up; this module is that check factored out so USER pipelines
can gate on it too (CI, pre-deploy, notebook sanity check):

    from bigdata_storage_and_proccess_job_data_spark.plans import lint
    findings = lint.lint_plan(df)          # -> ["BroadcastNestedLoopJoin", ...]
    lint.assert_scalable(df)               # raises ScalePlanError with details

Checked shapes (executed plan, AQE-resolved):

- ``CartesianProduct``           -- all-pairs shuffle join, O(n x m)
- ``BroadcastNestedLoopJoin``    -- per-row loop over a broadcast side;
  legitimate ONLY when one side is provably tiny (a scalar frame, a
  bounded query set) -- pass ``allow_bnlj=True`` at such call sites
- ``BatchEvalPython``            -- row-at-a-time Python UDF in the hot
  path (Arrow paths -- ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas
  -- are fine and NOT flagged)
- ``sourceless-plan``            -- the frame reads no source at all
  (LocalTableScan-only): either the result was eagerly materialized on
  the driver (so this lint inspected nothing) or the pipeline is
  driver-side; either way the real plan needs its own lint pass
"""

from __future__ import annotations

from pyspark.sql import DataFrame

ALWAYS_BAD = ("CartesianProduct", "BatchEvalPython")


class ScalePlanError(AssertionError):
    """A DataFrame's physical plan contains a shape that will not
    survive scale-up; ``.findings`` carries the flagged shapes."""

    def __init__(self, findings: list[str], plan: str):
        self.findings = findings
        super().__init__(
            f"scale anti-patterns in plan: {findings}\n{plan[:2000]}"
        )


def plan_string(df: DataFrame) -> str:
    """Executed-plan text (the plan that actually runs, post-AQE
    resolution at this point in time)."""
    return df._jdf.queryExecution().executedPlan().toString()


def lint_plan(
    df: DataFrame,
    *,
    allow_bnlj: bool = False,
    require_source: bool = True,
) -> list[str]:
    """Return the scale anti-patterns present in ``df``'s executed plan
    (empty list = clean). See module docstring for the checked shapes."""
    plan = plan_string(df)
    findings = [b for b in ALWAYS_BAD if b in plan]
    if not allow_bnlj and "BroadcastNestedLoopJoin" in plan:
        findings.append("BroadcastNestedLoopJoin")
    if (
        require_source
        and "FileScan" not in plan
        and "ExistingRDD" not in plan
    ):
        findings.append("sourceless-plan")
    return findings


def assert_scalable(
    df: DataFrame,
    *,
    allow_bnlj: bool = False,
    require_source: bool = True,
) -> None:
    """Raise ScalePlanError if ``lint_plan`` flags anything."""
    findings = lint_plan(
        df, allow_bnlj=allow_bnlj, require_source=require_source
    )
    if findings:
        raise ScalePlanError(findings, plan_string(df))


def scan_report(df: DataFrame) -> list[dict]:
    """Structured per-scan diagnostics from the EXECUTED plan: one dict
    per file scan with the relation name, pushed filters, partition
    filters, the read schema, and (when the plan has run) the
    post-pushdown output row count -- the numbers behind 'did my filter
    reach the scan'. The programmatic twin of eyeballing
    .explain('formatted'); bench.py sums rows_read per query.

    Run an action first if you want ``rows_read`` populated (metrics
    are filled by execution); on an un-run plan the counts are None.
    AQE wrappers (AdaptiveSparkPlan / QueryStageExec) are descended
    into the materialized stages; plain collectLeaves() would see
    un-executed copies."""
    import re

    out: list[dict] = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if "ScanExec" in name:
            full = node.toString()
            entry = {
                "node": name,
                "relation": None,
                "pushed_filters": None,
                "partition_filters": None,
                "read_schema": None,
                "rows_read": None,
            }
            m = re.search(r"Location:.*?\[([^\]]*)\]", full)
            if m:
                entry["relation"] = m.group(1)
            for field, label, pat in (
                ("pushed_filters", "PushedFilters", r"(\[[^\]]*\])"),
                (
                    "partition_filters",
                    "PartitionFilters",
                    r"(\[[^\]]*\])",
                ),
                ("read_schema", "ReadSchema", r"([^\n]*)"),
            ):
                m = re.search(label + r": " + pat, full)
                if m:
                    entry[field] = m.group(1).strip()
            try:
                metrics = node.metrics()
                if metrics.contains("numOutputRows"):
                    v = metrics.apply("numOutputRows").value()
                    if v >= 0:
                        entry["rows_read"] = int(v)
            except Exception:
                pass
            out.append(entry)
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out
