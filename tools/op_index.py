"""Public-function keyword index + duplicate-semantics and reachability
guards.

The grep-first rule ("before writing ANY operator, grep the package and
COVERAGE.md for prior art") fails when names differ for the same
semantics (a psi_report duplicating aggregates.psi_bins, a cusum_alarms
duplicating aggregates.cusum_changepoints), so a name grep alone is not
enough. This module automates the insurance:

1. ``python -m tools.op_index`` regenerates ``OP_INDEX.md`` -- ONE
   greppable line per public function in the engine package (module,
   name, reachability, first docstring sentence). Writing a new
   operator starts with a grep of that file.
2. ``tests/test_op_index.py`` fails when the index is stale (a new
   public function exists without a regenerated index -- forcing the
   author through the file) and when two public functions' keyword
   sets overlap above ``THRESHOLD`` without a recorded waiver (the
   mechanical form of "this already exists").

Keywords are the function's name tokens plus the content words of its
docstring's FIRST paragraph (the "what is this" sentence; later
paragraphs describe edge cases and scale shape, which legitimately
repeat across the package). Stopwords common to every operator
docstring (row/column/agg/shuffle/...) are dropped so the overlap
measures semantics, not house style.

The reachability column records which non-test roots reach each public
function through a name-based static walk (see ``reachability``): the query
registry (registered queries and their plan probes), the driver contract
``__spark_entry__.py``, ``bench.py``, ``examples/`` and ``perfbench/``.
Every public function outside ``plans/`` must be reached or listed in
``KEPT_UNREACHED`` with its reason, and no two of them may share a bare
name, since the walk resolves by name (``tests/test_op_index.py``).
"""

from __future__ import annotations

import ast
import importlib
import inspect
import itertools
import pathlib
import pkgutil
import re

PKG = "bigdata_storage_and_proccess_job_data_spark"
REPO = pathlib.Path(__file__).resolve().parent.parent
# non-test roots of the reachability walk: name -> script glob (the
# registry root is the registered query functions themselves)
SCRIPT_ROOTS = {
    "entry": "__spark_entry__.py",
    "bench": "bench.py",
    "examples": "examples/*.py",
    "perfbench": "perfbench/*.py",
}

# plans/ is the registry surface (driver queries over the operators),
# not the operator inventory itself -- its duplicate guard is the
# registry's own duplicate-name refusal.
# exact dotted-path segments (substring matching would silently drop a
# future 'plansomething' module from the guard)
EXCLUDE_SUBPACKAGES = ("plans",)

STOPWORDS = frozenset(
    """
    a an the and or of to in for with over per on by is are as from
    that this it its each one two three all any both only also never
    returns return returning row rows column columns col cols df
    dataframe frame input output value values key keys keyed spark
    duckdb sql scale shape hash agg aggregate aggregation shuffle
    shuffles join joins window windows group groupby grouped null
    nulls excluded not no none when where which whose same form once
    pass single bounded exact deterministic
    """.split()
)

# Pairs allowed to overlap above THRESHOLD, each with the reason the
# overlap is intentional rather than a duplicate. Adding a waiver is a
# reviewed act: the reason must say why BOTH functions exist.
THRESHOLD = 0.5
WAIVERS: dict[frozenset, str] = {
    frozenset(
        {
            "operators.similarity.md5_centroids",
            "operators.similarity.md5_codebooks",
        }
    ): "deterministic md5 model builders: one flat centroid set (IVF) "
    "vs per-subspace codebooks (PQ) -- different model shapes",
    frozenset(
        {"domain.pipeline.company_stats", "domain.pipeline.location_stats"}
    ): "reference-parity cube variants (spark_batch_v2 emits one agg "
    "per dimension set; each keeps its reference citation)",
    frozenset(
        {"domain.pipeline.company_stats", "domain.pipeline.temporal_stats"}
    ): "reference-parity cube variants (see company/location waiver)",
    frozenset(
        {"domain.pipeline.company_stats", "domain.pipeline.worktype_stats"}
    ): "reference-parity cube variants (see company/location waiver)",
    frozenset(
        {"domain.pipeline.location_stats", "domain.pipeline.temporal_stats"}
    ): "reference-parity cube variants (see company/location waiver)",
    frozenset(
        {"domain.pipeline.location_stats", "domain.pipeline.worktype_stats"}
    ): "reference-parity cube variants (see company/location waiver)",
    frozenset(
        {"domain.pipeline.temporal_stats", "domain.pipeline.worktype_stats"}
    ): "reference-parity cube variants (see company/location waiver)",
}


# Public functions no non-test root reaches that stay anyway, each with
# the reason. tests/test_op_index.py fails on any other unreached public
# function outside plans/ and on entries that are no longer unreached.
KEPT_UNREACHED: dict[str, str] = {
    "operators.aggregates.global_sum": "paper operator (COVERAGE row A8)",
    "operators.neardup.jaccard_pairs": "exact reference for the MinHash "
    "and SimHash near-dup recall tests",
    "operators.graph.triangles": "triangle list behind triangle_counts, "
    "pinned by test_triangles_micro_shapes",
    "operators.clustering.kmeans_objective": "objective that "
    "kmeans_refine's monotonicity test checks",
    "operators.factorization.predict": "ALS scoring checked by the ALS tests",
    "operators.factorization.rmse": "ALS fit error checked by the ALS tests",
    "operators.factorization.init_factors_py": "Python reference for "
    "init_factors in the ALS tests",
    "operators.ranking.ranking_metrics": "ranking evaluation of ALS "
    "recommendations in the ALS tests",
    "operators.dedup.duplicate_groups": "fixture of "
    "test_connected_components_on_minhash_pairs",
    "operators.similarity.ivfpq_build": "builds the index for the "
    "ivfpq_topk_from_index tests",
    "streaming.pipeline.kafka_stream": "the reference's Kafka source and "
    "JSON parse (COVERAGE rows S3/S4); needs the spark-sql-kafka package, "
    "so no local workload can start it",
    "sources.lake.archive_stream": "the reference's Kafka-to-lake "
    "archiver (COVERAGE row S11)",
    "sources.lake.read_json_lake": "the reference's JSON lake ingest "
    "with an explicit schema (COVERAGE row S1)",
    "sources.lake.read_partition": "partition-pruned lake read that "
    "replaces the reference's path globs (COVERAGE row S1)",
    "streaming.windows.upsert_key": "the reference's per-window upsert "
    "doc id (COVERAGE row S8)",
    "streaming.pipeline.memory_sink": "the in-memory sink the stream "
    "tests read (the reference's console sink, COVERAGE row S9)",
    "functions.cleaning.epoch_s_to_timestamp": "the reference's "
    "epoch-seconds conversion (COVERAGE row F5)",
    "domain.pipeline.union_sources": "the reference's multi-source "
    "merge point (COVERAGE row X1)",
    "sources.versioned.vacuum": "the only retention for table "
    "snapshots",
    "sources.transactions.txn_vacuum": "the only retention for "
    "transaction manifests",
}


def keywords(name: str, doc: str | None) -> frozenset:
    toks = {t for t in name.split("_") if len(t) > 2}
    if doc:
        para = doc.strip().split("\n\n")[0]
        toks |= {
            w
            for w in re.findall(r"[a-z]{3,}", para.lower())
            if w not in STOPWORDS
        }
    return frozenset(toks)


def first_sentence(doc: str | None, limit: int = 160) -> str:
    if not doc:
        return "(no docstring)"
    para = " ".join(doc.strip().split("\n\n")[0].split())
    return para[:limit] + ("..." if len(para) > limit else "")


def discover() -> list[tuple[str, str, str, frozenset]]:
    """(relative module, function name, first sentence, keywords) for
    every public function defined in the engine package, sorted."""
    pkg = importlib.import_module(PKG)
    out = []
    for mi in sorted(
        pkgutil.walk_packages(pkg.__path__, PKG + "."), key=lambda m: m.name
    ):
        segs = mi.name.split(".")
        if any(x in segs for x in EXCLUDE_SUBPACKAGES) or mi.ispkg:
            continue
        mod = importlib.import_module(mi.name)
        rel = mi.name[len(PKG) + 1 :]
        for nm in sorted(vars(mod)):
            fn = vars(mod)[nm]
            if nm.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != mi.name:
                continue  # re-export, indexed where defined
            out.append(
                (rel, nm, first_sentence(fn.__doc__), keywords(nm, fn.__doc__))
            )
    return out


Node = tuple[str, str]  # (dotted module, top-level name)


def _names(tree: ast.AST) -> set[str]:
    """Every identifier a subtree names: bare names, attributes and
    imported names."""
    out: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def reachability() -> dict[Node, tuple[str, ...]]:
    """Top-level package definition -> the non-test roots (registry,
    entry, bench, examples, perfbench) that reach it. The walk is by name: a
    definition is reached when a reached body names it, so a shared name
    over-approximates reach and ``unreached`` errs on the safe side."""
    from bigdata_storage_and_proccess_job_data_spark.plans import registry

    by_name: dict[str, set[Node]] = {}
    refs: dict[Node, set[str]] = {}
    pkg = importlib.import_module(PKG)
    for mi in pkgutil.walk_packages(pkg.__path__, PKG + "."):
        tree = ast.parse(inspect.getsource(importlib.import_module(mi.name)))
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                defined = [stmt.name]
            elif isinstance(stmt, ast.Assign):
                defined = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
            elif isinstance(stmt, ast.AnnAssign) and isinstance(
                stmt.target, ast.Name
            ):
                defined = [stmt.target.id]
            else:
                continue
            for name in defined:
                by_name.setdefault(name, set()).add((mi.name, name))
                refs[mi.name, name] = _names(stmt)
    roots = {
        "registry": {
            (fn.__module__, fn.__name__)
            for qd in registry.all_queries().values()
            for fn in (qd.fn, *qd.plan_probes)
        }
    }
    for root, pattern in SCRIPT_ROOTS.items():
        for path in REPO.glob(pattern):
            for name in _names(ast.parse(path.read_text())):
                roots.setdefault(root, set()).update(by_name.get(name, ()))
    reached: dict[Node, list[str]] = {}
    for root, start in roots.items():
        seen: set[Node] = set()
        stack = list(start)
        while stack:
            node = stack.pop()
            if node not in seen and node in refs:
                seen.add(node)
                stack.extend(n for nm in refs[node] for n in by_name.get(nm, ()))
        for node in seen:
            reached.setdefault(node, []).append(root)
    return {node: tuple(rs) for node, rs in reached.items()}


def jaccard(a: frozenset, b: frozenset) -> float:
    u = a | b
    return len(a & b) / len(u) if u else 0.0


def collisions(
    entries: list[tuple[str, str, str, frozenset]],
    threshold: float = THRESHOLD,
) -> list[tuple[float, str, str]]:
    """Unwaived pairs whose keyword overlap >= threshold."""
    out = []
    for (m1, n1, _, k1), (m2, n2, _, k2) in itertools.combinations(
        entries, 2
    ):
        j = jaccard(k1, k2)
        if j >= threshold:
            pair = frozenset({f"{m1}.{n1}", f"{m2}.{n2}"})
            if pair not in WAIVERS:
                out.append((j, f"{m1}.{n1}", f"{m2}.{n2}"))
    return sorted(out, reverse=True)


def render(entries: list[tuple[str, str, str, frozenset]]) -> str:
    reach = reachability()
    tags = {
        (rel, nm): ", ".join(reach.get((f"{PKG}.{rel}", nm), ())) or "unreached"
        for rel, nm, _, _ in entries
    }
    unreached = [key for key, tag in tags.items() if tag == "unreached"]
    unreached_lines = sum(
        len(
            inspect.getsourcelines(
                getattr(importlib.import_module(f"{PKG}.{rel}"), nm)
            )[0]
        )
        for rel, nm in unreached
    )
    lines = [
        "# Operator index (generated -- do not edit)",
        "",
        "One line per public function in the engine package. BEFORE",
        "writing a new operator, grep this file (and COVERAGE.md) for",
        "prior art -- names differ (psi_bins vs psi_report, changepoints",
        "vs alarms); search by CONCEPT keywords, not just the name you",
        "have in mind. Regenerate: `python -m tools.op_index`.",
        "Freshness + duplicate-overlap guard: tests/test_op_index.py.",
        "",
        "The bracketed column names the non-test roots that reach each",
        "function through a name-based static walk: `registry` (registered",
        "queries and plan probes), `entry` (__spark_entry__.py), `bench`",
        "(bench.py), `examples`, `perfbench`; `unreached` means none does",
        "(tests may still call it). tests/test_op_index.py fails when a",
        "public function outside plans/ is unreached and not listed in",
        "tools/op_index.py:KEPT_UNREACHED, or shares its bare name with",
        "another one.",
        "",
        f"{len(entries)} public functions; {len(unreached)} unreached "
        f"({unreached_lines} source lines).",
        "",
    ]
    for rel, nm, sent, _ in entries:
        lines.append(f"- `{rel}.{nm}` [{tags[rel, nm]}] — {sent}")
    return "\n".join(lines) + "\n"


def main() -> None:
    entries = discover()
    path = REPO / "OP_INDEX.md"
    path.write_text(render(entries))
    bad = collisions(entries)
    print(f"wrote {path} ({len(entries)} functions)")
    for j, a, b in bad:
        print(f"UNWAIVED OVERLAP {j:.3f}: {a} <-> {b}")
    if bad:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
