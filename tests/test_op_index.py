"""The operator-inventory guards: OP_INDEX.md must be fresh, no two
public functions may share a keyword set above the threshold without a
recorded waiver (the grep-first rule's mechanical backstop against an
existing operator re-added under a different name), every public
function outside plans/ must be reached by a workload or kept with a
reason, no two of them may share a bare name, and every optional
parameter of one must be set by some call or kept with a reason."""

from __future__ import annotations

import pathlib

from tools import op_index

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_op_index_is_fresh():
    """Adding/renaming a public function without regenerating the index
    fails here -- the regeneration forces the author through the one
    greppable inventory (`python -m tools.op_index`)."""
    entries = op_index.discover()
    want = op_index.render(entries)
    got = (REPO / "OP_INDEX.md").read_text()
    assert got == want, (
        "OP_INDEX.md is stale -- regenerate with `python -m "
        "tools.op_index` AND grep it for prior art before shipping a "
        "new operator"
    )


def test_no_duplicate_operator_semantics():
    """No unwaived pair of public functions overlaps at >= THRESHOLD
    Jaccard on (name tokens + first-docstring-paragraph keywords).
    A new collision means either a real duplicate (remove it -- the
    psi_report/cusum_alarms precedent) or an intentional family twin
    (add a WAIVER with a reason saying why both exist)."""
    entries = op_index.discover()
    bad = op_index.collisions(entries)
    assert bad == [], "\n".join(
        f"{j:.3f} {a} <-> {b}" for j, a, b in bad
    )
    # waivers never go stale: every waived name still exists
    names = {f"{m}.{n}" for m, n, _, _ in entries}
    for pair in op_index.WAIVERS:
        for name in pair:
            assert name in names, f"stale waiver entry: {name}"


def test_every_operator_is_reached():
    """Each public function outside plans/ is reached by a non-test root
    (registry, entry, bench, examples, perfbench) or listed in
    KEPT_UNREACHED with a reason; an entry that is reached, or no longer
    exists, is stale and fails too."""
    reach = op_index.reachability()
    unreached = {
        f"{m}.{n}"
        for m, n, _, _ in op_index.discover()
        if not reach.get((f"{op_index.PKG}.{m}", n))
    }
    kept = set(op_index.KEPT_UNREACHED)
    assert unreached - kept == set(), "unreached functions (delete them, "
    "or add a reason to KEPT_UNREACHED): " + ", ".join(
        sorted(unreached - kept)
    )
    assert kept - unreached == set(), "stale KEPT_UNREACHED entries: " + (
        ", ".join(sorted(kept - unreached))
    )


def test_every_parameter_is_set():
    """Each optional parameter of a public function outside plans/ is
    passed a non-default value by some call in the package, tests/,
    tools/ or a script root, or is listed in KEPT_UNSET with a reason;
    an entry that is set, or no longer exists, is stale and fails too.
    A parameter every caller leaves at its default is one settable
    value with one value in use: inline the default instead."""
    _, unset = op_index.unset_parameters()
    kept = set(op_index.KEPT_UNSET)
    assert set(unset) - kept == set(), "unset parameters (inline the "
    "default, or add a reason to KEPT_UNSET): " + ", ".join(
        sorted(set(unset) - kept)
    )
    assert kept - set(unset) == set(), "stale KEPT_UNSET entries: " + (
        ", ".join(sorted(kept - set(unset)))
    )


def test_public_names_are_unique():
    """No two public functions outside plans/ share a bare name. The
    reachability walk resolves by name, so a shared name lets an
    unreached function count as reached through its namesake."""
    by_name: dict[str, list[str]] = {}
    for m, n, _, _ in op_index.discover():
        by_name.setdefault(n, []).append(f"{m}.{n}")
    shared = {n: ms for n, ms in by_name.items() if len(ms) > 1}
    assert shared == {}, "public functions sharing a name: " + "; ".join(
        ", ".join(ms) for ms in shared.values()
    )


def test_guard_catches_near_duplicates():
    """The metric has teeth: a renamed near-copy of an existing
    operator (same first paragraph, alarm-flavored name) scores above
    the threshold against the original."""
    entries = {f"{m}.{n}": (n, k) for m, n, _, k in op_index.discover()}
    orig_name, orig_kw = entries["operators.aggregates.cusum_changepoints"]
    import importlib

    agg = importlib.import_module(
        "bigdata_storage_and_proccess_job_data_spark.operators.aggregates"
    )
    doc = agg.cusum_changepoints.__doc__
    dup_kw = op_index.keywords("cusum_alarms", doc)
    assert op_index.jaccard(orig_kw, dup_kw) >= op_index.THRESHOLD
