"""Cross-table atomic transactions over versioned tables.

versioned.py gives each table its own snapshot pointer; a pipeline that
publishes a fact table AND its derived aggregate (the reference's
detail-plus-cubes fan-out, SURVEY.md §3.1 step 5) still has a window
where readers see the new detail next to the stale cube. This module
adds the smallest coordination layer that closes it -- the Iceberg
catalog-pointer idea reduced to one directory:

    txn_dir/
      t=1.json        immutable manifest: {table name -> dir, version}
      t=2.json
      _latest         text file holding the committed txn id

Commit protocol (txn_commit):
  1. STAGE: each written table gets a new ``v=N`` snapshot via
     versioned._stage (see its docstring) -- but its per-table
     ``_latest`` is NOT flipped, so nothing is visible yet;
  2. PIN: tables in scope but not written this time carry their current
     committed version into the manifest (the txn is a COMPLETE picture
     of the scope, so txn_read never mixes epochs);
  3. COMMIT: write the manifest json, then atomically replace the txn
     ``_latest`` (versioned._atomic_write) -- the single commit point:
     before it no staged snapshot is reachable, after it the whole set
     is;
  4. ROLL FORWARD: flip each staged table's own ``_latest`` so plain
     per-table readers (read_version with no pinned version) see the
     new data too. A crash inside step 4 leaves the txn committed but
     some per-table pointers stale -- txn_recover() re-runs the flips
     idempotently (roll-FORWARD recovery: the manifest, not the
     pointers, is the source of truth once step 3 ran).

Readers:
- txn_read resolves a table's version THROUGH the manifest: all tables
  of a txn or none, full snapshot isolation across the set, any past
  txn time-travel readable;
- per-table readers keep working unchanged; during step 4 (or a crash
  window before recovery) they may see tables flip one at a time --
  the documented trade, same honesty as versioned.py's
  last-committer-wins pointer.

Concurrency: single writer per txn scope is the supported cadence
(matching versioned.py); ``expected`` gives the same optimistic CAS as
commit_version -- the transition marker is claimed with O_EXCL, so of
two racing expected-mode writers exactly one commits.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from bigdata_storage_and_proccess_job_data_spark.sources import versioned
from bigdata_storage_and_proccess_job_data_spark.sources.versioned import (
    ConcurrentCommitError,
    _atomic_write,
    _claim,
    _pointer_path,
    _rm_quiet,
    _stage,
)


def txn_current(txn_dir: str) -> int | None:
    """Committed transaction id, or None before the first commit."""
    return versioned.current_version(txn_dir)


def txn_manifest(txn_dir: str, txn: int | None = None) -> dict:
    """The manifest of the committed (or pinned ``txn``) transaction:
    {"tables": {name: {"dir": table_dir, "version": int}}}."""
    t = txn_current(txn_dir) if txn is None else txn
    if t is None:
        raise FileNotFoundError(f"{txn_dir} has no committed transaction")
    with open(os.path.join(txn_dir, f"t={t}.json")) as f:
        return json.load(f)


def _stage_snapshot(df: DataFrame, table_dir: str) -> int:
    """versioned.commit_version's write half WITHOUT the pointer swap:
    claim the next free snapshot number (_stage), write the
    immutable ``v=N`` dir, return N. The snapshot stays unreachable
    until a manifest (or a later per-table commit) names it."""
    nxt, snap = _stage(table_dir, None)
    df.write.mode("error").parquet(snap)
    return nxt


def txn_commit(
    txn_dir: str,
    writes: dict[str, tuple[DataFrame, str]],
    carry: dict[str, str] | None = None,
    expected: int | None = None,
    roll_forward: bool = True,
) -> int:
    """Atomically publish a set of table writes as one transaction.

    ``writes``: name -> (DataFrame, table_dir) to stage and commit.
    ``carry``: name -> table_dir for scope tables NOT written this time;
    their CURRENT committed version is pinned into the manifest.
    ``expected``: optimistic CAS on the txn id (ConcurrentCommitError if
    another writer committed meanwhile). ``roll_forward=False`` skips
    step 4 -- the crash-window simulation hook tests use; production
    callers leave it True and run txn_recover after a crash.

    Returns the committed txn id."""
    if not writes:
        raise ValueError("writes is empty: nothing to commit")
    overlap = set(writes) & set(carry or {})
    if overlap:
        raise ValueError(f"tables both written and carried: {sorted(overlap)}")
    os.makedirs(txn_dir, exist_ok=True)
    if expected is not None:
        cur = txn_current(txn_dir) or 0
        if cur != expected:
            raise ConcurrentCommitError(
                f"{txn_dir}: expected txn {expected}, found {cur}"
            )
    tables: dict[str, dict] = {}
    for name, (df, table_dir) in sorted(writes.items()):
        v = _stage_snapshot(df, table_dir)
        tables[name] = {"dir": os.path.abspath(table_dir), "version": v}
    for name, table_dir in sorted((carry or {}).items()):
        v = versioned.current_version(table_dir)
        if v is None:
            raise FileNotFoundError(
                f"carry table {name!r} ({table_dir}) has no committed version"
            )
        tables[name] = {"dir": os.path.abspath(table_dir), "version": v}
    nxt = (txn_current(txn_dir) or 0) + 1
    while not _claim(txn_dir, f"._txn_claim_{nxt}"):
        nxt += 1
    with open(os.path.join(txn_dir, f"t={nxt}.json"), "w") as f:
        json.dump({"tables": tables}, f)
    if expected is not None and not _claim(
        txn_dir, f"._txn_from_{expected}"
    ):
        # remove the loser's manifest so time travel can never resolve
        # an id that was never committed (its staged snapshots stay --
        # unreachable data, cleared by the tables' own vacuum like any
        # orphaned claim); a crash before this cleanup leaves the
        # orphan until txn_vacuum ages it out
        _rm_quiet(os.path.join(txn_dir, f"t={nxt}.json"))
        raise ConcurrentCommitError(
            f"{txn_dir}: another writer already committed the "
            f"transition out of txn {expected}"
        )
    _atomic_write(_pointer_path(txn_dir), str(nxt))  # the commit point
    if roll_forward:
        txn_recover(txn_dir)
    return nxt


def txn_recover(txn_dir: str) -> list[str]:
    """Roll per-table pointers forward to the committed manifest --
    idempotent: a table's pointer moves only if it is BEHIND the
    manifest's version, so a newer single-table commit observed at the
    check is never rewound. Returns the table dirs whose pointers
    moved.

    Concurrency contract: the check-then-flip is NOT
    atomic against a scope writer committing between the read and the
    flip -- run recovery while scope writers are quiesced, which is the
    crash-recovery setting it exists for (writers restart AFTER
    recovery; the module's single-writer-per-scope cadence). The
    in-commit roll-forward is safe under that cadence because the
    committing writer IS the scope's writer. The version re-read
    immediately before each flip shrinks the exposure to the
    out-of-contract case but cannot close it."""
    man = txn_manifest(txn_dir)
    moved = []
    for name in sorted(man["tables"]):
        entry = man["tables"][name]
        cur = versioned.current_version(entry["dir"]) or 0
        if cur < entry["version"]:
            # re-read at the last instant (see contract note above)
            if (versioned.current_version(entry["dir"]) or 0) >= entry[
                "version"
            ]:
                continue
            _atomic_write(
                _pointer_path(entry["dir"]), str(entry["version"])
            )
            moved.append(entry["dir"])
    return moved


def txn_read(
    spark: SparkSession,
    txn_dir: str,
    name: str,
    txn: int | None = None,
) -> DataFrame:
    """Read a table AT the committed (or pinned) transaction: the
    version comes from the manifest, so a multi-table reader resolving
    every table through the same txn id gets a consistent cross-table
    snapshot no matter what writers are doing -- and past txns stay
    readable until their snapshots are vacuumed."""
    man = txn_manifest(txn_dir, txn)
    if name not in man["tables"]:
        raise KeyError(
            f"table {name!r} not in transaction scope "
            f"{sorted(man['tables'])}"
        )
    entry = man["tables"][name]
    return versioned.read_version(
        spark, entry["dir"], version=entry["version"]
    )


def txn_vacuum(txn_dir: str, keep: int = 1) -> list[int]:
    """Drop all but the newest ``keep`` transaction manifests, never the
    committed one; clear txn claims for the dropped ids and completed
    CAS markers (the versioned.vacuum conventions at the txn layer).
    Returns the txn ids removed.

    Scope note: this removes MANIFESTS only -- the table snapshots an
    old manifest referenced stay until each table's own
    versioned.vacuum(keep=...) drops them, and vice versa a table
    vacuum can strand an old manifest's time travel (txn_read of a
    vacuumed version raises FileNotFoundError). Retention policy should
    keep at least as many table versions as transactions: one txn per
    commit means table keep >= txn keep suffices."""
    committed = txn_current(txn_dir)
    ids = sorted(
        int(name[2:-5])
        for name in os.listdir(txn_dir)
        if name.startswith("t=")
        and name.endswith(".json")
        and name[2:-5].isdigit()
    )
    drop = [t for t in ids[: max(0, len(ids) - keep)] if t != committed]
    for t in drop:
        os.remove(os.path.join(txn_dir, f"t={t}.json"))
        _rm_quiet(os.path.join(txn_dir, f"._txn_claim_{t}"))
    if committed is not None:
        for name in os.listdir(txn_dir):
            if name.startswith("._txn_from_"):
                tail = name[len("._txn_from_"):]
                if tail.isdigit() and int(tail) < committed:
                    _rm_quiet(os.path.join(txn_dir, name))
    return drop
