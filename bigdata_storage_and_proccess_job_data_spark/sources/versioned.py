"""Versioned table dir: minimal snapshot-isolated table format.

The reference's serving stores (ES doc upsert, Cassandra rows --
SURVEY.md §2.1 S5/S6) give readers a consistent view while writers
mutate. Plain parquet dirs don't: an overwrite deletes files while a
concurrent reader lists them. This module adds the smallest table-format
core that fixes it, the same commit idea as Delta/Iceberg reduced to one
pointer:

    table/
      v=1/part-*.parquet       immutable snapshot dirs
      v=2/part-*.parquet
      _latest                  text file holding the committed version

- writers produce a NEW snapshot dir (distributed write, any size),
  then commit by atomically replacing ``_latest``;
- readers resolve ``_latest`` once and only ever list files inside an
  immutable snapshot => no torn reads, writers never block readers;
- history stays until vacuum(), so any version is time-travel readable.

Every writer runs the same commit protocol: _stage claims the snapshot
number, _publish attaches the meta sidecar, takes the transition CAS
and swaps the pointer (their docstrings are the protocol's one
description).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.session import local_frame
from bigdata_storage_and_proccess_job_data_spark.sources.lake import read_parquet

_POINTER = "_latest"
_META = "_commit_meta.json"


def _pointer_path(table_dir: str) -> str:
    return os.path.join(table_dir, _POINTER)


def _atomic_write(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` all-or-nothing: write a temp file
    in the same directory, then rename it over the target (POSIX
    rename within one filesystem is atomic, so a reader sees the old
    content or the new, never a torn file). The package's one writer
    of pointers, manifests and meta sidecars."""
    d, name = os.path.split(path)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=f".{name}_")
    with os.fdopen(fd, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def current_version(table_dir: str) -> int | None:
    """Committed version, or None for an empty/uninitialized table."""
    try:
        with open(_pointer_path(table_dir)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def versions(table_dir: str) -> list[int]:
    """All snapshot versions present on disk (committed or orphaned)."""
    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        if name.startswith("v=") and name[2:].isdigit():
            out.append(int(name[2:]))
    return sorted(out)


class ConcurrentCommitError(RuntimeError):
    """Another writer committed since the expected version was read."""


def _claim(table_dir: str, name: str) -> bool:
    """Atomically create an empty marker file (O_EXCL, the local-fs
    compare-and-set); False if it exists."""
    try:
        fd = os.open(
            os.path.join(table_dir, name),
            os.O_CREAT | os.O_EXCL | os.O_WRONLY,
        )
    except FileExistsError:
        return False
    os.close(fd)
    return True


def _stage(table_dir: str, expected: int | None) -> tuple[int, str]:
    """Steps 1-2 of the snapshot commit protocol; returns the claimed
    number N and the ``v=N`` path for the caller to write into.

    1. EXPECTED-VERSION CHECK: with ``expected`` set, refuse
       (ConcurrentCommitError) unless the committed version still is
       ``expected`` (an uninitialized table counts as 0) -- the cheap
       early exit before any data is written;
    2. NUMBER CLAIM: create ``._claim_v{N}`` with O_EXCL for the next
       free N, so two in-flight writers never write into the same
       ``v=N`` dir (a late writer just claims the next number).

    The staged snapshot is unreachable until _publish moves the
    pointer; a writer that dies before that leaves an unreachable
    claimed dir, and later writers claim past it."""
    os.makedirs(table_dir, exist_ok=True)
    if expected is not None:
        cur = current_version(table_dir) or 0
        if cur != expected:
            raise ConcurrentCommitError(
                f"{table_dir}: expected v{expected}, found v{cur}"
            )
    n = max(versions(table_dir), default=0) + 1
    while not _claim(table_dir, f"._claim_v{n}"):
        n += 1  # number taken by an in-flight writer; take the next
    return n, os.path.join(table_dir, f"v={n}")


def _publish(
    table_dir: str, n: int, expected: int | None, meta: dict | None
) -> None:
    """Steps 3-5 of the snapshot commit protocol, run after the data
    (and any manifests) of the staged ``v=n`` are written:

    3. META SIDECAR: ``meta`` lands as ``_commit_meta.json`` inside the
       snapshot BEFORE the pointer swap, so a published version always
       carries it (commit_meta reads it back);
    4. TRANSITION CAS: with ``expected`` set, create
       ``._commit_from_v{expected}`` with O_EXCL -- only ONE writer
       ever moves the table out of a version, and because the marker is
       taken after the data write, the race loser gets
       ConcurrentCommitError however two commits interleave.
       ``expected=None`` takes no marker: last committer wins;
    5. POINTER SWAP: _atomic_write of ``_latest`` -- the commit point.

    Crash recovery: a writer dying between steps 4 and 5 leaves
    ``._commit_from_v{E}`` with the pointer still at E; further
    ``expected=E`` commits then fail closed (never torn). vacuum()
    clears markers from completed transitions; clear a stale one by
    hand (or commit with ``expected=None``) after confirming the writer
    is dead. On an object store without atomic exclusive creation,
    _claim becomes a conditional put -- the structure is unchanged."""
    if meta is not None:
        _atomic_write(
            os.path.join(table_dir, f"v={n}", _META), json.dumps(meta)
        )
    if expected is not None and not _claim(
        table_dir, f"._commit_from_v{expected}"
    ):
        raise ConcurrentCommitError(
            f"{table_dir}: another writer already committed the "
            f"transition out of v{expected}"
        )
    _atomic_write(_pointer_path(table_dir), str(n))


def commit_version(
    df: DataFrame,
    table_dir: str,
    expected: int | None = None,
    stats_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    meta: dict | None = None,
) -> int:
    """Write ``df`` as the next snapshot and atomically publish it.
    The data write is fully distributed; only the tiny pointer swap is
    driver-side. Returns the committed version number.

    ``expected`` enables optimistic concurrency: pass the version your
    read was based on and the commit refuses (ConcurrentCommitError) if
    someone else committed meanwhile -- the read-modify-write pattern
    for derived tables. The protocol (number claim, transition CAS,
    crash recovery) is described on _stage and _publish.

    ``stats_cols`` writes the snapshot's per-file min/max manifest
    (write_stats_manifest) before publishing, enabling manifest-based
    file pruning at read time (read_version(prune=...)). Pair with
    repartitionByRange on the stats column so files carry disjoint
    ranges worth skipping.

    ``meta`` attaches a small JSON document to the snapshot, written
    BEFORE the pointer swap so a published version always carries it
    atomically (read back with commit_meta). The hook consumers use to
    make non-idempotent derived-table updates exactly-once: record the
    upstream position (micro-batch id, feed version) in the same
    commit that applies it, and a replay sees its own marker.

    ``partition_by`` writes the snapshot hive-partitioned on the named
    columns. Because every snapshot is its own immutable directory,
    each commit may choose a DIFFERENT layout -- partition evolution
    for free (the repartition-by-new-column migration that Hive-style
    tables can't do without a rewrite-in-place): old versions stay
    readable with their old layout, time travel included, and
    partition pruning applies per snapshot. Mutually exclusive with
    ``stats_cols`` (the file-manifest pruners hand Spark bare file
    paths, which would drop hive partition values; partitioned
    snapshots get their pruning from partition pruning itself)."""
    if partition_by and stats_cols:
        raise ValueError(
            "partition_by and stats_cols are mutually exclusive: "
            "manifest pruning reads bare file paths, which would drop "
            "hive partition values -- partitioned snapshots prune via "
            "partition pruning instead"
        )
    nxt, snap = _stage(table_dir, expected)
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(snap)
    if stats_cols:
        # footer pass BEFORE the pointer swap: a published snapshot
        # always carries its manifest (readers never race a half-built
        # one -- the snapshot isn't visible until the swap below)
        write_stats_manifest(snap, stats_cols)
    _publish(table_dir, nxt, expected, meta)
    return nxt


def read_version(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    prune: tuple[str, object, object]
    | list[tuple[str, object, object]]
    | None = None,
    prune_eq: tuple[str, object]
    | list[tuple[str, object]]
    | None = None,
) -> DataFrame:
    """Read the committed snapshot (or a pinned ``version`` for time
    travel). Raises FileNotFoundError on an uncommitted table.

    ``prune=(col, lo, hi)`` (inclusive bounds, None = unbounded) is
    manifest-based scan planning: when the snapshot carries a stats
    manifest (commit_version(stats_cols=[...])), only files whose
    [min, max] for ``col`` intersects [lo, hi] are handed to Spark at
    all -- the Iceberg/Delta trick of pruning from METADATA before any
    data file (or even footer) is opened. The matching filter is also
    applied to the frame, so results equal the unpruned read + filter
    by construction; files without stats for the column are kept
    (conservative).

    Pass a LIST of (col, lo, hi) tuples for a CONJUNCTION: a file
    survives only if it intersects every predicate's range (set
    intersection over the per-column keeps), the compound shape of real
    lake reads -- partition-date band AND key band -- where either
    predicate alone keeps most files but their intersection keeps few.

    ``prune_eq=(col, value)`` (or a list, AND semantics, freely mixed
    with ``prune``) adds EQUALITY pruning through the snapshot's bloom
    manifest (write_bloom_manifest) -- the point-lookup case where an
    unsorted high-cardinality key spans every file's [min, max] and
    range stats prune nothing. The equality filter is applied to the
    frame as well, so results always equal unpruned-read + filter."""
    v = current_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{table_dir} has no committed version")
    snap = os.path.join(table_dir, f"v={v}")
    if prune is None and prune_eq is None:
        return read_parquet(spark, snap)
    preds = (
        []
        if prune is None
        else [prune]
        if isinstance(prune, tuple)
        else list(prune)
    )
    eqs = (
        []
        if prune_eq is None
        else [prune_eq]
        if isinstance(prune_eq, tuple)
        else list(prune_eq)
    )
    files: set | None = None
    cond = F.lit(True)
    for col, lo, hi in preds:
        kept = set(prune_files(snap, col, lo, hi))
        files = kept if files is None else files & kept
        c = F.col(col)
        if lo is not None:
            cond = cond & (c >= F.lit(lo))
        if hi is not None:
            cond = cond & (c <= F.lit(hi))
    for col, value in eqs:
        kept = set(prune_files_bloom(snap, col, value))
        files = kept if files is None else files & kept
        cond = cond & (F.col(col) == F.lit(value))
    if not files:
        # every file excluded by stats: an empty frame with the real
        # schema (read the snapshot's schema without scanning data)
        return read_parquet(spark, snap).filter(F.lit(False))
    return read_parquet(spark, *sorted(files)).filter(cond)


def commit_meta(table_dir: str, version: int | None = None) -> dict | None:
    """The JSON document attached to a snapshot at commit time
    (commit_version(meta=...)), or None if the snapshot has none.
    Reads the committed version by default."""
    v = current_version(table_dir) if version is None else version
    if v is None:
        return None
    path = os.path.join(table_dir, f"v={v}", _META)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


_STATS = "_stats.json"


def write_stats_manifest(
    snapshot_dir: str, cols: list[str]
) -> dict[str, dict[str, list]]:
    """Collect per-file [min, max, null-only?] for ``cols`` from the
    parquet FOOTERS of a snapshot dir and persist them as
    ``_stats.json`` (underscore-prefixed: invisible to Spark's dir
    listing). Footers are KB-sized regardless of file size, so this is
    a metadata pass -- the manifest is what lets a reader skip whole
    files without opening them. Snapshot dirs are immutable, so the
    manifest is written once, at commit time.

    Only numeric/string/date-comparable leaf columns make sense here;
    a column with no stats in a file simply isn't recorded for it
    (readers treat that as "keep the file"). At extreme file counts
    the footer walk itself would be distributed; driver-side is the
    right shape for the per-snapshot file counts this format targets."""
    import glob

    import pyarrow.parquet as pq

    manifest: dict[str, dict[str, list]] = {}
    for path in sorted(glob.glob(os.path.join(snapshot_dir, "*.parquet"))):
        md = pq.ParquetFile(path).metadata
        names = {c: i for i, c in enumerate(md.schema.names)}
        per_col: dict[str, list] = {}
        for col in cols:
            i = names.get(col)
            if i is None:
                continue
            mins, maxs = [], []
            all_null = True
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    if st is not None and st.num_values == 0:
                        continue  # all-null row group: no bounds needed
                    ok = False
                    break
                all_null = False
                mins.append(st.min)
                maxs.append(st.max)
            if not ok:
                continue
            if all_null:
                per_col[col] = [None, None]
            else:
                per_col[col] = [min(mins), max(maxs)]
        manifest[os.path.basename(path)] = per_col
    ser = {
        f: {c: _stats_ser(v) for c, v in cs.items()}
        for f, cs in manifest.items()
    }
    _atomic_write(os.path.join(snapshot_dir, _STATS), json.dumps(ser))
    return manifest


def _stats_ser(bounds: list) -> list:
    """JSON-safe [min, max]: datetimes/dates as tagged isoformat."""
    import datetime as dt

    out = []
    for v in bounds:
        if isinstance(v, (dt.datetime, dt.date)):
            out.append({"$dt": v.isoformat()})
        elif isinstance(v, bytes):
            out.append({"$b": v.decode("utf-8", "replace")})
        else:
            out.append(v)
    return out


def _stats_de(v):
    import datetime as dt

    if isinstance(v, dict):
        if "$dt" in v:
            s = v["$dt"]
            return (
                dt.datetime.fromisoformat(s)
                if "T" in s or " " in s
                else dt.date.fromisoformat(s)
            )
        if "$b" in v:
            return v["$b"]
    return v


def read_stats_manifest(snapshot_dir: str) -> dict | None:
    """The snapshot's stats manifest, or None if it wasn't written."""
    try:
        with open(os.path.join(snapshot_dir, _STATS)) as fh:
            raw = json.load(fh)
    except FileNotFoundError:
        return None
    return {
        f: {c: [_stats_de(v) for v in b] for c, b in cs.items()}
        for f, cs in raw.items()
    }


def prune_files(
    snapshot_dir: str, col: str, lo, hi
) -> list[str]:
    """Files of a snapshot whose [min, max] for ``col`` intersects
    [lo, hi] (inclusive; None = unbounded). Files without recorded
    stats for the column -- or the whole snapshot when no manifest
    exists -- are kept: pruning may only ever REMOVE provably-excluded
    files. All-null files ([None, None] bounds) can't match a bounded
    range and are dropped when either bound is set."""
    import glob

    manifest = read_stats_manifest(snapshot_dir)
    if manifest is None:
        return sorted(glob.glob(os.path.join(snapshot_dir, "*.parquet")))
    keep = []
    for fname, cs in manifest.items():
        bounds = cs.get(col)
        if bounds is None:
            keep.append(fname)
            continue
        fmin, fmax = bounds
        if fmin is None:  # all-null file
            if lo is None and hi is None:
                keep.append(fname)
            continue
        if lo is not None and fmax < lo:
            continue
        if hi is not None and fmin > hi:
            continue
        keep.append(fname)
    return [os.path.join(snapshot_dir, f) for f in sorted(keep)]


_BLOOM = "_bloom.json"


def _bloom_pos(i: int, value: str, m: int) -> int:
    """Python twin of the Spark position expression in
    write_bloom_manifest -- MUST stay bit-identical (same md5-prefix
    bridge as the engine's other cross-engine hashes)."""
    import hashlib

    return int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:15], 16) % m


def _bloom_bits(d: int, k: int, target_fpp: float) -> int:
    """Bits needed for a k-hash bloom over ``d`` distinct keys at
    ``target_fpp``: FP = (1 - e^(-k*d/m))^k  =>  m = -k*d /
    ln(1 - fpp^(1/k)), rounded up to a multiple of 64 (word grain),
    floor 64. At the defaults (k=5, fpp=1%) this is ~9.9 bits/key with
    fill factor ~0.40 -- always under the 0.5 saturation guard."""
    import math

    if d <= 0:
        return 64
    m = -k * d / math.log(1.0 - target_fpp ** (1.0 / k))
    return max(64, ((int(math.ceil(m)) + 63) // 64) * 64)


def _bloom_position_exprs(k: int) -> "list":
    """The k md5-derived bit-position hash expressions over the string
    column ``_v`` -- MUST stay bit-identical to _bloom_pos (the Python
    probe twin): md5(f"{i}:{value}") 15-hex-digit prefix as a long,
    reduced mod m by the caller."""
    return [
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("_v"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        for i in range(k)
    ]


def _bloom_words(spark: SparkSession, pairs: DataFrame, m_by_file: dict, k: int):
    """Collect (file-basename ``_b``, word-index ``_w``, ``_bits``) rows
    for per-file bloom bitmaps: attach each value row's file bitmap
    size, derive the k bit positions, fold to word grain with a bit_or
    hash agg. ``pairs`` must carry ``_b`` and a non-null string ``_v``;
    duplicate values only re-OR the same bits, so callers may skip
    deduplication when the distinct pass is not otherwise needed.

    Size attachment: for small snapshots the per-file ``m`` rides as a
    LITERAL map expression -- no sizes frame, no broadcast exchange,
    no join (measured -30% on the rebuild job at a few dozen files);
    but GetMapValue on a literal map is a LINEAR key scan per row, so
    the boundary is where per-row compares overtake the join's fixed
    cost. Measured (2M value rows, interleaved A/B): literal wins at
    <=100 files (1.11 s vs 1.23 s min), loses at 200 (1.30 vs 1.14)
    and degrades linearly past it (1000 files: 2.97 vs 1.17; 2000:
    5.11 vs 1.09). 128 splits the bracketed [100, 200) crossover;
    identical output either way."""
    from itertools import chain

    if len(m_by_file) <= 128:
        mexpr = F.create_map(
            *chain.from_iterable(
                (F.lit(f), F.lit(mm)) for f, mm in m_by_file.items()
            )
        )
        sized = pairs.select(
            "_b",
            F.explode(F.array(*_bloom_position_exprs(k))).alias("_h"),
            mexpr[F.col("_b")].alias("_m"),
        )
    else:
        sizes = local_frame(
            spark, list(m_by_file.items()), "_b string, _m long"
        )
        sized = pairs.join(F.broadcast(sizes), "_b").select(
            "_b",
            F.explode(F.array(*_bloom_position_exprs(k))).alias("_h"),
            "_m",
        )
    return (
        sized.select("_b", (F.col("_h") % F.col("_m")).alias("_p"))
        .select(
            "_b",
            (F.col("_p") / 64).cast("int").alias("_w"),
            # expr form: pyspark's shiftleft only takes a literal int
            # for numBits, not a Column
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))"
            ).alias("_bit"),
        )
        .groupBy("_b", "_w")
        .agg(F.bit_or("_bit").alias("_bits"))
        .collect()
    )


def _bloom_entry_d_bound(
    entry: dict, k: int, target_fpp: float | None
) -> int | None:
    """Distinct-count upper bound for an existing per-file bloom entry:
    the stored ``d`` when present (manifests record the bound the
    bitmap was sized from), else inverted from ``m`` at the manifest's
    recorded ``target_fpp`` -- _bloom_bits only ever rounds m UP from
    k*d / -ln(1-fpp^(1/k)), so d <= m * -ln(1-fpp^(1/k)) / k holds and
    its floor is a valid integer bound. None (no bound) when neither is
    recorded: inverting at an assumed fpp under-estimates d whenever
    the bitmap was built at a looser one."""
    import math

    d = entry.get("d")
    if d is not None:
        return int(d)
    if target_fpp is None:
        return None
    return int(
        entry["m"] * (-math.log(1.0 - target_fpp ** (1.0 / k))) / k
    )


def _bloom_rebuild_spliced(
    spark: SparkSession,
    new_snap: str,
    old_payload: dict,
    linked_names: set,
) -> None:
    """Rebuild a per-file-sized bloom manifest after a COW commit
    WITHOUT rescanning linked files: a hard-linked file is byte-
    identical to its source, so its (file, col) entries carry over
    verbatim; only the freshly written files are scanned, in ONE job
    per column (no distinct exchange, no persist, no counts pass --
    the write_bloom_manifest exact build pays those to size each
    bitmap from its file's exact distinct count). Each new file's
    ``m`` comes from a distinct-count UPPER BOUND instead:

      min(parquet footer row count,
          sum of the rewritten-away files' recorded bounds for the col)

    The second term is sound because a COW rewrite's output rows are a
    subset of the rewritten-away files' rows (a delete drops rows, a
    compaction moves them), so a column's new distinct set is a subset
    of the union of those files' old value sets (absent old entries are
    all-NULL files contributing zero values). Sizing from the row count
    alone would inflate low-NDV columns' bitmaps ~rows/NDV-fold per
    rewrite; the cap keeps them near the exact build's size while the
    unique-key case stays bit-identical (bound == row count).
    FP rate only ever improves vs target; pruning correctness is
    m-independent because every entry stores its own ``m``. The sizing
    target_fpp comes from the manifest payload when recorded (older
    manifests without it size new bitmaps at the 0.01 default, and a column
    with an old entry that records neither ``d`` nor the payload's
    target_fpp is sized from the footer row count alone)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    k = old_payload.get("k", 5)
    recorded_fpp = old_payload.get("target_fpp")
    target_fpp = recorded_fpp or 0.01
    old_files = old_payload.get("files", {})
    cols = sorted({cname for per in old_files.values() for cname in per})
    out: dict[str, dict] = {
        fname: entry
        for fname, entry in old_files.items()
        if fname in linked_names
    }
    # distinct-count budget per column: what the rewritten-away files'
    # entries claimed, summed (absent entry == all-NULL col in that
    # file == zero distinct values); None == uncapped (an entry with no
    # recoverable bound)
    rewritten_away = [
        per for fname, per in old_files.items() if fname not in linked_names
    ]

    def _cap(col: str) -> int | None:
        bounds = [
            _bloom_entry_d_bound(per[col], k, recorded_fpp)
            for per in rewritten_away
            if col in per
        ]
        return None if None in bounds else sum(bounds)

    cap_by_col = {col: _cap(col) for col in cols}
    new_paths = [
        p
        for p in sorted(_glob.glob(os.path.join(new_snap, "*.parquet")))
        if os.path.basename(p) not in linked_names
    ]
    if cols and new_paths:
        rows_by_file = {
            os.path.basename(p): _pq.ParquetFile(p).metadata.num_rows
            for p in new_paths
        }
        df = read_parquet(spark, *new_paths)
        for col in cols:
            cap = cap_by_col[col]
            d_by_file = {
                f: rows if cap is None else min(rows, cap)
                for f, rows in rows_by_file.items()
            }
            m_by_file = {
                f: _bloom_bits(d, k, target_fpp)
                for f, d in d_by_file.items()
            }
            pairs = df.select(
                F.element_at(
                    F.split(F.input_file_name(), "/"), -1
                ).alias("_b"),
                F.col(col).cast("string").alias("_v"),
            ).filter(F.col("_v").isNotNull())
            per_file_words: dict[str, dict[str, int]] = {}
            for r in _bloom_words(spark, pairs, m_by_file, k):
                per_file_words.setdefault(r._b, {})[str(r._w)] = r._bits
            # files that produced no rows (all-NULL col) stay absent:
            # conservative keep on probe, same as a fresh build
            for fname, wmap in per_file_words.items():
                out.setdefault(fname, {})[col] = {
                    "m": m_by_file[fname],
                    "d": d_by_file[fname],
                    "words": wmap,
                }
    payload = {
        "m": None,
        "k": k,
        "target_fpp": target_fpp,
        "files": out,
    }
    _atomic_write(os.path.join(new_snap, _BLOOM), json.dumps(payload))


def write_bloom_manifest(
    spark: SparkSession,
    snapshot_dir: str,
    cols: list[str],
    k: int = 5,
    target_fpp: float = 0.01,
) -> dict:
    """Per-file BLOOM bitmaps for equality pruning -- the skipping power
    min/max zones can't give: a high-cardinality key written unsorted
    spans nearly the full value range in EVERY file, so range stats keep
    everything, but a point predicate only truly touches the files whose
    bloom has all k bits set. This is Iceberg's file-level bloom idea on
    the manifest layer (the in-FILE parquet blooms from
    lake.write_with_bloom still prune row groups inside the kept files
    -- the two compose).

    Built in ONE distinct pass per column: distinct (input_file,
    value-string) pairs (persisted across its two consumers) -> per-file
    distinct counts size each file's bitmap -> k md5-derived bit
    positions each -> bit_or hash agg to (file, word) grain -- the
    words land in ``_bloom.json`` next to ``_stats.json`` (driver holds
    only files x words, never values). Intended for string/integer key
    columns (values hash via their Spark string cast; the Python-side
    membership probe recomputes the identical cast for those types).
    NULLs are not indexed -- equality pruning never matches NULL anyway.

    Sizing (one fixed size for every file saturates at scale): with d
    distinct keys in a file, FP rate = (1-e^(-k*d/m))^k,
    so ``m`` is derived PER FILE from that file's own distinct count
    for ``target_fpp`` (_bloom_bits; ~9.9 bits/key at the 1% default,
    fill ~0.40, under the 0.5 optimal-fill point) and stored per
    (file, col) in the manifest; the payload's ``m`` is None, which
    tells this format from a legacy one-size manifest. A false positive
    only ever costs a kept file, never correctness.

    Every entry records the distinct-count bound ``d`` it was sized
    from and the payload records ``target_fpp`` -- COW splice rebuilds
    (_bloom_rebuild_spliced) reuse both to cap rewritten files' sizes
    and keep the original FP target."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if not 0.0 < target_fpp < 1.0:
        raise ValueError("target_fpp must be in (0, 1)")
    df = read_parquet(spark, snapshot_dir)
    out: dict[str, dict] = {}
    for col in cols:
        pairs = (
            df.select(
                F.input_file_name().alias("_f"),
                F.col(col).cast("string").alias("_v"),
            )
            .filter(F.col("_v").isNotNull())
            .distinct()
            .persist()
        )
        try:
            counts = {
                os.path.basename(r._f): r.d
                for r in pairs.groupBy("_f")
                .agg(F.count(F.lit(1)).alias("d"))
                .collect()
            }
            m_by_file = {
                f: _bloom_bits(d, k, target_fpp) for f, d in counts.items()
            }
            if m_by_file:
                words = _bloom_words(
                    spark,
                    pairs.withColumn(
                        "_b", F.element_at(F.split("_f", "/"), -1)
                    ),
                    m_by_file,
                    k,
                )
            else:
                words = []
        finally:
            pairs.unpersist()
        per_file_words: dict[str, dict[str, int]] = {}
        for r in words:
            per_file_words.setdefault(r._b, {})[str(r._w)] = r._bits
        for fname, wmap in per_file_words.items():
            out.setdefault(fname, {})[col] = {
                "m": m_by_file[fname],
                "d": counts[fname],
                "words": wmap,
            }
    payload = {"m": None, "k": k, "target_fpp": target_fpp, "files": out}
    _atomic_write(os.path.join(snapshot_dir, _BLOOM), json.dumps(payload))
    return payload


def prune_files_bloom(snapshot_dir: str, col: str, value) -> list[str]:
    """Files of a snapshot whose bloom bitmap for ``col`` may contain
    ``value`` (all k bits set). No manifest, or no bitmap recorded for a
    (file, col) -- e.g. an all-NULL file -- keeps the file for columns
    it has no evidence about, EXCEPT that a file present in the
    manifest with a bitmap for ``col`` and missing bits is provably
    excluded (no false negatives by bloom construction).

    Bitmap sizes are PER FILE: each (file, col) entry carries its own
    ``m`` next to its words, so the probe positions are recomputed per
    file; legacy manifests (flat word maps, one global ``m``) still
    read correctly."""
    import glob

    if value is None:
        raise ValueError("bloom pruning is for non-NULL equality probes")
    try:
        with open(os.path.join(snapshot_dir, _BLOOM)) as fh:
            payload = json.load(fh)
    except FileNotFoundError:
        return sorted(glob.glob(os.path.join(snapshot_dir, "*.parquet")))
    k, files = payload["k"], payload["files"]
    probe_cache: dict[int, list[int]] = {}
    keep = []
    for path in sorted(glob.glob(os.path.join(snapshot_dir, "*.parquet"))):
        fname = os.path.basename(path)
        entry = files.get(fname, {}).get(col)
        if entry is None:
            keep.append(path)  # no evidence recorded: conservative
            continue
        if "words" in entry:  # per-file-sized format
            m, words = entry["m"], entry["words"]
        else:  # legacy flat map with one global m
            m, words = payload["m"], entry
        probe = probe_cache.get(m)
        if probe is None:
            probe = [_bloom_pos(i, str(value), m) for i in range(k)]
            probe_cache[m] = probe
        if all(
            (int(words.get(str(p // 64), 0)) >> (p % 64)) & 1
            for p in probe
        ):
            keep.append(path)
    return keep


def diff_versions(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    key: str,
    align_additive: bool = False,
) -> DataFrame:
    """Row-level CHANGE FEED between two committed snapshots (the
    table_changes / CDF idea on the one-pointer format): returns one row
    per key whose state differs, with

        key, change_type in {'insert','update','delete'},
        before (full old row as a struct, null for inserts),
        after  (full new row as a struct, null for deletes).

    Contract: ``key`` is unique per snapshot (the upsert/MERGE writers
    here guarantee it) and both snapshots share a schema. A feed across
    an additive evolution boundary (a commit that added a column)
    raises by default; pass ``align_additive=True`` to NULL-fill the
    one-sided columns and diff across it (see change_feed).

    This is what turns the versioned table into an INCREMENTAL source:
    a downstream pipeline consumes diff_versions(last_seen, current)
    instead of re-reading the full snapshot -- at 100 TB the difference
    between a keyed shuffle of two snapshots and a full recompute of
    everything downstream.

    Scale shape: ONE full-outer shuffle join on the key; row comparison
    is a single null-safe struct equality (JVM-side, no per-column
    Python, exact -- no hash-collision blind spot). Pair with bucketed
    or partition-pruned snapshots to make the join co-located."""
    old = read_version(spark, table_dir, v_from)
    new = read_version(spark, table_dir, v_to)
    try:
        return change_feed(old, new, key, align_additive=align_additive)
    except ValueError as exc:
        raise ValueError(
            f"{table_dir} v{v_from}..v{v_to}: {exc}"
        ) from None


def _uncomparable_fields(dataType) -> bool:
    """True when a type cannot sit inside an equality-compared struct
    (MapType has no defined equality in Spark -- eqNullSafe on a struct
    containing one fails at ANALYSIS time with an opaque exception)."""
    from pyspark.sql import types as T

    if isinstance(dataType, T.MapType):
        return True
    if isinstance(dataType, T.ArrayType):
        return _uncomparable_fields(dataType.elementType)
    if isinstance(dataType, T.StructType):
        return any(_uncomparable_fields(f.dataType) for f in dataType.fields)
    return False


def change_feed(
    old: DataFrame, new: DataFrame, key: str, align_additive: bool = False
) -> DataFrame:
    """The frame-level core of diff_versions: row-level changes between
    any two same-schema keyed frames, independent of where the snapshots
    came from (versioned table, two parquet dirs, two query results).
    diff_versions = change_feed over two committed versions. (The
    full-outer + struct-compare semantics stay driver-checked
    row-for-row through table_diff's oracle and pinned by this module's
    tests.)

    ``align_additive=True`` lets the feed span an ADDITIVE schema
    evolution (a commit that added a column): a column present on
    only one side is NULL-filled on the other before comparing, so a
    row unchanged except for the evolved column's NULL does not emit,
    while a row that gained a value there emits as a normal update. A
    same-name TYPE conflict still raises -- evolution never retypes."""
    # guard on NAME AND TYPE, order-insensitive: column order is a
    # write artifact (both structs below are built in the old order),
    # but a retyped column would otherwise slip past a name-only check
    # and die later as a struct-comparison AnalysisException instead of
    # this contract error
    if align_additive:
        old_types = {f.name: f.dataType for f in old.schema.fields}
        new_types = {f.name: f.dataType for f in new.schema.fields}
        for name, dt in new_types.items():
            if name not in old_types:
                old = old.withColumn(name, F.lit(None).cast(dt))
        for name, dt in old_types.items():
            if name not in new_types:
                new = new.withColumn(name, F.lit(None).cast(dt))
    old_schema = {f.name: f.dataType for f in old.schema.fields}
    new_schema = {f.name: f.dataType for f in new.schema.fields}
    if old_schema != new_schema:
        changed = sorted(
            set(old_schema.items()) ^ set(new_schema.items()), key=str
        )
        raise ValueError(f"schema changed between snapshots: {changed}")
    # non-comparable columns fail struct equality at ANALYSIS time with
    # an opaque AnalysisException -- surface the contract error instead,
    # naming the offending columns
    bad = sorted(
        name for name, dt in old_schema.items() if _uncomparable_fields(dt)
    )
    if bad:
        raise ValueError(
            f"columns {bad} contain MAP types, which have no equality "
            "semantics in Spark; drop or re-encode them (e.g. "
            "map_entries -> sorted array) before diffing"
        )
    cols = old.columns
    o = old.select(
        F.col(key).alias("_ko"), F.struct(*cols).alias("before")
    )
    n = new.select(
        F.col(key).alias("_kn"), F.struct(*cols).alias("after")
    )
    # null-safe key equality: a NULL key present in both snapshots is
    # one (unchanged or updated) row, not a spurious delete+insert pair
    j = o.join(n, F.col("_ko").eqNullSafe(F.col("_kn")), "full_outer")
    return (
        j.select(
            F.coalesce(F.col("_ko"), F.col("_kn")).alias(key),
            F.when(F.col("before").isNull(), F.lit("insert"))
            .when(F.col("after").isNull(), F.lit("delete"))
            .when(
                ~F.col("before").eqNullSafe(F.col("after")), F.lit("update")
            )
            .alias("change_type"),
            "before",
            "after",
        )
        .filter(F.col("change_type").isNotNull())
    )


def vacuum(table_dir: str, keep: int = 1) -> list[int]:
    """Drop all but the newest ``keep`` snapshots, never the committed
    one. Returns the versions removed. Also clears commit markers that
    can no longer matter: number claims for the dropped snapshots and
    transition markers from versions BELOW the committed one (those
    transitions completed; a marker AT the committed version may belong
    to an in-flight writer and is left alone)."""
    import shutil

    committed = current_version(table_dir)
    vs = versions(table_dir)
    drop = [v for v in vs[: max(0, len(vs) - keep)] if v != committed]
    for v in drop:
        shutil.rmtree(os.path.join(table_dir, f"v={v}"))
        _rm_quiet(os.path.join(table_dir, f"._claim_v{v}"))
    if committed is not None:
        for name in os.listdir(table_dir):
            if name.startswith("._commit_from_v"):
                tail = name[len("._commit_from_v"):]
                if tail.isdigit() and int(tail) < committed:
                    _rm_quiet(os.path.join(table_dir, name))
    return drop


def _rm_quiet(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def apply_changes(
    spark: SparkSession,
    table_dir: str,
    changes: DataFrame,
    key: str,
    expected: int | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """MERGE-style change application onto a versioned table: ``changes``
    carries the table's columns plus ``_op`` in {'upsert','delete'}.
    Every key present in the batch is first removed from the current
    snapshot (left-anti on the touched-key set -- one narrow join), then
    the batch's upsert rows are appended; the result commits as the next
    snapshot. Semantics per key in one batch:

        delete only            -> key gone
        upsert only            -> key replaced by the batch's row(s)
        delete + upsert        -> replace (the upsert wins; delete is
                                  implied by the touched-key anti-join)

    Readers stay on the old snapshot until the pointer swap; pass
    ``expected`` for optimistic concurrency. Works on an uninitialized
    table (pure-insert first commit; deletes to nothing are no-ops).
    A batch whose columns differ from the table's raises: schema drift
    fails loudly, the safe default for CDC.

    This is the ES-style doc CRUD surface (reference S5,
    spark_job.py:78-80 upserts; deletes had no reference path at all)
    expressed as immutable snapshots + one anti-join -- the
    copy-on-write MERGE shape, which at 100 TB pairs with partition
    pruning so only touched partitions rewrite."""
    # the batch is read three times (op validation, upsert slice,
    # touched-key set) -- persist once so the lineage isn't re-evaluated
    # per use; a change batch is small relative to the table by nature
    changes = changes.persist()
    try:
        ops = {r[0] for r in changes.select("_op").distinct().collect()}
        bad = ops - {"upsert", "delete"}
        if bad:
            raise ValueError(f"unknown _op values: {sorted(bad)}")
        upserts = changes.filter(F.col("_op") == "upsert").drop("_op")
        if current_version(table_dir) is None:
            return commit_version(
                upserts, table_dir, expected=expected, stats_cols=stats_cols
            )
        base = read_version(spark, table_dir)
        if set(upserts.columns) != set(base.columns):
            raise ValueError(
                "change batch columns "
                f"{sorted(set(upserts.columns) ^ set(base.columns))} differ "
                "from the table's"
            )
        touched = changes.select(F.col(key)).distinct()
        survivors = base.join(touched, key, "left_anti")
        return commit_version(
            survivors.unionByName(upserts),
            table_dir,
            expected=expected,
            stats_cols=stats_cols,
        )
    finally:
        changes.unpersist()


def optimize_table(
    spark: SparkSession,
    table_dir: str,
    cluster_by: str | None = None,
    target_files: int = 8,
    stats_cols: list[str] | None = None,
    expected: int | str | None = "auto",
    zorder_by: list[str] | None = None,
) -> int:
    """Table maintenance as one snapshot commit (the Delta OPTIMIZE /
    Iceberg rewrite_data_files shape): rewrite the current snapshot
    into ``target_files`` files, range-clustered and sorted on
    ``cluster_by`` when given, and refresh the stats manifest --
    content-identical, layout-better. Incremental MERGE commits
    gradually fragment the layout and scatter key ranges across files
    (each commit appends its own upserts unclustered), so periodic
    optimize is what keeps manifest pruning (read_version(prune=...))
    and row-group skipping effective on a long-lived table.

    Defaults stats_cols to [cluster_by]; readers of older versions are
    untouched (snapshot isolation), and vacuum() reclaims the
    pre-optimize snapshot when history allows.

    Concurrency: ``expected="auto"`` (the default) pins the version being
    read and commits with optimistic concurrency against exactly that
    version, so an optimize racing a concurrent ingest commit fails
    closed (ConcurrentCommitError) instead of silently publishing a
    snapshot built from a stale read and dropping the ingest's rows -- a
    maintenance op designed to run alongside ingest must not default to
    lost-update behavior. Pass an explicit int to race against a known
    version, or ``expected=None`` to opt out of the check entirely
    (unsafe: last-writer-wins).

    ``zorder_by=[c1, c2, ...]`` (mutually exclusive with ``cluster_by``)
    is the Delta OPTIMIZE ZORDER BY shape: Morton-code clustering so
    band predicates on ANY of the listed dimensions prune files through
    the stats manifest -- single-column range clustering serves one
    dimension perfectly and the others not at all; z-order trades a
    little of the first dimension's locality for skipping on all of
    them. Defaults stats_cols to zorder_by."""
    if cluster_by is not None and zorder_by is not None:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    pinned = current_version(table_dir)
    if expected == "auto":
        expected = pinned
    df = read_version(spark, table_dir, version=pinned)
    if zorder_by is not None:
        from bigdata_storage_and_proccess_job_data_spark.functions.zorder import (
            zorder_cluster,
        )

        df = zorder_cluster(df, zorder_by, n_files=target_files)
        if stats_cols is None:
            stats_cols = list(zorder_by)
    elif cluster_by is not None:
        df = df.repartitionByRange(
            target_files, F.col(cluster_by)
        ).sortWithinPartitions(cluster_by)
        if stats_cols is None:
            stats_cols = [cluster_by]
    else:
        df = df.coalesce(target_files)
    # maintenance keeps caller metadata: the commit-meta sidecar
    # describes the table's contents, not its file layout, so this
    # commit, compact_small_files and delete_where carry the pinned
    # snapshot's meta into the version they publish
    return commit_version(
        df,
        table_dir,
        expected=expected,
        stats_cols=stats_cols,
        meta=commit_meta(table_dir, version=pinned),
    )


def _rewrite_snapshot(
    spark: SparkSession,
    snap: str,
    new_snap: str,
    linked: list[str],
    rewritten: DataFrame,
    stats_cols: list[str] | None,
) -> None:
    """Fill the staged ``new_snap`` from the pinned snapshot ``snap``:
    hard-link the ``linked`` data files unchanged, write ``rewritten``
    as the new ones, then carry the manifests. The stats manifest is
    rebuilt from footers over ``stats_cols``, else over the old
    manifest's columns (none when ``snap`` had none). A per-file bloom
    manifest is spliced (_bloom_rebuild_spliced: linked entries
    verbatim, only the new files scanned); a legacy fixed-m one is
    rebuilt in full with per-file sizing. The file-reuse step of
    delete_where and compact_small_files, run between _stage and
    _publish. (Hard links are the local-fs realization of manifest
    reuse -- on an object store the new snapshot's manifest would
    reference the kept objects; link counts keep vacuum() of either
    snapshot safe, since an unlink in one dir never touches the
    other's entry.)"""
    os.makedirs(new_snap)
    for path in linked:
        os.link(path, os.path.join(new_snap, os.path.basename(path)))
    rewritten.write.mode("append").parquet(new_snap)
    if stats_cols is None:
        old_stats = read_stats_manifest(snap)
        if old_stats is not None:
            stats_cols = sorted({c for per in old_stats.values() for c in per})
    if stats_cols is not None:
        write_stats_manifest(new_snap, stats_cols)
    try:
        with open(os.path.join(snap, _BLOOM)) as fh:
            payload = json.load(fh)
    except FileNotFoundError:
        return
    if payload.get("m") is None:
        _bloom_rebuild_spliced(
            spark, new_snap, payload, {os.path.basename(p) for p in linked}
        )
        return
    bloom_cols = sorted(
        {cname for per in payload.get("files", {}).values() for cname in per}
    )
    if bloom_cols:
        write_bloom_manifest(
            spark, new_snap, bloom_cols, k=payload.get("k", 5)
        )


def compact_small_files(
    spark: SparkSession,
    table_dir: str,
    small_bytes: int = 8 * 1024 * 1024,
    stats_cols: list[str] | None = None,
    expected: int | str | None = "auto",
) -> int:
    """INCREMENTAL compaction: rewrite only the snapshot's files smaller
    than ``small_bytes``; every already-right-sized file is HARD-LINKED
    into the new snapshot unchanged. optimize_table rewrites the whole
    table -- O(table) I/O to fix fragmentation that lives in a handful
    of trailing micro-batch files; this is the Delta OPTIMIZE
    bin-packing behavior instead: cost proportional to the small files
    only, which is what makes periodic compaction affordable on a
    100 TB table that grows by small commits.

    Small files are read once and re-written as
    ceil(small_total / 128 MiB) files. Returns the new
    version, or the CURRENT version unchanged when fewer than two small
    files exist (nothing to bin-pack -- no empty commit).

    Concurrency matches optimize_table: ``expected="auto"`` pins the
    compacted version and fails closed (ConcurrentCommitError) if an
    ingest commits meanwhile. The new snapshot carries the old one's
    manifests (_rewrite_snapshot): the stats manifest over
    ``stats_cols`` when given, else over the old manifest's columns
    (footer walk only -- linked files are not re-read beyond their
    KB-sized footers), and the bloom manifest spliced, so linked files
    keep their entries verbatim and only the compacted files are
    scanned."""
    import glob
    import math

    pinned = current_version(table_dir)
    if pinned is None:
        raise FileNotFoundError(f"{table_dir} has no committed version")
    if expected == "auto":
        expected = pinned
    snap = os.path.join(table_dir, f"v={pinned}")
    parts = sorted(glob.glob(os.path.join(snap, "*.parquet")))
    small = [p for p in parts if os.path.getsize(p) < small_bytes]
    large = [p for p in parts if p not in set(small)]
    if len(small) < 2:
        return pinned
    small_total = sum(os.path.getsize(p) for p in small)
    n_out = max(1, math.ceil(small_total / (128 * 1024 * 1024)))
    nxt, new_snap = _stage(table_dir, expected)
    _rewrite_snapshot(
        spark,
        snap,
        new_snap,
        large,
        read_parquet(spark, *small).coalesce(n_out),
        stats_cols,
    )
    # maintenance keeps caller metadata (see optimize_table)
    _publish(table_dir, nxt, expected, commit_meta(table_dir, pinned))
    return nxt


def clone_table(
    src_dir: str, dst_dir: str, version: int | None = None
) -> int:
    """Zero-copy clone: publish ``src_dir``'s committed snapshot (or a
    pinned ``version``) as v=1 of a NEW table at ``dst_dir``, hard-
    linking every data file -- the Delta SHALLOW CLONE idea on the
    one-pointer format. At 100 TB this is a metadata-priced operation
    (links + one pointer write), and because snapshots are immutable
    the clone can never be torn by the source: later source commits
    write NEW files, the clone keeps holding the old inodes, and
    vacuum() on either side only unlinks its own directory entries
    (the shared inode survives until the last link drops). Manifests
    (_stats/_bloom/_commit_meta sidecars) link along, so pruning works
    on the clone unchanged. The clone is a fully independent table:
    commit, optimize, vacuum it freely.

    The dev/test-sandbox move: fork production data for an experiment
    without copying a byte or blocking a writer. On object stores,
    swap the hard links for a copy-manifest (server-side copy or
    reference counting); the structure is unchanged."""
    v = current_version(src_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"{src_dir} has no committed version")
    src_snap = os.path.join(src_dir, f"v={v}")
    if not os.path.isdir(src_snap):
        raise FileNotFoundError(f"{src_snap} does not exist")
    os.makedirs(dst_dir, exist_ok=True)
    if versions(dst_dir) or current_version(dst_dir) is not None:
        raise FileExistsError(
            f"{dst_dir} already holds a table; clone only into a fresh "
            "directory"
        )
    if not _claim(dst_dir, "._claim_v1"):
        raise ConcurrentCommitError(f"{dst_dir}: concurrent clone")
    dst_snap = os.path.join(dst_dir, "v=1")
    for root, _dirs, files in os.walk(src_snap):
        rel = os.path.relpath(root, src_snap)
        target = (
            dst_snap if rel == "." else os.path.join(dst_snap, rel)
        )
        os.makedirs(target, exist_ok=True)
        for name in files:
            os.link(
                os.path.join(root, name), os.path.join(target, name)
            )
    _atomic_write(_pointer_path(dst_dir), "1")
    return 1


def delete_where(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo=None,
    hi=None,
    expected: int | str | None = "auto",
) -> dict:
    """Copy-on-write DELETE with manifest-pruned file reuse: remove
    rows where ``col`` BETWEEN lo AND hi (inclusive; None = unbounded
    side) as one new snapshot commit, REWRITING ONLY the files whose
    stats intersect the predicate and HARD-LINKING every other data
    file into the new snapshot unchanged (clone_table's zero-copy
    trick applied per file). This is the Delta/Iceberg copy-on-write
    DELETE: on a 5-year table clustered by date, deleting one day
    touches ~1/1800 of the files and links the rest at metadata price
    -- the GDPR-erasure / bad-batch-rollback shape that a full rewrite
    cannot afford at 100 TB. Snapshot isolation holds: readers of
    older versions see the deleted rows until vacuum(), exactly like
    every other commit.

    Rows with NULL ``col`` never match a range and are always kept.
    Without a stats manifest every file is "affected" (conservative
    full rewrite -- still correct); a hive-partitioned snapshot is
    refused. If NO row matches, no new version is committed (report
    says so): when the stats manifest already proves zero matches, not
    a single job runs, and when matches only vanish inside a
    stats-intersecting band the staged snapshot is discarded before
    the pointer moves. The match count rides the rewrite job as an
    observed metric, so affected files are scanned once, in one job.
    The new snapshot carries both manifests (_rewrite_snapshot: stats
    rebuilt from footers, bloom spliced).
    ``expected`` follows optimize_table's optimistic-concurrency
    default ("auto" pins the version being read, so a racing ingest
    fails this commit closed instead of losing rows).

    Returns {"version", "files_linked", "files_rewritten",
    "rows_deleted"} -- version is None when nothing matched."""
    import glob
    import shutil

    from pyspark.sql import Observation

    if lo is None and hi is None:
        raise ValueError(
            "unbounded predicate: give at least one bound (for a "
            "whole-table rewrite, commit the transformed frame "
            "explicitly)"
        )
    pinned = current_version(table_dir)
    if pinned is None:
        raise FileNotFoundError(f"{table_dir} has no committed version")
    if expected == "auto":
        expected = pinned
    snap = os.path.join(table_dir, f"v={pinned}")
    all_files = sorted(glob.glob(os.path.join(snap, "*.parquet")))
    if not all_files:
        if glob.glob(os.path.join(snap, "*", "")):
            raise ValueError(
                f"{snap} is a hive-partitioned snapshot: the COW "
                "file-reuse core works on flat stats-manifested "
                "layouts; rewrite the touched PARTITIONS instead "
                "(read, transform, commit_version(partition_by=...))"
            )
        raise FileNotFoundError(f"{snap} holds no parquet files")
    nothing = {
        "version": None,
        "files_linked": 0,
        "files_rewritten": 0,
        "rows_deleted": 0,
    }
    affected = prune_files(snap, col, lo, hi)
    if not affected:
        # no file's stats intersect the band: provably zero matches
        # without running a single job
        return nothing
    survivors = sorted(set(all_files) - set(affected))
    c = F.col(col)
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (c >= F.lit(lo))
    if hi is not None:
        pred = pred & (c <= F.lit(hi))
    # the match count is observed above the affected-file scan, so it
    # rides the rewrite job instead of a separate count pass
    obs = Observation()
    aff = read_parquet(spark, *affected).observe(
        obs, F.count(F.when(pred, True)).alias("n")
    )
    nxt, new_snap = _stage(table_dir, expected)
    # predicate complement; NULL col is kept by coalesce(False)
    _rewrite_snapshot(
        spark,
        snap,
        new_snap,
        survivors,
        aff.filter(~F.coalesce(pred, F.lit(False))),
        None,
    )
    n_match = int(obs.get["n"] or 0)
    if n_match == 0:
        # zero matches inside stats-intersecting files (a gap in the
        # [min, max] band): the staged snapshot, manifests included, is
        # discarded before the pointer ever moves, and the claim marker
        # is released so the version number is reusable. The rmtree is
        # strict (no ignore_errors) and runs BEFORE the claim release:
        # a half-deleted dir with the claim already gone would make the
        # next claimant's os.makedirs raise FileExistsError.
        shutil.rmtree(new_snap)
        _rm_quiet(os.path.join(table_dir, f"._claim_v{nxt}"))
        return nothing
    _publish(table_dir, nxt, expected, commit_meta(table_dir, pinned))
    return {
        "version": nxt,
        "files_linked": len(survivors),
        "files_rewritten": len(affected),
        "rows_deleted": n_match,
    }
