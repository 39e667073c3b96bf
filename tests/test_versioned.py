"""Versioned table dir: atomic commits, snapshot isolation, time travel."""

from __future__ import annotations

import ast
import datetime
from decimal import Decimal

from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.sources import lake, versioned


def test_commit_read_time_travel_vacuum(spark, sf_dir, tmp_path):
    table = str(tmp_path / "t")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    v1 = versioned.commit_version(nation, table)
    v2 = versioned.commit_version(nation.filter(F.col("n_nationkey") < 5), table)
    assert (v1, v2) == (1, 2)
    assert versioned.current_version(table) == 2

    assert versioned.read_version(spark, table).count() == 5
    assert versioned.read_version(spark, table, version=1).count() == nation.count()

    assert versioned.vacuum(table, keep=1) == [1]
    assert versioned.versions(table) == [2]
    assert versioned.read_version(spark, table).count() == 5


def test_reader_pinned_to_snapshot_while_writer_commits(spark, sf_dir, tmp_path):
    """Snapshot isolation: a DataFrame resolved before a new commit keeps
    reading its own immutable version dir afterwards."""
    table = str(tmp_path / "t")
    region = load_table(spark, sf_dir, "region")
    versioned.commit_version(region, table)

    pinned = versioned.read_version(spark, table)  # resolves v=1 paths now
    before = pinned.count()
    versioned.commit_version(region.limit(1), table)  # writer moves on to v=2
    assert pinned.count() == before  # untouched by the commit
    assert versioned.read_version(spark, table).count() == 1  # fresh resolve


def test_optimistic_commit_detects_concurrent_writer(spark, sf_dir, tmp_path):
    import pytest

    table = str(tmp_path / "t")
    region = load_table(spark, sf_dir, "region")
    base = versioned.commit_version(region, table)  # v1

    # writer A read v1, writer B commits first, A's CAS must fail
    versioned.commit_version(region.limit(2), table, expected=base)  # v2 ok
    with pytest.raises(versioned.ConcurrentCommitError, match="expected v1"):
        versioned.commit_version(region.limit(3), table, expected=base)
    assert versioned.current_version(table) == 2


def test_apply_changes_merge_semantics(spark, tmp_path):
    """MERGE via copy-on-write: upsert replaces, delete removes,
    delete+upsert in one batch = replace; history stays time-travelable."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    table = str(tmp_path / "merged")
    rows = lambda *r: spark.createDataFrame(  # noqa: E731
        list(r), "id LONG, val STRING, _op STRING"
    )

    # first commit on an uninitialized table: pure insert (delete no-ops)
    v1 = versioned.apply_changes(
        spark, table, rows((1, "a", "upsert"), (2, "b", "upsert"),
                           (9, "x", "delete")), "id"
    )
    assert v1 == 1
    got = {r.id: r.val for r in versioned.read_version(spark, table).collect()}
    assert got == {1: "a", 2: "b"}

    # update 1, delete 2, insert 3, and replace-via-delete+upsert on 1?
    v2 = versioned.apply_changes(
        spark, table, rows((1, "a2", "upsert"), (2, "b", "delete"),
                           (3, "c", "upsert")), "id"
    )
    got2 = {r.id: r.val for r in versioned.read_version(spark, table).collect()}
    assert v2 == 2 and got2 == {1: "a2", 3: "c"}

    # time travel still sees v1; unknown ops rejected
    got1 = {r.id: r.val for r in versioned.read_version(spark, table, 1).collect()}
    assert got1 == {1: "a", 2: "b"}
    with pytest.raises(ValueError, match="unknown"):
        versioned.apply_changes(spark, table, rows((1, "z", "merge")), "id")

    # optimistic concurrency still applies
    with pytest.raises(versioned.ConcurrentCommitError):
        versioned.apply_changes(
            spark, table, rows((4, "d", "upsert")), "id", expected=1
        )


def test_apply_changes_schema_evolution(spark, tmp_path):
    """Additive schema evolution on MERGE (the Delta mergeSchema
    behavior): default is fail-loud on ANY column drift (extra or
    missing); merge_schema=True adds batch-new columns (existing rows
    NULL there), keeps table columns the batch lacks (batch rows NULL
    there), and never drops a column. Time travel still reads the old
    schema's snapshot as written."""
    import pytest

    table = str(tmp_path / "evolving")
    versioned.apply_changes(
        spark,
        table,
        spark.createDataFrame(
            [(1, "a", "upsert"), (2, "b", "upsert")],
            "id LONG, val STRING, _op STRING",
        ),
        "id",
    )

    widened = spark.createDataFrame(
        [(2, "b2", 0.9, "upsert"), (3, "c", 0.5, "upsert")],
        "id LONG, val STRING, score DOUBLE, _op STRING",
    )
    with pytest.raises(ValueError, match="merge_schema"):
        versioned.apply_changes(spark, table, widened, "id")
    v2 = versioned.apply_changes(
        spark, table, widened, "id", merge_schema=True
    )
    got = {
        r.id: (r.val, r.score)
        for r in versioned.read_version(spark, table).collect()
    }
    assert got == {1: ("a", None), 2: ("b2", 0.9), 3: ("c", 0.5)}

    # a narrower later batch keeps the evolved column, NULL for its rows
    narrow = spark.createDataFrame(
        [(4, "d", "upsert")], "id LONG, val STRING, _op STRING"
    )
    with pytest.raises(ValueError, match="merge_schema"):
        versioned.apply_changes(spark, table, narrow, "id")
    versioned.apply_changes(spark, table, narrow, "id", merge_schema=True)
    got3 = {
        r.id: (r.val, r.score)
        for r in versioned.read_version(spark, table).collect()
    }
    assert got3 == {
        1: ("a", None), 2: ("b2", 0.9), 3: ("c", 0.5), 4: ("d", None),
    }

    # time travel: the pre-evolution snapshot keeps its original schema
    assert versioned.read_version(spark, table, version=1).columns == [
        "id", "val",
    ]
    assert set(versioned.read_version(spark, table, version=v2).columns) == {
        "id", "val", "score",
    }

    # change feed ACROSS the evolution boundary: raises by default,
    # align_additive=True NULL-fills the one-sided column -- the row
    # whose only difference is NULL score on both sides does not emit
    with pytest.raises(ValueError, match="schema changed"):
        versioned.diff_versions(spark, table, 1, v2, "id")
    feed = {
        r.id: r
        for r in versioned.diff_versions(
            spark, table, 1, v2, "id", align_additive=True
        ).collect()
    }
    assert {k: c.change_type for k, c in feed.items()} == {
        2: "update", 3: "insert",
    }  # id=1 unchanged (val same, score NULL<->NULL) -> absent
    assert feed[2].before.score is None and feed[2].after.score == 0.9


def test_diff_versions_change_feed(spark, tmp_path):
    """insert/update/delete between two snapshots, unchanged rows
    absent; before/after carry the full rows; a self-diff is empty;
    schema drift raises."""
    import pytest

    path = str(tmp_path / "tbl")
    v1 = versioned.commit_version(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "id LONG, name STRING, score LONG",
        ),
        path,
    )
    v2 = versioned.commit_version(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 25), (4, "d", 40)],
            "id LONG, name STRING, score LONG",
        ),
        path,
    )

    changes = {
        r.id: r for r in versioned.diff_versions(spark, path, v1, v2, "id").collect()
    }
    assert {k: c.change_type for k, c in changes.items()} == {
        2: "update", 3: "delete", 4: "insert",
    }  # id=1 unchanged -> absent
    assert changes[2].before.score == 20 and changes[2].after.score == 25
    assert changes[3].after is None and changes[3].before.name == "c"
    assert changes[4].before is None and changes[4].after.name == "d"

    assert versioned.diff_versions(spark, path, v2, v2, "id").count() == 0

    v3 = versioned.commit_version(
        spark.createDataFrame([(1, "a")], "id LONG, name STRING"), path
    )
    with pytest.raises(ValueError, match="schema changed"):
        versioned.diff_versions(spark, path, v2, v3, "id")


def test_diff_versions_null_keys_and_schema_edges(spark, tmp_path):
    """A NULL-key row is ONE row under the null-safe key join (unchanged
    -> absent; changed -> one update), never a delete+insert pair; a
    reordered column set is NOT schema drift (order is a write
    artifact); a retyped same-name column IS (ValueError, not a later
    AnalysisException)."""
    import pytest

    path = str(tmp_path / "tbl")
    v1 = versioned.commit_version(
        spark.createDataFrame(
            [(None, "keep", 1), (1, "also", 2)],
            "id LONG, name STRING, score LONG",
        ),
        path,
    )
    # unchanged null-key row, column order permuted on write
    v2 = versioned.commit_version(
        spark.createDataFrame(
            [("keep", None, 1), ("also", 1, 2)],
            "name STRING, id LONG, score LONG",
        ).select("name", "id", "score"),
        path,
    )
    assert versioned.diff_versions(spark, path, v1, v2, "id").count() == 0

    # null-key row updated -> exactly one 'update' row
    v3 = versioned.commit_version(
        spark.createDataFrame(
            [(None, "keep", 9), (1, "also", 2)],
            "id LONG, name STRING, score LONG",
        ),
        path,
    )
    feed = versioned.diff_versions(spark, path, v2, v3, "id").collect()
    assert len(feed) == 1
    assert feed[0].change_type == "update" and feed[0].id is None
    assert feed[0].before.score == 1 and feed[0].after.score == 9

    # retype with identical names: contract error, not a plan-time crash
    v4 = versioned.commit_version(
        spark.createDataFrame(
            [(None, "keep", "9")], "id LONG, name STRING, score STRING"
        ),
        path,
    )
    with pytest.raises(ValueError, match="schema changed"):
        versioned.diff_versions(spark, path, v3, v4, "id")


def test_change_feed_rejects_map_columns(spark):
    """MAP columns have no equality semantics in Spark; struct compare
    would die at analysis time with an opaque AnalysisException -- the
    guard must raise a contract ValueError NAMING the columns instead
    (ADVICE r5), including maps nested inside arrays/structs."""
    import pytest

    flat = spark.createDataFrame(
        [(1, {"a": 1})], "id LONG, props MAP<STRING, LONG>"
    )
    with pytest.raises(ValueError, match=r"\['props'\].*MAP"):
        versioned.change_feed(flat, flat, "id")

    nested = spark.createDataFrame(
        [(1, [{"a": 1}])], "id LONG, tags ARRAY<MAP<STRING, LONG>>"
    )
    with pytest.raises(ValueError, match=r"\['tags'\].*MAP"):
        versioned.change_feed(nested, nested, "id")


def test_change_feed_frame_level_matches_diff_versions(spark, tmp_path):
    """change_feed over two in-memory frames must equal diff_versions
    over the same frames committed as snapshots -- this pins that both
    forms are the same operator (table_diff keeps the full-outer-diff
    shape's driver row)."""
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id LONG, name STRING"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "id LONG, name STRING"
    )
    direct = {
        (r.id, r.change_type)
        for r in versioned.change_feed(old, new, "id").collect()
    }
    path = str(tmp_path / "tbl")
    v1 = versioned.commit_version(old, path)
    v2 = versioned.commit_version(new, path)
    stored = {
        (r.id, r.change_type)
        for r in versioned.diff_versions(spark, path, v1, v2, "id").collect()
    }
    assert direct == stored == {(2, "update"), (3, "delete"), (4, "insert")}


def test_two_writer_race_loser_always_fails(spark, tmp_path):
    """A REAL two-thread race on the same expected version: no matter
    how the two commits interleave, exactly one wins and the loser gets
    ConcurrentCommitError (VERDICT r5 #7 -- the O_EXCL transition
    marker closes the old check-then-replace window, under which both
    writers could pass the check and silently last-write-win). Repeated
    to exercise different interleavings; also pins that the winner's
    data -- never a torn mix -- is what readers see, and that vacuum
    clears completed-transition markers so the table stays re-usable."""
    import os
    import threading

    path = str(tmp_path / "tbl")
    base = versioned.commit_version(
        spark.createDataFrame([(0, "base")], "id LONG, who STRING"), path
    )
    expected = base
    for round_no in range(4):
        results: dict[str, object] = {}
        barrier = threading.Barrier(2)

        def writer(tag: str) -> None:
            df = spark.createDataFrame(
                [(round_no, tag)], "id LONG, who STRING"
            )
            barrier.wait()
            try:
                results[tag] = versioned.commit_version(
                    df, path, expected=expected
                )
            except versioned.ConcurrentCommitError as exc:
                results[tag] = exc

        ts = [
            threading.Thread(target=writer, args=(t,)) for t in ("a", "b")
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        wins = [t for t, r in results.items() if isinstance(r, int)]
        losses = [
            t
            for t, r in results.items()
            if isinstance(r, versioned.ConcurrentCommitError)
        ]
        assert len(wins) == 1 and len(losses) == 1, results
        new_v = results[wins[0]]
        # readers see exactly the winner's snapshot
        row = versioned.read_version(spark, path).collect()
        assert len(row) == 1 and row[0].who == wins[0]
        assert versioned.current_version(path) == new_v
        expected = new_v

    # markers from completed transitions are vacuumable; the table
    # keeps accepting expected-mode commits afterwards
    versioned.vacuum(path, keep=1)
    leftover = [
        n for n in os.listdir(path) if n.startswith("._commit_from_v")
    ]
    assert all(
        int(n[len("._commit_from_v"):]) >= versioned.current_version(path)
        for n in leftover
    ), leftover
    versioned.commit_version(
        spark.createDataFrame([(99, "post")], "id LONG, who STRING"),
        path,
        expected=versioned.current_version(path),
    )


def test_stats_manifest_prunes_files(spark, tmp_path):
    """Manifest-based scan planning: a range-clustered commit with
    stats_cols records per-file [min, max] from the parquet footers;
    a pruned read hands Spark only the intersecting files (metadata
    decision -- no data file opened for the rest) and equals the full
    scan + filter exactly. Covers numeric and timestamp bounds (the
    tagged JSON roundtrip)."""
    import datetime as dt
    import glob

    table = str(tmp_path / "stats_table")
    df = spark.range(0, 8000).selectExpr(
        "id AS k",
        "id % 97 AS payload",
        "timestampadd(HOUR, CAST(id AS INT), "
        "CAST(timestamp'2024-01-01 00:00:00' AS timestamp_ntz)) AS ts",
    )
    v = versioned.commit_version(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        table,
        stats_cols=["k", "ts"],
    )
    snap = f"{table}/v={v}"
    all_files = glob.glob(f"{snap}/*.parquet")
    assert len(all_files) == 8
    manifest = versioned.read_stats_manifest(snap)
    assert manifest and all("k" in cs and "ts" in cs for cs in manifest.values())

    # numeric prune: a 500-wide slice of an 8000-row range-clustered
    # table must touch a strict minority of files
    files = versioned.prune_files(snap, "k", 2000, 2499)
    assert 1 <= len(files) <= 2, files
    got = versioned.read_version(spark, table, prune=("k", 2000, 2499))
    want = versioned.read_version(spark, table).filter(
        (F.col("k") >= 2000) & (F.col("k") <= 2499)
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    # timestamp prune (k and ts are correlated, so the same slice)
    lo = dt.datetime(2024, 1, 1) + dt.timedelta(hours=2000)
    hi = dt.datetime(2024, 1, 1) + dt.timedelta(hours=2499)
    tfiles = versioned.prune_files(snap, "ts", lo, hi)
    assert 1 <= len(tfiles) <= 2, tfiles
    tgot = versioned.read_version(spark, table, prune=("ts", lo, hi))
    assert tgot.count() == 500

    # unbounded side: only an upper bound (range-partition boundaries
    # are sample-approximate, so allow the straddling file)
    half = versioned.prune_files(snap, "k", None, 3999)
    assert 3 <= len(half) <= 5

    # fully-excluded range: zero files, empty frame, schema intact
    none = versioned.read_version(spark, table, prune=("k", 100000, 200000))
    assert none.count() == 0
    assert none.columns == versioned.read_version(spark, table).columns


def test_compound_prune_intersects_predicates(spark, tmp_path):
    """Conjunction pruning (prune=[(col, lo, hi), ...]): on a 4x4 grid
    layout where the k-band keeps 4 files and the g-band keeps 4 files,
    their conjunction must keep exactly the 1 intersecting file -- the
    compound lake-read shape (date band AND key band) where either
    predicate alone barely prunes. Result equals the full filter."""
    import os

    # the snapshot is assembled file-by-file (16 append writes): a union
    # of tiny frames gets AQE-coalesced into one partition/file, and the
    # on-disk layout (v=N dir + _latest pointer) IS the format contract
    table = str(tmp_path / "grid")
    snap = f"{table}/v=1"
    for i in range(4):
        for j in range(4):
            spark.range(100).selectExpr(
                f"id + {i * 1000} AS k", f"id + {j * 100} AS g"
            ).coalesce(1).write.mode("append").parquet(snap)
    versioned.write_stats_manifest(snap, ["k", "g"])
    with open(os.path.join(table, "_latest"), "w") as f:
        f.write("1")
    assert versioned.current_version(table) == 1

    k_only = versioned.prune_files(snap, "k", 2000, 2099)
    g_only = versioned.prune_files(snap, "g", 100, 199)
    assert len(k_only) == 4 and len(g_only) == 4

    got = versioned.read_version(
        spark, table, prune=[("k", 2000, 2099), ("g", 100, 199)]
    )
    want = versioned.read_version(spark, table).filter(
        F.col("k").between(2000, 2099) & F.col("g").between(100, 199)
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.count() == 100
    # the conjunction's file set is the ONE grid cell both bands share
    assert len(set(k_only) & set(g_only)) == 1

    # disjoint conjunction -> empty frame, schema intact
    none = versioned.read_version(
        spark, table, prune=[("k", 0, 99), ("g", 300, 399), ("g", 0, 50)]
    )
    assert none.count() == 0 and none.columns == ["k", "g"]


def test_prune_is_conservative_without_stats(spark, tmp_path):
    """No manifest (or no stats for the column) must mean NO pruning:
    every file is kept and the pruned read still equals scan+filter."""
    import glob

    table = str(tmp_path / "plain_table")
    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    v = versioned.commit_version(df.repartition(4), table)  # no stats_cols
    snap = f"{table}/v={v}"
    assert versioned.read_stats_manifest(snap) is None
    files = versioned.prune_files(snap, "k", 0, 10)
    assert sorted(files) == sorted(glob.glob(f"{snap}/*.parquet"))
    got = versioned.read_version(spark, table, prune=("k", 0, 10))
    assert got.count() == 11

    # manifest present but the queried column has no recorded stats:
    # files are kept (conservative), results still exact
    v2 = versioned.commit_version(
        df.repartition(4), table, stats_cols=["nonexistent_col"]
    )
    snap2 = f"{table}/v={v2}"
    m = versioned.read_stats_manifest(snap2)
    # each file entry records no column
    assert m is not None and all(cs == {} for cs in m.values())
    files2 = versioned.prune_files(snap2, "k", 0, 10)
    assert len(files2) == 4
    assert versioned.read_version(
        spark, table, version=v2, prune=("k", 0, 10)
    ).count() == 11


def test_apply_changes_writes_stats_manifest(spark, tmp_path):
    """stats_cols plumbs through MERGE commits: both the bootstrap
    (pure-insert) and a later apply_changes snapshot carry manifests,
    and a pruned read of the merged table is exact."""
    table = str(tmp_path / "merge_stats")
    rows = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
    v1 = versioned.apply_changes(
        spark, table,
        rows.withColumn("_op", F.lit("upsert")),
        "k", stats_cols=["k"],
    )
    assert versioned.read_stats_manifest(f"{table}/v={v1}") is not None
    upd = spark.createDataFrame([(5, 999, "upsert")], "k LONG, v LONG, _op STRING")
    v2 = versioned.apply_changes(spark, table, upd, "k", stats_cols=["k"])
    assert versioned.read_stats_manifest(f"{table}/v={v2}") is not None
    got = versioned.read_version(spark, table, prune=("k", 5, 5)).collect()
    assert [(r.k, r.v) for r in got] == [(5, 999)]


def test_optimize_table_recluster_and_stats(spark, tmp_path):
    """OPTIMIZE on a fragmented merged table: content identical, file
    count at target, key ranges disjoint enough that a manifest-pruned
    point read touches ONE file (vs most files before), stats manifest
    present, and the expected= guard fails closed against a racing
    commit."""
    import glob

    import pytest

    table = str(tmp_path / "opt")
    # fragment: 10 MERGE commits of interleaved key slices
    for i in range(10):
        batch = (
            spark.range(0, 1000)
            .selectExpr("id * 10 + " + str(i) + " AS k")
            .selectExpr("k", "k * 2 AS v", "'upsert' AS _op")
        )
        versioned.apply_changes(spark, table, batch, "k")
    before = versioned.read_version(spark, table)
    n_before = before.count()
    snap_before = f"{table}/v={versioned.current_version(table)}"
    files_before = len(glob.glob(f"{snap_before}/*.parquet"))

    v = versioned.optimize_table(spark, table, cluster_by="k", target_files=8)
    snap = f"{table}/v={v}"
    assert len(glob.glob(f"{snap}/*.parquet")) == 8
    after = versioned.read_version(spark, table)
    assert after.count() == n_before
    assert sorted(map(tuple, after.collect())) == sorted(
        map(tuple, before.collect())
    )
    # the point read now prunes to a single file
    assert len(versioned.prune_files(snap, "k", 42, 42)) == 1
    assert files_before > 8 or files_before >= 1  # fragmentation varies

    # racing guard: expected= from a stale read fails closed
    with pytest.raises(versioned.ConcurrentCommitError):
        versioned.optimize_table(
            spark, table, cluster_by="k", expected=v - 1
        )


def test_optimize_table_default_pins_read_version(spark, tmp_path):
    """ADVICE r6: optimize_table's DEFAULT must fail closed against a
    commit racing between its read and its commit -- the old
    expected=None default silently published a snapshot built from the
    stale read, dropping the concurrent ingest's rows (lost update).
    Simulated race: monkeypatch read_version to sneak an ingest commit
    in after optimize pins its version but before it reads."""
    import pytest

    table = str(tmp_path / "opt_race")
    versioned.apply_changes(
        spark,
        table,
        spark.range(0, 100).selectExpr("id AS k", "'upsert' AS _op"),
        "k",
    )

    real_read = versioned.read_version
    raced = {"done": False}

    def racing_read(spark_, table_dir, version=None, prune=None):
        if not raced["done"]:
            raced["done"] = True
            versioned.apply_changes(
                spark,
                table,
                spark.range(100, 200).selectExpr("id AS k", "'upsert' AS _op"),
                "k",
            )
        return real_read(spark_, table_dir, version=version, prune=prune)

    versioned.read_version = racing_read
    try:
        with pytest.raises(versioned.ConcurrentCommitError):
            versioned.optimize_table(spark, table, cluster_by="k")
    finally:
        versioned.read_version = real_read

    # nothing lost: the racing ingest's rows are all present
    assert versioned.read_version(spark, table).count() == 200
    # explicit opt-out still allowed (documented unsafe path)
    v = versioned.optimize_table(spark, table, cluster_by="k", expected=None)
    assert versioned.read_version(spark, table, version=v).count() == 200


def test_version_prune_probe_correct_and_skips_files(spark, oracle_sf_dir):
    """The bench probe's correctness contract (VERDICT r6 #6): the
    manifest-pruned read over the multi-commit-then-OPTIMIZE'd versioned
    orders table equals the plain fixture scan + filter, and the prune
    touches a small fraction of the snapshot's files (the measured
    data-skipping claim the probe records in BENCH_r{N}.json)."""
    import glob

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.plans import bench_probes

    dest = bench_probes.ensure_versioned_table(spark, oracle_sf_dir)
    got = bench_probes.version_prune_orders(spark, oracle_sf_dir).first()

    orders = load_table(spark, oracle_sf_dir, "orders")
    kmax = orders.agg(F.max("o_orderkey")).first()[0]
    lo = kmax - max(1, kmax // 100)
    want = (
        orders.filter(F.col("o_orderkey").between(lo, kmax))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("revenue"),
        )
        .first()
    )
    assert got.n_orders == want.n_orders > 0
    assert abs(got.revenue - want.revenue) < 1e-6 * max(1.0, abs(want.revenue))

    snap = f"{dest}/v={versioned.current_version(dest)}"
    total = len(glob.glob(f"{snap}/*.parquet"))
    kept = len(versioned.prune_files(snap, "o_orderkey", lo, kmax))
    assert total == 16
    assert kept <= 2, (kept, total)  # ~1% band -> ~1 of 16 files


def test_compact_small_files_links_large_rewrites_small(spark, tmp_path):
    """Incremental compaction: only small files rewrite; the big file is
    HARD-LINKED into the new snapshot (same inode -- zero data I/O for
    the already-right-sized bulk), content identical, old snapshot still
    time-travel readable, stats manifest refreshed on request, racing
    commit fails closed, and a snapshot with <2 small files is a no-op
    (no empty commit)."""
    import glob
    import os

    import pytest

    table = str(tmp_path / "bins")
    big = spark.range(0, 200_000).selectExpr("id AS k", "id * 2 AS v").coalesce(1)
    tiny = (
        spark.range(200_000, 200_080)
        .selectExpr("id AS k", "id * 2 AS v")
        .repartition(8)
    )
    versioned.commit_version(big.unionAll(tiny), table)
    snap1 = f"{table}/v=1"
    parts1 = sorted(glob.glob(f"{snap1}/*.parquet"), key=os.path.getsize)
    assert len(parts1) == 9
    big_file = parts1[-1]
    threshold = os.path.getsize(big_file)  # everything below the big one

    v = versioned.compact_small_files(
        spark, table, small_bytes=threshold, stats_cols=["k"]
    )
    assert v == 2
    snap2 = f"{table}/v=2"
    parts2 = glob.glob(f"{snap2}/*.parquet")
    # 8 tiny files became 1; the big file was linked, not copied
    assert len(parts2) == 2
    linked = os.path.join(snap2, os.path.basename(big_file))
    assert os.path.exists(linked)
    assert os.stat(linked).st_ino == os.stat(big_file).st_ino
    assert versioned.read_stats_manifest(snap2) is not None

    after = versioned.read_version(spark, table)
    assert after.count() == 200_080
    assert after.agg(F.sum("v")).first()[0] == sum(
        2 * i for i in range(200_080)
    )
    # old snapshot untouched (time travel), and vacuuming it does not
    # break the linked file in the new snapshot
    assert versioned.read_version(spark, table, version=1).count() == 200_080
    versioned.vacuum(table, keep=1)
    assert versioned.read_version(spark, table).count() == 200_080

    # <2 small files now -> no-op, same version back
    assert versioned.compact_small_files(spark, table, small_bytes=10) == 2

    # stale expected fails closed (small_bytes high enough that both
    # remaining files qualify, so the check is actually reached)
    with pytest.raises(versioned.ConcurrentCommitError):
        versioned.compact_small_files(
            spark, table, small_bytes=threshold * 10, expected=1
        )


def test_optimize_table_coalesce_path(spark, tmp_path):
    """optimize_table without cluster_by: pure compaction (coalesce to
    the target file count), content identical, no stats manifest
    unless requested."""
    import glob

    table = str(tmp_path / "compact_only")
    for i in range(6):
        versioned.apply_changes(
            spark,
            table,
            spark.range(i * 100, (i + 1) * 100).selectExpr(
                "id AS k", "'upsert' AS _op"
            ),
            "k",
        )
    before = sorted(
        r.k for r in versioned.read_version(spark, table).collect()
    )
    v = versioned.optimize_table(spark, table, target_files=2)
    snap = f"{table}/v={v}"
    assert len(glob.glob(f"{snap}/*.parquet")) == 2
    assert versioned.read_stats_manifest(snap) is None
    after = sorted(r.k for r in versioned.read_version(spark, table).collect())
    assert after == before


def test_maintenance_keeps_commit_meta(spark, tmp_path):
    """Maintenance keeps caller metadata: optimize_table,
    compact_small_files and delete_where each publish a new version
    that carries the pinned snapshot's commit-meta sidecar."""
    table = str(tmp_path / "meta")
    meta = {"last_batch": 7}
    versioned.commit_version(
        spark.range(0, 40).selectExpr("id AS k").repartition(4),
        table,
        meta=meta,
    )
    assert versioned.optimize_table(spark, table, target_files=2) == 2
    assert versioned.commit_meta(table) == meta
    assert versioned.compact_small_files(spark, table, small_bytes=1 << 30) == 3
    assert versioned.commit_meta(table) == meta
    assert versioned.delete_where(spark, table, "k", eq=3)["version"] == 4
    assert versioned.commit_meta(table) == meta


def test_bloom_manifest_equality_pruning(spark, tmp_path):
    """The point-lookup case range zones can't prune: a high-cardinality
    key written UNSORTED spans nearly every file's [min, max], so
    prune_files keeps everything -- the bloom manifest prunes to the
    file(s) actually holding the probe (no false negatives by
    construction, FPs only cost a kept file). read_version(prune_eq=)
    equals the unpruned filter exactly; an absent key reads empty."""
    import os as _os

    table = str(tmp_path / "bloomtab")
    rows = [(f"k{i:05d}", i, i % 7) for i in range(4000)]
    df = spark.createDataFrame(rows, ["k", "val", "g"]).repartition(8, "val")
    v = versioned.commit_version(df, table, stats_cols=["k"])
    snap = _os.path.join(table, f"v={v}")
    payload = versioned.write_bloom_manifest(spark, snap, ["k"])
    # auto-sizing (r7 verdict #2): every file's bitmap is derived from
    # its own distinct count (~500 keys/file here -> ~10 bits/key) and
    # sits at the designed ~0.40 fill, never past the 0.5 guard
    assert payload["m"] is None and payload["k"] == 5
    d_by_file = {
        _os.path.basename(r._f): r.d
        for r in spark.read.parquet(snap)
        .select(F.input_file_name().alias("_f"), "k")
        .distinct()
        .groupBy("_f")
        .agg(F.count(F.lit(1)).alias("d"))
        .collect()
    }
    for fname, cols_ in payload["files"].items():
        entry = cols_["k"]
        m_f, words = entry["m"], entry["words"]
        assert m_f == versioned._bloom_bits(d_by_file[fname], 5, 0.01)
        assert m_f % 64 == 0
        fill = sum(
            bin(v & ((1 << 64) - 1)).count("1") for v in words.values()
        ) / m_f
        assert 0.2 < fill <= 0.5, (fname, fill)

    all_files = versioned.prune_files(snap, "k", None, None)
    assert len(all_files) == 8
    probe = "k01234"
    # range stats are useless here: the unsorted key spans every file
    assert len(versioned.prune_files(snap, "k", probe, probe)) == 8
    kept = versioned.prune_files_bloom(snap, "k", probe)
    truth = {
        r._f
        for r in spark.read.parquet(snap)
        .select(F.input_file_name().alias("_f"), "k")
        .filter(F.col("k") == probe)
        .collect()
    }
    assert truth  # the probe exists
    assert {_os.path.basename(t) for t in truth} <= {
        _os.path.basename(p) for p in kept
    }  # no false negatives
    assert len(kept) <= 3  # pruned to the true file (+ rare FPs)

    got = {
        (r.k, r.val)
        for r in versioned.read_version(
            spark, table, prune_eq=("k", probe)
        ).collect()
    }
    want = {
        (r.k, r.val)
        for r in spark.read.parquet(snap).filter(F.col("k") == probe).collect()
    }
    assert got == want and len(got) == 1

    # absent key: provably-excluded files drop; the read is empty
    assert versioned.read_version(
        spark, table, prune_eq=("k", "nope!")
    ).count() == 0

    # mixed prune + prune_eq conjunction keeps correctness
    mixed = versioned.read_version(
        spark, table, prune=("val", 0, 2000), prune_eq=("k", probe)
    )
    assert {(r.k, r.val) for r in mixed.collect()} == want

    import pytest

    with pytest.raises(ValueError, match="multiple of 64"):
        versioned.write_bloom_manifest(spark, snap, ["k"], m=100)
    with pytest.raises(ValueError, match="k must"):
        versioned.write_bloom_manifest(spark, snap, ["k"], k=0)
    with pytest.raises(ValueError, match="non-NULL"):
        versioned.prune_files_bloom(snap, "k", None)


def test_bloom_sizing_holds_at_probe_scale(spark, tmp_path):
    """The r7 failure mode, pinned at its own scale: ~5,000 distinct
    keys per file (the sf0.1 fragmented-orders shape) saturates a fixed
    4 Kib bitmap (fill ~0.998 -> FP ~99%, bloom keeps everything and
    warns), while per-file auto-sizing keeps fill ~0.40 and prunes to
    the true file."""
    import warnings

    import os as _os

    table = str(tmp_path / "bloomscale")
    rows = [(f"k{i:06d}", i) for i in range(10_000)]
    df = spark.createDataFrame(rows, ["k", "val"]).repartition(2, "val")
    v = versioned.commit_version(df, table, stats_cols=["k"])
    snap = _os.path.join(table, f"v={v}")

    # fixed r7 default at this scale: saturation warning + no pruning
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        versioned.write_bloom_manifest(spark, snap, ["k"], m=4096)
    assert any("saturated" in str(w.message) for w in caught)
    assert len(versioned.prune_files_bloom(snap, "k", "k001234")) == 2

    # auto-sized (default): healthy fill, prunes to the true file
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        payload = versioned.write_bloom_manifest(spark, snap, ["k"])
    assert not any("saturated" in str(w.message) for w in caught)
    for cols_ in payload["files"].values():
        entry = cols_["k"]
        fill = sum(
            bin(b & ((1 << 64) - 1)).count("1")
            for b in entry["words"].values()
        ) / entry["m"]
        assert fill <= 0.5, fill
    kept = versioned.prune_files_bloom(snap, "k", "k001234")
    assert len(kept) == 1
    truth = {
        _os.path.basename(r._f)
        for r in spark.read.parquet(snap)
        .select(F.input_file_name().alias("_f"), "k")
        .filter(F.col("k") == "k001234")
        .collect()
    }
    assert truth <= {_os.path.basename(p) for p in kept}


def test_version_bloom_lookup_probe_correct_and_skipping(spark, oracle_sf_dir):
    """The bench bloom probe: result rows equal the full fragmented
    snapshot + filter, and the bloom keeps a small fraction of files
    where range stats (measured in-test) keep everything."""
    import os as _os

    from bigdata_storage_and_proccess_job_data_spark.plans import bench_probes

    dest = bench_probes.ensure_versioned_table(spark, oracle_sf_dir)
    frag = _os.path.join(
        dest, f"v={versioned.current_version(dest) - 1}"
    )
    probe = bench_probes.version_bloom_lookup(spark, oracle_sf_dir)
    rows = probe.collect()
    assert len(rows) == 1
    k = rows[0].o_orderkey
    full = (
        spark.read.parquet(frag)
        .filter(F.col("o_orderkey") == k)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .collect()
    )
    assert {tuple(r) for r in rows} == {tuple(r) for r in full}

    n_all = len(versioned.prune_files(frag, "o_orderkey", None, None))
    n_range = len(versioned.prune_files(frag, "o_orderkey", k, k))
    n_bloom = len(versioned.prune_files_bloom(frag, "o_orderkey", k))
    assert n_range == n_all  # zones can't skip the mid-range point...
    assert n_bloom <= max(3, n_all // 4)  # ...the bloom can


def test_optimize_zorder_prunes_both_dims(spark, tmp_path):
    """OPTIMIZE ZORDER BY: after z-order maintenance, band predicates on
    EITHER dimension prune files through the stats manifest (a
    single-column clustering would serve only its own column), and the
    table content is unchanged. cluster_by + zorder_by together is
    rejected."""
    import pytest

    table = str(tmp_path / "ztab")
    rows = [(i, float(i % 100), float((i * 37) % 100)) for i in range(20000)]
    df = spark.createDataFrame(rows, ["id", "x", "y"]).coalesce(8)
    versioned.commit_version(df, table)
    before = versioned.read_version(spark, table).agg(
        F.count(F.lit(1)), F.sum("x"), F.sum("y")
    ).first()

    v = versioned.optimize_table(
        spark, table, zorder_by=["x", "y"], target_files=16
    )
    snap = f"{tmp_path}/ztab/v={v}"
    after = versioned.read_version(spark, table).agg(
        F.count(F.lit(1)), F.sum("x"), F.sum("y")
    ).first()
    assert tuple(before) == tuple(after)  # content-identical

    n_all = len(versioned.prune_files(snap, "x", None, None))
    n_x = len(versioned.prune_files(snap, "x", 0.0, 12.0))
    n_y = len(versioned.prune_files(snap, "y", 0.0, 12.0))
    assert n_all == 16
    assert n_x < n_all and n_y < n_all  # BOTH dims skip
    # and the pruned reads stay exact
    got = versioned.read_version(
        spark, table, prune=("y", 0.0, 12.0)
    ).count()
    want = versioned.read_version(spark, table).filter(
        (F.col("y") >= 0.0) & (F.col("y") <= 12.0)
    ).count()
    assert got == want

    with pytest.raises(ValueError, match="mutually exclusive"):
        versioned.optimize_table(
            spark, table, cluster_by="x", zorder_by=["y"]
        )


def test_agg_state_maintenance_matches_recompute(spark):
    """Incremental aggregate maintenance over a change feed is exactly
    a full recompute on the new snapshot: inserts (incl. a brand-new
    group), deletes (a group emptying out drops), updates (value
    change, group MOVE, NULL->value, value->NULL), NULL group keys.
    Long measures -> bit-identical."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates as A

    old = spark.createDataFrame(
        [
            (1, "a", 10),
            (2, "a", None),
            (3, "b", 5),
            (4, None, 7),
            (5, "c", 1),
            (6, "c", 2),
        ],
        "id long, grp string, val long",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 11),      # update: value change
            (2, "b", None),    # update: group move, still NULL val
            (3, "b", None),    # update: value -> NULL
            (4, None, 7),      # unchanged
            # 5, 6 deleted -> group c drops entirely
            (7, "d", 100),     # insert: new group
            (8, "a", None),    # insert: NULL value
            (9, None, None),   # insert: NULL group and value
        ],
        "id long, grp string, val long",
    )
    keys, measures = ["grp"], ["val"]
    state0 = A.agg_state_init(old, keys, measures)
    feed = versioned.change_feed(old, new, "id")
    state1 = A.agg_state_apply(state0, feed, keys, measures)

    got = sorted(
        A.agg_state_result(state1, keys, measures).collect(),
        key=str,
    )
    want = sorted(
        A.agg_state_result(
            A.agg_state_init(new, keys, measures), keys, measures
        ).collect(),
        key=str,
    )
    assert got == want
    grps = {r.grp for r in got}
    assert "c" not in grps and "d" in grps and None in grps


def test_agg_state_maintenance_versioned_end_to_end(spark, sf_dir, tmp_path):
    """The materialized-view loop on a real versioned table: state
    built at v1, refreshed from diff_versions(v1, v2), equals the
    recompute at v2 (float sums within 1e-9 relative)."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates as A

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    table = str(tmp_path / "orders_v")
    v1 = versioned.commit_version(orders, table)
    changed = (
        orders.filter(F.col("o_orderkey") % 7 != 0)  # deletes
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0,
                F.col("o_totalprice") * 1.1,
            ).otherwise(F.col("o_totalprice")),  # updates
        )
    )
    extra = spark.createDataFrame(
        [(10_000_001, "9-NEW", 42.5)],
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    v2 = versioned.commit_version(changed.unionByName(extra), table)

    keys, measures = ["o_orderpriority"], ["o_totalprice"]
    state = A.agg_state_init(
        versioned.read_version(spark, table, v1), keys, measures
    )
    feed = versioned.diff_versions(
        spark, table, v1, v2, "o_orderkey"
    )
    refreshed = A.agg_state_result(
        A.agg_state_apply(state, feed, keys, measures), keys, measures
    )
    recomputed = A.agg_state_result(
        A.agg_state_init(
            versioned.read_version(spark, table, v2), keys, measures
        ),
        keys,
        measures,
    )
    got = {r.o_orderpriority: r for r in refreshed.collect()}
    want = {r.o_orderpriority: r for r in recomputed.collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g.cnt == w.cnt
        assert abs(g.sum_o_totalprice - w.sum_o_totalprice) < 1e-9 * max(
            1.0, abs(w.sum_o_totalprice)
        )
        assert abs(g.avg_o_totalprice - w.avg_o_totalprice) < 1e-9 * max(
            1.0, abs(w.avg_o_totalprice)
        )
    assert "9-NEW" in got


def test_agg_state_validation(spark):
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates as A

    df = spark.createDataFrame([(1, "a", 2)], "id long, grp string, v long")
    import pytest

    with pytest.raises(ValueError):
        A.agg_state_init(df, [], ["v"])
    with pytest.raises(ValueError):
        A.agg_state_apply(df, df, ["grp"], [])


def test_ivm_probe_twins_agree(spark, sf_dir):
    """The bench probe pair (incr_agg_refresh vs full_agg_recompute)
    produce the same aggregate view: the measured read gap is a cost
    difference, never an answer difference."""
    from bigdata_storage_and_proccess_job_data_spark.plans import bench_probes

    a = {
        (r.o_orderpriority, r.o_month): r
        for r in bench_probes.incr_agg_refresh(spark, sf_dir).collect()
    }
    b = {
        (r.o_orderpriority, r.o_month): r
        for r in bench_probes.full_agg_recompute(spark, sf_dir).collect()
    }
    assert set(a) == set(b) and len(a) > 0
    for k, w in b.items():
        g = a[k]
        assert g.cnt == w.cnt
        assert abs(g.sum_o_totalprice - w.sum_o_totalprice) < 1e-9 * max(
            1.0, abs(w.sum_o_totalprice)
        )


def test_partition_evolution_across_versions(spark, sf_dir, tmp_path):
    """Each snapshot owns its layout: v1 partitioned by priority, v2 by
    order-year -- both readable (time travel included), both pruned at
    the scan by THEIR OWN partition column, contents exact. The
    rewrite-free partition evolution immutable snapshots buy."""
    import pytest

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    table = str(tmp_path / "orders_pevo")
    v1 = versioned.commit_version(
        orders, table, partition_by=["o_orderpriority"]
    )
    v2 = versioned.commit_version(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        table,
        partition_by=["o_year"],
    )

    old = versioned.read_version(spark, table, v1)
    new = versioned.read_version(spark, table, v2)
    assert old.count() == orders.count()
    assert new.count() == orders.filter(
        F.col("o_orderkey") % 2 == 0
    ).count()
    # hive layout round-trips every column (partition cols come back)
    assert sorted(old.columns) == sorted(orders.columns)
    assert sorted(new.columns) == sorted(orders.columns)

    # v1 prunes on ITS column...
    p1 = old.filter(F.col("o_orderpriority") == "1-URGENT")
    plan1 = p1._jdf.queryExecution().executedPlan().toString()
    assert "o_orderpriority" in plan1.split("PartitionFilters")[1].split(
        "]"
    )[0]
    # ...and v2 on its different one
    yr = orders.select(F.min("o_year").alias("y")).collect()[0].y
    p2 = new.filter(F.col("o_year") == yr)
    plan2 = p2._jdf.queryExecution().executedPlan().toString()
    assert "o_year" in plan2.split("PartitionFilters")[1].split("]")[0]

    # values identical to the source filters
    assert p1.count() == orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()

    with pytest.raises(ValueError, match="mutually exclusive"):
        versioned.commit_version(
            orders,
            str(tmp_path / "bad"),
            partition_by=["o_year"],
            stats_cols=["o_orderkey"],
        )


def test_clone_table_zero_copy_independent(spark, sf_dir, tmp_path):
    """Shallow clone: same contents via hard links (same inodes, no
    byte copied), fully independent afterward -- source commits and
    vacuum never change the clone; the clone commits on its own;
    manifests ride along so pruning still works; guards refuse
    overwriting an existing table."""
    import os

    import pytest

    nation = load_table(spark, sf_dir, "nation")
    src = str(tmp_path / "src")
    v1 = versioned.commit_version(
        nation.repartitionByRange(4, "n_nationkey"),
        src,
        stats_cols=["n_nationkey"],
    )
    dst = str(tmp_path / "dst")
    assert versioned.clone_table(src, dst) == 1

    a = versioned.read_version(spark, src, v1)
    b = versioned.read_version(spark, dst)
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))

    # same inodes: zero-copy, not a byte duplicated
    src_files = sorted(
        f for f in os.listdir(os.path.join(src, f"v={v1}"))
        if f.endswith(".parquet")
    )
    for f in src_files:
        s = os.stat(os.path.join(src, f"v={v1}", f))
        d = os.stat(os.path.join(dst, "v=1", f))
        assert s.st_ino == d.st_ino and s.st_nlink >= 2

    # manifest linked along -> pruning works on the clone
    pruned = versioned.read_version(spark, dst, prune=("n_nationkey", 0, 3))
    assert pruned.count() == nation.filter(
        F.col("n_nationkey") <= 3
    ).count()

    # independence: source moves on and vacuums; clone is untouched
    versioned.commit_version(nation.limit(2), src)
    versioned.vacuum(src, keep=1)
    assert versioned.read_version(spark, dst).count() == nation.count()
    # and the clone commits on its own timeline
    v2 = versioned.commit_version(nation.limit(5), dst)
    assert versioned.read_version(spark, dst, v2).count() == 5

    with pytest.raises(FileExistsError):
        versioned.clone_table(src, dst)
    with pytest.raises(FileNotFoundError):
        versioned.clone_table(str(tmp_path / "nope"), str(tmp_path / "x"))


def test_agg_state_variance_maintenance(spark):
    """track_var: variance survives inserts/deletes/updates through the
    delta fold, matching var_samp recompute; singleton/empty groups
    degrade to NULL; plain state (no ss) keeps its old result schema."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates as A

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 14), (3, "a", 6), (4, "b", 5), (5, "b", 7)],
        "id long, grp string, val long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (4, "b", 5), (6, "c", 1)],
        "id long, grp string, val long",  # del 3,5; upd 2; new c
    )
    keys, ms = ["grp"], ["val"]
    state = A.agg_state_init(old, keys, ms, track_var=True)
    feed = versioned.change_feed(old, new, "id")
    got = {
        r.grp: r
        for r in A.agg_state_result(
            A.agg_state_apply(state, feed, keys, ms), keys, ms
        ).collect()
    }
    want = {
        r.grp: r.var_val
        for r in new.groupBy("grp").agg(
            F.var_samp("val").alias("var_val")
        ).collect()
    }
    for g, w in want.items():
        if w is None:
            assert got[g].var_val is None, g
        else:
            assert abs(got[g].var_val - w) < 1e-9, g

    # no-ss state: result schema unchanged (no var columns)
    plain = A.agg_state_result(
        A.agg_state_init(old, keys, ms), keys, ms
    )
    assert "var_val" not in plain.columns


def test_delete_where_links_survivors_and_rewrites_affected(spark, tmp_path):
    """Copy-on-write DELETE: (1) only files whose stats intersect the
    predicate are rewritten, the rest HARD-LINK into the new snapshot
    (same inode -- metadata price); (2) results equal full-scan minus
    matches, NULL keys kept; (3) snapshot isolation: the old version
    still shows the deleted rows; (4) the new snapshot's stats
    manifest still prunes; (5) zero-match deletes commit nothing."""
    import glob
    import os

    table = str(tmp_path / "del_table")
    df = spark.range(0, 8000).selectExpr(
        "CASE WHEN id % 1000 = 999 THEN NULL ELSE id END AS k",
        "id % 97 AS payload",
    )
    v1 = versioned.commit_version(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"),
        table,
        stats_cols=["k"],
    )
    n_nulls = df.filter(F.col("k").isNull()).count()
    old_files = glob.glob(f"{table}/v={v1}/*.parquet")
    report = versioned.delete_where(spark, table, "k", 2000, 2499)
    assert report["version"] == v1 + 1
    assert report["rows_deleted"] == 500
    assert report["files_rewritten"] < len(old_files)
    assert (
        report["files_linked"] + report["files_rewritten"]
        == len(old_files)
    )
    # linked file shares its inode with the old snapshot's copy
    new_snap = f"{table}/v={report['version']}"
    old_inodes = {os.stat(p).st_ino for p in old_files}
    linked = [
        p
        for p in glob.glob(f"{new_snap}/*.parquet")
        if os.stat(p).st_ino in old_inodes
    ]
    assert len(linked) == report["files_linked"] > 0
    now = versioned.read_version(spark, table)
    assert now.count() == 8000 - 500
    assert now.filter(F.col("k").between(2000, 2499)).count() == 0
    assert now.filter(F.col("k").isNull()).count() == n_nulls  # kept
    # snapshot isolation: v1 unchanged
    before = versioned.read_version(spark, table, version=v1)
    assert before.filter(F.col("k").between(2000, 2499)).count() == 500
    # manifest rebuilt: pruning on the new snapshot still works and
    # equals scan+filter
    kept_files = versioned.prune_files(new_snap, "k", 3000, 3099)
    assert 0 < len(kept_files) < len(glob.glob(f"{new_snap}/*.parquet"))
    pruned = versioned.read_version(
        spark, table, prune=("k", 3000, 3099)
    )
    assert pruned.count() == 100
    # zero-match delete: no commit
    r0 = versioned.delete_where(spark, table, "k", 2000, 2499)
    assert r0["version"] is None and r0["rows_deleted"] == 0
    assert versioned.current_version(table) == report["version"]


def test_delete_where_no_manifest_and_concurrency(spark, tmp_path):
    """Without a stats manifest every file is conservatively rewritten
    (correct, just unpruned); a stale ``expected`` fails closed; an
    unbounded delete is rejected."""
    import glob

    import pytest

    table = str(tmp_path / "del_plain")
    df = spark.range(0, 1000).selectExpr("id AS k", "id % 7 AS p")
    v1 = versioned.commit_version(df.repartition(4), table)
    n_files = len(glob.glob(f"{table}/v={v1}/*.parquet"))
    report = versioned.delete_where(spark, table, "k", 10, 19)
    assert report["files_rewritten"] == n_files
    assert report["files_linked"] == 0
    assert versioned.read_version(spark, table).count() == 990
    with pytest.raises(versioned.ConcurrentCommitError):
        versioned.delete_where(spark, table, "k", 0, 5, expected=v1)
    with pytest.raises(ValueError, match="unbounded"):
        versioned.delete_where(spark, table, "k")


def test_cow_bloom_splice_links_verbatim_rebuilds_rewritten(
    spark, tmp_path
):
    """The r14 COW bloom maintenance: (1) hard-linked files' bloom
    entries are spliced into the new manifest BYTE-IDENTICAL to the old
    one (the file content is the same inode -- rescanning it could only
    reproduce the same bits); (2) rewritten files get fresh entries that
    match a canonical write_bloom_manifest build bit-for-bit when the
    key is unique per row (footer row count == distinct count => same
    m => same words); (3) pruning on the spliced manifest stays exact
    for surviving keys."""
    import glob
    import json
    import os

    table = str(tmp_path / "splice_bloom")
    df = spark.range(0, 4000).selectExpr(
        "CAST(id AS STRING) AS key", "id AS k", "id % 11 AS p"
    )
    v1 = versioned.commit_version(
        df.repartitionByRange(6, "k").sortWithinPartitions("k"),
        table,
        stats_cols=["k"],
    )
    versioned.write_bloom_manifest(spark, f"{table}/v={v1}", ["key"])
    with open(f"{table}/v={v1}/_bloom.json") as fh:
        old = json.load(fh)
    report = versioned.delete_where(spark, table, "k", 100, 199)
    new_snap = f"{table}/v={report['version']}"
    with open(os.path.join(new_snap, "_bloom.json")) as fh:
        new = json.load(fh)
    assert new["m"] is None and new["k"] == old["k"]
    # linked files: entries spliced verbatim
    old_inodes = {
        os.stat(p).st_ino: os.path.basename(p)
        for p in glob.glob(f"{table}/v={v1}/*.parquet")
    }
    linked = {
        os.path.basename(p)
        for p in glob.glob(f"{new_snap}/*.parquet")
        if os.stat(p).st_ino in old_inodes
    }
    assert len(linked) == report["files_linked"] > 0
    for fname in linked:
        assert new["files"][fname] == old["files"][fname]
    # rewritten files: fresh entries, bit-identical to a canonical
    # rebuild (unique key => same per-file sizing)
    rewritten = set(new["files"]) - linked
    assert len(rewritten) == report["files_rewritten"] > 0
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="splice_check_")
    try:
        for fname in rewritten:
            os.link(
                os.path.join(new_snap, fname),
                os.path.join(scratch, fname),
            )
        canonical = versioned.write_bloom_manifest(
            spark, scratch, ["key"], k=new["k"]
        )["files"]
        for fname in rewritten:
            got = new["files"][fname]["key"]
            want = canonical[fname]["key"]
            assert got["m"] == want["m"]
            assert {
                w: int(b) for w, b in got["words"].items()
            } == {w: int(b) for w, b in want["words"].items()}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    # pruning on the spliced manifest: surviving key found, exact read
    assert (
        versioned.read_version(
            spark, table, prune_eq=("key", "3000")
        ).count()
        == 1
    )


def test_cow_zero_match_in_band_rolls_back(spark, tmp_path):
    """A delete whose band intersects file stats but matches NO row
    (a gap inside [min, max]) commits nothing: version None, pointer
    unchanged, no orphaned snapshot dir, and the staged version number
    is released for the next real commit."""
    table = str(tmp_path / "gap_table")
    df = spark.sql(
        "SELECT explode(sequence(0, 99)) AS k UNION ALL "
        "SELECT explode(sequence(300, 399)) AS k"
    ).selectExpr("k", "k % 7 AS p")
    v1 = versioned.commit_version(df.coalesce(1), table, stats_cols=["k"])
    # file stats span [0, 399]; the band 150-250 is a gap
    affected = versioned.prune_files(f"{table}/v={v1}", "k", 150, 250)
    assert affected, "test premise: the gap band must intersect stats"
    r0 = versioned.delete_where(spark, table, "k", 150, 250)
    assert r0["version"] is None and r0["rows_deleted"] == 0
    assert versioned.current_version(table) == v1
    assert versioned.versions(table) == [v1]  # staged dir removed
    # the claim marker was released: the next commit takes v1+1
    report = versioned.delete_where(spark, table, "k", 0, 9)
    assert report["version"] == v1 + 1
    assert report["rows_deleted"] == 10
    assert versioned.read_version(spark, table).count() == 190


def test_delete_where_rebuilds_bloom(spark, tmp_path):
    """A bloom-manifested table keeps equality pruning after a delete:
    the new snapshot's bloom is rebuilt with the recorded columns and
    lookups on surviving keys stay exact."""
    table = str(tmp_path / "del_bloom")
    df = spark.range(0, 4000).selectExpr(
        "CAST(id AS STRING) AS key", "id AS k", "id % 11 AS p"
    )
    v1 = versioned.commit_version(
        df.repartitionByRange(6, "k").sortWithinPartitions("k"),
        table,
        stats_cols=["k"],
    )
    versioned.write_bloom_manifest(spark, f"{table}/v={v1}", ["key"])
    report = versioned.delete_where(spark, table, "k", 100, 199)
    new_snap = f"{table}/v={report['version']}"
    import os

    assert os.path.exists(os.path.join(new_snap, "_bloom.json"))
    kept = versioned.prune_files_bloom(new_snap, "key", "3000")
    assert 0 < len(kept)
    got = versioned.read_version(
        spark, table, prune_eq=("key", "3000")
    )
    assert got.count() == 1
    assert versioned.read_version(
        spark, table, prune_eq=("key", "150")
    ).count() == 0  # deleted key: bloom may keep files, filter is exact


def test_cow_probe_pair_layout_accounting(spark, sf_dir):
    """The bench probe pair's scale claim, pinned at test scale: the
    SAME band delete rewrites a strict minority of files on the
    range-clustered snapshot and every file on the fragmented one,
    with identical rows_deleted (layout is the only variable)."""
    from bigdata_storage_and_proccess_job_data_spark.plans import bench_probes

    clustered = bench_probes.cow_delete_clustered(spark, sf_dir).first()
    fragmented = bench_probes.cow_delete_fragmented(spark, sf_dir).first()
    assert clustered.rows_deleted == fragmented.rows_deleted > 0
    assert clustered.files_rewritten < (
        clustered.files_rewritten + clustered.files_linked
    )
    assert fragmented.files_linked == 0
    assert clustered.files_rewritten < fragmented.files_rewritten


def test_apply_changes_pruned_equals_full_and_links(spark, tmp_path):
    """prune=True MERGE: identical table content to the unpruned
    apply_changes on a twin table, with the majority of files
    hard-linked for a banded batch (inode-verified); a pure-insert
    batch beyond every key range links everything and still commits;
    merge_schema combination is rejected."""
    import glob
    import os

    import pytest

    def build(where):
        t = str(tmp_path / where)
        df = spark.range(0, 6000).selectExpr(
            "id AS k", "id % 13 AS p"
        )
        versioned.commit_version(
            df.repartitionByRange(8, "k").sortWithinPartitions("k"),
            t,
            stats_cols=["k"],
        )
        return t

    a, b = build("pruned"), build("full")
    batch = spark.range(1000, 1100).selectExpr(
        "id AS k", "id AS p", "'upsert' AS _op"
    ).union(
        spark.range(1100, 1150).selectExpr(
            "id AS k", "CAST(NULL AS BIGINT) AS p", "'delete' AS _op"
        )
    )
    old_files = glob.glob(f"{a}/v=1/*.parquet")
    va = versioned.apply_changes(spark, a, batch, "k", prune=True)
    vb = versioned.apply_changes(spark, b, batch, "k")
    got_a = sorted(
        map(tuple, versioned.read_version(spark, a).collect())
    )
    got_b = sorted(
        map(tuple, versioned.read_version(spark, b).collect())
    )
    assert got_a == got_b
    assert len(got_a) == 6000 - 50
    # banded batch -> most files linked
    old_inodes = {os.stat(p).st_ino for p in old_files}
    new_files = glob.glob(f"{a}/v={va}/*.parquet")
    linked = [
        p for p in new_files if os.stat(p).st_ino in old_inodes
    ]
    assert len(linked) >= len(old_files) - 2 > 0
    # pure inserts beyond every range: all files link, rows appear
    ins = spark.range(50_000, 50_010).selectExpr(
        "id AS k", "id AS p", "'upsert' AS _op"
    )
    v2 = versioned.apply_changes(spark, a, ins, "k", prune=True)
    assert v2 == va + 1
    now = versioned.read_version(spark, a)
    assert now.filter(F.col("k") >= 50_000).count() == 10
    assert now.count() == len(got_a) + 10
    with pytest.raises(ValueError, match="merge_schema"):
        versioned.apply_changes(
            spark, a, ins, "k", prune=True, merge_schema=True
        )


def test_delete_where_partitioned_rejected_and_vacuum_safe(spark, tmp_path):
    """(1) COW DML on a hive-partitioned snapshot fails with a clear
    redirect (flat layouts only); (2) vacuuming the pre-delete version
    does not disturb the new snapshot's hard-linked files -- the
    shared inodes survive until the last directory entry drops."""
    import pytest

    part = str(tmp_path / "part_table")
    df = spark.range(0, 300).selectExpr("id AS k", "id % 3 AS pt")
    versioned.commit_version(df, part, partition_by=["pt"])
    with pytest.raises(ValueError, match="partitioned snapshot"):
        versioned.delete_where(spark, part, "k", 0, 10)

    flat = str(tmp_path / "flat_table")
    df2 = spark.range(0, 4000).selectExpr("id AS k", "id % 7 AS p")
    v1 = versioned.commit_version(
        df2.repartitionByRange(6, "k").sortWithinPartitions("k"),
        flat,
        stats_cols=["k"],
    )
    rep = versioned.delete_where(spark, flat, "k", 500, 599)
    assert rep["files_linked"] > 0
    removed = versioned.vacuum(flat, keep=1)
    assert v1 in removed
    now = versioned.read_version(spark, flat)
    assert now.count() == 4000 - 100  # linked inodes intact post-vacuum
    assert now.agg(F.sum("k")).first()[0] == sum(
        k for k in range(4000) if not 500 <= k <= 599
    )


def test_delete_eq_prunes_through_bloom(spark, tmp_path):
    """Equality erasure (the GDPR shape): on a FRAGMENTED layout where
    every file's [min, max] spans the key range, range stats keep all
    files but the bloom manifest proves absence -- the delete rewrites
    only the bloom-admitting file(s), links the rest, and the content
    equals the plain filter."""
    import glob

    table = str(tmp_path / "eq_table")
    # interleaved layout: key i goes to file i % 6 -> every file spans
    # nearly the full range
    df = spark.range(0, 6000).selectExpr(
        "id AS k", "CAST(id AS STRING) AS key", "id % 9 AS p"
    )
    versioned.commit_version(
        df.repartition(6, "p"), table, stats_cols=["k"]
    )
    snap = f"{table}/v=1"
    versioned.write_bloom_manifest(spark, snap, ["key"])
    n_files = len(glob.glob(f"{snap}/*.parquet"))
    # sanity: range stats alone keep (nearly) all files on this
    # interleaved layout -- the key spans every file's [min, max]
    range_keep = len(versioned.prune_files(snap, "k", 3333, 3333))
    assert range_keep >= n_files - 1

    rep = versioned.delete_where(spark, table, "key", eq="3333")
    assert rep["rows_deleted"] == 1
    assert rep["files_rewritten"] < range_keep  # the bloom bit
    assert rep["files_linked"] + rep["files_rewritten"] == n_files
    now = versioned.read_version(spark, table)
    assert now.count() == 5999
    assert now.filter(F.col("key") == "3333").count() == 0
    # eq and range bounds are mutually exclusive; eq + lo raises
    import pytest

    with pytest.raises(ValueError, match="mutually exclusive"):
        versioned.delete_where(spark, table, "key", lo="1", eq="2")


def test_cow_rewrite_rejects_misrouted_observation(spark, tmp_path):
    """Observe-contract enforcement: a rewrite callback that drops
    the observed affected-file frame (the match count could never
    fire), routes it through a branch the optimizer prunes (same, but
    the analyzed plan still shows the node), or routes it twice (the
    count would double) raises BEFORE any side effect: no new version
    dir, no claim marker, pointer unchanged."""
    import os

    table = str(tmp_path / "obs_contract")
    df = spark.range(0, 1000).selectExpr("id AS k", "id % 5 AS p")
    v1 = versioned.commit_version(df.coalesce(2), table, stats_cols=["k"])

    fresh = df.selectExpr("k", "p")  # not derived from aff

    import pytest

    for bad in (
        lambda aff, pred: fresh.filter(F.lit(True)),  # zero routes
        lambda aff, pred: aff.unionByName(aff),  # double route
        # pruned route: PruneFilters drops the branch's CollectMetrics
        lambda aff, pred: aff.filter(F.lit(False)).unionByName(fresh),
    ):
        with pytest.raises(ValueError, match="exactly once"):
            versioned._cow_rewrite(
                spark, table, "k", 10, 20, bad, None, "rows_deleted"
            )
        assert versioned.current_version(table) == v1
        assert versioned.versions(table) == [v1]
        claims = [
            n for n in os.listdir(table) if n.startswith("._claim")
        ]
        # no claim for a staged v2: the rejection fired pre-side-effect
        assert f"._claim_v{v1 + 1}" not in claims
    # the well-behaved path still works after the rejections
    rep = versioned.delete_where(spark, table, "k", 10, 20)
    assert rep["rows_deleted"] == 11
    assert versioned.read_version(spark, table).count() == 989


def _rewritten_files(old_snap: str, new_snap: str) -> list[str]:
    """Data files of ``new_snap`` that a COW commit rewrote (not
    hard-linked from ``old_snap``), by basename."""
    import glob
    import os

    old_inodes = {os.stat(p).st_ino for p in glob.glob(f"{old_snap}/*.parquet")}
    return [
        os.path.basename(p)
        for p in glob.glob(f"{new_snap}/*.parquet")
        if os.stat(p).st_ino not in old_inodes
    ]


def test_bloom_splice_caps_low_ndv_columns(spark, tmp_path):
    """VERDICT r14 #3/#4: after a COW delete, a duplicate-heavy
    column's rebuilt bloom bitmaps are sized from the old entries'
    recorded distinct bounds, not the footer row count -- the manifest
    stops growing ~rows/NDV-fold -- while pruning decisions match the
    uncapped build exactly and the unique-key column stays sized from
    its row count (bit-identity regime)."""
    import glob
    import json
    import os

    table = str(tmp_path / "cap_bloom")
    # status: 5 distinct values over 4000 rows (the low-NDV shape);
    # key: unique per row
    df = spark.range(0, 4000).selectExpr(
        "id AS k",
        "CAST(id AS STRING) AS key",
        "CONCAT('s', CAST(id % 5 AS STRING)) AS status",
    )
    v1 = versioned.commit_version(
        df.repartitionByRange(6, "k").sortWithinPartitions("k"),
        table,
        stats_cols=["k"],
    )
    versioned.write_bloom_manifest(
        spark, f"{table}/v={v1}", ["key", "status"]
    )
    report = versioned.delete_where(spark, table, "k", 100, 199)
    new_snap = f"{table}/v={report['version']}"
    with open(os.path.join(new_snap, "_bloom.json")) as fh:
        new = json.load(fh)
    rewritten = _rewritten_files(f"{table}/v={v1}", new_snap)
    assert rewritten
    for fname in rewritten:
        st = new["files"][fname]["status"]
        ky = new["files"][fname]["key"]
        # low-NDV column: capped at the old entries' claimed distinct
        # bound (5 per affected file), so the bitmap is the 64-bit
        # floor word count -- NOT sized for ~500 rows
        assert st["d"] <= 10
        assert st["m"] == versioned._bloom_bits(st["d"], new["k"], 0.01)
        assert st["m"] < versioned._bloom_bits(500, new["k"], 0.01)
        # unique-key column: bound == footer rows (cap does not bind)
        assert ky["m"] == versioned._bloom_bits(ky["d"], new["k"], 0.01)
    # pruning decisions identical to an uncapped canonical build on
    # every surviving status value and on the deleted band's keys
    for s in ["s0", "s1", "s2", "s3", "s4"]:
        kept = versioned.prune_files_bloom(new_snap, "status", s)
        assert len(kept) == len(glob.glob(f"{new_snap}/*.parquet"))
    assert (
        versioned.read_version(spark, table, prune_eq=("key", "3000"))
        .count()
        == 1
    )
    assert (
        versioned.read_version(spark, table, prune_eq=("key", "150"))
        .count()
        == 0
    )


def test_bloom_splice_does_not_cap_updated_columns(spark, tmp_path):
    """A pruned apply_changes MERGE may give rewritten files brand-new
    column values, so the splice sizes them from footer row counts (no
    cap) -- an upsert batch that INCREASES a column's distinct count
    must not saturate its bitmap."""
    import json
    import os

    table = str(tmp_path / "upd_bloom")
    df = spark.range(0, 4000).selectExpr(
        "id AS k",
        "CONCAT('s', CAST(id % 5 AS STRING)) AS status",
    )
    v1 = versioned.commit_version(
        df.repartitionByRange(6, "k").sortWithinPartitions("k"),
        table,
        stats_cols=["k"],
    )
    versioned.write_bloom_manifest(spark, f"{table}/v={v1}", ["status"])
    # upsert a per-row-unique status inside the band: the new file's
    # distinct count far exceeds the old 5-value bound
    changes = spark.range(100, 600).selectExpr(
        "id AS k",
        "CONCAT('u', CAST(id AS STRING)) AS status",
        "'upsert' AS _op",
    )
    version = versioned.apply_changes(spark, table, changes, "k", prune=True)
    new_snap = f"{table}/v={version}"
    with open(os.path.join(new_snap, "_bloom.json")) as fh:
        new = json.load(fh)
    rewritten = _rewritten_files(f"{table}/v={v1}", new_snap)
    assert rewritten
    import pyarrow.parquet as pq

    for fname in rewritten:
        st = new["files"][fname]["status"]
        # sized from footer rows (uncapped), not the old 5-value bound
        rows = pq.ParquetFile(os.path.join(new_snap, fname)).metadata.num_rows
        assert st["d"] == rows
    # room for the 500 new uniques across the rewritten files
    assert sum(new["files"][f]["status"]["d"] for f in rewritten) >= 500
    # the new unique values are findable through the bloom
    assert (
        versioned.read_version(
            spark, table, prune_eq=("status", "u150")
        ).count()
        == 1
    )


def test_bloom_splice_legacy_manifest_without_bounds_is_uncapped(
    spark, tmp_path
):
    """A legacy bloom manifest that records neither the payload's
    target_fpp nor per-entry ``d`` gives the splice no sound distinct
    bound: inverting ``m`` at an assumed 0.01 under-estimates ``d`` for a
    manifest built at a looser fpp, undersizing the spliced bitmaps. Such
    columns are sized from the footer row count instead."""
    import json
    import os

    import pyarrow.parquet as pq

    table = str(tmp_path / "legacy_bloom")
    df = spark.range(0, 4000).selectExpr(
        "id AS k", "CAST(id AS STRING) AS key"
    )
    v1 = versioned.commit_version(
        df.repartitionByRange(6, "k").sortWithinPartitions("k"),
        table,
        stats_cols=["k"],
    )
    snap = f"{table}/v={v1}"
    versioned.write_bloom_manifest(spark, snap, ["key"], target_fpp=0.1)
    manifest = os.path.join(snap, "_bloom.json")
    with open(manifest) as fh:
        payload = json.load(fh)
    del payload["target_fpp"]
    for per in payload["files"].values():
        for entry in per.values():
            entry.pop("d", None)
    with open(manifest, "w") as fh:
        json.dump(payload, fh)
    report = versioned.delete_where(spark, table, "k", 100, 199)
    new_snap = f"{table}/v={report['version']}"
    with open(os.path.join(new_snap, "_bloom.json")) as fh:
        new = json.load(fh)
    rewritten = _rewritten_files(snap, new_snap)
    assert rewritten
    for fname in rewritten:
        footer = pq.ParquetFile(os.path.join(new_snap, fname)).metadata
        assert new["files"][fname]["key"]["d"] == footer.num_rows
    assert (
        versioned.read_version(spark, table, prune_eq=("key", "3000"))
        .count()
        == 1
    )


def _calls_outside(subdir: str, match, allowed) -> list[str]:
    """``module:line`` of every call in the package's ``subdir`` ("" for
    all of it) that ``match`` accepts, outside the functions named in
    ``allowed`` (as ``<module>.<function>``, the module dotted from the
    package root)."""
    import os

    pkg = os.path.dirname(os.path.dirname(versioned.__file__))
    offenders = []
    for root, _dirs, names in sorted(os.walk(os.path.join(pkg, subdir))):
        for name in sorted(n for n in names if n.endswith(".py")):
            path = os.path.join(root, name)
            mod = os.path.relpath(path, pkg)[:-3].replace(os.sep, ".")
            tree = ast.parse(open(path).read())
            exempt = {
                id(n)
                for fn in ast.walk(tree)
                if isinstance(fn, ast.FunctionDef)
                and f"{mod}.{fn.name}" in allowed
                for n in ast.walk(fn)
            }
            offenders += [
                f"{mod}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and match(node.func, node.args)
                and id(node) not in exempt
            ]
    return offenders


def _is_attr(func, owner: str, attr: str) -> bool:
    """``func`` is ``<owner>.<attr>`` with ``owner`` a plain name."""
    return (
        isinstance(func, ast.Attribute)
        and func.attr == attr
        and isinstance(func.value, ast.Name)
        and func.value.id == owner
    )


def test_atomic_write_is_the_only_rename_in_sources():
    """The snapshot commit protocol has one home: every pointer swap,
    manifest write and meta sidecar goes through
    versioned._atomic_write, so ``tempfile.mkstemp`` and ``os.replace``
    may be called nowhere else under sources/ (a hand-rolled copy is
    how a protocol fix misses a writer)."""
    offenders = _calls_outside(
        "sources",
        lambda f, _args: _is_attr(f, "tempfile", "mkstemp")
        or _is_attr(f, "os", "replace"),
        {"sources.versioned._atomic_write"},
    )
    assert offenders == []


def test_every_stream_starts_through_start():
    """Every library stream gets its checkpoint, trigger and partition
    count from streaming.pipeline._start, so no ``.start()`` of a
    ``writeStream`` chain -- inline, or through a name bound to one --
    may be called anywhere else in the package."""
    import os

    def write_stream(node) -> bool:
        return any(
            isinstance(n, ast.Attribute) and n.attr == "writeStream"
            for n in ast.walk(node)
        )

    pkg = os.path.dirname(os.path.dirname(versioned.__file__))
    writers = {
        t.id
        for root, _dirs, names in os.walk(pkg)
        for name in names
        if name.endswith(".py")
        for node in ast.walk(ast.parse(open(os.path.join(root, name)).read()))
        if isinstance(node, ast.Assign) and write_stream(node.value)
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    offenders = _calls_outside(
        "",
        lambda f, _args: isinstance(f, ast.Attribute)
        and f.attr == "start"
        and (
            write_stream(f.value)
            or (isinstance(f.value, ast.Name) and f.value.id in writers)
        ),
        {"streaming.pipeline._start"},
    )
    assert offenders == []


# readers that may infer: read_parquet falls back to inference when the
# footer carries no Spark schema
INFERRING_READERS = {
    "sources.lake.read_parquet": "the footer-schema reader itself",
}
# createDataFrame(<list>, ...) sites kept on the parallelize path
RDD_LOCAL_FRAMES = {
    "plans.scale_queries.temperature_mixture": "registered query whose "
    "whole plan is the driver-built frame: a LocalTableScan would fail "
    "plans.lint's sourceless-plan check",
}


def test_no_inference_reads_or_rdd_local_frames():
    """Two job-launching patterns stay out of the package: a schema-less
    ``spark.read.parquet(`` under sources/ (a schema-inference job per
    call -- sources.lake.read_parquet reads the schema from the footer)
    and ``createDataFrame(<list or comprehension>, ...)`` (a
    parallelize scan that runs a job per action -- session.local_frame
    builds a LocalRelation), except at the named sites."""
    import importlib

    inferring = _calls_outside(
        "sources",
        lambda f, _args: isinstance(f, ast.Attribute)
        and f.attr == "parquet"
        and isinstance(f.value, ast.Attribute)
        and f.value.attr == "read",
        INFERRING_READERS,
    )
    assert inferring == []
    rdd_frames = _calls_outside(
        "",
        lambda f, args: isinstance(f, ast.Attribute)
        and f.attr == "createDataFrame"
        and bool(args)
        and isinstance(args[0], (ast.List, ast.ListComp)),
        RDD_LOCAL_FRAMES,
    )
    assert rdd_frames == []
    for qual in [*INFERRING_READERS, *RDD_LOCAL_FRAMES]:
        mod, fn = qual.rsplit(".", 1)
        module = importlib.import_module(
            f"bigdata_storage_and_proccess_job_data_spark.{mod}"
        )
        assert hasattr(module, fn), f"stale exception {qual}"


def _count_jobs(spark, fn):
    """(fn(), Spark jobs fn launched), counted by job tag the way
    perfbench/harness.SparkStats does."""
    import uuid

    sc = spark.sparkContext
    tag = f"jobs-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return out, len(list(jsc.statusTracker().getJobIdsForTag(tag)))


def _keyed_frame(spark, n=400):
    return spark.range(n).selectExpr(
        "id AS k",
        "CAST(id AS DECIMAL(12, 2)) AS amount",
        "DATE_ADD(DATE'2024-01-01', CAST(id % 30 AS INT)) AS day",
        "IF(id % 7 = 0, NULL, CAST(id AS STRING)) AS tag",
    )


def test_snapshot_schemas_come_from_the_footer(spark, tmp_path):
    """Every versioned writer's snapshot reads back under its footer
    schema, equal to Spark's inferred one: commit_version,
    optimize_table, delete_where output, a clone and an upsert_by_key
    log."""
    table = str(tmp_path / "t")
    versioned.commit_version(
        _keyed_frame(spark).repartition(4), table, stats_cols=["k"]
    )
    versioned.optimize_table(
        spark, table, cluster_by="k", target_files=3, stats_cols=["k"]
    )
    versioned.delete_where(spark, table, "k", 10, 20)
    clone = str(tmp_path / "clone")
    versioned.clone_table(table, clone)
    log = str(tmp_path / "log")
    lake.upsert_by_key(spark, _keyed_frame(spark, 50), log, "k", "day")
    lake.upsert_by_key(spark, _keyed_frame(spark, 60), log, "k", "day")

    dirs = [f"{table}/v={v}" for v in versioned.versions(table)]
    dirs += [f"{clone}/v=1", log]
    assert len(dirs) == 5
    for d in dirs:
        assert lake._footer_schema(spark, (d,)) is not None, d
        assert lake.read_parquet(spark, d).schema == spark.read.parquet(d).schema, d


def test_snapshot_reads_launch_no_spark_job(spark, tmp_path):
    """Building a snapshot read -- plain, zone-map pruned, bloom pruned,
    a pruned read that keeps no file, and the upsert log's latest-wins
    view -- launches no Spark job: the schema is the footer's."""
    table = str(tmp_path / "t")
    versioned.commit_version(
        _keyed_frame(spark).repartitionByRange(4, "k"), table, stats_cols=["k"]
    )
    versioned.write_bloom_manifest(
        spark, f"{table}/v=1", ["k"]
    )
    log = str(tmp_path / "log")
    lake.upsert_by_key(spark, _keyed_frame(spark, 50), log, "k", "day")

    builds = {
        "plain": lambda: versioned.read_version(spark, table),
        "prune": lambda: versioned.read_version(
            spark, table, prune=("k", 10, 20)
        ),
        "prune_eq": lambda: versioned.read_version(
            spark, table, prune_eq=("k", 42)
        ),
        "prune_none": lambda: versioned.read_version(
            spark, table, prune=("k", 10_000, None)
        ),
        "read_upserted": lambda: lake.read_upserted(spark, log, "k", "day"),
    }
    for name, build in builds.items():
        df, jobs = _count_jobs(spark, build)
        assert jobs == 0, name
    assert versioned.read_version(spark, table, prune=("k", 10, 20)).count() == 11


def test_cow_delete_runs_only_the_rewrite_job(spark, tmp_path):
    """delete_where on a stats-manifested snapshot without a bloom runs
    one Spark job: the rewrite (its match count rides that job as an
    observed metric; schemas and manifests come from footers)."""
    table = str(tmp_path / "t")
    versioned.commit_version(
        _keyed_frame(spark).repartitionByRange(4, "k"), table, stats_cols=["k"]
    )
    rep, jobs = _count_jobs(
        spark, lambda: versioned.delete_where(spark, table, "k", 10, 20)
    )
    assert rep["rows_deleted"] == 11 and rep["files_rewritten"] == 1
    assert jobs == 1


LOCAL_FRAME_CASES = {
    # the package's local_frame sites, by schema
    "cow report": (
        "files_rewritten int, files_linked int, rows_deleted long",
        [(1, 6, 60)],
    ),
    "bloom sizes": ("_b string, _m long", [("part-0.parquet", 640), ("p1", 64)]),
    "row offsets": ("_gpid INT, _goff LONG", [(0, 0), (1, 17)]),
    "ivfpq probe": ("query_id LONG, cell INT, base DOUBLE", [(3, 1, 0.5)]),
    "diff rows": (
        "o_orderkey long, o_orderstatus string, o_totalprice double",
        [(10_000_001, "O", 1.0), (10_000_002, "F", 2.0)],
    ),
    "nulls, dates, decimals": (
        "d date, x decimal(12,2), s string, n long",
        [
            (datetime.date(2024, 2, 29), Decimal("12.50"), None, None),
            (None, None, "x", 7),
        ],
    ),
    "empty": ("doc_id long, score double, rank long", []),
}


def test_local_frame_matches_create_dataframe_without_jobs(spark):
    """local_frame gives the schema and rows createDataFrame(rows, ddl)
    gives, and collecting it runs no Spark job."""
    from pyspark.sql.types import LongType, StructField, StructType

    from bigdata_storage_and_proccess_job_data_spark.session import local_frame

    strict = StructType(
        [StructField("id", LongType(), False), StructField("v", LongType())]
    )
    cases = dict(LOCAL_FRAME_CASES, strict=(strict, [(1, None), (2, 3)]))
    for name, (schema, rows) in cases.items():
        want = spark.createDataFrame(rows, schema)
        got = local_frame(spark, rows, schema)
        assert got.schema == want.schema, name
        collected, jobs = _count_jobs(spark, got.collect)
        assert jobs == 0, name
        assert collected == want.collect(), name
