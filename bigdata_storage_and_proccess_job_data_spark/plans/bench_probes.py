"""Bench-only data-skipping probes.

These run in bench.py alongside the registered headline queries but are
NOT in the query registry: the registry sits at its 100-query ceiling
(registry.MAX_REGISTERED), and a probe whose whole point is a prepared
physical LAYOUT (range-clustered files + parquet bloom filters) does not
fit the registry's read-the-fixture-as-is contract anyway. Split:

- ensure_layouts() builds the layout ONCE per fixture generation
  (memoized on source path + mtime + size) into a temp dir; bench.py
  calls it in the untimed warmup section, so timings cover the PROBE,
  which is the recurring cost the layout exists to amortize;
- point_lookup_lineitem() is an equality probe on the clustered +
  bloomed key; bench.py records its latency AND rows_read, so
  BENCH_r{N}.json carries a measured number for the data-skipping story
  (rows_read a small fraction of the table, vs 6,000,000-per-sf-1 for a
  plain scan);
- correctness: tests/test_lake.py pins the probe result equal to the
  same filter over the plain fixture table and asserts the skip ratio.

At 100 TB this is the "fetch one order's line items from the raw lake"
path: range-clustering gives non-overlapping per-file key ranges
(min/max row-group skipping), the bloom filter adds absence proofs for
whatever the sort didn't isolate, and the probe touches a handful of
row groups instead of the corpus.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.session import local_frame
from bigdata_storage_and_proccess_job_data_spark.sources import lake

# per-process memo: (sf_dir -> probe key); the max-key lookup is a
# bounded one-row collect (same class as the documented top-k collects)
_KEY_CACHE: dict[str, int] = {}


def _layout_dir(sf_dir: str) -> str:
    src = os.path.join(sf_dir, "lineitem.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{os.path.abspath(src)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"sgraft_skip_layout_{key}")


def ensure_lake(spark: SparkSession, sf_dir: str) -> str:
    """Multi-file mirror of the single-file fixtures, built ONCE per
    fixture generation (memoized on every table's mtime+size) and
    returned as a drop-in ``sf_dir`` (same ``<table>.parquet`` names,
    directory-valued). bench.py points the TIMED queries here.

    Why: the driver fixtures are one parquet file with ONE row group
    per table, so a Spark scan cannot split them -- an artifact no real
    deployment has (a 100 TB table is thousands of files). Timing the
    artifact either measures single-threaded scans or forces
    catalog._spread's full-row repartition between scan and first
    operator (~2x on scan->agg queries vs a natively parallel scan).
    Like ensure_layouts, the rewrite is a write-time investment paid
    outside the timed region; the recurring cost being measured is the
    query over a realistically-splittable table. Row content is
    identical (rows_read figures are unchanged); every query here is
    partition-layout-independent by the engine's determinism contract
    (md5 coins, stable-ranked windows), which the correctness gate
    checks against the ORIGINAL fixtures every round."""
    stats = []
    from bigdata_storage_and_proccess_job_data_spark.catalog import TABLES

    for t in TABLES:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        stats.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
    key = hashlib.md5(
        (os.path.abspath(sf_dir) + "|" + "|".join(stats)).encode()
    ).hexdigest()[:16]
    dest = os.path.join(tempfile.gettempdir(), f"sgraft_lake_{key}")
    marker = os.path.join(dest, "_LAKE_READY")
    if not os.path.exists(marker):
        for t in TABLES:
            src = os.path.join(sf_dir, f"{t}.parquet")
            # every non-tiny table gets the full split count so the
            # scan itself clears catalog._spread's parallelism
            # threshold (n_files >= 16 -> no repartition anywhere in
            # the plan); true dims stay one file
            n = 16 if os.path.getsize(src) >= (512 << 10) else 1
            load_table(spark, sf_dir, t).repartition(n).write.mode(
                "overwrite"
            ).parquet(os.path.join(dest, f"{t}.parquet"))
        with open(marker, "w") as fh:
            fh.write("ok")
    return dest


def ensure_layouts(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the clustered+bloomed lineitem layout for ``sf_dir``
    and return its path. Range-clustering on l_orderkey tightens per-file
    and per-row-group min/max stats; the bloom filter on the same column
    covers point probes for values the stats alone can't exclude."""
    dest = _layout_dir(sf_dir)
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        df = load_table(spark, sf_dir, "lineitem")
        lake.write_with_bloom(
            df.repartitionByRange(16, "l_orderkey").sortWithinPartitions(
                "l_orderkey"
            ),
            dest,
            bloom_cols={"l_orderkey": 20_000},
        )
    return dest


def point_lookup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All line rows of ONE order (the max l_orderkey -- deterministic at
    any SF), read from the skipping layout. The key is resolved eagerly
    (one-row collect, cached per process) so the returned frame's plan
    is exactly the probe: a parquet scan with the equality predicate
    pushed down, whose rows_read the bench records."""
    dest = ensure_layouts(spark, sf_dir)
    k = _KEY_CACHE.get(sf_dir)
    if k is None:
        k = (
            load_table(spark, sf_dir, "lineitem")
            .agg(F.max("l_orderkey").alias("k"))
            .first()[0]
        )
        _KEY_CACHE[sf_dir] = k
    return (
        lake.read_parquet(spark, dest)
        .filter(F.col("l_orderkey") == F.lit(k))
        .select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
        )
    )


def _versioned_dir(sf_dir: str) -> str:
    src = os.path.join(sf_dir, "orders.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"vt:{os.path.abspath(src)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"sgraft_vt_probe_{key}")


def ensure_versioned_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture generation) the versioned-orders probe
    table: 10 interleaved MERGE commits fragment the layout exactly the
    way incremental ingest does -- each commit's files carry scattered
    o_orderkey ranges -- then one OPTIMIZE commit range-clusters into 16
    files and writes the stats manifest. The probe below reads the
    post-OPTIMIZE snapshot through manifest pruning; the build is the
    write-time investment the recurring read amortizes (same split as
    ensure_layouts)."""
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    dest = _versioned_dir(sf_dir)
    if versioned.current_version(dest) is None:
        orders = load_table(spark, sf_dir, "orders")
        for i in range(10):
            batch = orders.filter(F.col("o_orderkey") % 10 == i).withColumn(
                "_op", F.lit("upsert")
            )
            versioned.apply_changes(spark, dest, batch, "o_orderkey")
        versioned.optimize_table(
            spark,
            dest,
            cluster_by="o_orderkey",
            target_files=16,
            stats_cols=["o_orderkey"],
        )
    # manifests on the FRAGMENTED penultimate snapshot for the bloom
    # probe (backfilled idempotently so layouts built by older rounds
    # gain them too): its files carry interleaved key ranges, the shape
    # where range stats prune nothing and only the bloom can
    frag = os.path.join(dest, f"v={versioned.current_version(dest) - 1}")
    bloom_path = os.path.join(frag, versioned._BLOOM)
    needs_bloom = True
    if os.path.exists(bloom_path):
        import json

        with open(bloom_path) as fh:
            _payload = json.load(fh)
        # a legacy fixed-m manifest saturates at bench scale --
        # rebuild with per-file sizing; per-file manifests are kept
        needs_bloom = _payload.get("m") is not None
    if needs_bloom:
        versioned.write_stats_manifest(frag, ["o_orderkey"])
        versioned.write_bloom_manifest(spark, frag, ["o_orderkey"])
    return dest


def version_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue over the top ~1% of the o_orderkey range, read from the
    versioned table via manifest pruning (read_version(prune=...)):
    prune_files drops every file whose [min, max] misses the band
    BEFORE Spark sees a path, so the scan opens ~1 of 16 files -- the
    table format's main scale claim, measured.
    bench.py records latency AND rows_read; correctness (pruned ==
    full scan + filter) is pinned in tests/test_versioned.py."""
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    dest = ensure_versioned_table(spark, sf_dir)
    ck = f"vt:{sf_dir}"
    kmax = _KEY_CACHE.get(ck)
    if kmax is None:
        kmax = (
            load_table(spark, sf_dir, "orders")
            .agg(F.max("o_orderkey").alias("k"))
            .first()[0]
        )
        _KEY_CACHE[ck] = kmax
    lo = kmax - max(1, kmax // 100)
    pruned = versioned.read_version(
        spark, dest, prune=("o_orderkey", lo, kmax)
    )
    return pruned.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("revenue"),
    )


def version_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE order fetched from the FRAGMENTED snapshot (time travel to
    the pre-OPTIMIZE version) through BLOOM-manifest equality pruning
    (read_version(prune_eq=...)): the interleaved ingest commits left
    every file's [min, max] spanning nearly the whole key range, so
    range stats keep ALL files -- the shape where only an
    absence-proving structure can skip. The bloom keeps just the
    file(s) whose bitmap admits the key, and bench.py's rows_read
    records the difference. Together with version_prune_orders (range
    pruning after OPTIMIZE) the pair measures both halves of the
    manifest story: zones for sorted bands, blooms for unsorted points.
    Correctness (pruned == full snapshot + filter) is pinned in
    tests/test_versioned.py."""
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    dest = ensure_versioned_table(spark, sf_dir)
    # probe a MID-RANGE key, not the max: extremes are exactly what
    # zone stats excel at (only one file's max reaches kmax); a key in
    # the middle of the range sits inside every fragmented file's
    # [min, max] (measured: range keeps 33/33 files, bloom keeps 1-3)
    ck = f"vtmid:{sf_dir}"
    kmid = _KEY_CACHE.get(ck)
    if kmid is None:
        orders = load_table(spark, sf_dir, "orders")
        half = orders.agg((F.max("o_orderkey") / 2).alias("h")).first()[0]
        kmid = (
            orders.filter(F.col("o_orderkey") <= half)
            .agg(F.max("o_orderkey").alias("k"))
            .first()[0]
        )
        _KEY_CACHE[ck] = kmid
    frag_v = versioned.current_version(dest) - 1
    return versioned.read_version(
        spark, dest, version=frag_v, prune_eq=("o_orderkey", kmid)
    ).select("o_orderkey", "o_custkey", "o_totalprice")


def knn_lsh_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered knn_lsh workload run at 2 TABLES + 3 PROBES
    instead of 8 tables + 1 probe (operators/similarity.py:lsh_topk
    n_probes, Lv et al. 2007): the measured twin of the multi-probe
    trade. Tables multiply the CORPUS side of the bucket index (every
    corpus vector ships n_tables rows into the candidate join); probes
    only multiply the small query side -- so this variant shuffles 1/4
    of the corpus bucket rows for comparable recall
    (tests/test_similarity.py:test_multi_probe_lsh_trades_probes_for_
    tables pins the recall half of the claim)."""
    from bigdata_storage_and_proccess_job_data_spark.operators import (
        similarity,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb.filter(F.col("vec_id") < 20), emb, k=5, n_tables=2, n_probes=3
    )


def kmv_zipf_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch build on the hot-key regime that melted the old
    rank-window formulation: the Zipf company key (MEGACORP = 75% of lineitem) with
    a high-cardinality value (~343k distinct uids in the hot group at
    sf0.1) whose full distinct hash set would all have funneled through
    ONE task's rank-window sort in the old build.
    The skew-proof build (kmv_sketch's WindowGroupLimit pre-cut to each
    scan partition's k smallest distinct hashes, then one exchange)
    keeps that state to at most k rows per partition; this probe is the
    measured wall-time record of the shape, the skew_distinct_naive/
    spread precedent. Estimates land on the same frame so the whole
    sketch->estimate path executes."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates
    from bigdata_storage_and_proccess_job_data_spark.plans.analytics_queries import (
        _line_uid,
        _zipf_company,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        _zipf_company().alias("company"), _line_uid().alias("uid")
    )
    return aggregates.kmv_estimate(
        aggregates.kmv_sketch(li, "uid", dims=["company"], k=256), k=256
    )


def _cow_delete_band(spark: SparkSession, sf_dir: str, version):
    """Clone the probe table at ``version`` (zero-copy hard links),
    delete a mid-range ~1% o_orderkey band, report the file-touch
    accounting. The clone makes the probe repeatable: every call
    mutates a fresh metadata-priced copy, never the shared layout."""
    import shutil

    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    dest = ensure_versioned_table(spark, sf_dir)
    ck = f"vtmax:{sf_dir}"
    kmax = _KEY_CACHE.get(ck)
    if kmax is None:
        kmax = (
            load_table(spark, sf_dir, "orders")
            .agg(F.max("o_orderkey").alias("k"))
            .first()[0]
        )
        _KEY_CACHE[ck] = kmax
    lo = kmax // 2
    hi = lo + max(1, kmax // 100)
    tmp = tempfile.mkdtemp(prefix="sgraft_cow_")
    try:
        clone_dir = os.path.join(tmp, "t")
        versioned.clone_table(dest, clone_dir, version=version)
        rep = versioned.delete_where(
            spark, clone_dir, "o_orderkey", lo, hi
        )
        return local_frame(
            spark,
            [
                (
                    rep["files_rewritten"],
                    rep["files_linked"],
                    rep["rows_deleted"],
                )
            ],
            "files_rewritten int, files_linked int, rows_deleted long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def cow_delete_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE of a ~1% key band on the post-OPTIMIZE
    range-clustered snapshot: the stats manifest proves all but ~1 of
    16 files disjoint from the band, so the commit hard-links ~15
    files and rewrites ~1 -- DML cost proportional to the predicate's
    spread. Measured twin of cow_delete_fragmented (the
    skew_distinct_naive/spread precedent): same delete, same table,
    the LAYOUT is the only variable."""
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    dest = ensure_versioned_table(spark, sf_dir)
    return _cow_delete_band(
        spark, sf_dir, versioned.current_version(dest)
    )


def cow_delete_fragmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME ~1% band delete against the pre-OPTIMIZE fragmented
    snapshot: every ingest-interleaved file spans nearly the full key
    range, the manifest can prove nothing disjoint, and the commit
    rewrites every file -- the full-rewrite cost OPTIMIZE + stats
    exist to avoid, measured."""
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    dest = ensure_versioned_table(spark, sf_dir)
    return _cow_delete_band(
        spark, sf_dir, versioned.current_version(dest) - 1
    )


def skew_distinct_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The naive half of the skew-distinct MEASURED TWIN, bench-only
    because its oracle is byte-identical to the registered
    skew_distinct_spread's. Exact distinct-line-uid count per Zipf
    company, written the way users write it:
    groupBy(key).agg(size(collect_set(v))) -- correct, but the hot
    key's every distinct value funnels through ONE reducer's set
    buffer. The wall-time delta vs skew_distinct_spread is the README's
    skew-machinery number. At 100 TB this shape is an OOM -- kept as
    the measured baseline only. Both twins take the uid as the packed
    long (_line_uid_long) so the naive/spread delta stays an
    apples-to-apples algorithm comparison; the counts are pinned by
    test_skew_distinct_naive_probe_equals_spread_twin and the shared
    oracle."""
    from bigdata_storage_and_proccess_job_data_spark.plans.analytics_queries import (
        _line_uid_long,
        _zipf_company,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(_zipf_company().alias("company")).agg(
        F.size(F.collect_set(_line_uid_long()))
        .cast("long")
        .alias("n_line_uids")
    )


def bench_probes() -> dict:
    """name -> (spark, sf_dir) -> DataFrame, merged into bench.py's run
    set after the registered headline queries."""
    return {
        "skew_distinct_naive": skew_distinct_naive,
        "point_lookup_lineitem": point_lookup_lineitem,
        "version_prune_orders": version_prune_orders,
        "version_bloom_lookup": version_bloom_lookup,
        "incr_agg_refresh": incr_agg_refresh,
        "full_agg_recompute": full_agg_recompute,
        "geo_self_pairs": geo_self_pairs,
        "graph_triangles": graph_triangles,
        "knn_lsh_probed": knn_lsh_probed,
        "kmv_zipf_build": kmv_zipf_build,
        "cow_delete_clustered": cow_delete_clustered,
        "cow_delete_fragmented": cow_delete_fragmented,
        "join_bucketed": join_bucketed,
        "join_shuffled": join_shuffled,
        "join_hot_naive": join_hot_naive,
        "join_hot_split": join_hot_split,
    }


def _ivm_dir(sf_dir: str) -> str:
    src = os.path.join(sf_dir, "orders.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"ivm:{os.path.abspath(src)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), f"sgraft_ivm_probe_{key}")


def ensure_ivm_state(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture generation) the incremental-maintenance
    probe artifacts: the OLD orders snapshot's aggregate state
    (agg_state_init over priority x order-month), the NEW snapshot
    (~1% of keys deleted, ~1% price-bumped, a handful inserted), and
    the CHANGE FEED between them, each as parquet. The probes below
    then measure the two refresh strategies over identical stored
    inputs; correctness (apply == recompute) is pinned in
    tests/test_versioned.py."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    dest = _ivm_dir(sf_dir)
    if os.path.exists(os.path.join(dest, "_DONE")):
        return dest
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.month("o_orderdate").alias("o_month"),
        "o_totalprice",
    )
    new = orders.filter(F.col("o_orderkey") % 101 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") * 1.07
        ).otherwise(F.col("o_totalprice")),
    )
    keys, measures = ["o_orderpriority", "o_month"], ["o_totalprice"]
    aggregates.agg_state_init(orders, keys, measures).write.mode(
        "overwrite"
    ).parquet(os.path.join(dest, "state"))
    new.write.mode("overwrite").parquet(os.path.join(dest, "new"))
    versioned.change_feed(orders, new, "o_orderkey").write.mode(
        "overwrite"
    ).parquet(os.path.join(dest, "feed"))
    with open(os.path.join(dest, "_DONE"), "w") as fh:
        fh.write("ok")
    return dest


_IVM_KEYS = ["o_orderpriority", "o_month"]
_IVM_MEASURES = ["o_totalprice"]


def incr_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refresh the stored aggregate by folding the change feed into the
    stored state (agg_state_apply): reads |state| + |feed| rows -- the
    O(changes) refresh. Its measured twin below re-aggregates the full
    new snapshot; at 100 TB the gap between the two IS the materialized-
    view argument, and rows_read records it at bench scale."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    dest = ensure_ivm_state(spark, sf_dir)
    state = lake.read_parquet(spark, os.path.join(dest, "state"))
    feed = lake.read_parquet(spark, os.path.join(dest, "feed"))
    return aggregates.agg_state_result(
        aggregates.agg_state_apply(state, feed, _IVM_KEYS, _IVM_MEASURES),
        _IVM_KEYS,
        _IVM_MEASURES,
    )


def full_agg_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The twin: the same result aggregated from scratch over the full
    new snapshot -- what every refresh costs WITHOUT incremental
    maintenance. Reads |table| rows by construction."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    dest = ensure_ivm_state(spark, sf_dir)
    new = lake.read_parquet(spark, os.path.join(dest, "new"))
    return aggregates.agg_state_result(
        aggregates.agg_state_init(new, _IVM_KEYS, _IVM_MEASURES),
        _IVM_KEYS,
        _IVM_MEASURES,
    )


def geo_self_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo-dedup pairs over integer-derived customer coordinates
    (operators/spatial.py): measures the banded-grid blocking at sf0.1
    -- candidate generation is <= 9 probe cells per row and the join
    shuffles on (band, cell) only, so latency tracks the candidate
    count, never |customers|^2. Correctness (brute-force completeness)
    is pinned in tests/test_spatial.py; the bench records the shape's
    cost."""
    from bigdata_storage_and_proccess_job_data_spark.operators import spatial

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 7919 % 17001) / 100.0 - 85.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias(
            "lon"
        ),
    )
    return spatial.spatial_self_pairs(cust, 150.0)


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on a mod-derived lineitem graph
    (operators/graph.py): measures the degree-ordered orientation's
    adjacency-intersect edge iterator -- per-node work bounded by
    oriented out-degree O(sqrt(E)), the property that keeps hub
    vertices off a single reducer at 100 TB. DuckDB parity is pinned
    in tests/test_graph.py."""
    from bigdata_storage_and_proccess_job_data_spark.operators import graph

    # mod 20011 (prime): ~600k rows over ~20k nodes = avg degree ~30,
    # a SPARSE graph -- the regime triangle counting is for. (A small
    # modulus makes the projection nearly complete and the triangle
    # set cubic: mod 997 at sf0.1 is ~165M triangles, an OOM, not a
    # benchmark.)
    edges = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 20011).alias("src"),
        (F.col("l_partkey") % 20011).alias("dst"),
    )
    return graph.triangle_counts(edges)


# per-process memo: bucketed bench tables registered for this sf_dir
_BUCKETED_READY: set = set()


def ensure_bucketed(spark: SparkSession, sf_dir: str) -> None:
    """Register orders/lineitem bucketed by their join key (16 buckets,
    bucket-sorted) as catalog tables, ONCE per process per fixture dir.
    A write-time investment paid in bench.py's untimed warmup pass --
    the recurring cost being measured is the co-located join. The
    in-memory catalog forgets tables between processes, so each bench
    run re-writes them (seconds, untimed); table files live under a
    fixture-keyed temp dir like ensure_lake's mirror."""
    key = os.path.abspath(sf_dir)
    if key in _BUCKETED_READY:
        return
    dest = os.path.join(
        tempfile.gettempdir(),
        f"sgraft_buckets_{hashlib.md5(key.encode()).hexdigest()[:12]}",
    )
    for t, k in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"bench_b_{t}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        lake.write_bucketed(
            load_table(spark, sf_dir, t),
            name,
            k,
            n_buckets=16,
            path=os.path.join(dest, t),
            sort_key=k,
        )
    _BUCKETED_READY.add(key)


def _order_lines_agg(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """The shared fact-fact join body of the bucketed/shuffled twin:
    sort-merge join pinned by hint (so the twin never degenerates into
    a broadcast and the EXCHANGE is the only variable), then a small
    hash agg so the timed region is join-dominated."""
    return (
        lineitem.hint("merge")
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias(
                "volume"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over PRE-BUCKETED tables: both sides bucketed on
    the join key with the same bucket count, so the sort-merge join
    plans ZERO Exchange (and zero Sort, buckets are key-sorted) -- the
    write-once/join-many layout. Twin: join_shuffled, same body over
    the plain mirror; the measured delta is the shuffle both fact
    tables avoid here, THE recurring win bucketing buys at 100 TB.

    Wall-time honesty (the incr_agg_refresh precedent): on local[32]
    the avoided exchange is a memory-to-memory copy, so the measured
    gap is modest (5-iter medians at sf0.1: 0.62 s vs the twin's
    0.80 s, ~23%); the SCALE figure is the plan --
    tests/test_bucketing.py pins zero Exchange below this join while
    the twin carries one per side, and on a 1000-executor cluster that
    exchange is the network shuffle of both fact tables."""
    ensure_bucketed(spark, sf_dir)
    return _order_lines_agg(
        spark.table("bench_b_orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        spark.table("bench_b_lineitem").select(
            "l_orderkey", "l_extendedprice", "l_quantity"
        ),
    )


def join_shuffled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_bucketed's twin over the plain (unbucketed) mirror: the
    identical join body pays the full both-sides shuffle every run."""
    return _order_lines_agg(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_quantity"
        ),
    )


def _skew_join_sides(spark: SparkSession, sf_dir: str):
    """Shared frames of the hot-key join twin: lineitem as a fact whose
    foreign key is forced 75% onto ONE customer (the Zipf-head regime),
    customer as the dimension. The dim carries a merge hint pinning
    sort-merge on every non-broadcast path: at sf0.1 a 15k-row dim
    would auto-broadcast, which has no skew problem to solve -- the pin
    simulates the big-dim regime the operator exists for (a dimension
    too large to broadcast whole), while the split's explicit
    F.broadcast of the FEW hot rows still applies, exactly the
    operator's asymmetry at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 4 != 0, F.lit(7))
        .otherwise((F.col("l_orderkey") % 1500) + 1)
        .alias("c_custkey"),
        "l_extendedprice",
        "l_quantity",
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .hint("merge")
    )
    return li, cust


def _skew_join_agg(joined: DataFrame) -> DataFrame:
    return joined.groupBy("c_mktsegment").agg(
        F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias(
            "volume"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


def join_hot_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact-dim join, naive path: one sort-merge join where 75%
    of the fact rows hash to a single reducer partition (AQE's skew
    split stays ON, so this twin measures Spark's own best-effort
    chunking -- every hot row still crosses the wire into the chunks).
    Twin: join_hot_split."""
    li, cust = _skew_join_sides(spark, sf_dir)
    return _skew_join_agg(li.join(cust, "c_custkey"))


def join_hot_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join_hot_naive's twin through operators/joins.py:
    hot_key_split_join -- the hot slice (75% of the fact) joins
    map-side against a broadcast of the ONE hot dimension row and never
    shuffles; only the uniform cold remainder pays the sort-merge
    exchange. Wall-time honesty (the skew_distinct precedent): on one
    JVM the avoided shuffle is a memory copy while the split pays TWO
    pruned fact scans (rows_read records exactly 2x the naive twin's),
    so the local pair is a wash -- the scale figure is the plan
    (BroadcastHashJoin over the hot slice unioned with the shuffled
    cold join, pinned in tests/test_joins.py), where the avoided
    movement is 75% of the fact over the network."""
    from bigdata_storage_and_proccess_job_data_spark.operators import joins

    li, cust = _skew_join_sides(spark, sf_dir)
    return _skew_join_agg(
        joins.hot_key_split_join(li, cust, "c_custkey", [7])
    )
