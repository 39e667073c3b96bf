"""lake_mix: the analyst side -- reads and versioned-table writes over
the seeded lake, one client, closed loop.

Each pass runs every operation once, in a seed-permuted order, and
forces it by collecting its (small) result, which executes the whole
plan and lets every timed output be digested. Reads are checked against
their DuckDB oracle (registry.oracle_sql) at set-up; every timed
operation's row count and digest is checked against the untimed cold
pass.
"""

from __future__ import annotations

import functools
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import harness

# the registered headline queries and bench probes the mix runs
REGISTERED = ["pricing_summary", "segment_revenue", "skew_distinct_spread"]
PROBES = ["version_prune_orders",
          "version_bloom_lookup", "cow_delete_clustered",
          "cow_delete_fragmented"]
WRITES = {"cow_delete_clustered", "cow_delete_fragmented"}
TABLES = ("customer", "orders", "lineitem")
MIN_PASSES = 3  # a per-operation median needs three samples


def operations() -> dict:
    from bigdata_storage_and_proccess_job_data_spark.plans import (
        bench_probes,
        registry,
    )

    heads = registry.headline_queries()
    probes = bench_probes.bench_probes()
    ops = {name: heads[name].fn for name in REGISTERED}
    ops.update({name: probes[name] for name in PROBES})
    return ops


def _oracle_rows(sf: str, sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf}/{t}.parquet/*.parquet')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()
    finally:
        con.close()


class LayerProbes:
    """Spans and counters around the library calls the mix's operations
    make into catalog and sources.versioned. Installed for traced runs
    only, so the untraced run executes the library unwrapped."""

    def __init__(self, tracer: harness.Tracer):
        self.tr = tracer
        self.prune = [0, 0]        # files kept, files considered
        self.bloom = [0, 0]        # kept files holding the value, kept
        self.rewrite = [0, 0]      # rewritten files holding a deleted row, rewritten
        self.cow = [0, 0]          # files rewritten, files linked

    def install(self) -> None:
        from bigdata_storage_and_proccess_job_data_spark import catalog
        from bigdata_storage_and_proccess_job_data_spark.sources import versioned

        orig = catalog.load_table
        load = self._spanned("catalog.load", orig)
        for mod in list(sys.modules.values()):
            if getattr(mod, "load_table", None) is orig and \
                    mod.__name__.startswith("bigdata_storage"):
                mod.load_table = load
        self._prune_files = versioned.prune_files
        versioned.clone_table = self._spanned(
            "sources.versioned.clone", versioned.clone_table)
        versioned.delete_where = self._delete(versioned, versioned.delete_where)
        versioned.prune_files = self._prune(versioned.prune_files)
        versioned.prune_files_bloom = self._bloom(versioned.prune_files_bloom)

    def _spanned(self, name, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.tr.span(name):
                return fn(*a, **kw)
        return wrapper

    @staticmethod
    def _holds(path: str, col: str, lo, hi) -> bool:
        v = pq.read_table(path, columns=[col]).column(0).to_numpy()
        return bool(((v >= lo) & (v <= hi)).any())

    def _delete(self, versioned, fn):
        @functools.wraps(fn)
        def wrapper(spark, table_dir, col, lo=None, hi=None, **kw):
            snap = os.path.join(table_dir, f"v={versioned.current_version(table_dir)}")
            affected = self._prune_files(snap, col, lo, hi)
            useful = sum(self._holds(f, col, lo, hi) for f in affected)
            with self.tr.span("sources.versioned.delete"):
                rep = fn(spark, table_dir, col, lo, hi, **kw)
            self.rewrite[0] += useful
            self.rewrite[1] += rep["files_rewritten"]
            self.cow[0] += rep["files_rewritten"]
            self.cow[1] += rep["files_linked"]
            return rep
        return wrapper

    def _prune(self, fn):
        @functools.wraps(fn)
        def wrapper(snapshot_dir, col, lo, hi):
            kept = fn(snapshot_dir, col, lo, hi)
            n_all = len([f for f in os.listdir(snapshot_dir) if f.endswith(".parquet")])
            self.prune[0] += len(kept)
            self.prune[1] += n_all
            return kept
        return wrapper

    def _bloom(self, fn):
        @functools.wraps(fn)
        def wrapper(snapshot_dir, col, value):
            kept = fn(snapshot_dir, col, value)
            self.bloom[0] += sum(self._holds(f, col, value, value) for f in kept)
            self.bloom[1] += len(kept)
            return kept
        return wrapper

    def reset(self) -> dict:
        ratio = lambda p: p[0] / p[1] if p[1] else 0.0  # noqa: E731
        out = {
            "sources.versioned.prune_kept_ratio": ratio(self.prune),
            "sources.versioned.bloom_precision": ratio(self.bloom),
            "sources.versioned.rewrite_useful_ratio": ratio(self.rewrite),
            "sources.versioned.files_rewritten": self.cow[0],
            "sources.versioned.files_linked": self.cow[1],
        }
        self.prune, self.bloom, self.rewrite, self.cow = [0, 0], [0, 0], [0, 0], [0, 0]
        return out


def _prepare(run: harness.Run, n_orders: int) -> str:
    """Fresh seeded lake plus the prepared layout the probes read: the
    versioned orders table (a fragmented snapshot, then an OPTIMIZE
    commit; manifests on both)."""
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.plans import bench_probes
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    spark = run.spark
    sf = run.path("sf")
    gen.write_star(sf, run.seed, n_orders)
    # ensure_versioned_table fragments the table through ten MERGE
    # commits; one commit of key-interleaved files gives the same kind of
    # snapshot (every file spans the whole key range) in a tenth of the
    # set-up jobs. The probes find the table at their own path.
    dest = bench_probes._versioned_dir(sf)
    orders = load_table(spark, sf, "orders")
    versioned.commit_version(
        orders.repartition(8, F.col("o_orderkey") % 8), dest,
        stats_cols=["o_orderkey"])
    frag = os.path.join(dest, f"v={versioned.current_version(dest)}")
    versioned.write_bloom_manifest(spark, frag, ["o_orderkey"])
    # 7 files put the probes' ~1% delete band (at half the key range) well
    # inside one file, so the bytes a COW delete rewrites do not flip with
    # where the sampled range bounds fall
    versioned.optimize_table(spark, dest, cluster_by="o_orderkey",
                             target_files=7, stats_cols=["o_orderkey"])
    bench_probes.ensure_versioned_table(spark, sf)
    return sf


def _cold_pass(run: harness.Run, ops: dict, sf: str) -> dict:
    """Every operation once, untimed: first-call caches fill, reads are
    checked against their DuckDB oracle, and each result's row count and
    digest become the reference for the timed passes."""
    from bigdata_storage_and_proccess_job_data_spark.plans import registry

    oracle = registry.oracle_sql()
    ref = {}
    for name, fn in ops.items():
        run.attempted += 1
        df = fn(run.spark, sf)
        rows = df.collect()
        ref[name] = (len(rows), harness.digest(df.columns, rows))
        if name in oracle:
            cols, want = _oracle_rows(sf, oracle[name])
            ok = run.check(
                f"cold.{name}.oracle",
                sorted(cols) == sorted(df.columns)
                and harness.canon_rows(cols, want)
                == harness.canon_rows(df.columns, rows),
                f"spark {len(rows)} rows vs duckdb {len(want)} rows")
            run.failed += not ok
    return ref


def execute(run: harness.Run, seconds: float, tiny: bool, fault: bool) -> dict:
    n_orders = 800 if tiny else 6000
    ops = operations()
    tr = run.tracer
    traced_enabled = tr.enabled
    tr.enabled = False
    stats = harness.SparkStats(run.spark)

    t0 = time.perf_counter()
    sf = _prepare(run, n_orders)
    run.phase("setup")
    ref = _cold_pass(run, ops, sf)
    setup_s = time.perf_counter() - t0
    run.phase("cold_pass")

    probes = LayerProbes(tr)
    if traced_enabled:
        probes.install()
    if fault:
        # planted wrong answer: one read silently loses a row
        good = ops["pricing_summary"]
        ops["pricing_summary"] = lambda sp, d: good(sp, d).limit(ref["pricing_summary"][0] - 1)

    passes: list[dict] = []
    t_end = time.perf_counter() + seconds
    p = 0
    while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
        p += 1
        traced = traced_enabled and p % 2 == 0
        tr.enabled = traced
        order = list(ops)
        np.random.default_rng([run.seed, p]).shuffle(order)
        rec = {"traced": traced, "op_s": {}, "ops": {}}
        with stats.tagged(f"pass{p}"):
            for name in order:
                run.attempted += 1
                tag = f"pass{p}:{name}"
                try:
                    with stats.tagged(tag), tr.span("op", op=tag):
                        t0 = time.perf_counter()
                        with tr.span("plans.construct"):
                            df = ops[name](run.spark, sf)
                        if traced:
                            with tr.span("plans.plan"):
                                df._jdf.queryExecution().executedPlan()
                        with tr.span("plans.exec"):
                            rows = df.collect()
                        dt = time.perf_counter() - t0
                except Exception as exc:  # a failed operation counts, the pass goes on
                    run.failed += 1
                    run.check(f"pass{p}.{name}.error", False, repr(exc))
                    continue
                rec["op_s"][name] = dt
                want_n, want_digest = ref[name]
                got = (len(rows), harness.digest(df.columns, rows))
                if not run.check(f"pass{p}.{name}.digest", got == (want_n, want_digest),
                                 f"{got} != {(want_n, want_digest)}"):
                    run.failed += 1
                if traced:
                    op = harness.plan_counts(df)
                    op.update(stats.totals(tag))
                    op.update(probes.reset())
                    for span in ("plans.construct", "plans.plan", "plans.exec",
                                 "catalog.load", "sources.versioned.delete",
                                 "sources.versioned.clone"):
                        op[span] = tr.total(span, op=tag)
                    rec["ops"][name] = op
        rec["spark"] = stats.totals(f"pass{p}")
        passes.append(rec)
    tr.enabled = traced_enabled
    run.phase("measure")
    return summarize(passes, setup_s, ref, traced_enabled)


def _figures(ps: list[dict], ref: dict) -> dict:
    med = harness.median
    per_op = {n: med(x["op_s"][n] for x in ps if n in x["op_s"]) for n in ref}
    pass_s = sum(per_op.values())
    return {
        "latency": pass_s,
        "read": sum(v for n, v in per_op.items() if n not in WRITES),
        "write": sum(v for n, v in per_op.items() if n in WRITES),
        "mb": med(x["spark"]["output_mb"] for x in ps),
        "per_op": per_op,
    }


def summarize(passes, setup_s: float, ref, traced: bool) -> dict:
    med = harness.median
    untraced = [x for x in passes if not x["traced"]] or passes
    f = _figures(untraced, ref)
    n = len(untraced)
    out = {
        "setup_s": setup_s,
        "setup_n": 1,
        "e2e": {
            "latency_s": (f["latency"], n),
            "read_s": (f["read"], n),
            "write_s": (f["write"], n),
            "mb_written": (f["mb"], n),
        },
        "layers": {},
        "untraced": f,
    }
    tp = [x for x in passes if x["traced"]]
    if not traced or not tp:
        return out
    t = _figures(tp, ref)
    out["traced"] = t
    out["traced_units"] = len(tp)
    layers = harness.zero_layers()

    def per_pass(key):
        return med(sum(op[key] for op in x["ops"].values()) for x in tp)

    for key in harness.SPARK_KEYS:
        layers[f"spark.{key}"] = med(x["spark"][key] for x in tp)
    for name, v in t["per_op"].items():
        layers[f"plans.{name}_s"] = v
    layers.update({
        "plans.construct_s": per_pass("plans.construct"),
        "plans.plan_s": per_pass("plans.plan"),
        "plans.exec_s": per_pass("plans.exec"),
        "catalog.load_s": per_pass("catalog.load"),
        "catalog.rows_read": per_pass("rows_read"),
        "catalog.files_read": per_pass("files_read"),
        "operators.exchanges": per_pass("exchanges"),
        "operators.python_nodes": per_pass("python_nodes"),
        "operators.python_rows": per_pass("python_rows"),
        "sources.versioned.delete_s": per_pass("sources.versioned.delete"),
        "sources.versioned.clone_s": per_pass("sources.versioned.clone"),
        "sources.versioned.files_rewritten": per_pass("sources.versioned.files_rewritten"),
        "sources.versioned.files_linked": per_pass("sources.versioned.files_linked"),
    })
    for key in ("prune_kept_ratio", "bloom_precision", "rewrite_useful_ratio"):
        vals = [op[f"sources.versioned.{key}"] for x in tp for op in x["ops"].values()
                if op[f"sources.versioned.{key}"]]
        layers[f"sources.versioned.{key}"] = med(vals)
    out["layers"] = layers
    out["detail"] = {
        name: {k: med(x["ops"][name][k] for x in tp if name in x["ops"])
               for k in next(x["ops"][name] for x in tp if name in x["ops"])}
        for name in ref if any(name in x["ops"] for x in tp)
    }
    return out
