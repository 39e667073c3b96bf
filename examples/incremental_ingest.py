"""End-to-end INCREMENTAL ingest demo: how a corpus grows day over day
without ever reprocessing what is already accepted.

Day 0 bootstraps the corpus; every later day runs the same loop:

  1. a new raw batch arrives (here: a slice of the driver fixtures)
  2. data-quality counters ride the batch's own materialization
     (observe_expectations -- zero extra scans)
  3. the batch probes the STORED MinHash-LSH index for near-dups
     against the accepted corpus (incremental_dedup_pairs -- only the
     batch is signed; only candidate corpus docs are re-tokenized)
  4. duplicate rows are dropped; survivors MERGE into the versioned
     corpus table (apply_changes -- snapshot-isolated, readers of the
     old version are never torn)
  5. the survivors' index rows APPEND to the stored index so the next
     batch sees them
  6. downstream consumers read diff_versions(prev, new) -- the change
     feed -- instead of re-reading the whole corpus
  7. per-day summary sketches (HLL distinct sources, DDSketch doc-length
     quantiles) append to a metrics table; any trailing window's
     distinct count / p95 comes from merging KB-sized sketches, never
     from rescanning accepted days
  8. point reads use BOTH manifest layers: zone pruning for the
     clustered doc_id band, bloom pruning (write_bloom_manifest /
     prune_eq) for unsorted columns zones can't exclude

At 100 TB this loop touches |batch| + |candidate slice| per day; the
full corpus is only ever read by the day-0 bootstrap.

Run:  python examples/incremental_ingest.py   (reads sf0.001, ~60 s)
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table  # noqa: E402
from bigdata_storage_and_proccess_job_data_spark.operators import (  # noqa: E402
    aggregates,
    neardup,
)
from bigdata_storage_and_proccess_job_data_spark.session import get_spark  # noqa: E402
from bigdata_storage_and_proccess_job_data_spark.sources import versioned  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
LSH = dict(ngram=2, num_hashes=64, bands=16, seed=42)


def _checks():
    # built lazily: string-arg functions like F.length resolve the
    # active SparkContext at construction time
    return {
        "has_text": F.length("text") > 0,
        "has_source": F.col("source").isNotNull(),
    }


def ingest_batch(spark, batch, table_dir, index_dir):
    """One day's loop: observe -> dedup vs index -> merge -> index append.
    Returns (accepted_count, duplicate_count, new_version)."""
    observed, obs = aggregates.observe_expectations(batch, _checks())
    observed = observed.persist()
    observed.write.format("noop").mode("overwrite").save()  # the "write"
    corpus = versioned.read_version(spark, table_dir)
    index = spark.read.parquet(index_dir)

    dups = neardup.incremental_dedup_pairs(
        observed, corpus, index, "doc_id", "text", threshold=0.9, **LSH
    )
    # within-batch near-dups are NOT covered by the index probe (two
    # near-copies arriving the same day would otherwise BOTH enter the
    # corpus forever): run the ordinary batch dedup on the (small)
    # batch and drop each pair's later id. The full-pipeline demo
    # (corpus_pipeline.py) shows the connected-components variant for
    # transitive clusters.
    # materialize=True (and incremental_dedup_pairs' default): each
    # day's call releases its internal shingle/signature caches before
    # returning, so this loop accumulates nothing session-wide
    within = neardup.minhash_dedup_pairs(
        observed, "doc_id", "text", threshold=0.9, materialize=True, **LSH
    )
    dup_ids = (
        dups.select(F.col("id_a").alias("doc_id"))
        .unionByName(within.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .persist()
    )
    accepted = observed.join(dup_ids, "doc_id", "left_anti").persist()
    # MATERIALIZE the dedup verdict BEFORE appending anything: the dup
    # frame's lineage reads the index parquet lazily, so an action run
    # after the append below would re-list the directory and see this
    # very batch's own index rows -- within-batch pairs would suddenly
    # count as corpus dups (observed live: 18 vs 12 dups for the same
    # batch). Caching + counting here pins one consistent evaluation.
    n_acc, n_dup = accepted.count(), dup_ids.count()

    v = versioned.apply_changes(
        spark,
        table_dir,
        accepted.withColumn("_op", F.lit("upsert")),
        key="doc_id",
        stats_cols=["doc_id"],  # every snapshot carries its file-stats manifest
    )
    # NOT atomic with the table commit above: a crash between the two
    # leaves the corpus ahead of the index, and future probes would
    # silently miss this batch's docs. The production recovery is
    # cheap BECAUSE of the change feed: on restart, rebuild index rows
    # for diff_versions(index_high_water_version, current) inserts --
    # or commit the index as a versioned table in the same job step so
    # both snapshots advance together.
    neardup.minhash_index(accepted, "doc_id", "text", **LSH).write.mode(
        "append"
    ).parquet(index_dir)
    # per-day summary sketches: tiny mergeable artifacts (HLL + DD bins)
    from bigdata_storage_and_proccess_job_data_spark.functions import text as text_fn
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates as agg

    day_stats = accepted.withColumn(
        "n_tokens", text_fn.token_count("text").cast("double")
    )
    agg.hll_sketch(day_stats, "source").write.mode("append").parquet(
        f"{index_dir}_hll"
    )
    agg.dd_sketch(day_stats, "n_tokens").write.mode("append").parquet(
        f"{index_dir}_dd"
    )
    observed.unpersist()
    accepted.unpersist()
    dup_ids.unpersist()
    print(
        f"  batch: {obs.get['n_rows']} rows, dq={obs.get}, "
        f"dups dropped={n_dup}, accepted={n_acc}, version v{v}"
    )
    return n_acc, n_dup, v


def main() -> None:
    spark = get_spark(app_name="incremental-ingest-demo")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    tmp = Path(tempfile.mkdtemp(prefix="ingest_"))
    table_dir, index_dir = str(tmp / "corpus"), str(tmp / "index")

    # ---- day 0: bootstrap (the only full-corpus pass there will ever be)
    day0 = docs.filter(F.col("doc_id") % 3 == 0)
    # range-cluster on doc_id so per-file stats carry disjoint ranges
    # worth pruning (the manifest is only as good as the layout)
    v0 = versioned.commit_version(
        day0.repartitionByRange(4, "doc_id"), table_dir,
        stats_cols=["doc_id"],
    )
    neardup.minhash_index(day0, "doc_id", "text", **LSH).write.parquet(index_dir)
    print(f"day 0: bootstrapped v{v0} with {day0.count()} docs")

    # ---- day 1 and day 2: the incremental loop
    prev = v0
    for day, m in ((1, 1), (2, 2)):
        batch = docs.filter(F.col("doc_id") % 3 == m)
        print(f"day {day}:")
        _, _, v = ingest_batch(spark, batch, table_dir, index_dir)
        feed = versioned.diff_versions(spark, table_dir, prev, v, "doc_id")
        by_type = {
            r.change_type: r.n
            for r in feed.groupBy("change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        print(f"  change feed v{prev}->v{v}: {by_type}")
        prev = v

    total = versioned.read_version(spark, table_dir).count()
    print(f"final corpus: {total} docs across {len(versioned.versions(table_dir))} versions")

    # manifest-based point read: the stats written at each commit let a
    # doc-range lookup exclude files from METADATA alone
    import os

    snap = f"{table_dir}/v={versioned.current_version(table_dir)}"
    pruned = versioned.prune_files(snap, "doc_id", 0, 49)
    n_files = len([f for f in os.listdir(snap) if f.endswith(".parquet")])
    hit = versioned.read_version(
        spark, table_dir, prune=("doc_id", 0, 49)
    ).count()
    print(
        f"pruned read doc_id<=49: {hit} docs from "
        f"{len(pruned)}/{n_files} files"
    )

    # bloom-manifest point lookup on the SAME pre-compaction snapshot:
    # day 1/2's MERGE files each span nearly the whole doc_id range
    # (the % 3 interleave), so a zone probe for one mid-range id keeps
    # every merge-era file -- the bloom's absence proofs keep only the
    # file(s) actually holding it
    versioned.write_bloom_manifest(spark, snap, ["doc_id"])
    probe_id = 151  # a day-1 doc (151 % 3 == 1), mid-range
    zkept = versioned.prune_files(snap, "doc_id", probe_id, probe_id)
    bkept = versioned.prune_files_bloom(snap, "doc_id", probe_id)
    bhit = versioned.read_version(
        spark, table_dir, prune_eq=("doc_id", probe_id)
    ).count()
    print(
        f"bloom point read doc_id={probe_id}: {bhit} doc from "
        f"{len(bkept)}/{n_files} files (zones alone keep {len(zkept)})"
    )

    # incremental maintenance: daily MERGE commits leave small trailing
    # files; bin-pack ONLY those (right-sized files hard-link into the
    # new snapshot -- O(small files) I/O, not a full rewrite), stats
    # manifest refreshed and bloom spliced in the same commit so both
    # prunings keep working
    vc = versioned.compact_small_files(
        spark, table_dir, small_bytes=512 * 1024, stats_cols=["doc_id"]
    )
    csnap = f"{table_dir}/v={vc}"
    n_post = len([f for f in os.listdir(csnap) if f.endswith(".parquet")])
    print(f"compacted small files: {n_files} -> {n_post} files at v{vc}")

    # trailing-window metrics from the stored sketches alone
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates as agg

    n_sources = agg.hll_estimate(
        agg.hll_merge(spark.read.parquet(f"{index_dir}_hll"))
    ).first().distinct_estimate
    p95_tokens = agg.dd_quantile(
        agg.dd_merge(spark.read.parquet(f"{index_dir}_dd")), 0.95
    ).first().quantile_estimate
    print(
        f"sketch metrics over all ingested days: ~{n_sources} distinct "
        f"sources, p95 doc length ~{p95_tokens:.0f} tokens"
    )
    spark.stop()


if __name__ == "__main__":
    main()
