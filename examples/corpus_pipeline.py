"""End-to-end training-corpus prep demo: the operators/corpus.py +
dedup/similarity suite composed the way a data-engineering team would run
it nightly over a raw document lake:

  1. load raw documents (the driver parquet stands in for the lake)
  2. scrub PII (redact emails/phones, keep removal counts)
     ... then strip cross-document boilerplate LINES (line_dedup), so
     docs differing only in chrome collapse as exact duplicates next
  3. drop exact duplicates (normalized-content hash, min-id keeper)
  4. drop near-duplicates (MinHash-LSH candidates + exact Jaccard
     verify -> connected components -> keep each cluster's min id)
  5. decontaminate against a benchmark split (5-gram shingle overlap)
  6. quality/language filter (C4-style chain)
  7. rebalance the source mixture: availability -> temperature-smoothed
     weights (n^0.5) -> token-budgeted rates, one scan, shortfalls
     reported (deterministic md5 buckets)
  8. audit duplicated substrings (8-gram spans shared across docs)
  9. chunk into 64-token windows with 16-token overlap
 10. pack the surviving docs into 512-token training streams per source
 11. land the chunks z-ordered by (source bucket, length) for skipping
 12. build the PQ retrieval index over the embeddings and serve an ANN
     query batch from the stored codes (ADC), then rerank the
     candidates against the SQ8 int8 store -- coarse index for recall,
     compressed store for precision, raw vectors never read at query
     time

Run:  python examples/corpus_pipeline.py   (reads sf0.001, ~60 s)
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table  # noqa: E402
from bigdata_storage_and_proccess_job_data_spark.functions import text  # noqa: E402
from bigdata_storage_and_proccess_job_data_spark.operators import (  # noqa: E402
    corpus,
    neardup,
)
from bigdata_storage_and_proccess_job_data_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark(app_name="corpus-pipeline-demo")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = tempfile.mkdtemp(prefix="corpus_demo_")

    docs = load_table(spark, SF_DIR, "documents")
    n0 = docs.count()

    # 2. PII scrub (text fixture has none -- counts prove it)
    scrubbed = corpus.scrub_pii(docs, "doc_id", "text")
    pii = scrubbed.agg(
        F.sum("n_emails").alias("e"), F.sum("n_phones").alias("p")
    ).first()
    docs = docs.join(
        scrubbed.select("doc_id", "clean_text"), "doc_id"
    ).select("doc_id", F.col("clean_text").alias("text"), "lang", "source")

    # 2.5 boilerplate strip: lines shared across documents (nav bars,
    # footers) go BEFORE dedup, so two docs differing only in chrome
    # become exact duplicates and collapse in step 3
    stripped = corpus.line_dedup(docs, max_docs=2)
    n_boiler = stripped.agg(F.sum("n_removed")).first()[0]
    docs = docs.select("doc_id", "lang", "source").join(
        stripped.select("doc_id", "text"), "doc_id"
    )

    # 3. exact dedup: keep the min doc_id per normalized content
    from pyspark.sql import Window

    keeper = F.min("doc_id").over(
        Window.partitionBy(F.md5(F.lower(F.trim(F.col("text")))))
    )
    docs = docs.withColumn("_keep", keeper).filter(
        F.col("doc_id") == F.col("_keep")
    ).drop("_keep")
    n_exact = docs.count()

    # 4. near-dup dedup: verified pairs -> components -> keep cluster min
    pairs = neardup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16
    )
    clusters = neardup.connected_components(pairs)
    losers = clusters.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    docs = docs.join(losers, "doc_id", "left_anti")
    n_near = docs.count()

    # 5. decontaminate vs a benchmark split (doc_id % 20 == 0 stands in)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    contaminated = (
        corpus.contamination_pairs(
            train, bench, "doc_id", "text"
        )
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    docs = train.join(contaminated, "doc_id", "left_anti")
    n_decon = docs.count()

    # 6. quality + language filter, then the CCNet-style LM gate: fit a
    # unigram surprisal model on the surviving reference slice and drop
    # the worst decile (gibberish / wrong-register text the heuristic
    # quality score misses); the (token, logp) frame is the stored model
    docs = docs.withColumn("quality", text.quality_score("text")).filter(
        (F.col("quality") >= 0.5) & (text.lang_id("text") == "en")
    )
    lm = corpus.unigram_logprob_table(docs, vocab_size=5000)
    # localCheckpoint: every later funnel stage (the decile cut, the NB
    # classifier's pos/neg splits, the kept-doc frame) re-derives
    # `scored`, and without cutting lineage HERE each would re-run the
    # whole steps-1..6 funnel plus the LM fit + join -- the resulting
    # plan trees are what blow the driver heap, not the data
    scored = docs.join(
        corpus.unigram_surprisal(docs, lm).select("doc_id", "surprisal"),
        "doc_id",
    ).localCheckpoint(eager=True)
    cut = scored.agg(
        F.percentile_approx("surprisal", 0.9).alias("p90")
    ).first().p90
    docs = scored.filter(F.col("surprisal") <= cut).drop("surprisal")
    n_clean = docs.count()

    # 6b. classifier gate (fastText shape): fit binary NB token
    # log-odds with the LM gate's own verdicts as labels -- the
    # surviving docs as positives, the dropped worst-decile as
    # negatives -- and keep docs the classifier agrees look
    # reference-like. In production the positive set is a curated
    # corpus (wiki/books) and the model a stored (token, odds) artifact
    nb = corpus.nb_token_odds_table(
        scored.filter(F.col("surprisal") <= cut),
        scored.filter(F.col("surprisal") > cut),
        vocab_size=5000,
    )
    docs = (
        docs.join(
            corpus.nb_log_odds(docs, nb).select("doc_id", "log_odds"),
            "doc_id",
        )
        .filter(F.col("log_odds") > -1.0)
        .drop("log_odds")
    )

    # 6c. DSIR importance weights (hashed-bigram multinomial ratio of a
    # TARGET slice vs the full pool): report how far the pool sits from
    # the target distribution; weighted_take_k(exp(w)) would resample
    # toward it (plan_mixture below balances by SOURCE instead)
    top_src = (
        docs.groupBy("source")
        .count()
        .orderBy(F.col("count").desc(), F.col("source").asc())
        .first()
    )
    if top_src is not None:
        # stand-in curated slice: the largest surviving source
        tgt = docs.filter(F.col("source") == top_src.source)
        dsir = corpus.dsir_logratio_table(tgt, docs, buckets=4096)
        wts = corpus.dsir_log_weights(docs, dsir, buckets=4096)
        spread = wts.agg(
            F.min("log_weight").alias("lo"), F.max("log_weight").alias("hi")
        ).first()
        print(f"dsir log-weight spread: [{spread.lo:.2f}, {spread.hi:.2f}]")
    n_gated = docs.count()
    print(f"classifier gate kept {n_gated}/{n_clean}")

    # 7. mixture rebalance: availability -> temperature-smoothed weights
    # (n^0.5 upsamples tail sources) -> token-budgeted per-source rates,
    # all off ONE availability scan
    avail = corpus.source_availability(docs, "source", "text")
    weights = corpus.temperature_weights(avail, alpha=0.5)
    budget = int(sum(avail.values()) * 0.6)
    docs, mix_report = corpus.plan_mixture(
        docs, "doc_id", "source", "text", weights, budget,
        salt="demo", availability=avail,
    )
    n_mix = docs.count()
    short = {
        s: r["shortfall_tokens"]
        for s, r in mix_report.items()
        if r["shortfall_tokens"] > 0
    }

    # 7b. leakage-safe train/val/test split BEFORE chunking: all chunks
    # of one source inherit one split, so near-identical chunks of one
    # origin can never straddle the train/eval boundary
    docs = corpus.leakage_safe_split(
        docs, "source", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="demo"
    )
    split_sizes = {
        r.split: r.n
        for r in docs.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    straddlers = (
        docs.groupBy("source")
        .agg(F.count_distinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )

    # 8. duplicated-substring audit: verbatim 8-gram spans shared across
    # surviving docs (post-dedup this should be small; a spike means the
    # near-dup thresholds are too loose)
    n_spans = corpus.duplicate_ngram_spans(
        docs, "doc_id", "text", n=8, min_docs=2
    ).count()

    # 9. chunk for the context window
    chunks = corpus.chunk_documents(
        docs, "doc_id", "text", chunk_tokens=64, overlap=16
    )

    # 10. pack docs into 512-token training streams, one stream per
    # source slice (parallel packing, no global order)
    packed = corpus.pack_sequences(
        docs, "doc_id", "text", 512, partition_col="source"
    )
    n_seqs = packed.select("source", "seq_id").distinct().count()

    # 10b. epoch order + denoising targets: position every doc under
    # the md5(id, epoch-salt) permutation (a new epoch is a new salt)
    # and emit MLM-masked input/target pairs -- the last mile before
    # the data loader
    shuffled = corpus.epoch_shuffle(docs, "doc_id", "epoch0")
    masked = corpus.mask_tokens(docs, "doc_id", "text", rate=0.15)
    mask_frac = masked.agg(
        (F.sum("n_masked") / F.sum("n_tokens")).alias("f")
    ).first()["f"]
    n_pos = shuffled.select("shuffle_pos").distinct().count()

    # 10c. curriculum schedule + sharded materialization: stage docs
    # easy->hard by token count (stage = difficulty quantile), shuffle
    # within stages, then land ordered size-bounded shards the loader
    # streams sequentially -- manifest read back from disk
    from bigdata_storage_and_proccess_job_data_spark.sources import lake

    staged = corpus.curriculum_order(
        docs.withColumn(
            "difficulty", text.token_count(F.col("text")).cast("double")
        ),
        "doc_id",
        "difficulty",
        salt="curr0",
        n_stages=4,
    )
    manifest = lake.write_training_shards(
        spark, staged, f"{out_dir}/shards", "curriculum_pos", shard_rows=64
    )
    n_shards = manifest.count()

    # 10d. tokenizer health: a unigram-LM piece vocabulary next to the
    # BPE merges, and the word-level OOV gate against the corpus's own
    # frequent words
    from bigdata_storage_and_proccess_job_data_spark.operators import (
        unigram_lm,
    )

    uni_vocab = unigram_lm.unigram_fit(
        docs.limit(60), "text", vocab_size=64, seed_size=256,
        max_piece_len=4,
    )
    n_pieces = len(uni_vocab)
    freq_words = (
        docs.select(F.explode(text.tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word").count().filter(F.col("count") >= 10).select("word")
    )
    oov = corpus.vocab_coverage(docs, freq_words).agg(
        F.avg("oov_rate").alias("r")
    ).first()["r"]

    # 10e. fluency scoring under interpolated Kneser-Ney (the KenLM-
    # lineage smoothing): fit on the surviving corpus, score it
    kn_bi, kn_ctx, kn_cont, kn_d = corpus.kn_bigram_tables(docs)
    kn_mean = (
        corpus.kn_surprisal(docs, kn_bi, kn_ctx, kn_cont, kn_d)
        .agg(F.avg("surprisal").alias("s"))
        .first()["s"]
    )

    # 11. land z-ordered by (doc, chunk length) for two-dim skipping
    from bigdata_storage_and_proccess_job_data_spark.functions import zorder

    zorder.write_zordered(
        chunks, f"{out_dir}/chunks", ["doc_id", "n_tokens"], n_files=4
    )
    n_chunks = spark.read.parquet(f"{out_dir}/chunks").count()

    # 12. retrieval index over the embeddings table: PQ-encode once (the
    # stored index is m ints per vector, 64x smaller than the vectors),
    # then serve an ANN query batch from the stored codes via ADC
    from bigdata_storage_and_proccess_job_data_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    books = similarity.train_pq(emb, m=8, n_codes=32, sample_size=1024)
    similarity.encode_pq(emb, books).write.parquet(f"{out_dir}/pq_index")
    index = spark.read.parquet(f"{out_dir}/pq_index")
    hits = similarity.pq_topk_from_codes(
        emb.filter(F.col("vec_id") < 5), index, books, k=10
    )
    n_hits = hits.count()

    # 12a. the rerank tier between PQ codes and raw vectors: SQ8 stores
    # the normalized vector at 8 bits/component (~4-8x smaller scans,
    # no fit pass, no model artifact) -- candidates come from the
    # coarse PQ index, precision from the compressed store, and the
    # raw vector column is never read at query time
    sq8_store = similarity.sq8_encode(emb)
    sq8_store.write.parquet(f"{out_dir}/sq8_index")
    cand_ids = hits.select("neighbor_id").distinct()
    rerank_pool = spark.read.parquet(f"{out_dir}/sq8_index").join(
        cand_ids, "neighbor_id", "left_semi"
    )
    n_rerank = similarity.sq8_topk(
        emb.filter(F.col("vec_id") < 5), rerank_pool
    ).count()

    # 12b. compress vectors BEFORE they index or shuffle: exact
    # one-pass PCA (Gram-moment pass + driver eigh) reports how much
    # variance 16 of 64 dims keep, and the deterministic JL sign
    # projection compresses 4x while roughly preserving squared norms
    # (Achlioptas) -- at corpus scale this shrinks every downstream
    # byte (LSH/IVF/PQ indexes, dedup shuffles) by d/q
    from bigdata_storage_and_proccess_job_data_spark.operators import reduction

    spectrum = reduction.pca_fit(emb, "embedding", 64)
    ev16 = sum(spectrum["eigvals"][:16]) / sum(spectrum["eigvals"])
    model16 = {
        "mean": spectrum["mean"],
        "components": spectrum["components"][:16],
        "eigvals": spectrum["eigvals"][:16],
        "n": spectrum["n"],
    }
    white = reduction.pca_apply(emb, "embedding", model16, whiten=True)
    jl = reduction.jl_project(emb, "embedding", 64, 16, salt="demo")
    from bigdata_storage_and_proccess_job_data_spark.functions import vectors

    sq = lambda c: F.aggregate(  # noqa: E731
        vectors.as_double(c), F.lit(0.0), lambda a, v: a + v * v
    )
    jl_err = (
        jl.select(
            F.avg(
                F.abs(sq("proj") - sq("embedding")) / sq("embedding")
            ).alias("e")
        )
        .first()
        .e
    )
    n_white = white.count()

    # 13. diversify the retrieval: MMR re-rank of each query's top-10 to
    # 3 (penalizing similarity to already-selected hits), so a
    # retrieval-built set doesn't fill with near-copies of the best hit
    from bigdata_storage_and_proccess_job_data_spark.operators import ranking

    cand = hits.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "neighbor_id",
    )
    n_div = ranking.mmr_rerank(cand, k=3, lam=0.6).count()

    # 12. contrastive pair mining for a bi-encoder: each query anchor's
    # ANN hits play the positives; uniform negatives come from the md5
    # coin (reproducible across reruns -- the training set is stable),
    # hard negatives are the most-similar NON-positives (the lookalikes
    # the encoder must learn to separate)
    from bigdata_storage_and_proccess_job_data_spark.operators import corpus as corpus_ops

    pos_pairs = hits.select(
        F.col("query_id").alias("anchor_id"),
        F.col("neighbor_id").alias("positive_id"),
    )
    n_uniform = corpus_ops.negative_samples(
        pos_pairs, emb.select(F.col("vec_id").alias("item_id")), k=4,
        salt="demo",
    ).count()
    n_hard = similarity.hard_negatives(
        emb.filter(F.col("vec_id") < 5), emb, pos_pairs, k=4
    ).count()

    # 13. tokenizer: train BPE merges on the clean corpus (one
    # corpus-sized pass + a distributed merge loop over distinct
    # words), then encode with the learned artifact
    from bigdata_storage_and_proccess_job_data_spark.operators import bpe

    merges = bpe.bpe_train(docs, n_merges=10)
    n_bpe_tokens = (
        bpe.bpe_encode(docs.limit(50), merges)
        .select(F.sum(F.size("bpe_tokens")).alias("n"))
        .first()
        .n
    )

    print(
        f"raw={n0} pii(emails={pii.e},phones={pii.p}) "
        f"boiler_lines={n_boiler} exact_dedup={n_exact} "
        f"near_dedup={n_near} decontaminated={n_decon} clean={n_clean} "
        f"mixed={n_mix} (shortfalls={short or 'none'}) "
        f"splits={split_sizes} straddling_groups={straddlers} "
        f"dup_spans={n_spans} "
        f"chunks={n_chunks} seqs={n_seqs} "
        f"epoch_positions={n_pos} mask_frac={mask_frac:.3f} "
        f"shards={n_shards} uni_pieces={n_pieces} "
        f"oov_rate={oov:.3f} kn_D={kn_d:.3f} kn_surprisal={kn_mean:.2f} "
        f"ann_hits={n_hits} sq8_reranked={n_rerank} "
        f"mmr_kept={n_div} uniform_negs={n_uniform} "
        f"hard_negs={n_hard} bpe_merges={len(merges)} "
        f"bpe_tokens_50docs={n_bpe_tokens} "
        f"pca16_var={ev16:.2f} jl16_norm_err={jl_err:.2f} "
        f"whitened={n_white} -> {out_dir}/chunks"
    )
    assert n0 >= n_exact >= n_near >= n_decon >= n_clean >= n_mix > 0
    assert straddlers == 0
    assert n_chunks >= n_mix
    assert n_seqs > 0
    assert n_pos == n_mix  # a permutation: one distinct pos per doc
    assert 0.1 < mask_frac < 0.2
    assert n_shards == -(-n_mix // 64)  # ceil: every position landed
    assert n_pieces > 0 and 0.0 <= oov < 0.5 and 0 < kn_d < 1
    assert kn_mean > 0
    assert n_hits == 5 * 10
    assert n_div == 5 * 3
    assert n_uniform == 5 * 4
    assert n_hard == 5 * 4
    assert len(merges) == 10 and n_bpe_tokens > 0
    assert 0.1 < ev16 <= 1.0 and n_white == emb.count()
    assert jl_err < 0.5  # JL at q=16: coarse but norm-preserving


if __name__ == "__main__":
    main()
