"""Corpus-prep operators: chunking geometry, PII scrubbing, contamination
pairs, deterministic sampling. (Engine-vs-DuckDB value parity for the
registry queries is covered by test_oracle_parity.py; these pin the
operator-level semantics and edge cases.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.operators import corpus


def test_chunk_documents_geometry(spark):
    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [(1, words), (2, "a b"), (3, ""), (4, "solo")],
        "doc_id LONG, text STRING",
    )
    out = corpus.chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=1)
    rows = {(r.doc_id, r.chunk_index): (r.n_tokens, r.chunk_text) for r in out.collect()}

    # doc 1: stride 3 -> ceil((10-1)/3) = 3 chunks: [1..4], [4..7], [7..10]
    assert rows[(1, 0)] == (4, "w0 w1 w2 w3")
    assert rows[(1, 1)] == (4, "w3 w4 w5 w6")
    assert rows[(1, 2)] == (4, "w6 w7 w8 w9")
    # overlap: chunk i's last token == chunk i+1's first token
    assert rows[(1, 0)][1].split()[-1] == rows[(1, 1)][1].split()[0]
    # short doc -> one (short) chunk; empty doc -> one empty chunk
    assert rows[(2, 0)] == (2, "a b")
    assert rows[(3, 0)] == (0, "")
    assert rows[(4, 0)] == (1, "solo")
    assert len(rows) == 6

    with pytest.raises(ValueError, match="overlap"):
        corpus.chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_scrub_pii_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@corp.example.com or call +1 (555) 123-4567 now"),
            (2, "no pii here"),
            (3, "two mails: a@b.io and c@d.org"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in corpus.scrub_pii(df, "doc_id", "text").collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1
    assert "<EMAIL>" in out[1].clean_text and "<PHONE>" in out[1].clean_text
    assert "corp.example.com" not in out[1].clean_text
    assert "555" not in out[1].clean_text
    assert out[2].n_emails == 0 and out[2].clean_text == "no pii here"
    assert out[3].n_emails == 2 and out[3].clean_text == "two mails: <EMAIL> and <EMAIL>"


def test_contamination_pairs_finds_planted_overlap(spark):
    shared = "the quick brown fox jumps over the lazy dog tonight"
    train = spark.createDataFrame(
        [
            (1, f"intro words {shared} trailing text"),
            (2, "completely unrelated content about databases and joins"),
        ],
        "doc_id LONG, text STRING",
    )
    bench = spark.createDataFrame(
        [(100, f"benchmark prompt: {shared}")], "doc_id LONG, text STRING"
    )
    out = corpus.contamination_pairs(
        train, bench, "doc_id", "text"
    ).collect()
    assert {(r.train_id, r.bench_id) for r in out} == {(1, 100)}
    assert out[0].n_shared >= 3  # the shared sentence yields 6 5-grams


def test_mixture_sample_rates_and_reproducibility(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(2000)],
        "id LONG, src STRING",
    )
    out = corpus.mixture_sample(df, "id", "src", {"a": 100, "b": 10}, 50, "s")
    got = out.groupBy("src").count().collect()
    by_src = {r.src: r["count"] for r in got}
    assert by_src["a"] == 1000, "rate 100 keeps every row"
    assert 60 <= by_src["b"] <= 140, f"rate 10 way off: {by_src['b']}"
    again = corpus.mixture_sample(df, "id", "src", {"a": 100, "b": 10}, 50, "s")
    assert sorted(r.id for r in out.collect()) == sorted(
        r.id for r in again.collect()
    )
    import pytest

    with pytest.raises(ValueError):
        corpus.mixture_sample(df, "id", "src", {"a": 200}, 50)


def test_token_repetition_signals(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words here are different")],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in corpus.token_repetition(df, "doc_id", "text").collect()}
    assert out[1].n_tokens == 4 and out[1].n_distinct == 1
    assert out[1].distinct_ratio == 0.25 and out[1].top_token_share == 1.0
    assert out[2].n_distinct == 5 and out[2].top_token_share == 0.2


def test_chunk_documents_properties(spark):
    """Property pins over random geometries: (1) concatenating chunks
    with the overlap removed reconstructs the document exactly, (2) every
    chunk except possibly the last has exactly chunk_tokens tokens, (3)
    consecutive chunks share exactly `overlap` tokens."""
    import random

    rng = random.Random(11)
    rows = [
        (i, " ".join(f"t{i}_{j}" for j in range(rng.randint(0, 40))))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    for chunk_tokens, overlap in [(8, 3), (5, 0), (16, 15)]:
        stride = chunk_tokens - overlap
        out = corpus.chunk_documents(
            df, "doc_id", "text", chunk_tokens=chunk_tokens, overlap=overlap
        ).collect()
        by_doc: dict[int, list] = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        for doc_id, text_ in rows:
            toks = text_.split()
            chunks = sorted(by_doc[doc_id], key=lambda r: r.chunk_index)
            # (2): full chunks everywhere but the tail
            for r in chunks[:-1]:
                assert r.n_tokens == chunk_tokens, (doc_id, r)
            # (3): consecutive overlap is exactly `overlap` tokens
            for a, b in zip(chunks, chunks[1:]):
                a_toks = a.chunk_text.split()
                b_toks = b.chunk_text.split()
                assert a_toks[stride:] == b_toks[: len(a_toks) - stride]
            # (1): de-overlapped concatenation reconstructs the doc
            rebuilt = []
            for i, r in enumerate(chunks):
                ts = r.chunk_text.split()
                rebuilt.extend(ts if i == 0 else ts[overlap:])
            assert rebuilt == toks, (doc_id, chunk_tokens, overlap)


def test_duplicate_ngram_spans_planted(spark):
    shared = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [
            (1, f"intro {shared} outro one"),
            (2, f"{shared} tail words here"),
            (3, "completely different text entirely"),
            (4, "tiny"),
        ],
        "doc_id LONG, text STRING",
    )
    out = corpus.duplicate_ngram_spans(df, "doc_id", "text", n=4, min_docs=2)
    rows = {(r.doc_id, r.pos): r.gram for r in out.collect()}
    # the shared 4-gram is found at its position in both docs, nowhere else
    assert rows == {(1, 1): shared, (2, 0): shared}


def test_duplicate_ngram_spans_min_docs_threshold(spark):
    t = "a b c d"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, t)], "doc_id LONG, text STRING"
    )
    assert corpus.duplicate_ngram_spans(df, "doc_id", "text", n=4, min_docs=4).count() == 0
    assert corpus.duplicate_ngram_spans(df, "doc_id", "text", n=4, min_docs=3).count() == 3
    # intra-doc repetition alone does not cross the distinct-doc bar
    solo = spark.createDataFrame([(1, f"{t} {t}")], "doc_id LONG, text STRING")
    assert corpus.duplicate_ngram_spans(solo, "doc_id", "text", n=4, min_docs=2).count() == 0


def test_pack_sequences_invariants(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, "s%d" % (i % 3), " ".join("w" for _ in range(rng.randint(1, 40))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    cap = 64
    out = corpus.pack_sequences(df, "doc_id", "text", cap, partition_col="source").collect()
    by_src: dict = {}
    for r in sorted(out, key=lambda r: (r.source, r.doc_id)):
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        run = 0
        for r in rs:
            # offset is the exclusive prefix sum, seq_id derives from it
            assert r.offset_tokens == run
            assert r.seq_id == run // cap
            run += r.n_tokens
        # seq ids are nondecreasing and start at 0
        assert rs[0].seq_id == 0
    # every doc appears exactly once
    assert len(out) == 60

    with pytest.raises(ValueError, match="capacity"):
        corpus.pack_sequences(df, "doc_id", "text", 0, partition_col="source")


def test_stratified_take_k_exact_and_deterministic(spark):
    rows = [(i, f"g{i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id LONG, grp STRING")
    a = corpus.stratified_take_k(df, "doc_id", "grp", k=4, salt="s")
    b = corpus.stratified_take_k(df, "doc_id", "grp", k=4, salt="s")
    got_a = sorted((r.grp, r.doc_id) for r in a.collect())
    got_b = sorted((r.grp, r.doc_id) for r in b.collect())
    # deterministic across invocations, exactly k per group
    assert got_a == got_b
    from collections import Counter

    assert Counter(g for g, _ in got_a) == {"g0": 4, "g1": 4, "g2": 4}
    # a different salt draws a different sample
    c = corpus.stratified_take_k(df, "doc_id", "grp", k=4, salt="other")
    assert sorted((r.grp, r.doc_id) for r in c.collect()) != got_a
    # small groups yield all their rows, not an error
    tiny = spark.createDataFrame([(1, "g")], "doc_id LONG, grp STRING")
    assert corpus.stratified_take_k(tiny, "doc_id", "grp", k=5).count() == 1
    with pytest.raises(ValueError, match="k must"):
        corpus.stratified_take_k(df, "doc_id", "grp", k=0)


def test_plan_mixture_rates_and_report(spark):
    """Rate math pinned exactly: a 2:1:1 weight plan where one source
    can't meet its target (caps at 100%, shortfall reported), one is
    downsampled to its computed percent, one is absent from the data
    (rate 0, full shortfall). The sampled frame must equal
    mixture_sample under the planned rates (same md5 buckets), and
    unlisted sources are dropped."""
    rows = []
    for i in range(200):  # web: 200 docs x 10 tokens = 2000 tokens
        rows.append((i, "web", "w " * 10))
    for i in range(200, 230):  # code: 30 docs x 10 tokens = 300 tokens
        rows.append((i, "code", "c " * 10))
    for i in range(230, 240):  # junk: unlisted -> dropped
        rows.append((i, "junk", "j " * 10))
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")

    sampled, report = corpus.plan_mixture(
        df, "doc_id", "source", "text",
        weights={"web": 2.0, "code": 1.0, "books": 1.0},
        token_budget=1600,
    )
    # web: target 800 of 2000 -> 40%; code: target 400 of 300 -> capped
    # 100%, shortfall 100; books: nothing available
    assert report["web"]["rate_pct"] == 40
    assert report["web"]["shortfall_tokens"] == 0
    assert report["code"]["rate_pct"] == 100
    assert report["code"]["shortfall_tokens"] == 100
    assert report["books"]["rate_pct"] == 0
    assert report["books"]["shortfall_tokens"] == 400
    assert report["web"]["expected_tokens"] == 800

    got = sorted(r.doc_id for r in sampled.collect())
    want = sorted(
        r.doc_id
        for r in corpus.mixture_sample(
            df, "doc_id", "source",
            {"web": 40, "code": 100, "books": 0}, default_pct=0,
        ).collect()
    )
    assert got == want
    srcs = {r.source for r in sampled.select("source").distinct().collect()}
    assert "junk" not in srcs and "code" in srcs


def test_temperature_weights_math():
    """The n^alpha smoothing pinned arithmetically: alpha=1 is natural
    proportions, alpha=0.5 squeezes a 16:1 corpus ratio to 4:1, smaller
    alpha is closer to uniform, zero-token sources drop out, and the
    weights always sum to 1."""
    import pytest

    avail = {"web": 1600, "code": 100, "empty": 0}
    natural = corpus.temperature_weights(avail, alpha=1.0)
    assert abs(natural["web"] / natural["code"] - 16.0) < 1e-9
    assert "empty" not in natural

    smoothed = corpus.temperature_weights(avail, alpha=0.5)
    assert abs(smoothed["web"] / smoothed["code"] - 4.0) < 1e-9
    assert abs(sum(smoothed.values()) - 1.0) < 1e-9

    flatter = corpus.temperature_weights(avail, alpha=0.25)
    assert flatter["code"] > smoothed["code"] > natural["code"]

    with pytest.raises(ValueError, match="alpha"):
        corpus.temperature_weights(avail, alpha=0.0)
    with pytest.raises(ValueError, match="alpha"):
        corpus.temperature_weights(avail, alpha=1.5)
    with pytest.raises(ValueError, match="non-negative"):
        corpus.temperature_weights({"a": -1})
    with pytest.raises(ValueError, match="no source"):
        corpus.temperature_weights({"a": 0})


def test_temperature_mixture_composition(spark):
    """source_availability -> temperature_weights -> plan_mixture as one
    single-scan composition: the precomputed availability must produce
    the identical plan to letting plan_mixture rescan, and the smoothed
    weights must upsample the tail source relative to natural-proportion
    weights (the rebalance the smoothing exists for)."""
    rows = []
    for i in range(320):  # web: 3200 tokens
        rows.append((i, "web", "w " * 10))
    for i in range(320, 340):  # code: 200 tokens (the tail source)
        rows.append((i, "code", "c " * 10))
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")

    avail = corpus.source_availability(df, "source", "text")
    assert avail == {"web": 3200, "code": 200}

    weights = corpus.temperature_weights(avail, alpha=0.5)
    _, rep_pre = corpus.plan_mixture(
        df, "doc_id", "source", "text", weights, 1000, availability=avail
    )
    _, rep_scan = corpus.plan_mixture(
        df, "doc_id", "source", "text", weights, 1000
    )
    assert rep_pre == rep_scan

    _, rep_nat = corpus.plan_mixture(
        df, "doc_id", "source", "text",
        corpus.temperature_weights(avail, alpha=1.0), 1000,
        availability=avail,
    )
    # natural: code target = 1000 * 200/3400 ~= 59 tokens; smoothed at
    # alpha=.5: sqrt ratio 4:1 -> code target = 200 -- the tail source's
    # share quadruples
    assert (
        rep_pre["code"]["target_tokens"]
        > 3 * rep_nat["code"]["target_tokens"]
    )


def test_weighted_take_k_bias_determinism_and_parity(spark, oracle_sf_dir):
    """Efraimidis-Spirakis exact-k weighted sampling: (1) DuckDB
    reproduces the exact selected set from the same md5 coin and
    ln(u)/w priority, (2) in a 100-heavy/900-light corpus the
    9x-weighted rows dominate the top-100 (uniform would give ~10),
    (3) per-group exact-k and zero/NULL-weight exclusion hold."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        _md5_hash60_sql,
    )
    from tests.parity import compare, duckdb_connect

    docs = load_table(spark, oracle_sf_dir, "documents")
    w = 1.0 + (F.col("doc_id") % 10)
    got = corpus.weighted_take_k(
        docs, "doc_id", w, k=25, group_col="source", salt="s"
    ).select("doc_id", "source")
    h = _md5_hash60_sql("doc_id::VARCHAR || 's'")
    sql = f"""
        WITH prio AS (
          SELECT doc_id, source,
                 ln((({h} >> 8) + 1) / 4503599627370496.0)
                   / (1.0 + doc_id % 10) AS p
          FROM documents
        ), ranked AS (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source ORDER BY p DESC, doc_id ASC
                 ) AS rn
          FROM prio
        )
        SELECT doc_id, source FROM ranked WHERE rn <= 25
    """
    errs = compare(got, duckdb_connect(oracle_sf_dir), sql)
    assert not errs, errs[:5]

    # bias: 100 rows at weight 9, 900 at weight 1, take the top 100.
    # The heavy rows carry 900/1800 of the mass, so sequential
    # proportional-to-weight draws put ~45 of them in the top-100
    # (declining as they deplete); uniform sampling would give ~10.
    # Deterministic at this salt -- observed 40.
    skew = spark.createDataFrame(
        [(i, 9.0 if i < 100 else 1.0) for i in range(1000)],
        "id LONG, wt DOUBLE",
    )
    heavy = (
        corpus.weighted_take_k(skew, "id", "wt", k=100, salt="bias")
        .filter(F.col("id") < 100)
        .count()
    )
    assert 30 <= heavy <= 60, heavy

    # per-group exact-k + exclusion of null/zero weights
    g = spark.createDataFrame(
        [(i, "a" if i < 50 else "b", float(i % 3)) for i in range(100)],
        "id LONG, grp STRING, wt DOUBLE",
    )  # wt cycles 0,1,2 -> a third of rows excluded
    out = corpus.weighted_take_k(g, "id", "wt", k=10, group_col="grp")
    counts = {r.grp: r.n for r in out.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"a": 10, "b": 10}
    assert out.filter(F.col("wt") <= 0).count() == 0
    import pytest

    with pytest.raises(ValueError, match="k must"):
        corpus.weighted_take_k(g, "id", "wt", k=0)


def test_leakage_safe_split_group_atomic_and_parity(spark, oracle_sf_dir):
    """Leakage-safe splitting: (1) every row of a group gets ONE label
    (zero straddling groups -- the leakage property itself), (2) group
    proportions track the weights, (3) deterministic across calls and
    stable under growth (a subset's labels never move), (4) DuckDB
    recomputes the identical assignment from the same md5 coin
    (oracle-grade parity), (5) weight validation."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        _md5_hash60_sql,
    )
    from tests.parity import compare, duckdb_connect

    docs = load_table(spark, oracle_sf_dir, "documents")
    # group by source: all docs of one source must share a split
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = corpus.leakage_safe_split(docs, "source", weights, salt="v1")

    per_group = (
        out.groupBy("source")
        .agg(F.count_distinct("split").alias("n_labels"))
        .collect()
    )
    assert per_group and all(r.n_labels == 1 for r in per_group)

    # proportions over GROUPS (the unit the coin flips): with few groups
    # just sanity-check every label set is a subset of the weights'
    labels = {r.split for r in out.select("split").distinct().collect()}
    assert labels <= set(weights)

    # determinism + growth stability: a filtered subset keeps its labels
    full = {(r.doc_id, r.split) for r in out.select("doc_id", "split").collect()}
    sub = corpus.leakage_safe_split(
        docs.filter(F.col("doc_id") % 2 == 0), "source", weights, salt="v1"
    )
    sub_labels = {(r.doc_id, r.split) for r in sub.select("doc_id", "split").collect()}
    assert sub_labels <= full

    # cross-engine parity: DuckDB reproduces the exact assignment
    h = _md5_hash60_sql("source::VARCHAR || 'v1'")
    sql = f"""
        SELECT doc_id,
               CASE WHEN (({h} >> 8) / 4503599627370496.0) < 0.1 THEN 'test'
                    WHEN (({h} >> 8) / 4503599627370496.0) < 0.9 THEN 'train'
                    ELSE 'val' END AS split
        FROM documents
    """
    errs = compare(
        out.select("doc_id", "split"), duckdb_connect(oracle_sf_dir), sql
    )
    assert not errs, errs[:5]

    # per-doc splitting reaches all three labels at this corpus size and
    # roughly tracks the weights
    by_doc = corpus.leakage_safe_split(docs, "doc_id", weights, salt="v1")
    counts = {
        r.split: r.n
        for r in by_doc.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n = sum(counts.values())
    assert set(counts) == set(weights)
    for label, w in weights.items():
        assert abs(counts[label] / n - w) < 0.08, (label, counts)

    with pytest.raises(ValueError, match="sum to 1"):
        corpus.leakage_safe_split(docs, "source", {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError, match="positive"):
        corpus.leakage_safe_split(docs, "source", {"a": 1.5, "b": -0.5})


def test_unigram_surprisal_quality_scoring(spark, oracle_sf_dir):
    """CCNet-style LM quality proxy: (1) gibberish scores strictly
    higher surprisal than reference-like text, (2) empty docs yield NULL
    with n_tokens=0 and a reordered doc scores the same, (3) the whole
    fit+score pipeline is recomputed value-for-value in DuckDB (top-V cut,
    add-alpha smoothing, OOV fallback, mean -logp), (4) parameter
    validation."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        SQL_TOKENS_LOWER,
    )
    from tests.parity import compare, duckdb_connect

    docs = load_table(spark, oracle_sf_dir, "documents")
    lm = corpus.unigram_logprob_table(docs, vocab_size=500, alpha=1.0)

    # the most common reference token, repeated, vs OOV gibberish
    top_tok = (
        lm.filter(F.col("token").isNotNull())
        .orderBy(F.col("logp").desc())
        .first()
        .token
    )
    probe = spark.createDataFrame(
        [
            (1, " ".join([top_tok] * 20)),
            (2, "zzqx9v7k qqv8zzt xq9zzv wvzz7q " * 5),
            (3, ""),
            (4, "the cat sat on the mat"),
            (5, "mat the on sat cat the"),  # same multiset, broken order
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r.doc_id: r
        for r in corpus.unigram_surprisal(probe, lm).collect()
    }
    assert got[1].surprisal < got[2].surprisal
    assert got[3].surprisal is None and got[3].n_tokens == 0
    assert got[1].n_tokens == 20
    # a unigram model is order-blind
    assert got[4].surprisal == pytest.approx(got[5].surprisal, abs=1e-9)

    # cross-engine parity over the real corpus (vocab cut exercises OOV)
    scored = corpus.unigram_surprisal(docs, lm).select(
        "doc_id",
        "n_tokens",
        stable_round(F.col("surprisal"), 4).alias("surprisal"),
    )
    sql = f"""
        WITH toks AS (
          SELECT unnest({SQL_TOKENS_LOWER}) AS t FROM documents
        ),
        counts AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
        top AS (SELECT t, c FROM counts ORDER BY c DESC, t ASC LIMIT 500),
        scal AS (
          SELECT (SELECT SUM(c) FROM counts)::DOUBLE AS n,
                 (SELECT COUNT(*) FROM top)::DOUBLE AS v
        ),
        lm AS (
          SELECT t, ln(c + 1.0) - ln(n + 1.0 * (v + 1)) AS logp
          FROM top, scal
        ),
        oov AS (SELECT ln(1.0) - ln(n + 1.0 * (v + 1)) AS logp FROM scal),
        dtoks AS (
          SELECT doc_id, unnest({SQL_TOKENS_LOWER}) AS t FROM documents
        ),
        per_doc AS (
          SELECT d.doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 -AVG(COALESCE(lm.logp, (SELECT logp FROM oov)))
                   AS s_raw
          FROM dtoks d LEFT JOIN lm ON d.t = lm.t
          GROUP BY d.doc_id
        )
        SELECT doc_id,
               COALESCE(p.n_tokens, 0) AS n_tokens,
               {sql_round("p.s_raw", 4)} AS surprisal
        FROM (SELECT DISTINCT doc_id FROM documents) base
        LEFT JOIN per_doc p USING (doc_id)
    """
    errs = compare(scored, duckdb_connect(oracle_sf_dir), sql)
    assert not errs, errs[:5]

    with pytest.raises(ValueError, match="vocab_size"):
        corpus.unigram_logprob_table(docs, vocab_size=0)
    with pytest.raises(ValueError, match="alpha"):
        corpus.unigram_logprob_table(docs, alpha=0.0)


def test_line_dedup_boilerplate_strip(spark):
    """Planted boilerplate: a header shared by 3 docs is stripped from
    all of them, unique lines and whitespace-only structure survive in
    order, a doc repeating a line only within ITSELF keeps it
    (cross-document counts), NULL text passes through."""
    hdr = "subscribe to our newsletter"
    rows = [
        (1, f"{hdr}\nalpha body one\n\nalpha tail"),
        (2, f"{hdr}\nbeta body two"),
        (3, f"{hdr}\ngamma body three"),
        (4, "self repeat\nself repeat"),
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r for r in corpus.line_dedup(docs, max_docs=1).collect()}
    assert got[1].text == "alpha body one\n\nalpha tail"
    assert (got[1].n_lines, got[1].n_removed) == (4, 1)
    assert got[2].text == "beta body two"
    assert got[3].text == "gamma body three"
    assert got[4].text == "self repeat\nself repeat"  # 1 distinct doc
    assert got[4].n_removed == 0
    assert got[5].text is None and got[5].n_lines == 0
    import pytest

    with pytest.raises(ValueError, match="max_docs"):
        corpus.line_dedup(docs, max_docs=0)


def test_line_dedup_duckdb_parity(spark, oracle_sf_dir):
    """Full rebuilt-text parity on the real corpus (exact-dup documents
    make their lines cross-document boilerplate at max_docs=1)."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from tests.parity import compare, duckdb_connect

    docs = load_table(spark, oracle_sf_dir, "documents")
    out = corpus.line_dedup(docs, max_docs=1)
    sql = """
    WITH keyed AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, chr(10)), 1) AS pos,
             unnest(string_split(text, chr(10))) AS line
      FROM documents
    ), k2 AS (
      SELECT doc_id, pos, line, trim(line) AS key FROM keyed
    ), counts AS (
      SELECT key, count(DISTINCT doc_id) AS docs
      FROM k2 WHERE key <> '' GROUP BY key
    ), kept AS (
      SELECT k2.doc_id, k2.pos, k2.line,
             (k2.key = '' OR c.docs <= 1) AS keep
      FROM k2 LEFT JOIN counts c USING (key)
    ), reb AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
               AS n_removed,
             string_agg(CASE WHEN keep THEN line END, chr(10)
                        ORDER BY pos) AS text
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CASE WHEN r.n_lines IS NULL THEN NULL
                ELSE COALESCE(r.text, '') END AS text,
           COALESCE(r.n_lines, 0) AS n_lines,
           COALESCE(r.n_removed, 0) AS n_removed
    FROM (SELECT DISTINCT doc_id FROM documents) b
    LEFT JOIN reb r USING (doc_id)
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_nb_quality_filter_fit_score_parity(spark, oracle_sf_dir):
    """fastText-shape binary quality filter: (1) a doc of positive-
    corpus tokens scores positive log-odds and a negative-corpus doc
    scores negative, (2) an empty doc carries no evidence and scores
    exactly the prior, (3) the whole fit+score pipeline (combined-count
    top-V cut, add-alpha smoothing, OOV fallback, prior) is recomputed
    value-for-value in DuckDB, (4) parameter validation."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        SQL_TOKENS_LOWER,
    )
    from tests.parity import compare, duckdb_connect

    pos = spark.createDataFrame(
        [(i, "clean prose with careful grammar here") for i in range(5)],
        "doc_id LONG, text STRING",
    )
    neg = spark.createDataFrame(
        [(i, "zzspam buy now zzclick zzspam now") for i in range(5)],
        "doc_id LONG, text STRING",
    )
    model = corpus.nb_token_odds_table(pos, neg, vocab_size=50, alpha=1.0)
    probe = spark.createDataFrame(
        [(1, "careful clean prose"), (2, "zzspam zzclick now"), (3, "")],
        "doc_id LONG, text STRING",
    )
    got = {
        r.doc_id: r
        for r in corpus.nb_log_odds(probe, model, prior_log_odds=0.25).collect()
    }
    assert got[1].log_odds > 0.25 and got[2].log_odds < 0.25
    assert got[3].log_odds == pytest.approx(0.25) and got[3].n_tokens == 0

    with pytest.raises(ValueError, match="vocab_size"):
        corpus.nb_token_odds_table(pos, neg, vocab_size=0)
    with pytest.raises(ValueError, match="alpha"):
        corpus.nb_token_odds_table(pos, neg, alpha=0.0)

    # cross-engine parity on the real corpus: pos = doc_id % 3 == 0
    docs = load_table(spark, oracle_sf_dir, "documents")
    p = docs.filter(F.col("doc_id") % 3 == 0)
    n = docs.filter(F.col("doc_id") % 3 != 0)
    model = corpus.nb_token_odds_table(p, n, vocab_size=300, alpha=1.0)
    scored = corpus.nb_log_odds(docs, model).select(
        "doc_id",
        "n_tokens",
        stable_round(F.col("log_odds"), 4).alias("log_odds"),
    )
    sql = f"""
        WITH ptoks AS (
          SELECT unnest({SQL_TOKENS_LOWER}) AS t FROM documents
          WHERE doc_id % 3 = 0
        ),
        ntoks AS (
          SELECT unnest({SQL_TOKENS_LOWER}) AS t FROM documents
          WHERE doc_id % 3 <> 0
        ),
        cp AS (SELECT t, COUNT(*) AS cp FROM ptoks GROUP BY t),
        cn AS (SELECT t, COUNT(*) AS cn FROM ntoks GROUP BY t),
        merged AS (
          SELECT COALESCE(cp.t, cn.t) AS t,
                 COALESCE(cp.cp, 0) AS cp, COALESCE(cn.cn, 0) AS cn
          FROM cp FULL JOIN cn ON cp.t = cn.t
        ),
        top AS (SELECT * FROM merged ORDER BY (cp + cn) DESC, t ASC LIMIT 300),
        scal AS (
          SELECT (SELECT COALESCE(SUM(cp), 0) FROM cp)::DOUBLE AS np,
                 (SELECT COALESCE(SUM(cn), 0) FROM cn)::DOUBLE AS nn,
                 (SELECT COUNT(*) FROM top)::DOUBLE AS v
        ),
        odds AS (
          SELECT t,
                 (ln(cp + 1.0) - ln(np + 1.0 * (v + 1)))
               - (ln(cn + 1.0) - ln(nn + 1.0 * (v + 1))) AS odds
          FROM top, scal
        ),
        oov AS (
          SELECT (ln(1.0) - ln(np + 1.0 * (v + 1)))
               - (ln(1.0) - ln(nn + 1.0 * (v + 1))) AS odds
          FROM scal
        ),
        dtoks AS (
          SELECT doc_id, unnest({SQL_TOKENS_LOWER}) AS t FROM documents
        ),
        per_doc AS (
          SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 SUM(COALESCE(o.odds, (SELECT odds FROM oov))) AS s
          FROM dtoks d LEFT JOIN odds o ON d.t = o.t
          GROUP BY d.doc_id
        )
        SELECT b.doc_id,
               COALESCE(p.n_tokens, 0) AS n_tokens,
               {sql_round("0.0 + COALESCE(p.s, 0.0)", 4)} AS log_odds
        FROM (SELECT DISTINCT doc_id FROM documents) b
        LEFT JOIN per_doc p USING (doc_id)
    """
    con = duckdb_connect(oracle_sf_dir)
    assert compare(scored, con, sql) == []


def test_dsir_importance_weights_parity(spark, oracle_sf_dir):
    """DSIR hashed-n-gram importance weights: (1) a target-like doc
    outweighs a source-like doc, (2) docs with fewer than n tokens have
    no features and weigh ln(1)=0, (3) fit+score recomputed
    value-for-value in DuckDB through the md5 bucket hash, (4)
    parameter validation."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        SQL_TOKENS_LOWER,
        _md5_hash60_sql,
    )
    from tests.parity import compare, duckdb_connect

    target = spark.createDataFrame(
        [(i, "alpha beta gamma delta alpha beta") for i in range(5)],
        "doc_id LONG, text STRING",
    )
    source = spark.createDataFrame(
        [(i, "omega psi chi phi omega psi") for i in range(5)],
        "doc_id LONG, text STRING",
    )
    table = corpus.dsir_logratio_table(target, source, buckets=97)
    probe = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "omega psi chi"), (3, "solo")],
        "doc_id LONG, text STRING",
    )
    got = {
        r.doc_id: r
        for r in corpus.dsir_log_weights(probe, table, buckets=97).collect()
    }
    assert got[1].log_weight > got[2].log_weight
    assert got[1].log_weight > 0 > got[2].log_weight
    assert got[3].log_weight == 0.0 and got[3].n_features == 0

    with pytest.raises(ValueError, match="ngram"):
        corpus.dsir_logratio_table(target, source, ngram=0)
    with pytest.raises(ValueError, match="buckets"):
        corpus.dsir_logratio_table(target, source, buckets=1)
    with pytest.raises(ValueError, match="alpha"):
        corpus.dsir_logratio_table(target, source, alpha=-1.0)

    # cross-engine parity: target = doc_id % 3 == 0, bigram features
    docs = load_table(spark, oracle_sf_dir, "documents")
    t = docs.filter(F.col("doc_id") % 3 == 0)
    s = docs.filter(F.col("doc_id") % 3 != 0)
    B = 1000
    table = corpus.dsir_logratio_table(t, s, buckets=B, alpha=1.0)
    scored = corpus.dsir_log_weights(docs, table, buckets=B).select(
        "doc_id",
        "n_features",
        stable_round(F.col("log_weight"), 4).alias("log_weight"),
    )
    h = _md5_hash60_sql("g")
    sql = f"""
        WITH t0 AS (
          SELECT doc_id, {SQL_TOKENS_LOWER} AS toks FROM documents
        ),
        grams AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i + 1]))
                 AS g
          FROM t0
        ),
        feats AS (SELECT doc_id, ({h} % {B}) AS bucket FROM grams),
        ct AS (
          SELECT bucket, COUNT(*) AS ct FROM feats
          WHERE doc_id % 3 = 0 GROUP BY bucket
        ),
        cs AS (
          SELECT bucket, COUNT(*) AS cs FROM feats
          WHERE doc_id % 3 <> 0 GROUP BY bucket
        ),
        merged AS (
          SELECT COALESCE(ct.bucket, cs.bucket) AS bucket,
                 COALESCE(ct.ct, 0) AS ct, COALESCE(cs.cs, 0) AS cs
          FROM ct FULL JOIN cs ON ct.bucket = cs.bucket
        ),
        scal AS (
          SELECT (SELECT COALESCE(SUM(ct), 0) FROM ct)::DOUBLE AS nt,
                 (SELECT COALESCE(SUM(cs), 0) FROM cs)::DOUBLE AS ns
        ),
        ratio AS (
          SELECT bucket,
                 (ln(ct + 1.0) - ln(nt + 1.0 * {B}))
               - (ln(cs + 1.0) - ln(ns + 1.0 * {B})) AS logratio
          FROM merged, scal
        ),
        dflt AS (
          SELECT (ln(1.0) - ln(nt + 1.0 * {B}))
               - (ln(1.0) - ln(ns + 1.0 * {B})) AS logratio
          FROM scal
        ),
        per_doc AS (
          SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
                 SUM(COALESCE(r.logratio, (SELECT logratio FROM dflt))) AS s
          FROM feats f LEFT JOIN ratio r ON f.bucket = r.bucket
          GROUP BY f.doc_id
        )
        SELECT b.doc_id,
               COALESCE(p.n_features, 0) AS n_features,
               {sql_round("COALESCE(p.s, 0.0)", 4)} AS log_weight
        FROM (SELECT DISTINCT doc_id FROM documents) b
        LEFT JOIN per_doc p USING (doc_id)
    """
    con = duckdb_connect(oracle_sf_dir)
    assert compare(scored, con, sql) == []


def test_negative_samples_semantics_and_parity(spark, oracle_sf_dir):
    """Deterministic negative sampling: (1) hand frame -- no sampled
    negative is a positive or the anchor itself, ranks are 1..k dense,
    two runs identical; (2) draw-budget exhaustion emits FEWER than k,
    never a forbidden item; (3) cross-source negatives on the real
    documents table replayed EXACTLY in DuckDB from the same md5 coin
    (full anchor/negative/rank value parity)."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        _md5_hash60_sql,
    )
    from tests.parity import compare, duckdb_connect

    # (1) hand frame: anchors q1/q2 over a 10-item pool
    pos = spark.createDataFrame(
        [("q1", "i1"), ("q1", "i2"), ("q2", "i3")],
        "anchor_id string, positive_id string",
    )
    pool = spark.createDataFrame(
        [(f"i{j}",) for j in range(10)], "item_id string"
    )
    out = corpus.negative_samples(pos, pool, k=4, salt="v1").collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r.anchor, []).append(r)
    forbidden = {"q1": {"i1", "i2", "q1"}, "q2": {"i3", "q2"}}
    for a, rows in by_anchor.items():
        assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
            range(1, len(rows) + 1)
        )
        assert len(rows) == 4
        negs = {r.negative for r in rows}
        assert not (negs & forbidden[a])
        assert len(negs) == 4
    again = corpus.negative_samples(pos, pool, k=4, salt="v1").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    # different salt -> different draw order somewhere
    other = corpus.negative_samples(pos, pool, k=4, salt="v2").collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, out))

    # (2) budget exhaustion: anchor whose positives cover 3 of 4 items
    dense_pos = spark.createDataFrame(
        [("q", "a"), ("q", "b"), ("q", "c")],
        "anchor_id string, positive_id string",
    )
    tiny = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "item_id string"
    )
    rows = corpus.negative_samples(dense_pos, tiny, k=3, draws=8).collect()
    assert {r.negative for r in rows} == {"d"} and len(rows) == 1

    empty_pool = spark.createDataFrame([], "item_id string")
    with pytest.raises(ValueError, match="pool is empty"):
        corpus.negative_samples(dense_pos, empty_pool, k=1)

    # (3) real-table parity: for each source, negatives drawn from
    # OTHER sources' documents -- the cross-source contrastive shape
    docs = load_table(spark, oracle_sf_dir, "documents")
    pos_r = docs.select(
        F.col("source").alias("anchor_id"), F.col("doc_id").alias("positive_id")
    )
    pool_r = docs.select(F.col("doc_id").alias("item_id"))
    k, m, salt = 5, 26, "r8"
    out_r = corpus.negative_samples(pos_r, pool_r, k=k, salt=salt)
    h = _md5_hash60_sql(f"a::VARCHAR || ':{salt}:' || j::VARCHAR")
    sql = f"""
        WITH pos AS (
          SELECT source AS a, doc_id AS item FROM documents
          WHERE source IS NOT NULL AND doc_id IS NOT NULL
        ),
        idx AS (
          SELECT item, row_number() OVER (ORDER BY item) - 1 AS _idx
          FROM (SELECT DISTINCT doc_id AS item FROM documents
                WHERE doc_id IS NOT NULL)
        ),
        slots AS (
          SELECT a, j FROM (SELECT DISTINCT a FROM pos)
          CROSS JOIN generate_series(0, {m - 1}) AS t(j)
        ),
        drawn AS (
          SELECT a, j, ({h} % (SELECT count(*) FROM idx)) AS _idx
          FROM slots
        ),
        cand AS (
          SELECT d.a, i.item, d.j FROM drawn d JOIN idx i USING (_idx)
          WHERE i.item::VARCHAR <> d.a::VARCHAR
        ),
        kept AS (
          SELECT c.a, c.item, c.j FROM cand c
          WHERE NOT EXISTS (
            SELECT 1 FROM pos p WHERE c.a = p.a AND c.item = p.item
          )
        ),
        first AS (
          SELECT a, item, min(j) AS j FROM kept GROUP BY a, item
        ),
        ranked AS (
          SELECT a, item,
                 row_number() OVER (PARTITION BY a ORDER BY j) AS rank
          FROM first
        )
        SELECT a AS anchor, item AS negative, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """
    con = duckdb_connect(oracle_sf_dir)
    assert compare(out_r, con, sql) == []


def test_mask_tokens_twin_rate_and_duckdb_parity(spark, oracle_sf_dir):
    """Deterministic MLM masking: (1) bit-equal pure-Python coin twin
    on a hand corpus (mask positions, corrupted text, recovery
    targets); (2) partition-layout independence; (3) corpus mask
    fraction ~= rate; (4) full DuckDB replay parity on documents
    through the md5_hash60 bridge."""
    import hashlib

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        _md5_hash60_sql,
    )

    rate, salt = 0.3, "ep1"
    thr = int(rate * float(1 << 60))

    def coin(doc, i):
        h = hashlib.md5(f"{doc}:{i}:{salt}".encode()).hexdigest()[:15]
        return int(h, 16) < thr

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, ""),
        (3, None),
        (4, "solo"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in corpus.mask_tokens(
            df, "doc_id", "text", rate=rate, salt=salt
        ).collect()
    }
    for doc_id, txt in docs:
        toks = (txt or "").strip().split()
        want_masked = [
            "[MASK]" if coin(doc_id, i) else t
            for i, t in enumerate(toks)
        ]
        r = out[doc_id]
        assert r.masked_text == " ".join(want_masked), doc_id
        assert r.n_tokens == len(toks)
        want_targets = [
            (i, t) for i, t in enumerate(toks) if coin(doc_id, i)
        ]
        assert [(t.pos, t.token) for t in r.targets] == want_targets
        assert r.n_masked == len(want_targets)

    real = load_table(spark, oracle_sf_dir, "documents")
    got = corpus.mask_tokens(real, "doc_id", "text", rate=0.15)
    a = sorted(
        (r.doc_id, r.masked_text, r.n_masked) for r in got.collect()
    )
    b = sorted(
        (r.doc_id, r.masked_text, r.n_masked)
        for r in corpus.mask_tokens(
            real.repartition(17), "doc_id", "text", rate=0.15
        ).collect()
    )
    assert a == b  # pure function of (id, pos, salt)
    agg = got.agg(
        F.sum("n_masked").alias("m"), F.sum("n_tokens").alias("n")
    ).first()
    assert abs(agg.m / agg.n - 0.15) < 0.01  # corpus-level rate

    h = _md5_hash60_sql("doc_id::VARCHAR || ':' || (i - 1)::VARCHAR || ':mlm'")
    thr15 = int(0.15 * float(1 << 60))
    sql = f"""
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN trim(COALESCE(text, '')) = ''
                      THEN []::VARCHAR[]
                      ELSE string_split_regex(trim(text), '\\s+') END AS t
          FROM documents
        ),
        pos AS (
          SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
          FROM toks
        ),
        coined AS (
          SELECT doc_id, t, i, ({h}) < {thr15} AS hit
          FROM pos
        ),
        agg AS (
          SELECT doc_id,
                 string_agg(CASE WHEN hit THEN '[MASK]' ELSE t[i] END,
                            ' ' ORDER BY i) AS masked_text,
                 COUNT(*) FILTER (hit) AS n_masked
          FROM coined GROUP BY doc_id
        )
        SELECT k.doc_id,
               COALESCE(a.masked_text, '') AS masked_text,
               len(k.t)::BIGINT AS n_tokens,
               COALESCE(a.n_masked, 0)::BIGINT AS n_masked
        FROM toks k LEFT JOIN agg a USING (doc_id)
    """
    from tests.parity import compare, duckdb_connect

    assert compare(
        got.select("doc_id", "masked_text", "n_tokens", "n_masked"),
        duckdb_connect(oracle_sf_dir),
        sql,
    ) == []


def test_epoch_shuffle_deterministic_total_order_and_parity(
    spark, oracle_sf_dir
):
    """Epoch shuffling: (1) positions are a permutation of 1..n; (2)
    bit-reproducible under repartition; (3) two salts give visibly
    different orders; (4) the plan has NO SinglePartition exchange
    (two-phase, not the Window.orderBy melt); (5) full DuckDB replay
    parity via the md5_hash60 bridge."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        _md5_hash60_sql,
    )
    from tests.parity import compare, duckdb_connect

    docs = load_table(spark, oracle_sf_dir, "documents")
    a = corpus.epoch_shuffle(docs, "doc_id", "ep1")
    rows = a.select("doc_id", "shuffle_pos").collect()
    n = len(rows)
    assert sorted(r.shuffle_pos for r in rows) == list(range(1, n + 1))
    b = {
        r.doc_id: r.shuffle_pos
        for r in corpus.epoch_shuffle(
            docs.repartition(23), "doc_id", "ep1"
        ).select("doc_id", "shuffle_pos").collect()
    }
    assert all(b[r.doc_id] == r.shuffle_pos for r in rows)
    c = {
        r.doc_id: r.shuffle_pos
        for r in corpus.epoch_shuffle(docs, "doc_id", "ep2")
        .select("doc_id", "shuffle_pos")
        .collect()
    }
    moved = sum(1 for r in rows if c[r.doc_id] != r.shuffle_pos)
    assert moved > n * 0.99  # a fresh salt is a fresh permutation
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan

    h = _md5_hash60_sql("doc_id::VARCHAR || ':ep1'")
    sql = f"""
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY ({h}), doc_id) AS shuffle_pos
        FROM documents
    """
    assert compare(
        a.select("doc_id", "shuffle_pos"),
        duckdb_connect(oracle_sf_dir),
        sql,
    ) == []


def test_curriculum_order_ramp_shuffle_and_parity(spark, oracle_sf_dir):
    """Curriculum ordering: (1) stage means of difficulty are strictly
    increasing (the ramp) and stages are balanced; (2) within a stage
    the order is shuffled, not difficulty-sorted; (3) bit-reproducible
    under repartition; a fresh salt reshuffles within stages but never
    reassigns stages; (4) the plan has no SinglePartition exchange;
    (5) full DuckDB replay parity (ntile + md5 coin)."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        _md5_hash60_sql,
    )
    from tests.parity import compare, duckdb_connect

    docs = load_table(spark, oracle_sf_dir, "documents").withColumn(
        "difficulty", F.length("text").cast("double")
    )
    out = corpus.curriculum_order(
        docs, "doc_id", "difficulty", salt="c1", n_stages=4
    )
    rows = out.select("doc_id", "difficulty", "stage", "curriculum_pos").collect()
    n = len(rows)
    assert sorted(r.curriculum_pos for r in rows) == list(range(1, n + 1))
    by_stage: dict[int, list] = {}
    for r in rows:
        by_stage.setdefault(r.stage, []).append(r)
    assert sorted(by_stage) == [1, 2, 3, 4]
    sizes = [len(v) for _, v in sorted(by_stage.items())]
    assert max(sizes) - min(sizes) <= 1  # exact ntile balance
    means = [
        sum(r.difficulty for r in v) / len(v)
        for _, v in sorted(by_stage.items())
    ]
    assert means == sorted(means) and means[0] < means[-1]
    # stages occupy contiguous position blocks (the ramp IS the order)
    maxpos = {s: max(r.curriculum_pos for r in v) for s, v in by_stage.items()}
    minpos = {s: min(r.curriculum_pos for r in v) for s, v in by_stage.items()}
    assert maxpos[1] < minpos[2] and maxpos[2] < minpos[3]
    # within-stage shuffle: difficulty is NOT monotone in position
    s1 = sorted(by_stage[1], key=lambda r: r.curriculum_pos)
    inversions = sum(
        1 for a, b in zip(s1, s1[1:]) if a.difficulty > b.difficulty
    )
    assert inversions > len(s1) * 0.2

    # reproducible under repartition; salt moves order within stage only
    again = {
        r.doc_id: (r.stage, r.curriculum_pos)
        for r in corpus.curriculum_order(
            docs.repartition(17), "doc_id", "difficulty", salt="c1",
            n_stages=4,
        ).select("doc_id", "stage", "curriculum_pos").collect()
    }
    assert all(again[r.doc_id] == (r.stage, r.curriculum_pos) for r in rows)
    fresh = {
        r.doc_id: (r.stage, r.curriculum_pos)
        for r in corpus.curriculum_order(
            docs, "doc_id", "difficulty", salt="c2", n_stages=4
        ).select("doc_id", "stage", "curriculum_pos").collect()
    }
    assert all(fresh[r.doc_id][0] == r.stage for r in rows)
    moved = sum(1 for r in rows if fresh[r.doc_id][1] != r.curriculum_pos)
    assert moved > n * 0.9

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan

    h = _md5_hash60_sql("doc_id::VARCHAR || ':c1'")
    sql = f"""
        WITH ranked AS (
          SELECT doc_id, length(text)::DOUBLE AS difficulty,
                 ROW_NUMBER() OVER (
                   ORDER BY length(text)::DOUBLE NULLS FIRST, doc_id
                 ) AS rn,
                 COUNT(*) OVER () AS n
          FROM documents
        )
        SELECT doc_id,
               CEIL(rn * 4.0 / n)::INT AS stage,
               ROW_NUMBER() OVER (
                 ORDER BY CEIL(rn * 4.0 / n)::INT, ({h}), doc_id
               ) AS curriculum_pos
        FROM ranked
    """
    assert compare(
        out.select("doc_id", "stage", "curriculum_pos"),
        duckdb_connect(oracle_sf_dir),
        sql,
    ) == []

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_stages"):
        corpus.curriculum_order(docs, "doc_id", "difficulty", "s", n_stages=0)


def test_vocab_coverage_semantics_and_parity(spark, oracle_sf_dir):
    """OOV readout: hand math on a tiny frame (empty doc -> NULL rate,
    dup vocab rows collapse), and full DuckDB replay parity on the
    documents table against a frequent-words vocabulary."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        SQL_TOKENS_LOWER,
    )
    from tests.parity import compare, duckdb_connect

    tiny = spark.createDataFrame(
        [(1, "the cat THE dog"), (2, ""), (3, "zz zz")],
        "doc_id int, text string",
    )
    vocab = spark.createDataFrame(
        [("the",), ("the",), ("cat",)], "word string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in corpus.vocab_coverage(tiny, vocab).collect()
    }
    assert got[1] == (4, 1, 0.25)  # dog is OOV; THE lowercases in
    assert got[2] == (0, 0, None)
    assert got[3] == (2, 2, 1.0)
    # the VOCAB side lowercases too (review: an uppercase vocab entry
    # could never match a lowercased token and inflated n_oov)
    upper_vocab = spark.createDataFrame(
        [("The",), ("CAT",), ("Dog",)], "word string"
    )
    got_u = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in corpus.vocab_coverage(tiny, upper_vocab).collect()
    }
    assert got_u[1] == (4, 0, 0.0)  # the/cat/dog all match case-blind
    assert got_u[3] == (2, 2, 1.0)

    docs = load_table(spark, oracle_sf_dir, "documents")
    # vocabulary = words appearing >= 20 times in the corpus itself
    words = docs.select(
        F.explode(
            F.split(F.lower(F.trim("text")), r"\s+")
        ).alias("word")
    ).groupBy("word").count().filter(F.col("count") >= 20).select("word")
    out = corpus.vocab_coverage(docs, words).select(
        "doc_id",
        "n_tokens",
        "n_oov",
        stable_round(F.col("oov_rate"), 6).alias("oov_rate"),
    )
    sql = f"""
        WITH vocab AS (
          SELECT word FROM (
            SELECT unnest({SQL_TOKENS_LOWER}) AS word FROM documents
          ) GROUP BY word HAVING COUNT(*) >= 20
        ),
        toks AS (
          SELECT doc_id, unnest({SQL_TOKENS_LOWER}) AS tok FROM documents
        ),
        per AS (
          SELECT t.doc_id,
                 COUNT(*) AS n_tokens,
                 SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS n_oov
          FROM toks t LEFT JOIN vocab v ON t.tok = v.word
          GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_tokens, 0) AS n_tokens,
               COALESCE(p.n_oov, 0) AS n_oov,
               CASE WHEN COALESCE(p.n_tokens, 0) > 0
                    THEN {sql_round('p.n_oov * 1.0 / p.n_tokens', 6)}
               END AS oov_rate
        FROM documents d LEFT JOIN per p USING (doc_id)
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []


def test_kn_surprisal_continuation_pin_and_parity(spark, oracle_sf_dir):
    """Interpolated Kneser-Ney: (1) the continuation-probability
    signature -- a word frequent in ONE context only ('francisco' after
    'san') is penalized in a NOVEL context versus an equally-frequent
    versatile word, which plain ML/JM bigrams cannot see; (2) word
    order still matters and the empty/one-token conventions hold; (3)
    the whole fit+score (counts, contexts, continuation table with the
    reserved OOV share, estimated discount) replays value-for-value in
    DuckDB with the discount passed as a literal."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from bigdata_storage_and_proccess_job_data_spark.plans.scale_queries import (
        SQL_TOKENS_LOWER,
    )
    from tests.parity import compare, duckdb_connect

    # 'francisco' always follows 'san' (8x); 'common' appears 8x after 8
    # DIFFERENT words. Same unigram frequency, different versatility.
    ref_rows = [(i, "san francisco") for i in range(8)] + [
        (100 + i, f"w{i} common") for i in range(8)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id LONG, text STRING")
    bi, ctx, cont, d = corpus.kn_bigram_tables(ref)
    probe = spark.createDataFrame(
        [
            (1, "novel francisco"),
            (2, "novel common"),
            (3, "san francisco"),
            (4, "francisco san"),  # broken order
            (5, "the"),
            (6, ""),
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r.doc_id: r
        for r in corpus.kn_surprisal(probe, bi, ctx, cont, d).collect()
    }
    assert got[1].surprisal > got[2].surprisal  # low continuation prob
    assert got[3].surprisal < got[4].surprisal  # order sensitivity
    assert got[5].n_tokens == 1 and got[5].surprisal is not None
    assert got[6].n_tokens == 0 and got[6].surprisal is None
    with pytest.raises(ValueError, match="discount"):
        corpus.kn_surprisal(probe, bi, ctx, cont, 1.5)

    # --- cross-engine parity over the real corpus
    docs = load_table(spark, oracle_sf_dir, "documents")
    bi_r, ctx_r, cont_r, d_r = corpus.kn_bigram_tables(docs)
    assert 0 < d_r < 1
    scored = corpus.kn_surprisal(docs, bi_r, ctx_r, cont_r, d_r).select(
        "doc_id",
        "n_tokens",
        stable_round(F.col("surprisal"), 4).alias("surprisal"),
    )
    D = repr(float(d_r))
    sql = f"""
        WITH base AS (SELECT doc_id, {SQL_TOKENS_LOWER} AS l FROM documents),
        zips AS (
          SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
          FROM base WHERE len(l) > 1
        ),
        bc AS (
          SELECT z[1] AS prev, z[2] AS token, COUNT(*) AS c
          FROM zips GROUP BY 1, 2
        ),
        ctx AS (
          SELECT prev, SUM(c) AS c_prev, COUNT(*) AS n_after
          FROM bc GROUP BY prev
        ),
        tot AS (SELECT COUNT(*)::DOUBLE AS t FROM bc),
        cont AS (
          SELECT token, COUNT(*) / ((SELECT t FROM tot) + 1) AS p_cont
          FROM bc GROUP BY token
        ),
        allt AS (
          SELECT doc_id, NULL::VARCHAR AS prev, l[1] AS token
          FROM base WHERE len(l) >= 1
          UNION ALL
          SELECT doc_id, z[1] AS prev, z[2] AS token FROM zips
        ),
        j AS (
          SELECT a.doc_id, a.prev, a.token,
                 COALESCE(cont.p_cont,
                          1.0 / ((SELECT t FROM tot) + 1)) AS pc
          FROM allt a LEFT JOIN cont ON a.token = cont.token
        ),
        jc AS (
          SELECT j.*, ctx.c_prev, ctx.n_after
          FROM j LEFT JOIN ctx ON j.prev = ctx.prev
        ),
        jb AS (
          SELECT jc.*, bc.c
          FROM jc LEFT JOIN bc
            ON jc.prev = bc.prev AND jc.token = bc.token
        ),
        perdoc AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 -AVG(ln(CASE WHEN prev IS NULL OR c_prev IS NULL THEN pc
                              ELSE greatest(COALESCE(c, 0) - {D}, 0.0)
                                     / c_prev
                                   + {D} * n_after / c_prev * pc
                         END)) AS s
          FROM jb GROUP BY doc_id
        )
        SELECT b.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens,
               {sql_round("p.s", 4)} AS surprisal
        FROM (SELECT DISTINCT doc_id FROM documents) b
        LEFT JOIN perdoc p USING (doc_id)
    """
    errs = compare(scored, duckdb_connect(oracle_sf_dir), sql)
    assert not errs, errs[:5]


def test_consensus_labels_and_rater_quality(spark, oracle_sf_dir):
    """Label aggregation: (1) hand pins -- plurality winner,
    deterministic tie-break on label order, weighted votes flip the
    winner, min_ratings gate, unanimity flag; (2) rater_quality scores
    each rater against the consensus (planted bad rater scores low);
    (3) both replay value-for-value in DuckDB on orders-derived
    ratings."""
    import pytest

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    rows = [
        (1, "r1", "cat"), (1, "r2", "cat"), (1, "r3", "dog"),
        (2, "r1", "dog"), (2, "r2", "cat"),          # tie -> 'cat' (asc)
        (3, "r1", "owl"),                             # single rating
        (4, "r1", "cat"), (4, "r2", "cat"),           # unanimous
        (None, "r1", "cat"), (5, "r2", None),         # excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, rater string, label string")
    got = {
        r.doc_id: (r.label, r.n_ratings, r.n_for, r.share, r.unanimous)
        for r in corpus.consensus_labels(df).collect()
    }
    assert got[1] == ("cat", 3, 2, pytest.approx(2 / 3), False)
    assert got[2][0] == "cat" and got[2][3] == pytest.approx(0.5)
    assert got[3] == ("owl", 1, 1, 1.0, True)
    assert got[4][4] is True
    assert set(got) == {1, 2, 3, 4}
    gated = {
        r.doc_id
        for r in corpus.consensus_labels(df, min_ratings=2).collect()
    }
    assert gated == {1, 2, 4}
    # weights flip a plurality: doc 1's dog rater carries weight 5
    wdf = df.filter(F.col("doc_id") == 1).withColumn(
        "wt", F.when(F.col("rater") == "r3", 5.0).otherwise(1.0)
    )
    ww = corpus.consensus_labels(wdf, weight_col="wt").collect()[0]
    assert ww.label == "dog" and ww.share == pytest.approx(5 / 7)
    with pytest.raises(ValueError, match="min_ratings"):
        corpus.consensus_labels(df, min_ratings=0)

    # rater quality: r_bad disagrees with every consensus
    many = [
        (i, r, "a") for i in range(10) for r in ("r1", "r2", "r3")
    ] + [(i, "r_bad", "b") for i in range(10)]
    q = {
        r.rater: r.agree_rate
        for r in corpus.rater_quality(
            spark.createDataFrame(
                many, "doc_id long, rater string, label string"
            )
        ).collect()
    }
    assert q["r1"] == 1.0 and q["r_bad"] == 0.0

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        (F.col("o_custkey") % 500).alias("doc_id"),
        F.concat(F.lit("r"), (F.col("o_orderkey") % 7).cast("string"))
        .alias("rater"),
        F.col("o_orderpriority").alias("label"),
    )
    gotc = corpus.consensus_labels(orders, min_ratings=2).select(
        "doc_id",
        "label",
        "n_ratings",
        "n_for",
        stable_round(F.col("share"), 6).alias("share"),
        "unanimous",
    )
    sql = f"""
        WITH cells AS (
          SELECT o_custkey % 500 AS doc_id, o_orderpriority AS label,
                 COUNT(*) AS v, COUNT(*)::BIGINT AS n
          FROM orders GROUP BY 1, 2
        ),
        tot AS (
          SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_ratings,
                 SUM(v) AS tot
          FROM cells GROUP BY doc_id
        ),
        win AS (
          SELECT doc_id, label, v, n,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY v DESC, label ASC) AS rk
          FROM cells
        )
        SELECT w.doc_id, w.label, t.n_ratings, w.n AS n_for,
               {sql_round('w.v * 1.0 / t.tot', 6)} AS share,
               w.v * 1.0 / t.tot = 1.0 AS unanimous
        FROM win w JOIN tot t USING (doc_id)
        WHERE w.rk = 1 AND t.n_ratings >= 2
    """
    assert compare(gotc, duckdb_connect(oracle_sf_dir), sql) == []

    gotq = corpus.rater_quality(orders).select(
        "rater",
        "n_rated",
        "n_agree",
        stable_round(F.col("agree_rate"), 6).alias("agree_rate"),
    )
    sqlq = f"""
        WITH base AS (
          SELECT o_custkey % 500 AS doc_id,
                 'r' || CAST(o_orderkey % 7 AS VARCHAR) AS rater,
                 o_orderpriority AS label
          FROM orders
        ),
        cells AS (
          SELECT doc_id, label, COUNT(*) AS v FROM base GROUP BY 1, 2
        ),
        win AS (
          SELECT doc_id, label AS winner,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY v DESC, label ASC) AS rk
          FROM cells
        )
        SELECT b.rater, COUNT(*)::BIGINT AS n_rated,
               SUM(CASE WHEN b.label = w.winner THEN 1 ELSE 0 END)::BIGINT
                 AS n_agree,
               {sql_round(
                   'AVG(CASE WHEN b.label = w.winner '
                   'THEN 1.0 ELSE 0.0 END)', 6
               )} AS agree_rate
        FROM base b JOIN win w ON b.doc_id = w.doc_id AND w.rk = 1
        GROUP BY b.rater
    """
    assert compare(gotq, duckdb_connect(oracle_sf_dir), sqlq) == []


def test_balanced_shards_serpentine_and_parity(spark, oracle_sf_dir):
    """Shard balancing: (1) hand pin -- the serpentine deal reverses
    direction every block, so on 6 known weights x 2 shards the totals
    come out 23/22 rather than hash-assignment luck; (2) every row
    lands in exactly one shard, shard ids cover [0, n); (3) NULL
    weight ranks as 0 (lands last), NULL id excluded; (4) validation;
    (5) full DuckDB replay on documents weighted by text length."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from tests.parity import compare, duckdb_connect

    df = spark.createDataFrame(
        [("a", 10.0), ("b", 9.0), ("c", 8.0), ("d", 7.0),
         ("e", 6.0), ("f", 5.0)],
        "id string, w double",
    )
    got = {
        r.id: r.shard
        for r in corpus.balanced_shards(df, "id", "w", 2).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 1, "d": 0, "e": 0, "f": 1}
    tot = {0: 10.0 + 7.0 + 6.0, 1: 9.0 + 8.0 + 5.0}
    assert tot[0] == 23.0 and tot[1] == 22.0

    mixed = spark.createDataFrame(
        [("a", 5.0), ("b", None), (None, 9.0), ("c", 1.0)],
        "id string, w double",
    )
    rows = corpus.balanced_shards(mixed, "id", "w", 2).collect()
    ids = {r.id for r in rows}
    assert ids == {"a", "b", "c"}  # NULL id excluded
    by_id = {r.id: r for r in rows}
    # NULL weight ranks as 0: last position (rank 3 of 3)
    assert by_id["b"].shard in (0, 1) and by_id["a"].shard == 0
    assert all(0 <= r.shard < 2 for r in rows)

    import pytest as _pt

    with _pt.raises(ValueError, match="n_shards"):
        corpus.balanced_shards(df, "id", "w", 0)

    docs = load_table(spark, oracle_sf_dir, "documents")
    out = corpus.balanced_shards(
        docs.withColumn("_w", F.length("text")), "doc_id", "_w", 7
    ).select("doc_id", "shard")
    sql = """
        WITH r AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (
                   ORDER BY -COALESCE(length(text), 0), doc_id
                 ) AS rn
          FROM documents WHERE doc_id IS NOT NULL
        )
        SELECT doc_id,
               CAST(CASE WHEN ((rn - 1) // 7) % 2 = 0
                    THEN (rn - 1) % 7
                    ELSE 6 - ((rn - 1) % 7) END AS INT) AS shard
        FROM r
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []
    # balance: shard token totals within one max-document of each other
    totals = [
        r.t
        for r in corpus.balanced_shards(
            docs.withColumn("_w", F.length("text")), "doc_id", "_w", 7
        )
        .groupBy("shard")
        .agg(F.sum("_w").alias("t"))
        .collect()
    ]
    wmax = docs.agg(F.max(F.length("text"))).first()[0]
    assert len(totals) == 7
    assert max(totals) - min(totals) <= 2 * wmax


def test_bradley_terry_fit_pins_replica_and_guards(spark):
    """Pairwise preference aggregation (the RLHF labeling-QA rung):
    (1) the two-item closed form -- a 30-10 record gives strength
    ratio 3 under geometric-mean-1 normalization, so P(a beats b) =
    0.75; (2) a transitive tournament orders strengths; (3) the MLE
    moment condition holds at the fixed point (expected wins equal
    observed wins per item); (4) the fit is a pure function of the
    judgment SET (repartition-invariant) and equals an independent
    pure-Python MM replica; (5) identifiability fails loud --
    disconnected graph, diverging MLE at alpha=0 (fixed by alpha>0),
    self-comparison, item cap."""
    import math

    two = spark.createDataFrame(
        [("a", "b")] * 30 + [("b", "a")] * 10, "winner string, loser string"
    )
    got = {r.item: r for r in corpus.bradley_terry_fit(two).collect()}
    assert got["a"].strength == pytest.approx(math.sqrt(3.0))
    assert got["b"].strength == pytest.approx(1 / math.sqrt(3.0))
    sa, sb = got["a"].strength, got["b"].strength
    assert sa / (sa + sb) == pytest.approx(0.75)
    assert (got["a"].n_wins, got["a"].n_losses, got["a"].n_games) == (30, 10, 40)

    games = (
        [("A", "B")] * 30 + [("B", "A")] * 10
        + [("B", "C")] * 25 + [("C", "B")] * 15
        + [("A", "C")] * 20 + [("C", "A")] * 5
    )
    df = spark.createDataFrame(games, "winner string, loser string")
    fit = {r.item: r for r in corpus.bradley_terry_fit(df).collect()}
    assert fit["A"].strength > fit["B"].strength > fit["C"].strength
    # MLE moment condition: expected wins == observed wins per item
    from collections import Counter

    n_games = Counter()
    wins = Counter()
    for w, l in games:
        wins[w] += 1
        n_games[frozenset((w, l))] += 1
    for i in fit:
        exp_wins = sum(
            n * fit[i].strength / (fit[i].strength + fit[j].strength)
            for pair, n in n_games.items()
            if i in pair
            for j in pair - {i}
        )
        assert exp_wins == pytest.approx(wins[i], rel=1e-6), i
    # partition independence
    refit = {
        r.item: r.strength
        for r in corpus.bradley_terry_fit(df.repartition(7)).collect()
    }
    assert refit == {i: r.strength for i, r in fit.items()}

    # independent pure-Python MM replica (same sorted sweep order)
    def replica(pairs, iters=500, tol=1e-10):
        beats = Counter(pairs)
        items = sorted({x for p in pairs for x in p})
        g_cnt: Counter = Counter()
        w_cnt: Counter = Counter()
        for (a, b), n in beats.items():
            w_cnt[a] += n
            g_cnt[tuple(sorted((a, b)))] += n
        opp = {i: [] for i in items}
        for (a, b), n in g_cnt.items():
            opp[a].append((b, n))
            opp[b].append((a, n))
        s = {i: 1.0 for i in items}
        for _ in range(iters):
            worst = 0.0
            for i in items:
                new = w_cnt[i] / sum(n / (s[i] + s[j]) for j, n in opp[i])
                worst = max(worst, abs(new - s[i]) / s[i])
                s[i] = new
            gm = math.exp(sum(math.log(v) for v in s.values()) / len(s))
            s = {i: v / gm for i, v in s.items()}
            if worst <= tol:
                break
        return s

    want = replica(games)
    for i in fit:
        assert fit[i].strength == pytest.approx(want[i], rel=1e-9), i

    # guards
    disc = spark.createDataFrame(
        [("a", "b"), ("c", "d")], "winner string, loser string"
    )
    with pytest.raises(ValueError, match="disconnected"):
        corpus.bradley_terry_fit(disc)
    onesided = spark.createDataFrame(
        [("a", "b")] * 5, "winner string, loser string"
    )
    with pytest.raises(ValueError, match="diverges"):
        corpus.bradley_terry_fit(onesided)
    reg = {
        r.item: r.strength
        for r in corpus.bradley_terry_fit(onesided, alpha=0.5).collect()
    }
    assert reg["a"] > 1.0 > reg["b"]
    with pytest.raises(ValueError, match="self-comparison"):
        corpus.bradley_terry_fit(
            spark.createDataFrame(
                [("a", "a"), ("a", "b"), ("b", "a")],
                "winner string, loser string",
            )
        )
    with pytest.raises(ValueError, match="max_items"):
        corpus.bradley_terry_fit(df, max_items=2)
    with pytest.raises(ValueError, match="2 distinct"):
        corpus.bradley_terry_fit(
            spark.createDataFrame([], "winner string, loser string")
        )


def test_bradley_terry_alpha_per_unordered_pair_and_preflight(spark):
    """r13 fixes: (1) alpha is ONE virtual win each way per unordered
    observed pair -- a pair observed in BOTH directions gets the same
    prior strength as a one-sided pair (the r12 ADVICE bug gave it
    double); closed form: 30-10 at alpha=1 fits 31/11, not 32/12, and
    a mixed dataset equals the MM replica run on the +1-each-way
    virtual counts; (2) the max_items guard fires from a bounded
    limit(max_items+1) distinct-items pre-flight BEFORE the pair-count
    collect -- the row-id misuse raises without the pair frame ever
    landing on the driver; (3) raw n_wins/n_losses stay raw (alpha
    never leaks into the reported counts)."""
    import math

    two = spark.createDataFrame(
        [("a", "b")] * 30 + [("b", "a")] * 10, "winner string, loser string"
    )
    got = {r.item: r for r in corpus.bradley_terry_fit(two, alpha=1.0).collect()}
    assert got["a"].strength == pytest.approx(math.sqrt(31.0 / 11.0))
    assert got["b"].strength == pytest.approx(math.sqrt(11.0 / 31.0))
    # raw counts unchanged by regularization
    assert (got["a"].n_wins, got["a"].n_losses) == (30, 10)

    # mixed two-sided + one-sided pairs: the fit at alpha=1 equals the
    # unregularized fit on counts with exactly +1 each way per
    # observed unordered pair
    games = (
        [("a", "b")] * 30 + [("b", "a")] * 10
        + [("a", "c")] * 5 + [("c", "a")] * 2
    )
    df = spark.createDataFrame(games, "winner string, loser string")
    reg = {
        r.item: r.strength
        for r in corpus.bradley_terry_fit(df, alpha=1.0).collect()
    }
    virtual = (
        [("a", "b")] * 31 + [("b", "a")] * 11
        + [("a", "c")] * 6 + [("c", "a")] * 3
    )
    vdf = spark.createDataFrame(virtual, "winner string, loser string")
    want = {
        r.item: r.strength for r in corpus.bradley_terry_fit(vdf).collect()
    }
    for i in reg:
        assert reg[i] == pytest.approx(want[i], rel=1e-9), i

    # pre-flight guard: items = row ids (the documented misuse) raises
    # on the bounded distinct-items probe, never collecting pair rows
    from pyspark.sql import functions as F

    ids = spark.range(0, 5000).select(
        F.col("id").cast("string").alias("winner"),
        (F.col("id") + 1).cast("string").alias("loser"),
    )
    with pytest.raises(ValueError, match="max_items"):
        corpus.bradley_terry_fit(ids, max_items=100)


def test_win_rate_pairs_pins_wilson_and_parity(spark, oracle_sf_dir):
    """Head-to-head win rates with Wilson intervals (the leaderboard
    companion to bradley_terry_fit): (1) hand pins -- a 30-10 matchup
    reports p=0.75 with the textbook Wilson bounds (python replica of
    the same algebra); a winless side pins wilson_lo to exactly 0 and
    keeps hi inside (0,1) -- the small-n honesty the normal
    approximation loses; (2) sides canonicalize to string order and
    every output pair is unordered-unique; (3) NULL endpoints are
    excluded, self-comparisons fail loud in-plan, z <= 0 raises;
    (4) full DuckDB replay on orders-derived matchups."""
    import math

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from tests.parity import compare, duckdb_connect

    df = spark.createDataFrame(
        [("a", "b")] * 30 + [("b", "a")] * 10 + [("d", "c")] * 5
        + [(None, "a"), ("a", None)],
        "winner string, loser string",
    )
    got = {
        (r.item_a, r.item_b): r
        for r in corpus.win_rate_pairs(df).collect()
    }
    assert set(got) == {("a", "b"), ("c", "d")}
    ab = got[("a", "b")]
    assert (ab.n_games, ab.wins_a) == (40, 30)
    assert ab.win_rate_a == pytest.approx(0.75)

    def wilson(p, n, zc=1.959963984540054):
        z2 = zc * zc
        denom = 1.0 + z2 / n
        center = (p + z2 / (2 * n)) / denom
        half = zc * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / denom
        return center - half, center + half

    lo, hi = wilson(0.75, 40)
    assert ab.wilson_lo == pytest.approx(lo)
    assert ab.wilson_hi == pytest.approx(hi)
    assert 0 < ab.wilson_lo < 0.75 < ab.wilson_hi < 1
    cd = got[("c", "d")]  # c never won: canonicalized a-side is winless
    assert (cd.n_games, cd.wins_a) == (5, 0)
    assert cd.win_rate_a == 0.0
    assert cd.wilson_lo == 0.0 and 0 < cd.wilson_hi < 1

    with pytest.raises(Exception, match="self-comparison"):
        corpus.win_rate_pairs(
            spark.createDataFrame(
                [("a", "a"), ("a", "b")], "winner string, loser string"
            )
        ).collect()
    with pytest.raises(ValueError, match="z must be"):
        corpus.win_rate_pairs(df, z=0.0)

    orders = load_table(spark, oracle_sf_dir, "orders").select(
        F.concat(F.lit("m"), (F.col("o_orderkey") % 7).cast("string")).alias(
            "winner"
        ),
        F.concat(F.lit("m"), (F.col("o_custkey") % 7).cast("string")).alias(
            "loser"
        ),
    ).filter(F.col("winner") != F.col("loser"))
    out = corpus.win_rate_pairs(orders).select(
        "item_a",
        "item_b",
        "n_games",
        "wins_a",
        stable_round(F.col("win_rate_a"), 8).alias("win_rate_a"),
        stable_round(F.col("wilson_lo"), 8).alias("wilson_lo"),
        stable_round(F.col("wilson_hi"), 8).alias("wilson_hi"),
    )
    z = 1.959963984540054
    sql = f"""
        WITH base AS (
          SELECT 'm' || CAST(o_orderkey % 7 AS VARCHAR) AS w,
                 'm' || CAST(o_custkey % 7 AS VARCHAR) AS l
          FROM orders
          WHERE 'm' || CAST(o_orderkey % 7 AS VARCHAR)
                <> 'm' || CAST(o_custkey % 7 AS VARCHAR)
        ),
        agg AS (
          SELECT CASE WHEN w < l THEN w ELSE l END AS item_a,
                 CASE WHEN w < l THEN l ELSE w END AS item_b,
                 COUNT(*)::BIGINT AS n_games,
                 SUM(CASE WHEN w < l THEN 1 ELSE 0 END)::BIGINT AS wins_a
          FROM base GROUP BY 1, 2
        ),
        m AS (
          SELECT item_a, item_b, n_games, wins_a,
                 wins_a * 1.0 / n_games AS p,
                 n_games * 1.0 AS n
          FROM agg
        )
        SELECT item_a, item_b, n_games, wins_a,
               {sql_round('p', 8)} AS win_rate_a,
               {sql_round(
                   f'(p + {z}*{z}/(2*n)) / (1.0 + {z}*{z}/n) '
                   f'- {z} * sqrt(p*(1-p)/n + {z}*{z}/(4*n*n)) '
                   f'/ (1.0 + {z}*{z}/n)', 8)} AS wilson_lo,
               {sql_round(
                   f'(p + {z}*{z}/(2*n)) / (1.0 + {z}*{z}/n) '
                   f'+ {z} * sqrt(p*(1-p)/n + {z}*{z}/(4*n*n)) '
                   f'/ (1.0 + {z}*{z}/n)', 8)} AS wilson_hi
        FROM m
    """
    assert compare(out, duckdb_connect(oracle_sf_dir), sql) == []
