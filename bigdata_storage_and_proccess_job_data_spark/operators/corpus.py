"""Corpus-preparation operators for training-data pipelines: chunking,
PII scrubbing, benchmark-contamination checks, deterministic sampling,
splits and mixtures, LM quality scoring, labeling aggregation.

These are the steps between "raw documents in a lake" and "training
mixture" that the dedup/similarity suite (operators/neardup.py,
operators/similarity.py) doesn't cover. All native Column expressions --
no Python in the row path -- so they run inside whole-stage codegen, and
every one has a DuckDB-expressible twin so the driver's oracle gate
value-checks them.

Scale shapes:
- chunking explodes AFTER the tokens array is materialized per document
  (the Generate node is a projection barrier), so tokenization is O(L)
  per doc, never O(L^2) via projection collapse (see
  functions/text.py:word_ngrams for the same trap).
- contamination is an inverted-index equi-join on shingle strings --
  candidates are shingle-sharing pairs only, the same sub-quadratic
  shape as neardup.jaccard_pairs, with the (small) benchmark side
  broadcastable.
- sampling is a deterministic hash filter: no sampleBy nondeterminism,
  no driver-side state, reproducible across engines and runs, and it
  pushes down to the scan like any other filter.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.functions import text
from bigdata_storage_and_proccess_job_data_spark.session import local_frame

# Shared PII patterns (dialect-portable: plain char classes, no
# lookaround, so Java regex and DuckDB's RE2 agree).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into token-windowed chunks with overlap -- the
    standard context-window prep step. Chunk i covers tokens
    [i*stride+1, i*stride+chunk_tokens] (1-based, stride = chunk_tokens -
    overlap); the last chunk may be short; an empty/short doc yields one
    chunk. Output: (id, chunk_index, n_tokens, chunk_text).

    The tokens array materializes once per document BELOW the Generate
    (explode) node; each chunk row then slices the attribute -- O(tokens)
    tokenization per DOCUMENT, not per chunk. This needs the two-step
    select below: tokenize first, explode in a SEPARATE projection whose
    generator references the ``_toks`` attribute. Folding both into one
    select lets ColumnPruning push the tokenization above the Generate,
    where it re-runs per chunk row (the same projection-collapse trap as
    functions/text.py:word_ngrams; pinned by
    tests/test_plans.py::test_chunking_tokenizes_once_per_document)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    tokenized = df.select(
        F.col(id_col), text.tokens(F.col(text_col)).alias("_toks")
    )
    n = F.size(F.col("_toks"))
    # ceil((n - overlap)/stride) in exact integer math, min 1
    n_chunks = F.greatest(
        F.floor((n - overlap + stride - 1) / F.lit(float(stride))).cast("long"),
        F.lit(1).cast("long"),
    )
    base = tokenized.select(
        F.col(id_col),
        "_toks",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias(
            "chunk_index"
        ),
    )
    piece = F.slice(
        F.col("_toks"),
        (F.col("chunk_index") * stride + 1).cast("int"),
        chunk_tokens,
    )
    return base.select(
        F.col(id_col),
        F.col("chunk_index"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def scrub_pii(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Redact emails/phone numbers and count what was removed:
    (id, n_emails, n_phones, clean_text). Counting runs on the ORIGINAL
    text, then two global regexp_replace passes redact -- all codegen'd
    string ops, the shape that survives a 100 TB scrub pass."""
    c = F.col(text_col)
    cleaned = F.regexp_replace(
        F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>"),
        PHONE_PATTERN,
        "<PHONE>",
    )
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_PATTERN), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(c, F.lit(PHONE_PATTERN), 0))
        .cast("long")
        .alias("n_phones"),
        cleaned.alias("clean_text"),
    )


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Benchmark-contamination check: train documents sharing >= 3
    distinct word 5-shingles with any benchmark document. Output:
    (train_id, bench_id, n_shared).

    Inverted-index equi-join on the shingle string: each side explodes to
    (id, shingle) rows, the join meets only shingle-sharing pairs, and a
    count-per-pair aggregation applies the threshold -- never an
    all-pairs product. The benchmark side is typically small enough to
    broadcast."""

    def inv(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array_distinct(text.word_ngrams(text_col, 5))
            ).alias("_shingle"),
        )

    t = inv(train, "train_id")
    b = inv(bench, "bench_id")
    return (
        t.join(b, "_shingle")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


def hash_bucket(key: Column, salt: str = "") -> Column:
    """Deterministic engine-portable bucket in [0, 100): md5 of the
    stringified key (+salt), first 8 hex digits as an integer, mod
    100. md5 is bit-identical everywhere (unlike xxhash64, which
    DuckDB lacks), so oracle queries can reproduce the exact sample."""
    h = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(100))


def leakage_safe_split(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Deterministic train/val/test assignment that is ATOMIC per group:
    every row sharing ``group_col`` (url domain, source document,
    conversation id...) lands in the same split, which is what prevents
    near-identical rows of one origin straddling the train/eval boundary
    -- the leakage mode row-level random splits cannot avoid, and the
    reason eval numbers go soft. The coin is the md5 uniform of the
    GROUP key (+salt), so membership is reproducible across runs,
    engines, and partitionings, and stable under corpus growth: adding
    new groups never moves an existing group's split.

    ``weights`` maps label -> fraction (must sum to 1 within 1e-9);
    labels are assigned by cumulative thresholds in sorted-label order,
    so the mapping itself is deterministic. One codegen'd expression --
    no shuffle, no join; at 100 TB the split column costs what any
    derived column costs. NULL group keys share one split (the md5
    coin of the NULL-coalesced string), mirroring GROUP BY semantics.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("every split weight must be positive")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    key_str = F.coalesce(
        F.col(group_col).cast("string"), F.lit("\x00split_null")
    )
    h = F.conv(
        F.substring(F.md5(F.concat(key_str, F.lit(salt))), 1, 13), 16, 10
    ).cast("long")
    u = h / F.lit(float(2**52))
    expr = None
    acc = 0.0
    ordered = sorted(weights)
    for label in ordered[:-1]:
        acc += weights[label]
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(
            cond, F.lit(label)
        )
    last = F.lit(ordered[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def mixture_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    rates: dict[str, int],
    default_pct: int,
    salt: str = "",
) -> DataFrame:
    """Per-group sampling rates in one pass -- the training-mixture
    rebalance step ("keep all of source A, 25% of source B"). The
    deterministic md5 bucketing of hash_bucket, so membership is
    reproducible and monotone in each group's rate; the rate lookup
    is a CASE chain, the whole thing one codegen'd filter."""
    if not 0 <= default_pct <= 100:
        raise ValueError("default_pct must be in [0, 100]")
    for v, p in rates.items():
        if not 0 <= p <= 100:
            raise ValueError(f"rate for {v!r} must be in [0, 100]")
    rate: Column = F.lit(default_pct)
    for v, p in sorted(rates.items()):
        rate = F.when(F.col(group_col) == v, F.lit(p)).otherwise(rate)
    return df.filter(hash_bucket(F.col(id_col), salt) < rate)


def source_availability(
    df: DataFrame, group_col: str, text_col: str
) -> dict[str, int]:
    """Tokens available per source: ONE partial+final hash aggregation
    over the corpus (native token_count), collected as |sources| rows
    (bounded-collect precedent). The availability frame is the shared
    input of temperature_weights and plan_mixture -- compute it once,
    pass it to both."""
    return {
        r[0]: int(r[1] or 0)
        for r in df.groupBy(group_col)
        .agg(F.sum(text.token_count(F.col(text_col))).alias("_t"))
        .collect()
    }


def temperature_weights(
    availability: dict[str, int | float], alpha: float = 0.5
) -> dict[str, float]:
    """Exponentially-smoothed mixture weights w_i = n_i^alpha (the
    multilingual-pretraining rebalance: XLM, Conneau & Lample 2019,
    sect. 3.1; mBERT's exponential smoothing): alpha=1 keeps natural
    proportions, alpha -> 0 approaches uniform, the usual 0.3-0.7 band
    upsamples tail sources without letting head sources drown them.
    Driver-side arithmetic over |sources| numbers; feed the result to
    plan_mixture as ``weights`` (and pass the same availability dict so
    the corpus is scanned once)."""
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    if any(v < 0 for v in availability.values()):
        raise ValueError("availability must be non-negative")
    w = {s: float(v) ** alpha for s, v in availability.items() if v > 0}
    if not w:
        raise ValueError("no source has tokens available")
    total = sum(w.values())
    return {s: v / total for s, v in sorted(w.items())}


def plan_mixture(
    df: DataFrame,
    id_col: str,
    group_col: str,
    text_col: str,
    weights: dict[str, float],
    token_budget: int,
    salt: str = "",
    availability: dict[str, int] | None = None,
) -> tuple[DataFrame, dict[str, dict[str, float]]]:
    """Token-budget-aware mixture planning: given target WEIGHTS per
    source ("web:code:books at 2:1:1") and a total TOKEN budget, compute
    the per-source sampling rate that hits each source's token share and
    apply it (mixture_sample) in one deterministic pass. The "plan the
    500B-token mix" step between corpus accounting (corpus_token_budget)
    and the actual sample.

    Returns (sampled_df, report) where report[source] carries
    available/target/shortfall token counts and the chosen rate_pct.
    Sources absent from ``weights`` are dropped (rate 0). A source whose
    available tokens can't meet its target caps at 100% and the
    shortfall is REPORTED, not silently redistributed -- rebalancing is
    a policy decision the caller makes by adjusting weights.

    Granularity contract: rates are whole percents (mixture_sample's md5
    buckets) and sampling is DOC-level, so achieved token counts match
    targets in expectation, not exactly -- fine at corpus scale, where
    per-source token mass is huge relative to any document. Any positive
    target keeps at least 1% so a tiny-weight source never vanishes.

    Scale shape: one hash aggregation over the corpus for the
    availability frame (native token_count, partial+final), a
    driver-side fold over its |sources| rows (bounded-collect
    precedent), then one codegen'd filter pass. Nothing else touches
    the data. Pass ``availability`` (a source_availability result) to
    skip even that scan -- the temperature_weights composition computes
    it once and shares it."""
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative, at least one source")
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to > 0")
    avail = (
        availability
        if availability is not None
        else source_availability(df, group_col, text_col)
    )
    report: dict[str, dict[str, float]] = {}
    rates: dict[str, int] = {}
    for src, w in sorted(weights.items()):
        have = int(avail.get(src, 0))
        target = token_budget * w / total_w
        if have <= 0:
            rate = 0
        elif target >= have:
            rate = 100
        else:
            rate = max(1, round(100.0 * target / have)) if target > 0 else 0
        rates[src] = min(100, rate)
        report[src] = {
            "available_tokens": have,
            "target_tokens": target,
            "rate_pct": rates[src],
            "expected_tokens": have * rates[src] / 100.0,
            "shortfall_tokens": max(0.0, target - have),
        }
    sampled = mixture_sample(
        df, id_col, group_col, rates, default_pct=0, salt=salt
    )
    return sampled, report


def token_repetition(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Intra-document repetition diagnostics: distinct-token ratio and
    the share of the single most frequent token -- the boilerplate /
    degenerate-generation signal used to filter training text. Two
    hash aggregations (explode -> (doc, token) counts -> per-doc fold);
    only (doc_id, token, count) rows shuffle, never document bodies."""
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        stable_round,
    )

    toks = df.select(
        F.col(id_col),
        F.explode(text.tokens(F.lower(F.col(text_col)))).alias("_tok"),
    )
    counts = toks.groupBy(id_col, "_tok").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("_cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("_cnt").cast("long").alias("_top"),
    )
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        "n_distinct",
        stable_round(
            F.col("n_distinct") / F.col("n_tokens").cast("double"), 4
        ).alias("distinct_ratio"),
        stable_round(
            F.col("_top") / F.col("n_tokens").cast("double"), 4
        ).alias("top_token_share"),
    )


def stratified_take_k(
    df: DataFrame,
    id_col: str,
    group_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Exactly ``k`` rows per group (fewer if the group is smaller),
    chosen by deterministic hash order -- the eval-set / spot-check
    sampler: reproducible across runs, engines, and partitionings
    (sampleBy guarantees none of these), and unbiased per group because
    the md5 order is independent of any data column. Tie-break on the
    id keeps even hash collisions deterministic.

    One shuffle (the group window); the rank filter drops everything
    beyond k before any downstream stage."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def weighted_take_k(
    df: DataFrame,
    id_col: str,
    weight_col: str | Column,
    k: int,
    group_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Exactly ``k`` rows (per group when ``group_col`` is given),
    sampled WITHOUT replacement with probability proportional to a
    per-row weight -- Efraimidis-Spirakis A-ES (IPL 2006): each row
    draws priority u^(1/w) from a uniform u and the k highest
    priorities win. Deterministic: u is the md5-derived uniform from
    (id, salt) shifted to (0, 1], so the
    sample is reproducible across runs, engines, and partitionings.
    Ranking uses ln(u)/w (monotone with u^(1/w), avoids underflow for
    large weights); tie-break on the id. Rows with NULL or
    non-positive weights are excluded (zero weight = never sampled,
    matching the limit of the inclusion probability).

    The quality-weighted eval-set sampler: stratified_take_k's shape
    (one group-window shuffle, rank filter before anything downstream)
    with importance instead of uniformity.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    wcol = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    # u in (0, 1]: the +1 shift keeps ln(u) finite at the grid floor
    u = (h + F.lit(1)) / F.lit(float(2**52))
    prio = F.log(u) / wcol
    win = Window.partitionBy(
        *([group_col] if group_col else [])
    ).orderBy(prio.desc(), F.col(id_col).asc())
    return (
        df.filter(wcol.isNotNull() & (wcol > 0))
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-substring signal at n-gram granularity: every
    positional n-token shingle that occurs in >= ``min_docs`` DISTINCT
    documents, emitted as (doc_id, pos, gram) spans. This is the
    detection half of exact-substring training-data dedup (the
    remove-repeated-spans step of Lee et al.-style pipelines): callers
    cut or mask the returned spans, or aggregate them per doc as a
    duplication-rate quality score.

    Scale shape: tokenize once per doc, explode positional shingles
    (Generate is a projection barrier, so tokenization stays O(L)),
    aggregate shingle -> distinct-doc count, semi-join the >= min_docs
    set back to the positional rows. Only (gram, doc, pos) tuples ever
    shuffle -- document bodies never move. At 100 TB you would hash the
    gram to a 64-bit key before the shuffle (xxhash64, same trade as
    neardup.minhash_candidates); the string key is kept here so the
    DuckDB oracle can recompute it verbatim.

    The positional gram frame is deliberately NOT persisted even though
    both the dup aggregate and the semi-join consume it: it is LARGER
    than the corpus (one row per token position), so re-tokenizing on
    the second pass is cheaper than caching it -- the opposite call from
    ranking.bm25_topk's tiny tf frame."""
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = text.tokens(F.lower(F.col(text_col)))
    # filter BEFORE the explode: sequence(0, size-n) with size < n would
    # run backwards (Spark infers step -1), producing negative offsets
    grams = df.filter(F.size(toks) >= n).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ).alias("pos", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct(id_col).alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("gram")
    )
    return grams.join(dup, "gram", "left_semi").select(id_col, "pos", "gram")


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    capacity_tokens: int,
    partition_col: str | None = None,
) -> DataFrame:
    """Deterministic greedy sequence packing: assign documents, in
    ``id_col`` order, to training-context bins of ``capacity_tokens`` --
    the docs-to-sequences step between a cleaned corpus and a token
    loader. A doc lands in the bin its RUNNING TOKEN TOTAL (exclusive
    prefix sum) falls in; docs are never split, so a bin may overflow by
    at most one document (the standard greedy-fill variant; loaders
    truncate or span the boundary downstream).

    Output: (id, [partition_col], seq_id, n_tokens, offset_tokens)
    where offset_tokens is the doc's start inside its packing stream.

    Scale shape: the prefix sum is a window over ``partition_col``
    (default: one global stream -- fine for tests, but a single total
    order at 100 TB serializes into one task; ALWAYS pass a partition
    column such as source/shard there, which packs each slice
    independently and in parallel, the same contract as every
    distributed packer)."""
    if capacity_tokens < 1:
        raise ValueError("capacity_tokens must be >= 1")
    from pyspark.sql import Window

    part = [partition_col] if partition_col else []
    w = (
        Window.partitionBy(*part)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = text.token_count(text_col)
    counted = df.select(
        F.col(id_col), *part, n.alias("n_tokens")
    )
    prev = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("_prev")
    return counted.select(
        id_col,
        *part,
        "n_tokens",
        prev,
    ).select(
        id_col,
        *part,
        F.floor(F.col("_prev") / capacity_tokens)
        .cast("long")
        .alias("seq_id"),
        "n_tokens",
        F.col("_prev").cast("long").alias("offset_tokens"),
    )


def line_dedup(
    docs: DataFrame,
    max_docs: int = 1,
) -> DataFrame:
    """Corpus-level line deduplication -- the CCNet/RefinedWeb
    boilerplate strip: a (trimmed) line appearing in MORE than
    ``max_docs`` distinct documents is boilerplate (nav bars, cookie
    banners, license headers) and is removed from every document; each
    document is rebuilt from its surviving lines in original order.
    Whitespace-only lines are structural, never counted and never
    removed. This is the line-grain complement to minhash dedup
    (which drops docs): here the
    DOCS survive, the repeated LINES go.

    Scale shape: posexplode to (doc, pos, line), one hash agg on the
    trimmed line for distinct-doc counts, one equi-join back (hot keys
    are exactly the boilerplate -- AQE skew split's case), and the
    rebuild is a hash agg to doc grain via array_sort(collect_list(
    struct(pos, line))) -- deterministic order without a window sort.
    Reads (doc_id, text) and returns (doc_id, text, n_lines,
    n_removed); NULL-text docs pass
    through with NULL text and zero counts."""
    if max_docs < 1:
        raise ValueError("max_docs must be >= 1")
    lines = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n", -1)).alias(
            "_pos", "_line"
        ),
    ).withColumn("_key", F.trim(F.col("_line")))
    counts = (
        lines.filter(F.col("_key") != "")
        .groupBy("_key")
        .agg(F.count_distinct("doc_id").alias("_docs"))
    )
    kept = (
        lines.join(counts, "_key", "left")
        .withColumn(
            "_keep",
            (F.col("_key") == "") | (F.col("_docs") <= max_docs),
        )
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"),
                            F.struct(F.col("_pos"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("text"),
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "text",
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
        )
    )


def _bigram_pairs(toks: Column) -> Column:
    """array<struct<prev,token>> of adjacent token pairs -- the same
    shifted-slice zip as text.word_ngrams (and for the same O(L) vs
    O(L^2) reason)."""
    n = F.size(toks)
    return F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("prev"), b.alias("token")),
    )


def unigram_logprob_table(
    ref: DataFrame,
    vocab_size: int = 50_000,
    alpha: float = 1.0,
) -> DataFrame:
    """Smoothed unigram language model fit on a reference corpus,
    returned as a (token, logp) FRAME -- the model artifact of the
    CCNet-style quality filter (Wenzek et al. 2020 score corpora by LM
    perplexity against a trusted reference; the in-engine counterpart is
    unigram surprisal, which needs no external LM binary).

    Add-alpha smoothing over the top-``vocab_size`` tokens plus one OOV
    bucket (token NULL): logp(w) = ln((c_w + alpha) / (N + alpha*(V+1)))
    with every out-of-vocabulary token sharing the OOV mass. Everything
    is distributed: one explode + hash agg for counts, a TakeOrdered
    top-V cut (never a global sort), and the scalar (N, V) terms ride a
    one-row broadcast. The result is a small stored table -- write it
    once, broadcast-join it per scoring run."""
    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (smoothing mass)")
    counts = (
        ref.select(F.explode(text.tokens(F.lower(F.col("text")))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        # counts feeds the top-V cut AND the N scalar, top feeds the V
        # scalar AND the vocab rows: checkpoint the one frame that
        # embodies the raw-corpus scan (the bh_adjust convention) so
        # the reference corpus is tokenized and counted exactly ONCE
        # per fit, not once per consumer chain
        .localCheckpoint()
    )
    top = (
        counts.orderBy(F.col("c").desc(), F.col("t").asc())
        .limit(vocab_size)
        .localCheckpoint()
    )
    scalars = counts.agg(
        F.sum("c").cast("double").alias("_n"),
    ).crossJoin(top.agg(F.count(F.lit(1)).cast("double").alias("_v")))
    oov = scalars.select(
        F.lit(None).cast("string").alias("token"),
        (F.log(F.lit(alpha)) - F.log(F.col("_n") + alpha * (F.col("_v") + 1)))
        .alias("logp"),
    )
    in_vocab = top.crossJoin(F.broadcast(scalars)).select(
        F.col("t").alias("token"),
        (
            F.log(F.col("c") + F.lit(alpha))
            - F.log(F.col("_n") + alpha * (F.col("_v") + 1))
        ).alias("logp"),
    )
    # the returned model frame is itself read twice by every scorer
    # (in-vocab broadcast side + OOV fallback row)
    return in_vocab.unionByName(oov).localCheckpoint()


def unigram_surprisal(
    docs: DataFrame,
    lm: DataFrame,
) -> DataFrame:
    """Mean token surprisal (-logp, nats) of every document under a
    unigram_logprob_table model -- the quality score: text that looks
    like the reference corpus scores LOW, gibberish / wrong-language /
    rare-token soup scores HIGH, and thresholding on it is the CCNet
    perplexity-filter shape. Empty documents return NULL (no tokens to
    score).

    Scale shape: explode doc tokens, ONE broadcast left join against the
    (bounded, <= vocab+1 row) LM table with OOV fallback via coalesce,
    one hash agg back to doc grain. No Python in the row path; at 100 TB
    the LM table is a stored artifact shared by every scoring run.

    Reads (doc_id, text); returns (doc_id, n_tokens, surprisal)."""
    oov = lm.filter(F.col("token").isNull()).select(
        F.col("logp").alias("_oov_logp")
    )
    toks = docs.select(
        F.col("doc_id"),
        F.explode(text.tokens(F.lower(F.col("text")))).alias("token"),
    )
    scored = (
        toks.join(F.broadcast(lm.filter(F.col("token").isNotNull())), "token", "left")
        .crossJoin(F.broadcast(oov))
        .select(
            "doc_id",
            F.coalesce(F.col("logp"), F.col("_oov_logp")).alias("_lp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (-F.avg("_lp")).alias("surprisal"),
    )
    # empty docs never reach the explode: re-attach them with NULL score
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            "surprisal",
        )
    )


# ---------------------------------------------------------------------------
# Linear quality classifier (fastText shape) + DSIR importance weights
# ---------------------------------------------------------------------------


def nb_token_odds_table(
    pos: DataFrame,
    neg: DataFrame,
    vocab_size: int = 50_000,
    alpha: float = 1.0,
) -> DataFrame:
    """Binary Naive Bayes token log-odds fit on two labeled corpora --
    the in-engine counterpart of the fastText-style linear quality
    classifier big pretraining pipelines use to keep "reference-like"
    text (Joulin et al. 2016 for the model family; GPT-3/Gopher-style
    pipelines describe filtering CommonCrawl with exactly this shape:
    a linear classifier over token features with a high-quality
    positive set).

    Model: odds(w) = ln P(w|pos) - ln P(w|neg) with add-``alpha``
    smoothing over the top-``vocab_size`` tokens BY COMBINED COUNT plus
    one OOV bucket (token NULL):

        ln((c_pos + a) / (N_pos + a*(V+1))) -
        ln((c_neg + a) / (N_neg + a*(V+1)))

    where N_* are the full corpus token totals (not just in-vocab), the
    unigram_logprob_table convention. Distributed end to end: two
    explode + hash-agg count passes, a full-outer token join, a
    TakeOrdered top-V cut (never a global sort), scalar totals on a
    one-row broadcast. The result is a tiny stored artifact (<= V+1
    rows) -- fit once, broadcast-join it into every scoring run.

    Returns (token nullable, odds)."""
    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (smoothing mass)")

    def counts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(
                F.explode(text.tokens(F.lower(F.col("text")))).alias("t")
            )
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias(out))
        )

    cp, cn = counts(pos, "cp"), counts(neg, "cn")
    both = (
        cp.join(cn, "t", "full")
        .select(
            "t",
            F.coalesce("cp", F.lit(0)).alias("cp"),
            F.coalesce("cn", F.lit(0)).alias("cn"),
        )
    )
    top = both.orderBy(
        (F.col("cp") + F.col("cn")).desc(), F.col("t").asc()
    ).limit(vocab_size)
    scalars = (
        cp.agg(F.coalesce(F.sum("cp"), F.lit(0)).cast("double").alias("_np"))
        .crossJoin(
            cn.agg(
                F.coalesce(F.sum("cn"), F.lit(0)).cast("double").alias("_nn")
            )
        )
        .crossJoin(top.agg(F.count(F.lit(1)).cast("double").alias("_v")))
    )

    def odds(cp_col: Column, cn_col: Column) -> Column:
        return (
            F.log(cp_col + F.lit(alpha))
            - F.log(F.col("_np") + alpha * (F.col("_v") + 1))
        ) - (
            F.log(cn_col + F.lit(alpha))
            - F.log(F.col("_nn") + alpha * (F.col("_v") + 1))
        )

    in_vocab = top.crossJoin(F.broadcast(scalars)).select(
        F.col("t").alias("token"),
        odds(F.col("cp"), F.col("cn")).alias("odds"),
    )
    oov = scalars.select(
        F.lit(None).cast("string").alias("token"),
        odds(F.lit(0.0), F.lit(0.0)).alias("odds"),
    )
    return in_vocab.unionByName(oov)


def nb_log_odds(
    docs: DataFrame,
    odds: DataFrame,
    prior_log_odds: float = 0.0,
) -> DataFrame:
    """Per-document classifier score under an nb_token_odds_table model:
    log_odds(doc) = prior + sum over tokens of odds(token), OOV tokens
    falling back to the model's NULL-token row. Positive means
    "looks like the positive corpus"; threshold on it (or on a
    sigmoid of it) for the quality-filter decision.

    Scale shape (the unigram_surprisal pattern): explode doc tokens,
    ONE broadcast left join against the bounded model table, one hash
    agg back to doc grain -- no Python in the row path. Documents with
    no tokens carry no evidence and score exactly the prior.

    Reads (doc_id, text); returns (doc_id, n_tokens, log_odds)."""
    oov = odds.filter(F.col("token").isNull()).select(
        F.col("odds").alias("_oov_odds")
    )
    toks = docs.select(
        F.col("doc_id"),
        F.explode(text.tokens(F.lower(F.col("text")))).alias("token"),
    )
    scored = (
        toks.join(
            F.broadcast(odds.filter(F.col("token").isNotNull())),
            "token",
            "left",
        )
        .crossJoin(F.broadcast(oov))
        .select(
            "doc_id",
            F.coalesce(F.col("odds"), F.col("_oov_odds")).alias("_o"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("_o").alias("_sum"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            (F.lit(float(prior_log_odds)) + F.coalesce(F.col("_sum"), F.lit(0.0))).alias(
                "log_odds"
            ),
        )
    )


def _hashed_ngram_buckets(text_expr: Column, ngram: int, buckets: int) -> Column:
    """array<long> of hashed word-n-gram feature buckets (with
    multiplicity -- multinomial features, not a set). md5-derived so any
    engine can recompute the bucketing exactly (neardup.md5_hash60)."""
    from bigdata_storage_and_proccess_job_data_spark.operators.neardup import (
        md5_hash60,
    )

    return F.transform(
        text.word_ngrams(text_expr, ngram),
        lambda g: F.pmod(md5_hash60(g), F.lit(buckets)),
    )


def dsir_logratio_table(
    target: DataFrame,
    source: DataFrame,
    ngram: int = 2,
    buckets: int = 10_000,
    alpha: float = 1.0,
) -> DataFrame:
    """Hashed-n-gram importance-ratio model for data selection (DSIR,
    Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling"): fit multinomial bucket distributions of the TARGET
    (what you want more of) and SOURCE (what you have) corpora over
    md5-hashed word n-grams, and store, per bucket,

        logratio(b) = ln((c_t + a)/(N_t + a*B)) - ln((c_s + a)/(N_s + a*B))

    A document's importance log-weight is then the sum of logratio over
    its hashed features (dsir_log_weights); resample the source corpus
    proportionally to exp(weight) (weighted_take_k) to shift it toward
    the target distribution.

    Only buckets observed in either corpus materialize as rows; the
    never-seen-bucket constant rides a NULL-bucket row (the OOV
    pattern), so the artifact is <= min(B, observed)+1 rows and
    broadcast-joins into scoring runs. Two explode + hash-agg passes,
    one full-outer bucket join, scalars on a one-row broadcast.

    Returns (bucket nullable, logratio)."""
    if ngram < 1:
        raise ValueError("ngram must be >= 1")
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (smoothing mass)")

    def counts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(
                F.explode(
                    _hashed_ngram_buckets(F.col("text"), ngram, buckets)
                ).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(out))
        )

    ct, cs = counts(target, "ct"), counts(source, "cs")
    both = ct.join(cs, "bucket", "full").select(
        "bucket",
        F.coalesce("ct", F.lit(0)).alias("ct"),
        F.coalesce("cs", F.lit(0)).alias("cs"),
    )
    scalars = (
        ct.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("double").alias("_nt"))
        .crossJoin(
            cs.agg(
                F.coalesce(F.sum("cs"), F.lit(0)).cast("double").alias("_ns")
            )
        )
    )

    def ratio(ct_col: Column, cs_col: Column) -> Column:
        return (
            F.log(ct_col + F.lit(alpha))
            - F.log(F.col("_nt") + alpha * buckets)
        ) - (
            F.log(cs_col + F.lit(alpha))
            - F.log(F.col("_ns") + alpha * buckets)
        )

    seen = both.crossJoin(F.broadcast(scalars)).select(
        "bucket", ratio(F.col("ct"), F.col("cs")).alias("logratio")
    )
    unseen = scalars.select(
        F.lit(None).cast("long").alias("bucket"),
        ratio(F.lit(0.0), F.lit(0.0)).alias("logratio"),
    )
    return seen.unionByName(unseen)


def dsir_log_weights(
    docs: DataFrame,
    table: DataFrame,
    buckets: int = 10_000,
) -> DataFrame:
    """Per-document DSIR importance log-weight under a
    dsir_logratio_table model: sum of logratio over the document's
    hashed n-gram features (with multiplicity), unseen buckets falling
    back to the model's NULL-bucket row. ``buckets`` MUST match the fit
    call, and the fit MUST use its default ngram=2 (the hash space is
    part of the model).

    Documents with fewer than 2 tokens have no features and
    weigh ln(1) = 0 -- equally likely under both distributions, by
    construction. Scale shape: explode hashed features, one broadcast
    left join against the bounded model, one hash agg to doc grain.

    Reads (doc_id, text); returns (doc_id, n_features, log_weight)."""
    dflt = table.filter(F.col("bucket").isNull()).select(
        F.col("logratio").alias("_dflt")
    )
    feats = docs.select(
        F.col("doc_id"),
        F.explode(
            _hashed_ngram_buckets(F.col("text"), 2, buckets)
        ).alias("bucket"),
    )
    scored = (
        feats.join(
            F.broadcast(table.filter(F.col("bucket").isNotNull())),
            "bucket",
            "left",
        )
        .crossJoin(F.broadcast(dflt))
        .select(
            "doc_id",
            F.coalesce(F.col("logratio"), F.col("_dflt")).alias("_lr"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_features"),
        F.sum("_lr").alias("_sum"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_features"), F.lit(0)).alias("n_features"),
            F.coalesce(F.col("_sum"), F.lit(0.0)).alias("log_weight"),
        )
    )


def negative_samples(
    positives: DataFrame,
    items: DataFrame,
    k: int = 5,
    salt: str = "",
    draws: int | None = None,
) -> DataFrame:
    """Deterministic negative sampling for contrastive / retrieval
    training pairs: for each distinct anchor_id in ``positives`` (with
    its positive_id), up to ``k`` item_ids from ``items`` that are NOT
    that anchor's positives and not the anchor itself, drawn uniformly
    and REPRODUCIBLY -- the md5 coin of (anchor, salt, draw slot) picks
    a dense item index, so the sample is bit-identical across runs,
    partitionings, and engines (the DuckDB twin replays it exactly;
    same determinism contract as leakage_safe_split / weighted_take_k).

    Output: (anchor, negative, rank) with rank 1..k in draw order --
    rank is stable, so downstream "use the first j negatives" slicing
    is deterministic too.

    ``draws`` (default 2k + 16) bounds the per-anchor draw budget:
    slots that land on a positive, the anchor itself, or an
    already-drawn item are discarded, so an anchor can emit FEWER than
    k rows when the budget exhausts -- callers with dense positive
    sets (|positives per anchor| comparable to |items|) should raise
    ``draws``. That trade is what keeps the operator scale-safe: cost
    is O(|anchors| * draws), never the O(|anchors| * |items|)
    cross-join a rejection-free sampler needs.

    Scale shape: the item pool gets a dense index via ONE global
    row_number over the pool -- items is the dim side (a candidate
    catalog), so the single-partition sort is bounded by the pool, not
    the corpus; anchors explode to ``draws`` slot rows, equi-join the
    index (dim-sized, AQE-broadcastable), anti-join the positives on
    (anchor, item) -- the only corpus-sized shuffle -- and two bounded
    per-anchor aggregates finish. No cross join anywhere."""
    if k < 1:
        raise ValueError("k must be >= 1")
    m = draws if draws is not None else 2 * k + 16
    if m < k:
        raise ValueError("draws must be >= k")
    from pyspark.sql import Window

    from .neardup import md5_hash60

    pos = positives.select(
        F.col("anchor_id").alias("_a"), F.col("positive_id").alias("_item")
    ).filter(F.col("_a").isNotNull() & F.col("_item").isNotNull())
    pool = (
        items.select(F.col("item_id").alias("_item"))
        .filter(F.col("_item").isNotNull())
        .distinct()
    )
    # localCheckpoint (not persist): the dense index is computed once
    # and its blocks are released when the frame is garbage-collected,
    # so repeated calls cannot accumulate pinned pools the caller has
    # no handle to unpersist -- the connected_components
    # precedent.
    idx = pool.select(
        "_item",
        (
            F.row_number().over(Window.orderBy("_item")) - 1
        ).alias("_idx"),
    ).localCheckpoint()
    # bounded driver scalar (one long -- the documented collect class):
    # the modulo constant folds into codegen instead of riding a
    # one-row BNLJ through every slot row
    n_items = idx.count()
    if n_items == 0:
        raise ValueError("items pool is empty")

    slots = (
        pos.select("_a")
        .distinct()
        .select("_a", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("_slot"))
    )
    drawn = slots.withColumn(
        "_idx",
        F.pmod(
            md5_hash60(
                F.concat_ws(
                    ":",
                    F.col("_a").cast("string"),
                    F.lit(salt),
                    F.col("_slot").cast("string"),
                )
            ),
            F.lit(n_items),
        ),
    )
    cand = drawn.join(idx, "_idx").select("_a", "_item", "_slot")
    cand = cand.filter(
        F.col("_item").cast("string") != F.col("_a").cast("string")
    ).join(pos, ["_a", "_item"], "left_anti")
    # each slot maps to exactly one item, so per (anchor, item) the
    # min slot is unique per anchor -- draw order is a total order
    first = cand.groupBy("_a", "_item").agg(F.min("_slot").alias("_slot"))
    w = Window.partitionBy("_a").orderBy("_slot")
    return (
        first.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .select(
            F.col("_a").alias("anchor"),
            F.col("_item").alias("negative"),
            F.col("_rank").alias("rank"),
        )
    )


def mask_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    rate: float = 0.15,
    salt: str = "mlm",
) -> DataFrame:
    """Deterministic MLM-style token masking -- the denoising-objective
    data prep (BERT's 15% masking / the token half of T5 span
    corruption): each whitespace token flips an md5 coin keyed by
    (doc id, position, salt) and masked positions emit BOTH the
    corrupted input and the recovery targets. The coin is the repo's
    determinism primitive, so the SAME corpus + salt always yields the
    SAME masked dataset across sessions, partitionings, and engines --
    an epoch re-generates by changing the salt, not by storing masks.

    Pure expression shape: ONE tokenize + index-aware array
    transforms -- no explode, no shuffle, no Python; rows out = rows
    in, and the whole derivation runs inside whole-stage codegen at
    scan speed. (The DuckDB oracle replays it via generate_subscripts,
    value-identical through the md5_hash60 bridge.)

    Returns id + (masked_text, n_tokens, n_masked,
    targets: array<struct<pos int, token string>>) with 0-based
    positions; NULL text yields an empty-token row (no silent drop)."""
    if not 0 < rate < 1:
        raise ValueError("rate must be in (0, 1)")
    from bigdata_storage_and_proccess_job_data_spark.functions import text

    toks = text.tokens(F.coalesce(F.col(text_col), F.lit("")))
    # coin(i) < rate, keyed by (id, 0-based position, salt); the
    # 60-bit md5 prefix over 2^60 is the bootstrap/jl coin
    threshold = int(rate * float(1 << 60))
    # spelled as ONE parsed SQL expression so the transform lambda's
    # index variable rides inside the coin, byte-identical to the
    # oracle's replay text
    coin_sql = (
        "cast(conv(substring(md5(concat_ws(':', "
        f"cast(`{id_col}` as string), cast(i as string), '{salt}')), "
        "1, 15), 16, 10) as bigint)"
    )
    masked_arr = F.expr(
        f"transform(_toks, (t, i) -> case when {coin_sql} < "
        f"{threshold} then '[MASK]' else t end)"
    )
    targets = F.expr(
        f"filter(transform(_toks, (t, i) -> struct(i as pos, t as "
        f"token, ({coin_sql} < {threshold}) as _hit)), s -> s._hit)"
    )
    return (
        df.select(id_col, toks.alias("_toks"))
        .select(
            id_col,
            F.array_join(masked_arr, " ").alias("masked_text"),
            F.size("_toks").alias("n_tokens"),
            targets.alias("_tg"),
        )
        .select(
            id_col,
            "masked_text",
            "n_tokens",
            F.size("_tg").alias("n_masked"),
            F.expr(
                "transform(_tg, s -> struct(s.pos as pos, "
                "s.token as token))"
            ).alias("targets"),
        )
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    salt: str,
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    1-based position under the total order md5(id, salt) -- the
    data-loading permutation for an epoch. A new epoch is a new salt,
    never a stored permutation: the order is a pure function of
    (id, salt), reproducible across sessions, partitionings, and
    resumptions mid-epoch (position k is always the same example), and
    two epochs' orders are as uncorrelated as their salts' hashes.

    Scale shape: the md5 rank column is one expression; positions come
    from global_row_number's two-phase form (range partition +
    per-partition row_number + bounded offset fold) -- NO single-task
    global sort, the melt Window.orderBy() would plan. The (hash, id)
    compound key is total (ids are unique by contract; the id itself
    breaks any 60-bit hash collision), so positions are
    bit-reproducible.

    Returns input + (shuffle_pos: BIGINT, 1..n)."""
    from bigdata_storage_and_proccess_job_data_spark.operators.aggregates import (
        _safe_salt,
        global_row_number,
    )

    coined = df.withColumn(
        "_shuffle_h",
        F.expr(
            "conv(substring(md5(concat_ws(':', "
            f"cast(`{id_col}` as string), '{_safe_salt(salt)}')), "
            "1, 15), 16, 10)"
        ).cast("long"),
    )
    return global_row_number(
        coined, ["_shuffle_h", id_col], out_col="shuffle_pos"
    ).drop("_shuffle_h")


def curriculum_order(
    df: DataFrame,
    id_col: str,
    difficulty_col: str,
    salt: str,
    n_stages: int = 4,
) -> DataFrame:
    """Deterministic curriculum training order: rows ramp easy -> hard
    across ``n_stages`` difficulty-quantile stages, shuffled WITHIN each
    stage (so batches are not difficulty-sorted inside a stage -- the
    standard curriculum-learning loader order, Bengio et al. 2009).

    Two two-phase global row numbers, both skew-free (the epoch_shuffle
    machinery -- range partition + per-partition row_number + bounded
    offset fold; NO single-task Window.orderBy melt):
      1. rank by (difficulty, id), stage = ceil(rank * n_stages / n)
         (exact ntile; n arrives as a one-row broadcast scalar);
      2. position by (stage, md5(id, salt), id) -- the same md5 coin as
         epoch_shuffle, so a new salt reshuffles within stages while
         stage assignment (a pure function of difficulty) is salt-free.

    NULL difficulty sorts FIRST (Spark ASC semantics; oracles must say
    NULLS FIRST). Returns input + (stage: INT 1..n_stages,
    curriculum_pos: BIGINT 1..n), bit-reproducible across runs and
    partitionings."""
    from bigdata_storage_and_proccess_job_data_spark.operators.aggregates import (
        _safe_salt,
        global_row_number,
    )

    if n_stages < 1:
        raise ValueError(f"n_stages must be >= 1: {n_stages}")
    ranked = global_row_number(
        df, [difficulty_col, id_col], out_col="_diff_rn"
    )
    total = ranked.agg(F.max("_diff_rn").alias("_n"))
    staged = (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(
            "stage",
            F.ceil(
                F.col("_diff_rn") * F.lit(n_stages) / F.col("_n")
            ).cast("int"),
        )
        .drop("_diff_rn", "_n")
    )
    coined = staged.withColumn(
        "_cur_h",
        F.expr(
            "conv(substring(md5(concat_ws(':', "
            f"cast(`{id_col}` as string), '{_safe_salt(salt)}')), "
            "1, 15), 16, 10)"
        ).cast("long"),
    )
    return global_row_number(
        coined, ["stage", "_cur_h", id_col], out_col="curriculum_pos"
    ).drop("_cur_h")


def vocab_coverage(
    docs: DataFrame,
    vocab: DataFrame,
) -> DataFrame:
    """Per-document out-of-vocabulary readout of (doc_id, text) against
    a vocabulary TABLE of ``word``: (doc_id, n_tokens, n_oov,
    oov_rate). The tokenizer-health gate a corpus pipeline runs before
    training -- a rising oov_rate means the
    vocabulary (word list, or the word-level slice of a subword vocab)
    no longer fits the corpus mix. Tokens are lowercased whitespace
    words (text.tokens, the corpus-wide convention); the vocab side is
    lowercased too before matching (review: an uppercase vocab entry
    could otherwise never match and silently inflated n_oov), so
    matching is exact on the lowercased forms.

    Scale shape: one explode to token rows, one BROADCAST left join
    against the vocabulary (bounded: a vocab is model-sized metadata,
    not corpus-sized -- AQE demotes to shuffle if a caller passes
    something huge), one hash agg back to doc grain. Empty documents
    report n_tokens 0 with NULL oov_rate."""
    from bigdata_storage_and_proccess_job_data_spark.functions import text

    toks = docs.select(
        F.col("doc_id"),
        F.explode_outer(
            text.tokens(F.lower(F.col("text")))
        ).alias("_tok"),
    )
    v = vocab.select(
        F.lower(F.col("word")).alias("_tok"),
        F.lit(True).alias("_in_vocab"),
    ).distinct()
    return (
        toks.join(F.broadcast(v), "_tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("_tok").alias("n_tokens"),
            F.sum(
                F.when(
                    F.col("_tok").isNotNull() & F.col("_in_vocab").isNull(),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_oov") / F.col("n_tokens"),
            ),
        )
    )


def kn_bigram_tables(
    ref: DataFrame,
) -> "tuple[DataFrame, DataFrame, DataFrame, float]":
    """Interpolated Kneser-Ney bigram model fit on a reference corpus --
    the KenLM-lineage smoothing CCNet-style quality filters standardize
    on (Kneser & Ney 1995; Chen & Goodman 1999), completing the LM
    ladder above the add-alpha unigram and Jelinek-Mercer bigram fits.

    Returns (bi, ctx, cont, discount):
      bi   (prev, token, c)            raw bigram counts, unpruned;
      ctx  (prev, c_prev, n_after)     context total + distinct
                                       continuation count N1+(prev, .);
      cont (token, p_cont)             continuation probability
                                       N1+(., w) / (T + 1), plus one
                                       token-IS-NULL row carrying the
                                       OOV share 1 / (T + 1) (the
                                       unigram_logprob_table OOV-row
                                       convention; T = bigram types);
      discount                         D = n1 / (n1 + 2 n2) estimated
                                       from singleton/doubleton bigram
                                       type counts (Ney et al. 1994);
                                       0.75 fallback when the estimate
                                       degenerates (no singletons, or
                                       no doubletons -- the formula
                                       then hits its 0/1 boundary).

    Scale shape: one explode + three hash aggs; the only driver traffic
    is the ONE (n1, n2) row for the discount. Artifacts are stored
    frames like the other LM tables."""
    pairs = ref.select(
        F.explode(
            _bigram_pairs(text.tokens(F.lower(F.col("text"))))
        ).alias("_z")
    ).select(
        F.col("_z.prev").alias("prev"), F.col("_z.token").alias("token")
    )
    bi = (
        pairs.groupBy("prev", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # three consumers below; fit once
    )
    ctx = bi.groupBy("prev").agg(
        F.sum("c").alias("c_prev"), F.count(F.lit(1)).alias("n_after")
    )
    before = bi.groupBy("token").agg(F.count(F.lit(1)).alias("_n_before"))
    total = before.agg(F.sum("_n_before").alias("_t"))
    seen = before.crossJoin(F.broadcast(total)).select(
        "token",
        (F.col("_n_before") / (F.col("_t") + 1)).alias("p_cont"),
    )
    oov = total.select(
        F.lit(None).cast("string").alias("token"),
        (F.lit(1.0) / (F.col("_t") + 1)).alias("p_cont"),
    )
    cont = seen.unionByName(oov)
    row = bi.agg(
        F.sum((F.col("c") == 1).cast("long")).alias("n1"),
        F.sum((F.col("c") == 2).cast("long")).alias("n2"),
    ).collect()[0]  # bounded: ONE row for the discount estimate
    n1, n2 = int(row["n1"] or 0), int(row["n2"] or 0)
    discount = n1 / (n1 + 2 * n2) if (n1 > 0 and n2 > 0) else 0.75
    return bi, ctx, cont, float(discount)


def kn_surprisal(
    docs: DataFrame,
    bi: DataFrame,
    ctx: DataFrame,
    cont: DataFrame,
    discount: float,
) -> DataFrame:
    """Mean token surprisal under the interpolated Kneser-Ney bigram
    model: p(w | prev) = max(c - D, 0) / c_prev
                         + D * N1+(prev, .) / c_prev * p_cont(w),
    full backoff to p_cont for an unseen context, the first token of a
    document scored by p_cont alone (no context -- no BOS token), and
    OOV tokens carrying the
    continuation table's reserved 1/(T+1) share, so p is never zero.

    Scale shape: one explode, broadcast joins
    on the two bounded vocab-sized tables (cont AND ctx -- review
    caught ctx shuffling the full token frame a second time), one
    shuffle join against the bigram artifact, one hash agg to doc
    grain. Reads (doc_id, text); returns (doc_id, n_tokens, surprisal =
    -mean ln p); empty docs n_tokens 0 with NULL surprisal."""
    if not 0 < discount < 1:
        raise ValueError(f"discount must be in (0, 1): {discount}")
    toks = docs.select(
        F.col("doc_id"), text.tokens(F.lower(F.col("text"))).alias("_tk")
    )
    first = toks.filter(F.size("_tk") >= 1).select(
        "doc_id",
        F.lit(None).cast("string").alias("prev"),
        F.element_at("_tk", 1).alias("token"),
    )
    rest = toks.filter(F.size("_tk") > 1).select(
        "doc_id", F.explode(_bigram_pairs(F.col("_tk"))).alias("_z")
    ).select(
        "doc_id",
        F.col("_z.prev").alias("prev"),
        F.col("_z.token").alias("token"),
    )
    oov = cont.filter(F.col("token").isNull()).select(
        F.col("p_cont").alias("_oov_pc")
    )
    d = F.lit(float(discount))
    scored = (
        first.unionByName(rest)
        .join(
            F.broadcast(
                cont.filter(F.col("token").isNotNull()).withColumnRenamed(
                    "p_cont", "_pc_seen"
                )
            ),
            "token",
            "left",
        )
        .crossJoin(F.broadcast(oov))
        .withColumn("_pc", F.coalesce(F.col("_pc_seen"), F.col("_oov_pc")))
        .join(F.broadcast(ctx), "prev", "left")  # vocab-sized, like cont
        .join(bi, ["prev", "token"], "left")
        .withColumn(
            "_p",
            F.when(
                F.col("prev").isNull() | F.col("c_prev").isNull(),
                F.col("_pc"),
            ).otherwise(
                F.greatest(
                    F.coalesce(F.col("c"), F.lit(0)) - d, F.lit(0.0)
                )
                / F.col("c_prev")
                + d * F.col("n_after") / F.col("c_prev") * F.col("_pc")
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (-F.avg(F.log("_p"))).alias("surprisal"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            "surprisal",
        )
    )


def consensus_labels(
    ratings: DataFrame,
    weight_col: "str | None" = None,
    min_ratings: int = 1,
) -> DataFrame:
    """Majority-vote label aggregation -- the step that turns raw
    multi-annotator ratings into ONE training label per item (the
    production half of the labeling story whose QA half is
    aggregates.fleiss_kappa: kappa says whether raters
    agree enough to trust; this produces the label once they do).
    Input rows are (doc_id, label) ratings, one per rating; output one
    row per item with >= ``min_ratings`` ratings:

      (doc_id, label, n_ratings, n_for, share, unanimous)

    where label is the (optionally ``weight_col``-weighted) plurality
    winner with ties broken deterministically on the label's sort
    order (bit-reproducible, engine-replayable -- the md5-coin
    convention's spirit), n_for/share count the winner's votes/weight
    share, and unanimous flags share = 1.0. Downstream filters on
    share are the standard confidence gate (e.g. keep share >= 2/3).

    NULL items/labels are excluded; NULL or non-positive weights are
    excluded (a zero-weight rating is a no-op by definition). Scale
    shape: one hash agg to (item, label) vote cells -- checkpointed,
    so the raw ratings are scanned and aggregated exactly ONCE even
    though two consumers read the cell frame -- then one plurality
    window over each item's DISTINCT labels (alphabet-bounded, never
    rating-bounded) and one per-item totals agg joined back."""
    if min_ratings < 1:
        raise ValueError(f"min_ratings must be >= 1: {min_ratings}")
    from pyspark.sql import Window

    it, lb = F.col("doc_id"), F.col("label")
    base = ratings.filter(it.isNotNull() & lb.isNotNull())
    if weight_col is not None:
        w = F.col(weight_col).cast("double")
        base = base.filter(w.isNotNull() & (w > 0))
    else:
        w = F.lit(1.0)
    cells = base.groupBy(
        it.alias("_item"), lb.alias("_label")
    ).agg(
        F.sum(w).alias("_v"),
        F.count(F.lit(1)).alias("_n"),
    )
    # the totals agg AND the winner window both read the cell frame:
    # without this the raw ratings would be scanned and re-aggregated
    # once per consumer (the bh_adjust localCheckpoint convention)
    cells = cells.localCheckpoint()
    totals = cells.groupBy("_item").agg(
        F.sum("_n").alias("n_ratings"), F.sum("_v").alias("_tot")
    )
    win = Window.partitionBy("_item").orderBy(
        F.col("_v").desc(), F.col("_label").asc()
    )
    winners = (
        cells.withColumn("_rk", F.row_number().over(win))
        .filter(F.col("_rk") == 1)
        .join(totals, "_item")
        .filter(F.col("n_ratings") >= min_ratings)
    )
    share = F.col("_v") / F.col("_tot")
    return winners.select(
        F.col("_item").alias("doc_id"),
        F.col("_label").alias("label"),
        "n_ratings",
        F.col("_n").alias("n_for"),
        share.alias("share"),
        (share == 1.0).alias("unanimous"),
    )


def rater_quality(
    ratings: DataFrame,
) -> DataFrame:
    """Per-rater agreement against the majority consensus -- the
    proxy-accuracy readout that finds weak or adversarial annotators
    without any gold labels (the Dawid-Skene intuition, kept at its
    one-iteration closed form: consensus first, then each rater scored
    against it). Input rows are (doc_id, rater, label) ratings; returns
    one row per rater:

      (rater, n_rated, n_agree, agree_rate)

    over the items that HAVE a consensus (consensus_labels semantics,
    unweighted). The honest caveat, stated: a rater's own votes are
    inside the consensus they are scored against, so small rater
    pools flatter everyone equally (the standard leave-one-out
    refinement needs per-rater consensus recomputes -- O(raters)
    passes; run THIS first and only escalate for raters near a
    threshold). NULL raters are excluded like NULL items/labels.

    Scale shape: consensus_labels' two bounded aggs, then ONE
    broadcast-or-shuffle equi-join of ratings to the per-item winner
    and one rater hash agg."""
    r = F.col("rater")
    base = ratings.filter(r.isNotNull())
    consensus = consensus_labels(base).select(
        F.col("doc_id").alias("_item"),
        F.col("label").alias("_win"),
    )
    it, lb = F.col("doc_id"), F.col("label")
    joined = base.filter(it.isNotNull() & lb.isNotNull()).join(
        consensus, it == F.col("_item")
    )
    return joined.groupBy(r.alias("rater")).agg(
        F.count(F.lit(1)).alias("n_rated"),
        F.sum((lb == F.col("_win")).cast("long")).alias("n_agree"),
        F.avg((lb == F.col("_win")).cast("double")).alias("agree_rate"),
    )


def bradley_terry_fit(
    comparisons: DataFrame,
    max_items: int = 10_000,
    alpha: float = 0.0,
) -> DataFrame:
    """Bradley-Terry strength fit over pairwise preference data -- the
    aggregation step for RLHF preference sets and model-vs-model eval
    tournaments, completing the labeling-QA family (consensus_labels
    aggregates categorical votes, cohen/fleiss_kappa gate agreement,
    THIS turns "A beat B" judgments into a scalar strength per
    candidate). Input rows are (winner, loser) -- one per judgment;
    items are the things compared (model versions, prompts, policies
    -- a BOUNDED alphabet by construction). Output one row per item:

      (item, strength, n_wins, n_losses, n_games)

    where P(i beats j) = s_i / (s_i + s_j) and strengths are
    normalized to geometric mean 1 (scale is non-identifiable; the
    ratio is the model). Fitted by Zermelo/MM iteration (Hunter 2004,
    "MM algorithms for generalized Bradley-Terry models"):
    s_i <- W_i / sum_j n_ij / (s_i + s_j), iterated to 1e-10 on the
    max relative change (at most 500 sweeps), items processed in sorted
    order so the fit is bit-deterministic and partition-independent.

    Identifiability fails loud, never silently: a comparison graph
    split into disconnected components has no common scale (raises --
    fit per component upstream), and with ``alpha`` = 0 an undefeated
    (or winless) item's MLE diverges (raises -- pass ``alpha`` > 0 to
    add that many virtual wins EACH WAY per observed pair, the
    standard regularization). Ties are not modeled: split a tie as one
    win each way upstream (the half-credit device). NULL endpoints are
    excluded; a self-comparison (winner == loser) is corrupt input and
    raises.

    Scale shape (the kmeans/rake collect class -- fit on a bounded
    artifact): ONE hash agg folds the judgments to (winner, loser)
    pair counts -- the only full scan of ``comparisons`` -- and the
    pair frame is localCheckpointed ON THE EXECUTORS (never the
    driver; distinct pairs are <= the map-side-combined distinct
    shuffle the old two-scan build paid anyway). A
    ``limit(max_items + 1)`` distinct-items probe over that
    checkpointed frame then enforces ``max_items`` BEFORE anything
    unbounded lands on the driver (the row-id misuse still raises on
    a bounded probe), and only a guard-passed frame is collected
    (bounded by items^2 by construction). The MM loop runs
    driver-side in pure Python over that model-sized frame, and the
    returned strengths frame is items-bounded -- broadcast it back
    onto anything. Deriving the guard from the checkpointed pair
    frame costs no second scan of the comparisons. Like the other
    checkpointing operators, the fold launches its Spark job eagerly
    at call time."""
    if max_items < 2:
        raise ValueError(f"max_items must be >= 2: {max_items}")
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0: {alpha}")
    w, l = F.col("winner"), F.col("loser")
    valid = comparisons.filter(w.isNotNull() & l.isNotNull())
    # ONE scan: fold to pair counts and pin the result on the
    # executors; the guard probe and the collect both read the
    # checkpoint, so raw comparisons are scanned exactly once.
    pair_counts = (
        valid.groupBy(w.alias("_w"), l.alias("_l"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint()
    )
    # Guard BEFORE anything unbounded lands on the driver: the
    # distinct-item probe pulls at most max_items + 1 ids
    # from the (executor-side) pair frame -- the exact misuse the guard
    # exists for (items = row ids) would otherwise collect up to
    # items^2 pair rows first.
    probe = (
        pair_counts.select(F.col("_w").alias("_i"))
        .union(pair_counts.select(F.col("_l").alias("_i")))
        .distinct()
        .limit(max_items + 1)
        .collect()
    )
    if len(probe) > max_items:
        raise ValueError(
            f"bradley_terry_fit: more than max_items={max_items} "
            "distinct items -- Bradley-Terry items are the candidates "
            "under comparison (models, prompts), not unbounded row ids"
        )
    counts = pair_counts.collect()
    beats: dict[tuple, float] = {}
    items_set = set()
    for r in sorted(counts, key=lambda r: (str(r._w), str(r._l))):
        if r._w == r._l:
            raise ValueError(
                f"bradley_terry_fit: self-comparison {r._w!r} beats "
                "itself -- corrupt input (drop or fix upstream)"
            )
        beats[(r._w, r._l)] = float(r._n)
        items_set.update((r._w, r._l))
    if len(items_set) > max_items:
        raise ValueError(
            f"bradley_terry_fit: {len(items_set)} items exceeds "
            f"max_items={max_items} -- Bradley-Terry items are the "
            "candidates under comparison (models, prompts), not "
            "unbounded row ids"
        )
    if len(items_set) < 2:
        raise ValueError("bradley_terry_fit: need >= 2 distinct items")
    items = sorted(items_set, key=str)
    if alpha > 0:
        # alpha once per UNORDERED observed pair: iterating directed
        # keys would give a both-ways pair 2*alpha each way while a
        # one-sided pair got 1*alpha -- a different prior strength for
        # different pairs in the same dataset
        for p in {tuple(sorted(k, key=str)) for k in beats}:
            beats[p] = beats.get(p, 0.0) + alpha
            beats[p[::-1]] = beats.get(p[::-1], 0.0) + alpha
    # connectivity: one scale only exists on a connected graph
    parent = {i: i for i in items}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in beats:
        parent[find(a)] = find(b)
    if len({find(i) for i in items}) > 1:
        raise ValueError(
            "bradley_terry_fit: comparison graph is disconnected -- "
            "components share no common scale; fit each component "
            "separately"
        )
    wins = {i: 0.0 for i in items}
    games: dict[tuple, float] = {}
    for (a, b), n in beats.items():
        wins[a] += n
        key = (a, b) if str(a) < str(b) else (b, a)
        games[key] = games.get(key, 0.0) + n
    if alpha == 0:
        for i in items:
            tot = sum(
                n for (a, b), n in games.items() if i in (a, b)
            )
            if wins[i] == 0 or wins[i] == tot:
                raise ValueError(
                    f"bradley_terry_fit: item {i!r} is "
                    f"{'undefeated' if wins[i] else 'winless'} -- its "
                    "MLE diverges; pass alpha > 0 (virtual wins each "
                    "way per observed pair) to regularize"
                )
    opp: dict = {i: [] for i in items}
    for (a, b), n in games.items():
        opp[a].append((b, n))
        opp[b].append((a, n))
    s = {i: 1.0 for i in items}
    for _ in range(500):
        worst = 0.0
        for i in items:
            denom = sum(n / (s[i] + s[j]) for j, n in opp[i])
            new = wins[i] / denom
            worst = max(worst, abs(new - s[i]) / max(s[i], 1e-300))
            s[i] = new
        # renormalize to geometric mean 1 each sweep (keeps the scale
        # from drifting; pure relabeling, never changes ratios)
        g = math.exp(sum(math.log(v) for v in s.values()) / len(s))
        s = {i: v / g for i, v in s.items()}
        if worst <= 1e-10:
            break
    else:
        raise ValueError(
            "bradley_terry_fit: not converged after 500 MM "
            f"sweeps (worst relative change {worst:.3g})"
        )
    raw_wins: dict = {i: 0 for i in items}
    raw_losses: dict = {i: 0 for i in items}
    for r in counts:
        raw_wins[r._w] += r._n
        raw_losses[r._l] += r._n
    schema = (
        comparisons.select(w.alias("item")).schema.add("strength", "double")
        .add("n_wins", "long").add("n_losses", "long").add("n_games", "long")
    )
    return local_frame(
        comparisons.sparkSession,
        [
            (
                i,
                s[i],
                int(raw_wins[i]),
                int(raw_losses[i]),
                int(raw_wins[i] + raw_losses[i]),
            )
            for i in items
        ],
        schema,
    )


def win_rate_pairs(
    comparisons: DataFrame,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Per-pair win rates with Wilson score intervals -- the leaderboard
    table beside bradley_terry_fit's global strengths: BT answers "how
    strong is each candidate overall", THIS answers "how sure are we
    about each individual matchup" (the head-to-head readout an eval
    report prints, with uncertainty that stays honest at small n --
    Wilson never leaves [0, 1] and never collapses to a zero-width
    interval the way the normal approximation does at p-hat of 0 or 1).
    Input rows are (winner, loser). One row per unordered observed
    pair, sides canonicalized so
    ``item_a`` < ``item_b`` by string order:

      (item_a, item_b, n_games, wins_a, win_rate_a, wilson_lo,
       wilson_hi)

    where win_rate_a = wins_a / n_games and [wilson_lo, wilson_hi] is
    the Wilson (1927) score interval at critical value ``z`` (default
    the two-sided 95% normal quantile):

      center = (p + z^2/2n) / (1 + z^2/n)
      half   = z * sqrt(p(1-p)/n + z^2/4n^2) / (1 + z^2/n)

    NULL endpoints are excluded (unscored is not wrong); a
    self-comparison (winner == loser) is corrupt input and fails loud
    in-plan (the bradley_terry_fit rule, folded into a consumed column
    so the guard cannot be pruned). Ties are not modeled: split a tie
    as one win each way upstream, same as BT.

    Scale shape: ONE hash aggregation over one scan to the
    pairs-bounded frame (canonicalize sides row-wise, count games and
    a-wins as sibling sums); the Wilson algebra is closed-form column
    arithmetic on the post-agg frame. Nothing collects; output is
    items^2-bounded."""
    if z <= 0:
        raise ValueError(f"win_rate_pairs: z must be > 0: {z}")
    w, l = F.col("winner"), F.col("loser")
    ws, ls = w.cast("string"), l.cast("string")
    # self-comparison guard folded into the CONSUMED item_a column
    # (a free-standing guard column would be pruned and never evaluate)
    item_a = F.when(
        ws == ls,
        F.raise_error(
            F.concat(
                F.lit("win_rate_pairs: self-comparison "),
                ws,
                F.lit(" beats itself -- corrupt input (drop or fix "
                      "upstream)"),
            )
        ),
    ).otherwise(F.when(ws < ls, w).otherwise(l))
    item_b = F.when(ws < ls, l).otherwise(w)
    agg = (
        comparisons.filter(w.isNotNull() & l.isNotNull())
        .select(
            item_a.alias("item_a"),
            item_b.alias("item_b"),
            (ws < ls).cast("long").alias("_a_won"),
        )
        .groupBy("item_a", "item_b")
        .agg(
            F.count(F.lit(1)).alias("n_games"),
            F.sum("_a_won").alias("wins_a"),
        )
    )
    n = F.col("n_games").cast("double")
    p = F.col("wins_a").cast("double") / n
    z2 = F.lit(z * z)
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (2 * n)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
        / denom
    )
    return agg.select(
        "item_a",
        "item_b",
        "n_games",
        "wins_a",
        p.alias("win_rate_a"),
        (center - half).alias("wilson_lo"),
        (center + half).alias("wilson_hi"),
    )


def balanced_shards(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n_shards: int,
) -> DataFrame:
    """Assign every row to one of ``n_shards`` so the per-shard WEIGHT
    totals come out near-equal -- the write-side step before
    ``df.write.partitionBy('shard')`` produces training files a data
    loader can stream round-robin without one shard finishing epochs
    early: hash-partitioning balances ROW counts, but token-weighted
    corpora are Zipfian enough that equal row counts can be 2-3x apart
    in tokens. Returns the input plus a ``shard`` column (0-based INT).

    Method: rank rows by weight DESCENDING (id tiebreak -- a total
    order, so the assignment is deterministic and engine-replayable)
    and deal them out serpentine (boustrophedon): block b = (rank-1)
    div n, position p = (rank-1) mod n, shard = p on even blocks and
    n-1-p on odd blocks. Each block of n rows adds one row per shard,
    and reversing direction every block means the shard that got the
    heaviest row of one block gets the lightest of the next -- the
    classic one-pass approximation of longest-processing-time
    scheduling, with NO driver-side greedy state (an actual LPT heap
    is inherently sequential; serpentine is its order-preserving
    window form and lands within one block-spread of it in practice).

    NULL ids are excluded (no stable tiebreak); NULL weights rank as
    weight 0 (they must land somewhere, and nothing is lighter).
    Scale shape: ONE two-phase global rank (global_row_number -- no
    single-task window), then pure expressions; nothing collects
    beyond the rank's bounded per-partition offsets."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    from bigdata_storage_and_proccess_job_data_spark.operators.aggregates import (
        global_row_number,
    )

    base = df.filter(F.col(id_col).isNotNull()).withColumn(
        "_neg_w",
        -F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0)),
    )
    ranked = global_row_number(base, ["_neg_w", id_col], "_srn")
    blk = ((F.col("_srn") - 1) / n_shards).cast("long")
    pos = ((F.col("_srn") - 1) % n_shards).cast("long")
    shard = F.when(blk % 2 == 0, pos).otherwise(n_shards - 1 - pos)
    return ranked.withColumn("shard", shard.cast("int")).drop(
        "_neg_w", "_srn"
    )
