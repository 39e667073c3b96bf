"""Text-analysis expressions for large-scale training-data pipelines:
tokenization, token counting, quality scoring, language ID, document
fingerprinting.

All native Column expressions (split/regexp/array functions) -- no Python
UDFs, so they run inside whole-stage codegen over 100 TB of documents.
The reference's regex classifiers (spark_batch_v2.py:123-158) are the
semantic anchor; these generalize them to content analysis.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WORD_SPLIT = r"\s+"
# BPE-ish token pattern: runs of letters, runs of digits, or single
# non-space punctuation -- approximates subword pre-tokenization.
BPE_TOKEN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword lists for the n-gram/stopword-overlap
# language-ID heuristic. Deterministic, data-independent.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "es": ["el", "la", "los", "y", "es", "un", "una"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (trimmed; empty string -> empty array)."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, WORD_SPLIT)
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count as BIGINT."""
    return F.size(tokens(col)).cast("long")


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE-ish tokens (letter runs / digit runs / punct)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN), 0)).cast("long")


def char_class_ratio(col: Column | str, pattern: str) -> Column:
    """Fraction of characters matching a regex char class (0 when empty)."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.length(c)
    matched = total - F.length(F.regexp_replace(c, pattern, ""))
    return F.when(total > 0, matched.cast("double") / total).otherwise(0.0)


def stopword_hits(col: Column | str, words: list[str]) -> Column:
    """Number of tokens contained in ``words`` (case-insensitive)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(F.lower(c))
    wordlist = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wordlist, t))).cast(
        "long"
    )


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: rewards moderate length and
    alphabetic content, penalizes punctuation/digit soup.

    score = 0.4*min(1, words/50) + 0.4*alpha_ratio + 0.2*(1 - punct_ratio)
    """
    c = F.col(col) if isinstance(col, str) else col
    words = token_count(c).cast("double")
    length_part = F.least(F.lit(1.0), words / 50.0)
    alpha = char_class_ratio(c, r"[A-Za-z ]")
    punct = char_class_ratio(c, r"[^A-Za-z0-9\s]")
    return 0.4 * length_part + 0.4 * alpha + 0.2 * (1.0 - punct)


def lang_id(col: Column | str) -> Column:
    """Stopword-overlap language ID: argmax over STOPWORDS hit counts,
    ties broken by language code order, 'und' (undetermined) when no
    stopword hits at all."""
    c = F.col(col) if isinstance(col, str) else col
    best_lang = F.lit("und")
    best_hits = F.lit(0).cast("long")
    # alphabetical iteration + strictly-greater update => ties keep the
    # alphabetically-first language; zero hits everywhere => 'und'
    for code in sorted(STOPWORDS):
        hits = stopword_hits(c, STOPWORDS[code])
        cond = hits > best_hits
        best_lang = F.when(cond, F.lit(code)).otherwise(best_lang)
        best_hits = F.when(cond, hits).otherwise(best_hits)
    return best_lang


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    lower-cased token set. Robust to token reordering -- the set-level
    analogue of a rolling-hash document fingerprint, but expressible as
    native array ops on both engines."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.array_sort(F.array_distinct(tokens(F.lower(c))))
    return F.md5(F.array_join(toks, " "))


def word_ngrams(col: Column | str, n: int = 2) -> Column:
    """Word n-gram (shingle) array: contiguous n-token windows joined by a
    single space. Documents shorter than n tokens -> empty array.

    Built by zip-folding ``n`` shifted slices of the token array rather
    than slicing per window index (transform(sequence(1,k), i ->
    slice(toks, i, n))): the per-index form re-evaluates the token-split
    subtree for every window after projection collapse, turning an O(L)
    tokenization into O(L^2) per document -- measured ~10x slower on the
    near-dup path at sf0.1."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(F.lower(c))
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, k)
    for i in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, 1 + i, k), lambda a, b: F.concat_ws(" ", a, b)
        )
    return acc


def hashed_doc_vector(col: Column | str, dim: int = 64) -> Column:
    """Feature-hashed document vector (the hashing trick, Weinberger et
    al., ICML 2009): each lowercased whitespace token hashes to one of
    ``dim`` cells with a +-1 sign, and the vector is the signed count
    per cell -- an embedding-free document representation that plugs
    straight into the cosine/ANN operators (near-dup, KNN, PQ) with no
    model and no Python.

    Scale shape: a pure per-row expression fold -- tokens are struct-
    encoded ONCE ((idx, sign) per token, one md5 each), then a single
    sequential aggregate adds each token into a dim-wide accumulator,
    so vectorization costs zero shuffles and rides the projection that
    computes it. Cross-engine: the hash is the md5-derived 60-bit value
    (same formula as operators/neardup.py:md5_hash60, duplicated here
    because functions/ sits below operators/ in the layering), and
    ``dim`` must be a power of two so cell and sign come from BITS of
    the hash (h & (dim-1), bit log2(dim)) -- no division, which a
    double-precision engine could round differently. DuckDB recomputes
    the vector exactly (tests/test_analytics.py parity test).
    """
    if dim <= 0 or dim & (dim - 1):
        raise ValueError(f"dim must be a positive power of two, got {dim}")
    c = F.col(col) if isinstance(col, str) else col
    lb = dim.bit_length() - 1

    def enc(tok: Column) -> Column:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit("hv:0:"), tok)), 1, 15),
            16,
            10,
        ).cast("long")
        return F.struct(
            h.bitwiseAND(F.lit(dim - 1)).cast("int").alias("idx"),
            F.when(
                F.shiftright(h, lb).bitwiseAND(F.lit(1)) == 0, F.lit(1.0)
            )
            .otherwise(F.lit(-1.0))
            .alias("sgn"),
        )

    pre = F.transform(tokens(F.lower(c)), enc)
    return F.aggregate(
        pre,
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, e: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda v, i: v
            + F.when(e["idx"] == i.cast("int"), e["sgn"]).otherwise(
                F.lit(0.0)
            ),
        ),
    )
