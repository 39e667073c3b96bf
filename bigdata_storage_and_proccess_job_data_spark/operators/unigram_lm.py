"""Distributed unigram-LM tokenizer training (SentencePiece-style).

The second half of the tokenizer story: bpe.py learns a merge list
bottom-up; this learns a PROBABILISTIC piece vocabulary top-down --
seed with frequent substrings, hard-EM (Viterbi) re-estimate piece
probabilities, prune the weakest pieces, repeat. The same scale trick
as BPE applies: all statistics depend only on the WORD FREQUENCY
table, so the corpus is touched exactly once (one explode + hash agg);
every EM pass runs over distinct words -- a frame orders of magnitude
smaller than the corpus -- and the only driver state is the vocabulary
itself (<= seed_size rows per iteration, the kmeans-centroid
precedent for bounded collects).

Determinism (stated because the pure-Python test replica must match
bit for bit):
- seed selection: top substrings by summed frequency, ties broken by
  (length DESC, piece ASC); single characters always kept.
- Viterbi: maximize summed log-prob; at each end position ties prefer
  the LONGER last piece (smaller start index). Unknown characters
  (never in a seeded corpus; possible at encode time) emit themselves
  at ``unk_logp``.
- M-step counts are INTEGERS (word freq x hard piece count), so no
  float-order drift can enter the aggregation; probabilities are
  derived on the driver in sorted piece order.

Reference scope: the reference repo has no tokenizer machinery; this
is the beyond-reference LLM-pipeline mandate. Public-knowledge basis:
Kudo 2018 (Subword Regularization: unigram language model), Kudo &
Richardson 2018 (SentencePiece).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fallback score for characters outside the vocabulary at encode time;
# harsh enough that any real piece wins, finite so encoding never fails
UNK_LOGP = -100.0


def _word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the corpus -- the ONE corpus-sized pass (same
    normalization as bpe._word_freqs: lowercase, whitespace split)."""
    return (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _seed_vocab(
    words: DataFrame, seed_size: int, max_piece_len: int
) -> list[str]:
    """Candidate pieces: every substring of length 1..max_piece_len of
    every distinct word, scored by summed word frequency (a substring
    occurring twice in one word counts twice). Distributed explode +
    hash agg; ONE bounded collect of ``seed_size`` rows. Single chars
    are force-included (full coverage) and do not consume seed slots."""
    subs = words.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.lit(max_piece_len)),
                    lambda ln: F.when(
                        F.length("w") >= ln,
                        F.transform(
                            F.sequence(F.lit(1), F.length("w") - ln + F.lit(1)),
                            lambda i: F.substring(F.col("w"), i, ln),
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                )
            )
        ).alias("piece"),
        "freq",
    )
    scored = subs.groupBy("piece").agg(F.sum("freq").alias("score"))
    multi = (
        scored.filter(F.length("piece") >= 2)
        .orderBy(
            F.col("score").desc(),
            F.length("piece").desc(),
            F.col("piece"),
        )
        .limit(seed_size)  # TakeOrdered: distributed partial top-k
        .collect()
    )
    chars = (
        scored.filter(F.length("piece") == 1).select("piece").collect()
    )
    return sorted({r["piece"] for r in chars}) + [r["piece"] for r in multi]


def viterbi_segment(
    word: str, logp: dict[str, float], max_piece_len: int
) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs: DP over end
    positions, ties prefer the longer last piece. Characters missing
    from ``logp`` fall back to UNK_LOGP. Shared by the trainer's E-step
    and the encoder (and mirrored by the test replica)."""
    n = len(word)
    best = [0.0] + [-math.inf] * n
    back = [0] * (n + 1)
    for end in range(1, n + 1):
        lo = max(0, end - max_piece_len)
        for start in range(lo, end):  # ascending start: longer piece first
            piece = word[start:end]
            lp = logp.get(piece)
            if lp is None:
                if end - start == 1:
                    lp = UNK_LOGP  # single unknown char fallback
                else:
                    continue
            cand = best[start] + lp
            if cand > best[end]:  # strict: first (longest) wins ties
                best[end] = cand
                back[end] = start
    out: list[str] = []
    end = n
    while end > 0:
        start = back[end]
        out.append(word[start:end])
        end = start
    out.reverse()
    return out


def _em_counts(
    words: DataFrame, logp: dict[str, float], max_piece_len: int
) -> list[tuple[str, int]]:
    """One hard-EM E-step: Viterbi-segment every distinct word under the
    current model (Arrow-batched; the vocab dict is a plain broadcast
    closure), explode pieces, hash-agg INTEGER counts weighted by word
    frequency. Returns the vocab-sized count table (bounded: one row
    per surviving piece <= current vocab size)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def seg(col: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def one(w: str) -> list[str]:
            hit = memo.get(w)
            if hit is None:
                hit = viterbi_segment(w, logp, max_piece_len)
                memo[w] = hit
            return hit

        return col.map(one)

    counts = (
        words.select(F.explode(seg(F.col("w"))).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("n"))
        .collect()  # bounded: <= |vocab| rows, the centroid precedent
    )
    return sorted((r["piece"], int(r["n"])) for r in counts)


def _normalize(counts: list[tuple[str, int]]) -> dict[str, float]:
    total = sum(n for _, n in counts)
    return {p: math.log(n / total) for p, n in counts if n > 0}


def unigram_fit(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 512,
    seed_size: int = 4096,
    max_piece_len: int = 6,
    em_rounds: int = 2,
    shrink: float = 0.75,
) -> dict[str, float]:
    """Train a unigram-LM piece vocabulary. Returns {piece: log_prob}
    (store it beside the corpus snapshot, like a BPE merge list).

    Loop: seed (frequent substrings + all chars) -> repeat [em_rounds x
    hard-EM over the distinct-word frame, then prune the lowest-prob
    multi-char pieces to ``shrink`` of the current size] until the
    vocabulary fits ``vocab_size`` -> final EM pass re-normalizes.
    Single characters are never pruned (any string stays encodable).
    Pieces Viterbi assigns zero count die immediately -- the standard
    EM pruning shortcut; ``shrink`` only paces the explicit cuts."""
    if vocab_size < 1 or seed_size < vocab_size:
        raise ValueError("need seed_size >= vocab_size >= 1")
    if not 0.0 < shrink < 1.0:
        raise ValueError(f"shrink must be in (0, 1): {shrink}")
    if max_piece_len < 1 or em_rounds < 1:
        raise ValueError("max_piece_len and em_rounds must be >= 1")
    words = _word_freqs(df, text_col).localCheckpoint()
    seed = _seed_vocab(words, seed_size, max_piece_len)
    if not seed:
        raise ValueError(f"no text in column {text_col!r}")
    # uniform init over the seed -- EM refits everything in round 1
    logp = {p: math.log(1.0 / len(seed)) for p in seed}
    chars = {p for p in seed if len(p) == 1}

    def refit(model: dict[str, float]) -> dict[str, float]:
        """E-step counts -> new model. Multi-char pieces Viterbi never
        used die (the standard EM pruning shortcut); chars get a count
        floor of 1 so they survive forever (any string stays
        encodable), including chars the counts table never mentions."""
        counts = dict(_em_counts(words, model, max_piece_len))
        fitted = [
            (p, n)
            for p, n in sorted(counts.items())
            if n > 0 and p in model
        ]
        fitted += [(c, 1) for c in sorted(chars) if counts.get(c, 0) <= 0]
        return _normalize(fitted)

    while True:
        for _ in range(em_rounds):
            logp = refit(logp)
        multi = sorted(
            ((p, lp) for p, lp in logp.items() if len(p) > 1),
            key=lambda t: (t[1], t[0]),
        )
        n_target = max(vocab_size - len(chars), 0)
        if len(multi) <= n_target:
            break
        keep = int(max(n_target, math.floor(len(multi) * shrink)))
        for p, _ in multi[: len(multi) - keep]:
            del logp[p]
    return refit(logp)
