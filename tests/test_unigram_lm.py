"""Unigram-LM tokenizer: pure-Python replica equality + coverage pins."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.operators import unigram_lm


def _vit(word, logp, maxlen):
    """Independent Viterbi with the documented tiebreak (longer last
    piece wins ties; unknown chars at -100)."""
    n = len(word)
    best = [0.0] + [-math.inf] * n
    back = [0] * (n + 1)
    for end in range(1, n + 1):
        for start in range(max(0, end - maxlen), end):
            piece = word[start:end]
            lp = logp.get(piece)
            if lp is None:
                if end - start == 1:
                    lp = -100.0
                else:
                    continue
            cand = best[start] + lp
            if cand > best[end]:
                best[end] = cand
                back[end] = start
    out, end = [], n
    while end > 0:
        out.append(word[back[end]:end])
        end = back[end]
    return out[::-1]


def _replica_fit(
    texts, vocab_size, seed_size, max_piece_len, em_rounds, shrink
):
    wf = Counter(w for t in texts if t for w in t.lower().split() if w)
    sub = Counter()
    for w, f in wf.items():
        for ln in range(1, max_piece_len + 1):
            for i in range(0, len(w) - ln + 1):
                sub[w[i : i + ln]] += f
    chars = sorted(p for p in sub if len(p) == 1)
    multi = sorted(
        (p for p in sub if len(p) >= 2),
        key=lambda p: (-sub[p], -len(p), p),
    )[:seed_size]
    seed = chars + multi
    logp = {p: math.log(1.0 / len(seed)) for p in seed}
    charset = set(chars)

    def refit(model):
        cnt = Counter()
        for w, f in wf.items():
            for p in _vit(w, model, max_piece_len):
                cnt[p] += f
        fitted = [
            (p, n) for p, n in sorted(cnt.items()) if n > 0 and p in model
        ]
        fitted += [(c, 1) for c in sorted(charset) if cnt.get(c, 0) <= 0]
        total = sum(n for _, n in fitted)
        return {p: math.log(n / total) for p, n in fitted}

    while True:
        for _ in range(em_rounds):
            logp = refit(logp)
        m = sorted(
            ((p, lp) for p, lp in logp.items() if len(p) > 1),
            key=lambda t: (t[1], t[0]),
        )
        n_target = max(vocab_size - len(charset), 0)
        if len(m) <= n_target:
            break
        keep = int(max(n_target, math.floor(len(m) * shrink)))
        for p, _ in m[: len(m) - keep]:
            del logp[p]
    return refit(logp)


def test_unigram_fit_replica_equality(spark, oracle_sf_dir):
    """The distributed trainer and an independent pure-Python replica
    produce the IDENTICAL artifact (same pieces, bit-equal log-probs:
    counts are integers, probs are log(n/total) on both sides) on real
    documents text, and on a hand corpus."""
    params = dict(
        vocab_size=48, seed_size=192, max_piece_len=4, em_rounds=2,
        shrink=0.75,
    )
    texts = ["the cat sat on the mat", "the cats sat", "a mat"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = unigram_lm.unigram_fit(df, "text", **params)
    want = _replica_fit(texts, **params)
    assert got == want

    docs = (
        load_table(spark, oracle_sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("text")
    )
    sample = [r.text for r in docs.collect()]
    got = unigram_lm.unigram_fit(docs, "text", **params)
    want = _replica_fit(sample, **params)
    assert got == want
    # every single char survives; vocab respects the size budget up to
    # the never-pruned char floor
    chars = {p for p in want if len(p) == 1}
    assert all(
        c in got for t in sample for w in t.lower().split() for c in w
    )
    assert len(got) <= max(params["vocab_size"], len(chars)) + len(chars)


def test_unigram_fit_rejections(spark):
    df = spark.createDataFrame([("hi",)], "text string")
    with pytest.raises(ValueError, match="seed_size"):
        unigram_lm.unigram_fit(df, "text", vocab_size=10, seed_size=5)
    with pytest.raises(ValueError, match="shrink"):
        unigram_lm.unigram_fit(df, "text", shrink=1.5)
    with pytest.raises(ValueError, match="must be >= 1"):
        unigram_lm.unigram_fit(df, "text", em_rounds=0)
    empty = spark.createDataFrame([("   ",)], "text string")
    with pytest.raises(ValueError, match="no text"):
        unigram_lm.unigram_fit(empty, "text")
