"""BPE tokenizer training: pure-Python replica equality + convention pins."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.operators import bpe


def _pass(toks, a, b):
    """The stated left-to-right greedy single merge pass."""
    out, pend = [], None
    for t in toks:
        if pend is None:
            pend = t
        elif (pend, t) == (a, b):
            out.append(a + b)
            pend = None
        else:
            out.append(pend)
            pend = t
    if pend is not None:
        out.append(pend)
    return out


def _replica_train(texts, n_merges, min_freq=1):
    wf = Counter(w for t in texts if t for w in t.lower().split() if w)
    vocab = {tuple(list(w) + [bpe.EOW]): f for w, f in wf.items()}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for toks, f in vocab.items():
            for j in range(len(toks) - 1):
                pc[(toks[j], toks[j + 1])] += f
        if not pc:
            break
        best, n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_freq:
            break
        merges.append(best)
        vocab = {
            tuple(_pass(list(toks), *best)): f
            for toks, f in vocab.items()
        }
    return merges, vocab


def test_bpe_train_hand_corpus_and_replica(spark, oracle_sf_dir):
    """(1) the Sennrich-style toy corpus learns the expected first
    merges with the documented (freq DESC, pair lex ASC) tiebreak;
    (2) merge lists from the distributed trainer and an independent
    pure-Python replica agree EXACTLY on real documents text; (3)
    min_freq stops early; (4) validation."""
    texts = ["low low low", "lower lower", "newest"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    merges = bpe.bpe_train(df, n_merges=4)
    rep, _ = _replica_train(texts, 4)
    assert merges == rep
    # (l,o) and (o,w) tie at 5; lexicographic tiebreak picks (l,o),
    # then (lo,w) dominates at 5
    assert merges[0] == ("l", "o") and merges[1] == ("lo", "w")

    docs = (
        load_table(spark, oracle_sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        .select("text")
    )
    sample = [r.text for r in docs.collect()]
    got = bpe.bpe_train(docs, n_merges=12)
    want, _ = _replica_train(sample, 12)
    assert got == want and len(got) == 12

    # min_freq early stop: every pair occurs once
    tiny = spark.createDataFrame([("ab",), ("cd",)], "text string")
    assert bpe.bpe_train(tiny, n_merges=5, min_freq=2) == []

    with pytest.raises(ValueError):
        bpe.bpe_train(df, n_merges=0)


def test_bpe_encode_reproduces_training_segmentation(spark):
    """Encoding the training corpus with the trained merges reproduces
    the trainer's final word segmentations exactly (the rank-dict
    encoder and the in-order fold are equivalent because merges never
    create new occurrences of earlier pairs); NULL text stays NULL;
    empty merge list yields character tokens."""
    texts = ["low low low", "lower lower", "newest", "lowest newest"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    merges = bpe.bpe_train(df, n_merges=8)
    _, vocab = _replica_train(texts, 8)
    def word_of(toks):
        s = "".join(toks)
        assert s.endswith(bpe.EOW)
        return s[: -len(bpe.EOW)]

    seg = {word_of(k): list(k) for k in vocab}

    words = sorted(seg)
    wdf = spark.createDataFrame([(w,) for w in words], "text string")
    enc = {
        r.text: r.bpe_tokens
        for r in bpe.bpe_encode(wdf, merges).collect()
    }
    for w in words:
        assert enc[w] == seg[w], w

    row = bpe.bpe_encode(
        spark.createDataFrame([(None,)], "text string"), merges
    ).collect()[0]
    assert row.bpe_tokens is None

    plain = bpe.bpe_encode(
        spark.createDataFrame([("ab",)], "text string"), []
    ).collect()[0]
    assert plain.bpe_tokens == ["a", "b", bpe.EOW]
