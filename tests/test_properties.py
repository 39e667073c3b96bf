"""Property-based checks (hypothesis) for the scalar expression library.

Each property generates a BATCH of adversarial strings, ships them
through Spark ONCE, and asserts the invariant on every row -- one Spark
job per property, not per example (hypothesis drives generation only;
round-tripping each example individually would be ~100 jobs).
"""

from __future__ import annotations

import pytest
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.functions import text

TEXTS = st.text(
    alphabet=st.characters(
        whitelist_categories=("L", "N", "P", "Zs"), max_codepoint=0x2FF
    ),
    max_size=120,
)


def _examples(n=200):
    # draw a deterministic batch via hypothesis' internal engine
    from hypothesis import HealthCheck, given, settings

    collected: list[str] = []

    @settings(
        max_examples=n,
        database=None,
        derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    @given(TEXTS)
    def grab(s):
        collected.append(s)

    grab()
    return collected


def test_text_function_invariants(spark):
    samples = _examples(250) + [
        "", " ", "  a  ", "a b", "a\tb\nc", "word " * 50, "$1,2.3!",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], ["i", "s"])
    rows = df.select(
        "s",
        text.token_count("s").alias("tc"),
        F.size(text.word_ngrams("s", 2)).alias("n2"),
        F.size(text.word_ngrams("s", 3)).alias("n3"),
        text.quality_score("s").alias("q"),
        text.fingerprint("s").alias("fp"),
        text.fingerprint(
            F.concat_ws(" ", F.reverse(text.tokens(F.lower(F.col("s")))))
        ).alias("fp_rev"),
    ).collect()
    for r in rows:
        # ngram count follows token count exactly
        assert r.n2 == max(0, r.tc - 1), (r.s, r.tc, r.n2)
        assert r.n3 == max(0, r.tc - 2), (r.s, r.tc, r.n3)
        # quality score bounded
        assert 0.0 <= r.q <= 1.0 + 1e-9, (r.s, r.q)
        # fingerprint is token-order-invariant
        assert r.fp == r.fp_rev, (r.s,)


def test_stable_round_matches_duckdb_on_grid(spark):
    """stable_round's tie-break delta must agree with the SQL twin on the
    exact-decimal grid where Spark ROUND and DuckDB ROUND diverge."""
    import duckdb

    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )

    vals = [i / 1000.0 for i in range(-2000, 2001, 7)] + [
        0.005, 0.015, 0.025, 2.675, -0.005, -2.675, 1e12 + 0.005,
    ]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = [
        r.r
        for r in df.select(stable_round(F.col("x"), 2).alias("r"))
        .orderBy("x")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES " +
                ",".join(f"(CAST({v!r} AS DOUBLE))" for v in vals) + ") v(x)")
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {sql_round('x', 2)} AS r FROM t ORDER BY x"
        ).fetchall()
    ]
    assert got == want


def test_pack_and_span_invariants_on_generated_corpus(spark):
    """One generated corpus, two operator invariants:

    - pack_sequences: offsets are the exact exclusive prefix sum in id
      order per partition slice, seq_id = offset // capacity, and every
      bin except possibly the last per slice reaches capacity once its
      successor starts (greedy fill never skips a bin).
    - duplicate_ngram_spans: every returned (doc, pos, gram) matches the
      doc's tokens at that position, every returned gram occurs in at
      least min_docs distinct docs, and no qualifying span is missed.
    """
    from bigdata_storage_and_proccess_job_data_spark.operators import corpus

    samples = _examples(120) + ["a b c d e", "a b c d e", "", " ", "x " * 30]
    rows = [(i, f"s{i % 4}", s) for i, s in enumerate(samples)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")

    cap = 16
    packed = corpus.pack_sequences(
        df, "doc_id", "text", cap, partition_col="source"
    ).collect()
    by_src: dict = {}
    for r in sorted(packed, key=lambda r: (r.source, r.doc_id)):
        by_src.setdefault(r.source, []).append(r)
    for rs in by_src.values():
        run = 0
        for r in rs:
            assert r.offset_tokens == run
            assert r.seq_id == run // cap
            run += r.n_tokens

    n = 3
    spans = corpus.duplicate_ngram_spans(
        df, "doc_id", "text", n=n, min_docs=2
    ).collect()
    toks = {
        r.doc_id: (r.text or "").lower().split()
        for r in df.collect()
    }
    from collections import defaultdict

    gram_docs = defaultdict(set)
    for d, ts in toks.items():
        for i in range(max(0, len(ts) - n + 1)):
            gram_docs[" ".join(ts[i : i + n])].add(d)
    for r in spans:
        assert " ".join(toks[r.doc_id][r.pos : r.pos + n]) == r.gram
        assert len(gram_docs[r.gram]) >= 2
    # completeness: every qualifying positional gram is returned
    expected = sum(
        1
        for d, ts in toks.items()
        for i in range(max(0, len(ts) - n + 1))
        if len(gram_docs[" ".join(ts[i : i + n])]) >= 2
    )
    assert len(spans) == expected


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join cross-validated against pandas.merge_asof on generated
    data, with and without tolerance -- including NULL right-side values
    (the ADVICE r6 class: the matched ROW's value must come through,
    never an older row's reaching past a NULL). One deterministic
    generated batch, one Spark job per tolerance setting."""
    import datetime as dt
    import random

    import pandas as pd

    from bigdata_storage_and_proccess_job_data_spark.operators.asof import asof_join

    rng = random.Random(42)
    t0 = dt.datetime(2024, 5, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    quotes = []
    for key in range(6):
        minutes = sorted(rng.sample(range(0, 500), rng.randint(0, 25)))
        for m in minutes:
            # ~25% NULL values: the matched-row-NULL semantics under test
            val = None if rng.random() < 0.25 else round(rng.uniform(1, 9), 3)
            quotes.append((key, ts(m), val))
    trades = [
        (key, ts(m))
        for key in range(8)  # keys 6,7 have no quotes at all
        for m in sorted(rng.sample(range(0, 500), 40))
    ]

    qdf = spark.createDataFrame(quotes, "k LONG, qts TIMESTAMP, price DOUBLE")
    tdf = spark.createDataFrame(trades, "k LONG, tts TIMESTAMP")
    qpd = pd.DataFrame(quotes, columns=["k", "qts", "price"]).sort_values("qts")
    tpd = pd.DataFrame(trades, columns=["k", "tts"]).sort_values("tts")

    for tol in (None, "15 minutes", "90 minutes"):
        got = {
            (r.k, r.tts): r.price_asof
            for r in asof_join(
                tdf, qdf, "k", "tts", "qts", ["price"], tolerance=tol
            ).collect()
        }
        want_df = pd.merge_asof(
            tpd,
            qpd,
            left_on="tts",
            right_on="qts",
            by="k",
            tolerance=pd.Timedelta(tol) if tol else None,
        )
        want = {
            (int(r.k), r.tts.to_pydatetime()): (
                None if pd.isna(r.price) else float(r.price)
            )
            for r in want_df.itertuples()
        }
        assert got == want, {
            kk: (got[kk], want[kk]) for kk in got if got[kk] != want[kk]
        }


def test_agg_state_random_feeds_equal_recompute(spark):
    """Randomized IVM property: for arbitrary old/new snapshot pairs
    (NULL keys, NULL measures, key moves, churn), folding the change
    feed into old-state count/sum equals recompute on new. One Spark pass per
    deterministic generated scenario batch."""
    import random

    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates as A
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    rng = random.Random(1234)
    for round_ in range(3):
        ids = list(range(1, 60))
        groups = ["a", "b", "c", None]

        def row(i):
            return (
                i,
                rng.choice(groups),
                rng.choice([None, *range(-20, 100, 7)]),
            )

        old_rows = [row(i) for i in ids]
        # new: drop ~1/4, mutate ~1/3, add a few fresh ids
        new_rows = []
        for r in old_rows:
            roll = rng.random()
            if roll < 0.25:
                continue
            if roll < 0.58:
                new_rows.append(row(r[0]))
            else:
                new_rows.append(r)
        new_rows += [row(i) for i in range(100, 100 + rng.randint(1, 6))]

        schema = "id long, grp string, val long"
        old = spark.createDataFrame(old_rows, schema)
        new = spark.createDataFrame(new_rows, schema)
        keys, ms = ["grp"], ["val"]
        feed = versioned.change_feed(old, new, "id")

        got = sorted(
            A.agg_state_result(
                A.agg_state_apply(
                    A.agg_state_init(old, keys, ms), feed, keys, ms
                ),
                keys,
                ms,
            ).collect(),
            key=str,
        )
        want = sorted(
            A.agg_state_result(
                A.agg_state_init(new, keys, ms), keys, ms
            ).collect(),
            key=str,
        )
        assert got == want, f"count/sum diverged (round {round_})"


def test_bootstrap_ci_partition_independent_on_generated_values(spark):
    """Property: the Poisson-bootstrap CI is a pure function of the row
    SET -- md5 weights depend on ids, not placement -- so any
    repartitioning yields the identical interval. Generated values
    (unicode-keyed ids, arbitrary doubles from text lengths)."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    texts = _examples(120)
    rows = [
        (f"g{i % 2}", float(len(t) * (1 + i % 5)), f"id{i}:{t[:8]}")
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "g string, v double, id string")
    a = aggregates.bootstrap_ci(
        df, ["g"], "v", "id", n_boot=20, salt="pp"
    ).collect()
    b = aggregates.bootstrap_ci(
        df.repartition(7), ["g"], "v", "id", n_boot=20, salt="pp"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_global_row_number_partition_independent(spark):
    """Property: under a total order, global_row_number is a pure
    function of the row SET -- rn(row) == its 0-based sorted position
    + 1 regardless of input partitioning or the operator's own
    partition count. Generated rows with duplicate order-prefix values
    force the tiebreak column to do its job."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    texts = _examples(90)
    rows = [
        (float(len(t) % 7), f"id{i:03d}", t[:6]) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "v double, id string, txt string")
    want = {
        row[1]: i + 1
        for i, row in enumerate(sorted(rows, key=lambda r: (r[0], r[1])))
    }
    for reparts, parts in [(1, 4), (13, 16), (5, 3)]:
        got = {
            r.id: r.rn
            for r in aggregates.global_row_number(
                df.repartition(reparts), ["v", "id"], num_partitions=parts
            ).collect()
        }
        assert got == want, (reparts, parts)


def test_mutual_information_bounds_on_generated_tables(spark):
    """Property: on ANY generated two-column categorical table
    (unicode categories, arbitrary co-occurrence skew), MI is within
    float fuzz of [0, min(H_A, H_B)], I(A;A) == H(A) exactly, and the
    statistic is a pure function of the row SET (partition-layout
    independent). Exact replica computed in pure Python."""
    import math

    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    texts = _examples(160)
    rows = [
        (t[:1] or "_", t[1:2] or (t[:1] or "_"))
        for t in texts
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    got = aggregates.mutual_information(df, "a", "b").first()

    # pure-Python replica
    from collections import Counter

    joint = Counter(rows)
    ca = Counter(r[0] for r in rows)
    cb = Counter(r[1] for r in rows)
    n = len(rows)
    mi = sum(
        (c / n) * math.log(c * n / (ca[a] * cb[b]))
        for (a, b), c in joint.items()
    )
    ha = -sum((c / n) * math.log(c / n) for c in ca.values())
    hb = -sum((c / n) * math.log(c / n) for c in cb.values())
    assert abs(got.mi - mi) < 1e-9
    assert abs(got.h_a - ha) < 1e-9 and abs(got.h_b - hb) < 1e-9
    assert -1e-9 <= got.mi <= min(ha, hb) + 1e-9

    # I(A;A) == H(A); partition independence
    self_mi = aggregates.mutual_information(
        df.repartition(11), "a", "a"
    ).first()
    assert abs(self_mi.mi - ha) < 1e-9
    again = aggregates.mutual_information(df.repartition(7), "a", "b").first()
    assert abs(again.mi - got.mi) < 1e-12


def test_conformal_qhat_is_the_exact_order_statistic(spark):
    """Property: conformal_interval's qhat equals the pure-Python
    k-th smallest |residual| (k = ceil((n+1)(1-alpha))) for ANY
    generated residual multiset (ties, zeros, unicode-length values),
    any alpha in a grid, and any partition layout."""
    import math

    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    texts = _examples(100)
    rows = [
        ("g", float(i % 9), float(i % 9) + (len(t) % 5) * 0.5)
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "k string, pred double, actual double")
    res = sorted(abs(a - p) for _, p, a in rows)
    n = len(res)
    for alpha in (0.05, 0.1, 0.25, 0.5):
        k = math.ceil((n + 1) * (1 - alpha))
        want = res[k - 1] if k <= n else None
        r = aggregates.conformal_interval(
            df.repartition(13), "pred", "actual", alpha, ["k"]
        ).first()
        assert r.n_cal == n and r.k_rank == k
        assert r.qhat == want, alpha


def test_cusum_closed_form_equals_textbook_recursion(spark):
    """Property: the prefix-extremum closed form IS the textbook CUSUM
    recursion (s+ = max(0, s+ + z - k), s- = max(0, s- - z - k)) for
    arbitrary generated series, and is partition-layout-independent.
    Values derive from hypothesis text lengths (unicode noise -> ragged
    positive/negative/zero steps); pinned target/scale isolates the
    identity from baseline-estimation noise."""
    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    texts = _examples(160)
    drift, thresh = 0.3, 2.5
    rows = [
        (f"g{i % 3}", i, float(len(t) % 13) - 6.0)
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "k string, i long, v double")
    out = aggregates.cusum_changepoints(
        df, ["k"], "i", "v",
        drift=drift, threshold=thresh, target=0.0, scale=2.0,
        digits=9,
    )
    got = {(r.k, r.i): r for r in out.collect()}
    series: dict[str, list] = {}
    for k, i, v in rows:
        series.setdefault(k, []).append((i, v))
    for k, xs in series.items():
        sp = sn = 0.0
        for i, v in sorted(xs):
            z = v / 2.0
            sp = max(0.0, sp + z - drift)
            sn = max(0.0, sn - z - drift)
            r = got[(k, i)]
            assert r.cusum_pos == pytest.approx(sp, abs=1e-8), (k, i)
            assert r.cusum_neg == pytest.approx(sn, abs=1e-8), (k, i)
            if min(abs(sp - thresh), abs(sn - thresh)) > 1e-9:
                assert r.alarm == (sp > thresh or sn > thresh), (k, i)
    rep = aggregates.cusum_changepoints(
        df.repartition(11), ["k"], "i", "v",
        drift=drift, threshold=thresh, target=0.0, scale=2.0,
        digits=9,
    ).collect()
    assert sorted(map(tuple, rep)) == sorted(
        map(tuple, out.collect())
    )


def test_cow_dml_content_equals_plain_filter_on_generated_bands(
    spark, tmp_path
):
    """Property: for arbitrary delete bands (interior, boundary,
    beyond-range, inverted-empty) over arbitrary cluster widths,
    delete_where's surviving content EXACTLY equals the plain
    filter's and the deleted-row count matches."""
    from bigdata_storage_and_proccess_job_data_spark.sources import versioned

    texts = _examples(40)
    n = 3000
    base_rows = [(i, float(len(texts[i % len(texts)]))) for i in range(n)]
    bands = [
        (100, 250), (0, 0), (2999, 2999), (2800, 5000),
        (-50, -1), (1500, 1500), (0, 2999),
    ]
    for bi, (lo, hi) in enumerate(bands):
        table = str(tmp_path / f"cow_prop_{bi}")
        df = spark.createDataFrame(base_rows, "k long, v double")
        versioned.commit_version(
            df.repartitionByRange(5, "k").sortWithinPartitions("k"),
            table,
            stats_cols=["k"],
        )
        rep = versioned.delete_where(spark, table, "k", lo, hi)
        expect = sorted(
            (k, v) for k, v in base_rows if not lo <= k <= hi
        )
        if rep["version"] is None:
            assert len(expect) == n  # nothing matched, no commit
            continue
        got = sorted(
            map(tuple, versioned.read_version(spark, table).collect())
        )
        assert got == expect, (lo, hi)
        assert rep["rows_deleted"] == n - len(expect)


def test_hot_key_split_join_equals_plain_join_on_generated_skew(spark):
    """For generated skewed left frames (Zipfy hot values, NULLs,
    unmatched keys) and an arbitrary hot list, hot_key_split_join is
    row-for-row the plain join -- inner and left, one Spark round."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from bigdata_storage_and_proccess_job_data_spark.operators import joins

    drawn: list[tuple] = []

    @settings(
        max_examples=150, database=None, derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        st.one_of(st.none(), st.integers(0, 6)),  # key (0,1 hot-ish)
        st.integers(0, 99),
    )
    def grab(k, v):
        drawn.append((k, v))

    grab()
    left = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(drawn)],
        "rid long, k int, v int",
    )
    right = spark.createDataFrame(
        [(k, f"r{k}") for k in range(0, 5)], "k int, tag string"
    )
    skey = lambda r: tuple(str(x) for x in r)  # noqa: E731
    for how in ("inner", "left"):
        fast = joins.hot_key_split_join(left, right, "k", [0, 1], how=how)
        plain = left.join(right, "k", how)
        a = sorted((map(skey, ((r.k, r.rid, r.v, r.tag) for r in fast.collect()))))
        b = sorted((map(skey, ((r.k, r.rid, r.v, r.tag) for r in plain.collect()))))
        assert a == b, how


def test_curriculum_order_permutation_under_ties(spark):
    """Constant and heavily-tied difficulties: positions stay a
    permutation, stages stay balanced (exact ntile), and the order is
    reproducible -- ties must not leak layout into the schedule."""
    from bigdata_storage_and_proccess_job_data_spark.operators import corpus

    n = 211
    df = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(n)],  # 3-way massive ties
        "id long, diff double",
    )
    out = corpus.curriculum_order(df, "id", "diff", salt="t", n_stages=5)
    rows = out.select("id", "stage", "curriculum_pos").collect()
    assert sorted(r.curriculum_pos for r in rows) == list(range(1, n + 1))
    sizes = {}
    for r in rows:
        sizes[r.stage] = sizes.get(r.stage, 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    again = {
        r.id: (r.stage, r.curriculum_pos)
        for r in corpus.curriculum_order(
            df.repartition(7), "id", "diff", salt="t", n_stages=5
        ).collect()
    }
    assert all(again[r.id] == (r.stage, r.curriculum_pos) for r in rows)


def test_bh_adjust_invariants_and_replica_on_generated_pvalues(spark):
    """BH q-values on generated p-batches (duplicates + extremes
    forced in): (1) exact equality with an independent pure-Python
    step-up replica; (2) p <= q <= 1 everywhere; (3) q is monotone in
    the p order, so the rejection set is always a p-prefix; (4) the
    result is partition-count invariant; (5) tied p share one q."""
    from hypothesis import HealthCheck, given, settings

    from bigdata_storage_and_proccess_job_data_spark.operators import (
        aggregates,
    )

    batches: list[list[float]] = []

    @settings(
        max_examples=25,
        database=None,
        derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        st.lists(
            st.floats(
                min_value=0.0,
                max_value=1.0,
                allow_nan=False,
                width=64,
            ),
            min_size=1,
            max_size=25,
        )
    )
    def grab(ps):
        batches.append(ps)

    grab()
    batches.append([0.0, 0.0, 1.0, 1.0, 0.5, 0.5, 0.5])  # ties + extremes

    def bh_replica(ps):
        m = len(ps)
        order = sorted(range(m), key=lambda i: ps[i])
        q = [0.0] * m
        best = 1.0
        for rank in range(m, 0, -1):
            i = order[rank - 1]
            best = min(best, ps[i] * m / rank)
            q[i] = best
        return q

    rows = [
        (b, i, p)
        for b, ps in enumerate(batches)
        for i, p in enumerate(ps)
    ]
    df = spark.createDataFrame(rows, "batch int, i int, p double")
    got = {
        (r.batch, r.i): r.q_value
        for r in aggregates.bh_adjust(df, "p", keys=["batch"]).collect()
    }
    got13 = {
        (r.batch, r.i): r.q_value
        for r in aggregates.bh_adjust(
            df.repartition(13), "p", keys=["batch"]
        ).collect()
    }
    assert got == got13  # partition invariance
    for b, ps in enumerate(batches):
        want = bh_replica(ps)
        by_p = {}
        for i, p in enumerate(ps):
            q = got[(b, i)]
            assert q == pytest.approx(want[i], abs=1e-12), (b, i, ps)
            assert p - 1e-12 <= q <= 1.0 + 1e-12
            by_p.setdefault(p, set()).add(round(q, 15))
        for p, qs in by_p.items():
            assert len(qs) == 1, (b, p, qs)  # tied p -> one q
        # monotone in p order
        seq = [got[(b, i)] for i in sorted(range(len(ps)), key=lambda i: ps[i])]
        assert all(a <= x + 1e-12 for a, x in zip(seq, seq[1:]))


def test_ks_test_replica_and_invariants_on_generated_samples(spark):
    """Two-sample KS on generated pairs (shared values forced so ties
    cross sides): exact agreement with a pure-Python ECDF max-gap
    replica, 0 <= D <= 1, D(x, x) == 0, symmetry D(a,b) == D(b,a),
    and partition-count invariance."""
    from hypothesis import HealthCheck, given, settings

    from bigdata_storage_and_proccess_job_data_spark.operators import (
        aggregates,
    )

    pairs: list[tuple[list[float], list[float]]] = []

    @settings(
        max_examples=15,
        database=None,
        derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        st.lists(
            st.integers(min_value=0, max_value=9),
            min_size=1,
            max_size=20,
        ),
        st.lists(
            st.integers(min_value=0, max_value=9),
            min_size=1,
            max_size=20,
        ),
    )
    def grab(xa, xb):
        pairs.append(([float(x) for x in xa], [float(x) for x in xb]))

    grab()

    def ks_replica(xa, xb):
        pts = sorted(set(xa) | set(xb))
        return max(
            abs(
                sum(1 for x in xa if x <= t) / len(xa)
                - sum(1 for x in xb if x <= t) / len(xb)
            )
            for t in pts
        )

    rows_a = [(k, v) for k, (xa, _) in enumerate(pairs) for v in xa]
    rows_b = [(k, v) for k, (_, xb) in enumerate(pairs) for v in xb]
    fa = spark.createDataFrame(rows_a, "k int, v double")
    fb = spark.createDataFrame(rows_b, "k int, v double")
    got = {
        r.k: r.d_stat
        for r in aggregates.ks_test(fa, fb, "v", keys=["k"]).collect()
    }
    got_swap = {
        r.k: r.d_stat
        for r in aggregates.ks_test(fb, fa, "v", keys=["k"]).collect()
    }
    got_part = {
        r.k: r.d_stat
        for r in aggregates.ks_test(
            fa.repartition(7), fb.repartition(3), "v", keys=["k"]
        ).collect()
    }
    self_d = {
        r.k: r.d_stat
        for r in aggregates.ks_test(fa, fa, "v", keys=["k"]).collect()
    }
    for k, (xa, xb) in enumerate(pairs):
        assert got[k] == pytest.approx(ks_replica(xa, xb), abs=1e-12), (
            k, xa, xb,
        )
        assert 0.0 <= got[k] <= 1.0
        assert got[k] == pytest.approx(got_swap[k], abs=1e-12)
        assert got[k] == pytest.approx(got_part[k], abs=1e-12)
        assert self_d[k] == 0.0


def test_table_diff_involution_on_generated_snapshots(spark):
    """table_diff on generated old/new snapshots: statuses cover the
    key union exactly once; diff(x, x) is all-unchanged; swapping the
    sides maps added <-> removed and preserves changed keys and their
    changed-column sets."""
    from hypothesis import HealthCheck, given, settings

    from bigdata_storage_and_proccess_job_data_spark.operators import joins

    cases: list[tuple[dict, dict]] = []

    @settings(
        max_examples=15,
        database=None,
        derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        st.dictionaries(
            st.integers(min_value=0, max_value=12),
            st.tuples(
                st.sampled_from(["x", "y", None]),
                st.sampled_from([1.0, 2.0, None]),
            ),
            max_size=10,
        ),
        st.dictionaries(
            st.integers(min_value=0, max_value=12),
            st.tuples(
                st.sampled_from(["x", "y", None]),
                st.sampled_from([1.0, 2.0, None]),
            ),
            max_size=10,
        ),
    )
    def grab(old, new):
        cases.append((old, new))

    grab()

    def frame(tag):
        rows = [
            (case_id, k, v[0], v[1])
            for case_id, pair in enumerate(cases)
            for k, v in pair[tag].items()
        ]
        return spark.createDataFrame(
            rows, "case int, k long, s string, v double"
        )

    old_f, new_f = frame(0), frame(1)
    fwd = {
        (r.case, r.k): (r.status, tuple(sorted(r.changed_cols)))
        for r in joins.table_diff(old_f, new_f, ["case", "k"]).collect()
    }
    rev = {
        (r.case, r.k): (r.status, tuple(sorted(r.changed_cols)))
        for r in joins.table_diff(new_f, old_f, ["case", "k"]).collect()
    }
    self_d = joins.table_diff(old_f, old_f, ["case", "k"]).collect()
    assert all(r.status == "unchanged" for r in self_d)
    flip = {"added": "removed", "removed": "added"}
    for case_id, (old, new) in enumerate(cases):
        keys = set(old) | set(new)
        assert {
            k for (c, k) in fwd if c == case_id
        } == keys  # exactly the union, once
        for k in keys:
            st_f, ch_f = fwd[(case_id, k)]
            st_r, ch_r = rev[(case_id, k)]
            assert st_r == flip.get(st_f, st_f), (case_id, k)
            if st_f == "changed":
                assert ch_f == ch_r and len(ch_f) > 0
            else:
                assert ch_f == () and ch_r == ()


def test_weighted_quantile_reduction_and_scale_invariance(spark):
    """weighted_quantile on generated (value, integer-weight) groups:
    (1) exact equality with a pure-Python left-continuous weighted
    quantile replica at several q; (2) unit weights reduce to the
    plain left-continuous quantile; (3) multiplying every weight by a
    constant changes nothing; (4) repartitioning changes nothing --
    the newly driver-gated query's operator, pinned beyond its
    fixture."""
    from hypothesis import HealthCheck, given, settings

    from bigdata_storage_and_proccess_job_data_spark.operators import (
        aggregates,
    )

    groups: list[list[tuple[float, float]]] = []

    @settings(
        max_examples=20,
        database=None,
        derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=-5, max_value=9),
                st.integers(min_value=1, max_value=6),
            ),
            min_size=1,
            max_size=15,
        )
    )
    def grab(pairs):
        groups.append([(float(v), float(w)) for v, w in pairs])

    grab()

    def replica(pairs, q):
        total = sum(w for _, w in pairs)
        cum = 0.0
        for v, w in sorted(pairs):
            cum += w
            if cum >= q * total:
                return v
        return pairs[-1][0]

    rows = [
        (g, v, w) for g, pairs in enumerate(groups) for v, w in pairs
    ]
    df = spark.createDataFrame(rows, "g int, v double, w double")
    for q in (0.25, 0.5, 0.9, 1.0):
        got = {
            r.g: r.wq
            for r in aggregates.weighted_quantile(
                df, ["g"], "v", "w", q=q
            ).collect()
        }
        scaled = {
            r.g: r.wq
            for r in aggregates.weighted_quantile(
                df.withColumn("w", F.col("w") * 7.0), ["g"], "v", "w", q=q
            ).collect()
        }
        parts = {
            r.g: r.wq
            for r in aggregates.weighted_quantile(
                df.repartition(11), ["g"], "v", "w", q=q
            ).collect()
        }
        ones = {
            r.g: r.wq
            for r in aggregates.weighted_quantile(
                df.withColumn("w", F.lit(1.0)), ["g"], "v", "w", q=q
            ).collect()
        }
        for g, pairs in enumerate(groups):
            assert got[g] == replica(pairs, q), (g, q, pairs)
            assert scaled[g] == got[g], (g, q)
            assert parts[g] == got[g], (g, q)
            assert ones[g] == replica(
                [(v, 1.0) for v, _ in pairs], q
            ), (g, q)


def test_classification_report_replica_on_generated_confusions(spark):
    """classification_report on generated (y, p) batches: exact
    agreement with a pure-Python confusion replica, cell counts
    partition n, accuracy/precision/recall/f1 match the textbook
    formulas with the documented NULL degeneracies, and the metrics
    are invariant to partition count."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as hst

    from bigdata_storage_and_proccess_job_data_spark.operators import (
        aggregates,
    )

    batches: list[list[tuple[int, int]]] = []

    @settings(
        max_examples=12,
        database=None,
        derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        hst.lists(
            hst.tuples(
                hst.integers(min_value=0, max_value=1),
                hst.integers(min_value=0, max_value=1),
            ),
            min_size=1,
            max_size=30,
        )
    )
    def grab(pairs):
        batches.append(pairs)

    grab()

    rows = [
        (k, float(y), float(p))
        for k, pairs in enumerate(batches)
        for y, p in pairs
    ]
    df = spark.createDataFrame(rows, "k int, y double, p double")
    got = {
        r.k: r
        for r in aggregates.classification_report(
            df, "y", "p", keys=["k"]
        ).collect()
    }
    got_part = {
        r.k: r
        for r in aggregates.classification_report(
            df.repartition(7), "y", "p", keys=["k"]
        ).collect()
    }
    for k, pairs in enumerate(batches):
        tp = sum(1 for y, p in pairs if y and p)
        fp = sum(1 for y, p in pairs if not y and p)
        fn = sum(1 for y, p in pairs if y and not p)
        tn = sum(1 for y, p in pairs if not y and not p)
        r = got[k]
        assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn)
        assert r.tp + r.fp + r.fn + r.tn == r.n == len(pairs)
        assert r.accuracy == pytest.approx((tp + tn) / len(pairs))
        if tp + fp == 0:
            assert r.precision is None
        else:
            assert r.precision == pytest.approx(tp / (tp + fp))
        if tp + fn == 0:
            assert r.recall is None
        else:
            assert r.recall == pytest.approx(tp / (tp + fn))
        if r.precision is None or r.recall is None or (
            r.precision + r.recall == 0
        ):
            assert r.f1 is None
        else:
            assert r.f1 == pytest.approx(
                2 * r.precision * r.recall / (r.precision + r.recall)
            )
        rp = got_part[k]
        assert (rp.tp, rp.fp, rp.fn, rp.tn) == (tp, fp, fn, tn)


def test_sq8_invariants_on_generated_vectors(spark):
    """Property: for ANY finite vector (components spanning 12 orders
    of magnitude, negatives, exact zeros) SQ8 encoding satisfies its
    storage contract -- codes in [-127, 127], the absmax component
    hits exactly +/-127, dequantization error <= scale/2 per
    component -- and is SCALE-INVARIANT (encode(c*v) == encode(v) for
    any positive c, since the normalized direction is what's stored).
    Zero vectors are excluded. One Spark job per frame."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from bigdata_storage_and_proccess_job_data_spark.operators import similarity

    collected: list[list[float]] = []

    @settings(
        max_examples=80,
        database=None,
        derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        st.lists(
            st.floats(
                allow_nan=False,
                allow_infinity=False,
                min_value=-1e6,
                max_value=1e6,
            ),
            min_size=6,
            max_size=6,
        )
    )
    def grab(v):
        collected.append(v)

    grab()
    rows = [(i, v) for i, v in enumerate(collected)] + [
        (9_000, [0.0] * 6)  # zero vector: excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.neighbor_id: r for r in similarity.sq8_encode(df).collect()}
    assert 9_000 not in got
    import math

    for i, v in enumerate(collected):
        nrm = math.sqrt(sum(x * x for x in v))
        if nrm == 0:
            assert i not in got
            continue
        r = got[i]
        nv = [x / nrm for x in v]
        assert max(abs(c) for c in r.codes) == 127
        assert all(-127 <= c <= 127 for c in r.codes)
        assert r.scale == pytest.approx(max(abs(x) for x in nv) / 127.0)
        for c, x in zip(r.codes, nv):
            assert abs(c * r.scale - x) <= r.scale / 2 + 1e-12 * abs(x)
    # scale invariance: multiplying every vector by 1e3 changes nothing
    scaled = df.select(
        "vec_id",
        F.transform("embedding", lambda x: x * 1000.0).alias("embedding"),
    )
    got2 = {
        r.neighbor_id: (r.scale, list(r.codes))
        for r in similarity.sq8_encode(scaled).collect()
    }
    for i in got:
        s1, c1 = got[i].scale, list(got[i].codes)
        s2, c2 = got2[i]
        assert c1 == c2, i
        assert s1 == pytest.approx(s2, rel=1e-12)


def test_consensus_labels_replica_on_generated_ratings(spark):
    """Property for the r12-promoted plurality winner: on ANY generated
    (item, label) rating multiset (unicode labels, duplicate ratings,
    skewed item sizes), consensus_labels equals a pure-Python replica
    (max votes, ties to the lexicographically smallest label), its
    share/unanimity invariants hold, and the output is a pure function
    of the row SET (repartitioning changes nothing). One Spark job per
    frame."""
    from bigdata_storage_and_proccess_job_data_spark.operators import corpus

    texts = _examples(180)
    rows = [
        (i % 23, (t[:3] or "_") if i % 7 else "tie")
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, label string")
    got = {
        r.doc_id: (r.label, r.n_ratings, r.n_for, r.share, r.unanimous)
        for r in corpus.consensus_labels(df).collect()
    }

    from collections import Counter, defaultdict

    votes: dict[int, Counter] = defaultdict(Counter)
    for i, lb in rows:
        votes[i][lb] += 1
    assert set(got) == set(votes)
    for item, c in votes.items():
        # replica tiebreak: max count, then LEXICOGRAPHICALLY SMALLEST
        top = max(c.values())
        winner = min(lb for lb, n in c.items() if n == top)
        lbl, n_ratings, n_for, share, unanimous = got[item]
        assert lbl == winner, (item, lbl, winner, dict(c))
        assert n_ratings == sum(c.values())
        assert n_for == c[winner] == top
        assert share == pytest.approx(top / sum(c.values()))
        assert unanimous == (top == sum(c.values()))
        assert 0 < share <= 1 and n_for <= n_ratings

    re_got = {
        r.doc_id: (r.label, r.n_ratings, r.n_for, r.share, r.unanimous)
        for r in corpus.consensus_labels(df.repartition(13)).collect()
    }
    assert re_got == got


def test_fleiss_kappa_replica_on_generated_ratings(spark):
    """Property for the r12-promoted agreement gate: on ANY generated
    (item, label) rating table (ragged by construction, unicode
    labels), fleiss_kappa equals a pure-Python replica of the Fleiss
    statistic -- modal design count with ties to the SMALLEST n,
    ragged items excluded, po/pe/kappa/coverage recomputed from first
    principles -- and po/pe stay inside [0, 1]."""
    from collections import Counter, defaultdict

    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    texts = _examples(200)
    rows = [
        (i % 17, (t[:2] or "_") if i % 5 else "maj")
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "item long, label string")
    r = aggregates.fleiss_kappa(df, "item", "label").collect()[0]

    cells: dict[int, Counter] = defaultdict(Counter)
    for i, lb in rows:
        cells[i][lb] += 1
    per_item = {i: (sum(c.values()), sum(v * v for v in c.values()))
                for i, c in cells.items()}
    n_counts = Counter(n for n, _ in per_item.values())
    top = max(n_counts.values())
    design_n = min(n for n, cnt in n_counts.items() if cnt == top)
    kept = {i for i, (n, _) in per_item.items() if n == design_n}
    assert r.n_items == len(kept)
    assert r.n_raters == design_n
    assert r.coverage == pytest.approx(len(kept) / len(per_item))
    if design_n > 1:
        po = sum(
            (per_item[i][1] - design_n) / (design_n * (design_n - 1))
            for i in kept
        ) / len(kept)
        assert r.po == pytest.approx(po)
        assert 0.0 <= r.po <= 1.0
    ck = Counter()
    for i in kept:
        ck.update(cells[i])
    tot = sum(ck.values())
    pe = sum(v * v for v in ck.values()) / (tot * tot)
    assert r.pe == pytest.approx(pe)
    assert 0.0 <= r.pe <= 1.0
    if pe < 1 and design_n >= 2:
        assert r.kappa == pytest.approx((po - pe) / (1 - pe))


def test_bradley_terry_alpha_equivalence_on_generated_tournaments(spark):
    """Property for the r13 alpha fix: on ANY generated tournament
    (hypothesis-derived pair multiset over 6 items, both-direction and
    one-sided pairs mixed, a backbone ring guaranteeing connectivity),
    fitting with alpha=1 equals the UNREGULARIZED fit on counts with
    exactly +1 virtual win each way per unordered OBSERVED pair --
    the prior strength is uniform across pairs, never doubled for
    both-direction ones. Also: geometric-mean-1 normalization holds,
    the MM fixed point satisfies the moment condition on the
    regularized counts, and the fit is partition-independent."""
    import math
    from collections import Counter

    from bigdata_storage_and_proccess_job_data_spark.operators import corpus

    texts = _examples(150)
    items = [f"m{j}" for j in range(6)]
    pairs = [(items[j], items[(j + 1) % 6]) for j in range(6)]  # ring
    for i, t in enumerate(texts):
        a = items[i % 6]
        b = items[(i + 1 + len(t)) % 6]
        if a != b:
            pairs.append((a, b))
    df = spark.createDataFrame(pairs, "winner string, loser string")
    fit = {
        r.item: r.strength
        for r in corpus.bradley_terry_fit(df, alpha=1.0).collect()
    }
    gm = math.exp(sum(math.log(v) for v in fit.values()) / len(fit))
    assert gm == pytest.approx(1.0)

    beats = Counter(pairs)
    virtual = list(pairs)
    for a, b in {tuple(sorted(p)) for p in beats}:
        virtual += [(a, b), (b, a)]
    vdf = spark.createDataFrame(virtual, "winner string, loser string")
    want = {
        r.item: r.strength for r in corpus.bradley_terry_fit(vdf).collect()
    }
    assert set(fit) == set(want)
    for i in fit:
        assert fit[i] == pytest.approx(want[i], rel=1e-9), i

    # MM fixed point: expected wins == observed wins on the
    # REGULARIZED counts
    games: Counter = Counter()
    wins: Counter = Counter()
    for w, l in virtual:
        wins[w] += 1
        games[frozenset((w, l))] += 1
    for i in fit:
        exp_wins = sum(
            n * fit[i] / (fit[i] + fit[j])
            for pair, n in games.items()
            if i in pair
            for j in pair - {i}
        )
        assert exp_wins == pytest.approx(wins[i], rel=1e-6), i

    refit = {
        r.item: r.strength
        for r in corpus.bradley_terry_fit(
            df.repartition(11), alpha=1.0
        ).collect()
    }
    assert refit == fit


def test_krippendorff_alpha_replica_on_generated_ratings(spark):
    """Property for the r13 agreement gate: on ANY generated ragged
    (item, label) rating table (unicode labels, singleton items mixed
    in), krippendorff_alpha equals a first-principles python replica
    -- pairable units n >= 2 only, D_o from per-unit category counts,
    D_e from pooled pairable category totals -- D_o and D_e stay in
    [0, 1], coverage counts exactly the pairable share, and the
    statistic is a pure function of the row SET."""
    from collections import Counter, defaultdict

    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    texts = _examples(220)
    rows = [
        (i % 31, (t[:2] or "_") if i % 6 else "maj")
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "item long, label string")
    r = aggregates.krippendorff_alpha(df, "item", "label").collect()[0]

    cells: dict[int, Counter] = defaultdict(Counter)
    for i, lb in rows:
        cells[i][lb] += 1
    pair = {i: c for i, c in cells.items() if sum(c.values()) >= 2}
    assert r.n_items == len(pair)
    assert r.coverage == pytest.approx(len(pair) / len(cells))
    if not pair:
        assert r.alpha is None
        return
    N = sum(sum(c.values()) for c in pair.values())
    assert r.n_values == N
    do = sum(
        (sum(c.values()) ** 2 - sum(v * v for v in c.values()))
        / (sum(c.values()) - 1)
        for c in pair.values()
    ) / N
    nc = Counter()
    for c in pair.values():
        nc.update(c)
    de = (N * N - sum(v * v for v in nc.values())) / (N * (N - 1))
    assert r.do == pytest.approx(do) and 0.0 <= r.do <= 1.0
    assert r.de == pytest.approx(de) and 0.0 <= r.de <= 1.0
    if de > 0:
        assert r.alpha == pytest.approx(1 - do / de)
    else:
        assert r.alpha is None
    re_r = aggregates.krippendorff_alpha(
        df.repartition(9), "item", "label"
    ).collect()[0]
    assert re_r.alpha == r.alpha


def test_win_rate_pairs_wilson_invariants_on_generated_tournaments(spark):
    """Property for the r13 head-to-head readout (VERDICT r13 #4,
    matching its siblings' first-principles replicas): on ANY generated
    tournament (unicode item names, ragged pair counts), win_rate_pairs
    equals a pure-python Wilson replica, and the interval obeys the
    textbook invariants -- endpoints in [0, 1], the interval CONTAINS
    p-hat, reversing every game maps [lo, hi] to [1-hi, 1-lo] (side
    symmetry), and doubling the evidence at the same p-hat strictly
    shrinks the width (n-monotonicity)."""
    import math

    from bigdata_storage_and_proccess_job_data_spark.operators import corpus

    texts = _examples(200)
    items = [(t[:2] or "_") for t in texts]
    games = []
    for i in range(0, len(items) - 1, 2):
        a, b = items[i], items[i + 1]
        if a == b:
            b = a + "x"
        # deterministic outcome from the text lengths
        w, l = (a, b) if (len(texts[i]) + i) % 3 else (b, a)
        games.append((w, l))
    df = spark.createDataFrame(games, "winner string, loser string")
    rows = corpus.win_rate_pairs(df).collect()

    # pure-python replica
    from collections import Counter

    n_games: Counter = Counter()
    wins_a: Counter = Counter()
    for w, l in games:
        a, b = (w, l) if w < l else (l, w)
        n_games[(a, b)] += 1
        wins_a[(a, b)] += 1 if w == a else 0
    z = 1.959963984540054

    def wilson(p, n):
        z2 = z * z
        denom = 1 + z2 / n
        center = (p + z2 / (2 * n)) / denom
        half = z * math.sqrt(p * (1 - p) / n + z2 / (4 * n * n)) / denom
        return center - half, center + half

    assert {(r.item_a, r.item_b) for r in rows} == set(n_games)
    for r in rows:
        key = (r.item_a, r.item_b)
        assert r.item_a < r.item_b
        assert r.n_games == n_games[key] and r.wins_a == wins_a[key]
        p = wins_a[key] / n_games[key]
        assert r.win_rate_a == pytest.approx(p)
        lo, hi = wilson(p, n_games[key])
        assert r.wilson_lo == pytest.approx(lo)
        assert r.wilson_hi == pytest.approx(hi)
        # invariants: [0,1]-bounded, contains p-hat, never zero-width
        assert 0.0 <= r.wilson_lo <= r.win_rate_a <= r.wilson_hi <= 1.0
        assert r.wilson_hi - r.wilson_lo > 0.0

    # side symmetry: reversing every game maps the interval to its
    # mirror image around 1/2
    rev = spark.createDataFrame(
        [(l, w) for w, l in games], "winner string, loser string"
    )
    mirrored = {
        (r.item_a, r.item_b): r for r in corpus.win_rate_pairs(rev).collect()
    }
    for r in rows:
        m = mirrored[(r.item_a, r.item_b)]
        assert m.n_games == r.n_games
        assert m.wins_a == r.n_games - r.wins_a
        assert m.wilson_lo == pytest.approx(1.0 - r.wilson_hi)
        assert m.wilson_hi == pytest.approx(1.0 - r.wilson_lo)

    # n-monotonicity: the same tournament twice has identical p-hat per
    # pair but double the evidence -- every interval strictly narrows
    doubled = {
        (r.item_a, r.item_b): r
        for r in corpus.win_rate_pairs(df.union(df)).collect()
    }
    for r in rows:
        d = doubled[(r.item_a, r.item_b)]
        assert d.n_games == 2 * r.n_games
        assert d.win_rate_a == pytest.approx(r.win_rate_a)
        assert (d.wilson_hi - d.wilson_lo) < (r.wilson_hi - r.wilson_lo)


def test_mcnemar_replica_on_generated_paired_outcomes(spark):
    """Property for the r13 paired-significance gate (completing the
    sibling set -- BT, krippendorff, fleiss, consensus, pass_at_k, SQ8,
    win_rate all carry generated-input replicas): on ANY generated
    paired 0/1 outcome table with key slices, mcnemar_test equals a
    pure-python replica cell for cell, the statistic is invariant
    under swapping the two models (it is squared in b - a), and the
    no-discordance / small-count abstentions hold."""
    from collections import Counter

    from bigdata_storage_and_proccess_job_data_spark.operators import aggregates

    texts = _examples(240)
    rows = [
        (
            f"g{len(t) % 3}",
            1.0 if (len(t) + i) % 4 else 0.0,
            1.0 if (i * 7 + len(t)) % 5 > 1 else 0.0,
        )
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(rows, "grp string, a double, b double")
    got = {
        r.grp: r
        for r in aggregates.mcnemar_test(df, "a", "b", keys=["grp"]).collect()
    }

    cells: dict[str, Counter] = {}
    for g, a, b in rows:
        cells.setdefault(g, Counter())[(a, b)] += 1
    assert set(got) == set(cells)
    for g, c in cells.items():
        r = got[g]
        a_only, b_only = c[(1.0, 0.0)], c[(0.0, 1.0)]
        assert (r.both_right, r.both_wrong) == (c[(1.0, 1.0)], c[(0.0, 0.0)])
        assert (r.a_only, r.b_only) == (a_only, b_only)
        n = sum(c.values())
        assert r.n == n
        assert r.accuracy_a == pytest.approx((c[(1.0, 1.0)] + a_only) / n)
        assert r.accuracy_b == pytest.approx((c[(1.0, 1.0)] + b_only) / n)
        d = a_only + b_only
        if d == 0:
            assert r.statistic is None and r.statistic_corrected is None
        else:
            assert r.statistic == pytest.approx((b_only - a_only) ** 2 / d)
            if abs(b_only - a_only) >= 1:
                assert r.statistic_corrected == pytest.approx(
                    (abs(b_only - a_only) - 1) ** 2 / d
                )
            else:
                assert r.statistic_corrected is None

    # model-swap symmetry: the statistic is even in (b - a); the cells
    # and accuracies mirror
    swapped = {
        r.grp: r
        for r in aggregates.mcnemar_test(df, "b", "a", keys=["grp"]).collect()
    }
    for g, r in got.items():
        s = swapped[g]
        assert (s.a_only, s.b_only) == (r.b_only, r.a_only)
        assert s.accuracy_a == r.accuracy_b and s.accuracy_b == r.accuracy_a
        if r.statistic is None:
            assert s.statistic is None
        else:
            assert s.statistic == pytest.approx(r.statistic)
