"""Operator-level semantics for BM25 ranking (operators/ranking.py) and
ordered funnels (operators/funnel.py). Engine-vs-DuckDB value parity for
the registered queries is covered by test_oracle_parity.py."""

from __future__ import annotations

import datetime
import math

import pytest

from bigdata_storage_and_proccess_job_data_spark.operators import funnel, ranking


def _ts(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 10, minute)


def test_funnel_counts_strict_order(spark):
    rows = [
        # u1 completes the whole funnel in order
        (1, _ts(0), "view"), (1, _ts(1), "click"), (1, _ts(2), "purchase"),
        # u2 clicks BEFORE viewing: click must not count
        (2, _ts(1), "click"), (2, _ts(2), "view"),
        # u3 views only
        (3, _ts(0), "view"),
        # u4 purchases with no view: not even step 1
        (4, _ts(0), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id LONG, ts TIMESTAMP, event_type STRING"
    )
    out = {r.step: r.users for r in funnel.funnel_counts(
        df, ["view", "click", "purchase"]).collect()}
    assert out == {"view": 3, "click": 1, "purchase": 1}


def test_funnel_counts_equal_timestamp_not_counted(spark):
    # strictly-after semantics: same-instant click does not advance
    rows = [(1, _ts(0), "view"), (1, _ts(0), "click")]
    df = spark.createDataFrame(
        rows, "user_id LONG, ts TIMESTAMP, event_type STRING"
    )
    out = {r.step: r.users for r in funnel.funnel_counts(
        df, ["view", "click"]).collect()}
    assert out == {"view": 1, "click": 0}


def test_funnel_counts_are_nonincreasing_on_events(spark, sf_dir):
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = sorted(
        funnel.funnel_counts(ev, ["view", "click", "purchase"]).collect(),
        key=lambda r: r.step_index,
    )
    assert [r.step for r in rows] == ["view", "click", "purchase"]
    assert rows[0].users >= rows[1].users >= rows[2].users


def test_bm25_scores_known_corpus(spark):
    df = spark.createDataFrame(
        [
            (1, "spark spark spark"),       # high tf for 'spark'
            (2, "spark flink beam"),        # one hit
            (3, "flink beam storm"),        # no hits
            (4, "rare rare spark"),         # 'rare' appears only here
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: (r.score, r.rank) for r in ranking.bm25_topk(
        df, ["spark", "rare"], k=10).collect()}
    # doc 3 has no query terms -> absent
    assert set(out) == {1, 2, 4}
    # doc 4 matches the rarer term (higher idf) -> outranks tf-heavy doc 1
    assert out[4][1] == 1
    # more tf for the same term beats less tf at equal length
    assert out[1][0] > out[2][0]
    # hand-check doc 2's score: tf=1, dl=3, avgdl=3, df(spark)=3, N=4
    idf = math.log(1 + (4 - 3 + 0.5) / (3 + 0.5))
    expect = idf * (1 * 2.2) / (1 + 1.2 * (1 - 0.75 + 0.75 * 3 / 3.0))
    assert out[2][0] == pytest.approx(expect, abs=1e-4)


def test_bm25_validates_inputs(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError, match="query_terms"):
        ranking.bm25_topk(df, [])


def _write_hybrid_fixture(tmp_path, embedded_ids):
    """Tiny documents/embeddings parquet pair where the BM25 top-1 doc
    has NO embedding row -- the shape that crashed the unguarded
    top-1-embedding lookup and silently dropped candidates under the
    inner-join rerank (code review, round 5)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pa.table(
        {
            "doc_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "text": pa.array(
                [
                    "spark window fast spark window fast",  # BM25 top-1
                    "spark window fast",
                    "spark window other words here",
                    "fast other",
                    "unrelated text entirely",  # never a candidate
                ],
                pa.string(),
            ),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    vecs = {2: [1.0, 0.0, 0.0], 3: [0.5, 0.5, 0.0], 5: [0.0, 1.0, 0.0]}
    emb = pa.table(
        {
            "vec_id": pa.array(sorted(embedded_ids), pa.int64()),
            "embedding": pa.array(
                [vecs[i] for i in sorted(embedded_ids)],
                pa.list_(pa.float32()),
            ),
        }
    )
    pq.write_table(emb, str(tmp_path / "embeddings.parquet"))


def _hybrid_oracle_con(tmp_path):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'"
        )
    return con


def test_hybrid_search_survives_unembedded_top1(spark, tmp_path):
    """Top-1 BM25 doc (1) has no embedding: the pseudo-relevance vector
    falls back to the best-ranked embedded candidate (2), and the
    un-embedded candidates (1, 4) stay in the result with NULL cos_sim
    and a pure-BM25 hybrid score -- on both engines."""
    from bigdata_storage_and_proccess_job_data_spark.plans import all_queries
    from tests.parity import compare

    _write_hybrid_fixture(tmp_path, embedded_ids={2, 3})
    q = all_queries()["hybrid_search"]
    df = q.fn(spark, str(tmp_path))
    rows = {r.doc_id: r for r in df.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].cos_sim is None and rows[4].cos_sim is None
    # doc 1 holds the max BM25 score: hybrid = 0.5 * 1.0 + 0.5 * 0
    assert rows[1].hybrid_score == 0.5
    # doc 2 supplied the query vector: cosine with itself is 1.0
    assert rows[2].cos_sim == 1.0
    con = _hybrid_oracle_con(tmp_path)
    try:
        problems = compare(df, con, q.oracle)
    finally:
        con.close()
    assert not problems, problems


def test_hybrid_search_empty_when_no_embedded_candidate(spark, tmp_path):
    """No candidate has an embedding row (only non-candidate doc 5 is
    embedded): no pseudo-relevance vector exists, so the result is empty
    with the full output schema -- matching the oracle, whose qv CTE
    empties the chain."""
    from bigdata_storage_and_proccess_job_data_spark.plans import all_queries
    from tests.parity import compare

    _write_hybrid_fixture(tmp_path, embedded_ids={5})
    q = all_queries()["hybrid_search"]
    df = q.fn(spark, str(tmp_path))
    assert df.columns == [
        "doc_id", "bm25_score", "cos_sim", "hybrid_score", "rank",
    ]
    assert df.count() == 0
    con = _hybrid_oracle_con(tmp_path)
    try:
        problems = compare(df, con, q.oracle)
    finally:
        con.close()
    assert not problems, problems


def test_mmr_rerank_diversity_and_degenerate_lambda(spark):
    """MMR re-rank: (1) lam=1 reduces to plain top-k by (relevance desc,
    id asc); (2) at lam=0.5 two near-identical high-relevance twins do
    NOT both make a k=2 cut -- the diverse lower-relevance candidate
    displaces the second twin (the whole point of MMR for training-set
    retrieval); (3) the per-group candidate bound raises; (4) zero-norm
    vectors are dropped."""
    # one query, 4 candidates: twins a/b (same direction, top scores),
    # c orthogonal (lower score), d zero-norm (must be dropped)
    rows = [
        (1, 10, 0.95, [1.0, 0.0, 0.0]),
        (1, 11, 0.94, [0.999, 0.01, 0.0]),
        (1, 12, 0.80, [0.0, 1.0, 0.0]),
        (1, 13, 0.99, [0.0, 0.0, 0.0]),
    ]
    cand = spark.createDataFrame(
        rows,
        "query_id LONG, neighbor_id LONG, sim DOUBLE, "
        "embedding ARRAY<DOUBLE>",
    )

    plain = ranking.mmr_rerank(cand, k=3, lam=1.0).collect()
    assert [(r.neighbor_id, r.mmr_rank) for r in sorted(plain, key=lambda r: r.mmr_rank)] == [
        (10, 1), (11, 2), (12, 3),
    ]  # zero-norm 13 dropped despite top raw score

    diverse = ranking.mmr_rerank(cand, k=2, lam=0.5).collect()
    picked = [r.neighbor_id for r in sorted(diverse, key=lambda r: r.mmr_rank)]
    assert picked == [10, 12], picked  # twin 11 displaced by orthogonal 12

    with pytest.raises(Exception, match="max_candidates"):
        ranking.mmr_rerank(cand, k=2, max_candidates=2).collect()

    with pytest.raises(ValueError, match="lam"):
        ranking.mmr_rerank(cand, lam=1.5)


def test_mmr_rerank_composes_with_knn_and_is_per_query(spark, oracle_sf_dir):
    """MMR consumes a real top-k: brute_force_topk candidates joined
    back to their vectors, diversified per query -- k rows per query,
    rank-1 is each query's relevance argmax, deterministic across
    runs."""
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.operators import similarity

    emb = load_table(spark, oracle_sf_dir, "embeddings")
    topk = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=10
    )
    cand = topk.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "neighbor_id",
    )
    out = ranking.mmr_rerank(cand, k=4, lam=0.6).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 5 and all(len(v) == 4 for v in by_q.values())
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.mmr_rank)
        best_rel = max(r.relevance for r in rs)
        assert rs[0].relevance == best_rel  # rank 1 = relevance argmax
    again = ranking.mmr_rerank(cand, k=4, lam=0.6).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_ranking_metrics_pins_and_parity(spark, oracle_sf_dir):
    """Retrieval eval: (1) hand-computable precision/recall/MRR/NDCG
    pins incl. the empty-truth NULL and unanswered-query zero
    conventions; (2) full DuckDB replay parity on a supplier->part
    recommendation task derived from lineitem."""
    import math

    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
    )
    from tests.parity import compare, duckdb_connect

    recs = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "x", 2), ("q1", "b", 3), ("q1", "c", 4),
         ("q2", "z", 1)],
        "q string, i string, rk long",
    )
    truth = spark.createDataFrame(
        [("q1", "a"), ("q1", "b"), ("q1", "c"), ("q3", "m")],
        "q string, i string",
    )
    got = {
        r.q: r
        for r in ranking.ranking_metrics(
            recs, truth, "q", "i", k=3, rank_col="rk"
        ).collect()
    }
    r1 = got["q1"]
    assert (r1.n_rel, r1.hits) == (3, 2)
    assert r1.precision_at_k == pytest.approx(2 / 3, abs=1e-6)
    assert r1.recall_at_k == pytest.approx(2 / 3, abs=1e-6)
    assert r1.mrr == 1.0
    dcg = 1.0 + 1.0 / math.log2(4.0)
    idcg = 1.0 + 1.0 / math.log2(3.0) + 0.5
    assert r1.ndcg == pytest.approx(dcg / idcg, abs=1e-6)
    r2 = got["q2"]  # answered, nothing relevant exists
    assert r2.hits == 0 and r2.precision_at_k == 0.0
    assert r2.recall_at_k is None and r2.ndcg is None and r2.mrr == 0.0
    r3 = got["q3"]  # never answered: all-zero, not dropped
    assert (r3.hits, r3.mrr, r3.ndcg) == (0, 0.0, 0.0)
    assert r3.recall_at_k == 0.0

    li = load_table(spark, oracle_sf_dir, "lineitem")
    pairs = li.groupBy(
        (F.col("l_suppkey") % 20).alias("q"),
        (F.col("l_partkey") % 100).alias("i"),
    ).agg(
        F.sum("l_extendedprice").alias("score"),
        F.sum("l_quantity").alias("qty"),
    )
    got_r = ranking.ranking_metrics(
        pairs, pairs.filter(F.col("qty") > 400), "q", "i",
        k=5, score_col="score",
    )
    sql = f"""
        WITH pairs AS (
          SELECT l_suppkey % 20 AS q, l_partkey % 100 AS i,
                 SUM(l_extendedprice) AS score, SUM(l_quantity) AS qty
          FROM lineitem GROUP BY 1, 2
        ),
        ranked AS (
          SELECT q, i, ROW_NUMBER() OVER (
            PARTITION BY q ORDER BY score DESC, i
          ) AS rk
          FROM pairs
        ),
        r AS (SELECT * FROM ranked WHERE rk <= 5),
        t AS (SELECT DISTINCT q, i FROM pairs WHERE qty > 400),
        n_rel AS (SELECT q, COUNT(*) AS n_rel FROM t GROUP BY 1),
        hits AS (
          SELECT r.q, COUNT(*) AS hits, MIN(r.rk) AS frst,
                 SUM(1.0 / log2(r.rk + 1.0)) AS dcg
          FROM r JOIN t ON r.q = t.q AND r.i = t.i
          GROUP BY 1
        ),
        base AS (
          SELECT COALESCE(a.q, n.q) AS q,
                 COALESCE(n.n_rel, 0) AS n_rel,
                 COALESCE(h.hits, 0) AS hits, h.frst,
                 COALESCE(h.dcg, 0.0) AS dcg
          FROM (SELECT DISTINCT q FROM r) a
          FULL JOIN n_rel n USING (q)
          LEFT JOIN hits h ON COALESCE(a.q, n.q) = h.q
        )
        SELECT q, n_rel, hits,
          {sql_round("hits / 5.0", 6)} AS precision_at_k,
          {sql_round(
            "CASE WHEN n_rel > 0 THEN hits::DOUBLE / n_rel END", 6)}
            AS recall_at_k,
          {sql_round("COALESCE(1.0 / frst, 0.0)", 6)} AS mrr,
          {sql_round(
            "CASE WHEN n_rel > 0 THEN dcg / list_sum(list_transform("
            "generate_series(1, LEAST(n_rel, 5)), "
            "x -> 1.0 / log2(x + 1.0))) END", 6)} AS ndcg
        FROM base
    """
    assert compare(got_r, duckdb_connect(oracle_sf_dir), sql) == []


def test_retention_matrix_hand_pins_and_parity(spark, oracle_sf_dir):
    """Cohort retention: (1) hand matrix on a four-user toy (cohort
    assignment by first activity, offset-0 retention 1.0, dropouts
    leave no row, NULL users/timestamps excluded); (2) full DuckDB
    replay parity on the events table at week grain; (3) month offsets
    are calendar differences (Jan 31 -> Feb 1 is one month)."""
    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
        stable_round,
    )
    from pyspark.sql import functions as F
    from tests.parity import compare, duckdb_connect

    d = datetime.datetime
    rows = [
        (1, d(2024, 1, 1)), (1, d(2024, 1, 9)),   # w0 cohort, back w1
        (2, d(2024, 1, 2)),                        # w0 cohort, gone
        (3, d(2024, 1, 8)), (3, d(2024, 1, 22)),  # w1 cohort, back w2
        (None, d(2024, 1, 1)), (4, None),          # excluded
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.cohort.isoformat(), r.period_offset): (r.n_users, r.retention)
        for r in funnel.retention_matrix(ev).collect()
    }
    assert got[("2024-01-01", 0)] == (2, 1.0)
    assert got[("2024-01-01", 1)] == (1, 0.5)
    assert got[("2024-01-08", 0)] == (1, 1.0)
    assert got[("2024-01-08", 2)] == (1, 1.0)
    assert len(got) == 4  # no zero-filled rows

    mv = spark.createDataFrame(
        [(1, d(2024, 1, 31)), (1, d(2024, 2, 1)), (1, d(2024, 3, 1)),
         (2, d(2023, 12, 15)), (2, d(2024, 2, 20))],
        "user_id long, ts timestamp",
    )
    m = {
        (r.cohort.isoformat(), r.period_offset)
        for r in funnel.retention_matrix(mv, period="month").collect()
    }
    # calendar-month offsets: Jan 31 -> Feb 1 is 1, -> Mar 1 is 2; the
    # year boundary counts through December (Dec -> Feb = 2)
    assert m == {
        ("2024-01-01", 0), ("2024-01-01", 1), ("2024-01-01", 2),
        ("2023-12-01", 0), ("2023-12-01", 2),
    }

    with pytest.raises(ValueError, match="period"):
        funnel.retention_matrix(ev, period="quarter")

    events = load_table(spark, oracle_sf_dir, "events")
    out = funnel.retention_matrix(events, period="week").select(
        "cohort",
        "period_offset",
        "n_users",
        stable_round(F.col("retention"), 6).alias("retention"),
    )
    sql = f"""
        WITH active AS (
          SELECT DISTINCT user_id AS u,
                 date_trunc('week', ts)::DATE AS p
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        firsts AS (SELECT u, MIN(p) AS cohort FROM active GROUP BY u),
        cells AS (
          SELECT f.cohort,
                 CAST(date_diff('day', f.cohort, a.p) / 7 AS BIGINT)
                   AS period_offset,
                 CAST(COUNT(*) AS BIGINT) AS n_users
          FROM active a JOIN firsts f USING (u)
          GROUP BY 1, 2
        ),
        sizes AS (
          SELECT cohort, COUNT(*) AS sz FROM firsts GROUP BY cohort
        )
        SELECT c.cohort, c.period_offset, c.n_users,
               {sql_round('c.n_users * 1.0 / s.sz', 6)} AS retention
        FROM cells c JOIN sizes s USING (cohort)
    """
    errs = compare(out, duckdb_connect(oracle_sf_dir), sql)
    assert not errs, errs[:5]

    # the registered query rows DAY grain; the MONTH grain's calendar
    # arithmetic replays in DuckDB too (the fixture spans one month so
    # the matrix is small, but the values are bitwise-checked)
    out_m = funnel.retention_matrix(events, period="month").select(
        "cohort",
        "period_offset",
        "n_users",
        stable_round(F.col("retention"), 6).alias("retention"),
    )
    sql_m = f"""
        WITH active AS (
          SELECT DISTINCT user_id AS u,
                 date_trunc('month', ts)::DATE AS p
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        firsts AS (SELECT u, MIN(p) AS cohort FROM active GROUP BY u),
        cells AS (
          SELECT f.cohort,
                 CAST((year(a.p) - year(f.cohort)) * 12
                      + (month(a.p) - month(f.cohort)) AS BIGINT)
                   AS period_offset,
                 CAST(COUNT(*) AS BIGINT) AS n_users
          FROM active a JOIN firsts f USING (u)
          GROUP BY 1, 2
        ),
        sizes AS (
          SELECT cohort, COUNT(*) AS sz FROM firsts GROUP BY cohort
        )
        SELECT c.cohort, c.period_offset, c.n_users,
               {sql_round('c.n_users * 1.0 / s.sz', 6)} AS retention
        FROM cells c JOIN sizes s USING (cohort)
    """
    errs = compare(out_m, duckdb_connect(oracle_sf_dir), sql_m)
    assert not errs, errs[:5]
