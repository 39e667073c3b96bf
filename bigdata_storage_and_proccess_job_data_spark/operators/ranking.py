"""BM25 full-text ranking over a document corpus.

The corpus suite covers dedup/quality/similarity; this adds the
retrieval primitive -- score every document against a (small) term
query with Okapi BM25 and return the top-k. At training-data scale the
same shape powers decontamination triage and "find documents about X"
corpus audits without an external search cluster.

Scale shape (all native expressions, no Python in the row path):
- tokenize once, explode ONLY tokens that are query terms (the filter
  sits directly on the generator output, so the explode never
  materializes non-query tokens downstream);
- tf = count per (doc, term): one narrow shuffle of (doc_id, term);
- df per term + the global doc count / average length are tiny
  aggregates; idf joins back via broadcast (|terms| rows);
- the per-doc length norm attaches the one-row (N, avgdl) frame with a
  broadcast -- O(n x 1), the impute_mean pattern;
- final score = sum over <= |terms| partials, ranked with a window
  top-k (no global sort of the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.functions import text
from bigdata_storage_and_proccess_job_data_spark.functions.numeric import stable_round
from bigdata_storage_and_proccess_job_data_spark.session import local_frame


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    materialize: bool = True,
) -> DataFrame:
    """Okapi BM25 top-k (k1 = 1.2, b = 0.75) over (doc_id, text):
    (doc_id, score, rank) for the ``k`` highest-scoring documents
    against ``query_terms`` (matched case-insensitively,
    whitespace tokenization -- the corpus suite's shared tokenizer).
    idf uses the +1 ("Lucene") form, ln(1 + (N - df + .5)/(df + .5)),
    so scores stay positive for terms in most documents. Score rounded
    via stable_round(4) for cross-engine determinism; ties rank by id.

    ``materialize=True`` (default) eagerly computes the <= k result
    rows and releases the internal cache before returning (the
    deterministic-release contract); ``materialize=False``
    returns the LAZY pipeline un-persisted -- the tokenize+explode
    lineage will run once per consumer, but the full operator plan
    stays inspectable (the plan-hygiene gate probes this form)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    toks = text.tokens(F.lower(F.col("text")))
    base = docs.select(
        F.col("doc_id"),
        toks.alias("_toks"),
    ).select(
        "doc_id",
        F.size("_toks").cast("long").alias("_dl"),
        "_toks",
    )
    # corpus scalars: N and average doc length (one tiny row, broadcast)
    scalars = base.agg(
        F.count(F.lit(1)).cast("long").alias("_n_docs"),
        F.avg("_dl").alias("_avgdl"),
    )
    # per-(doc, term) tf over query terms only. Persisted: both the
    # df-per-term aggregate and the final scoring join consume this
    # frame, and without the persist each consumer re-runs the corpus
    # tokenize+explode lineage (2 full scans instead of 1). It is the
    # small side -- one row per (matching doc, term) -- the same
    # precedent as neardup's persisted signature frame. Released
    # deterministically below: the final top-k is <= k rows
    # by contract, so it is materialized eagerly and the cache dropped
    # in the finally -- no storage survives the call.
    hits = (
        base.select(
            "doc_id",
            "_dl",
            F.explode(
                F.filter(
                    F.col("_toks"), lambda t: t.isin(terms)
                )
            ).alias("_term"),
        )
        .groupBy("doc_id", "_dl", "_term")
        .agg(F.count(F.lit(1)).cast("long").alias("_tf"))
    )
    if materialize:
        hits = hits.persist()
    try:
        # per-term document frequency -> idf (broadcast: |terms| rows)
        df_by_term = hits.groupBy("_term").agg(
            F.count(F.lit(1)).cast("long").alias("_df")
        )
        scored = (
            hits.join(F.broadcast(df_by_term), "_term")
            .crossJoin(F.broadcast(scalars))
            .select(
                F.col("doc_id"),
                (
                    F.log(
                        F.lit(1.0)
                        + (F.col("_n_docs") - F.col("_df") + 0.5)
                        / (F.col("_df") + 0.5)
                    )
                    * (F.col("_tf") * (1.2 + 1))
                    / (
                        F.col("_tf")
                        + 1.2
                        * (1 - 0.75 + 0.75 * F.col("_dl") / F.col("_avgdl"))
                    )
                ).alias("_part"),
            )
            .groupBy("doc_id")
            .agg(stable_round(F.sum("_part"), 4).alias("score"))
        )
        # TakeOrderedAndProject first (distributed partial top-k per
        # partition, k rows to the driver-side merge), THEN a row_number
        # window over only those k rows -- never a single-partition
        # window over the whole scored corpus
        topk = scored.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(k)
        w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        ranked = (
            topk.withColumn("rank", F.row_number().over(w))
            .select(
                "doc_id", "score", F.col("rank").cast("long").alias("rank")
            )
        )
        if not materialize:
            return ranked
        # materialize the <= k result rows (driver-sized by definition --
        # the same bounded-collect precedent as the Arrow query cap),
        # then release the cached hits frame before returning
        rows = ranked.collect()
        schema = ranked.schema
    finally:
        if materialize:
            hits.unpersist()
    return local_frame(docs.sparkSession, rows, schema)


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    max_candidates: int = 1000,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR
    1998) over per-query candidate sets of (query_id, neighbor_id,
    sim, embedding) rows: greedily select k candidates maximizing

        lam * relevance  -  (1 - lam) * max cosine(candidate, selected)

    -- the diversity step after a similarity search, which is what keeps
    a retrieval-built training set (or a RAG context window) from
    filling up with near-duplicates of the single best hit. lam=1 is
    plain top-k by relevance; lam->0 maximizes spread.

    Scale shape: greedy MMR is inherently sequential WITHIN a query but
    independent ACROSS queries, so this is one applyInPandas over
    query_id groups -- each group is a candidate set some upstream
    top-k already bounded (the hybrid_search/brute_force_topk contract),
    enforced per group by ``max_candidates`` (a group above it raises:
    an unbounded candidate set means the upstream search is missing its
    own cap, and O(k * n * dim) greedy work per group should never
    silently absorb that). Candidates with NULL or zero-norm vectors are
    dropped (undefined cosine). Ties break on (score desc, id asc) --
    deterministic across runs and partitionings.

    Returns (query_id, neighbor_id, mmr_rank, relevance, mmr_score), k rows
    per query (fewer when the candidate set is smaller).
    """
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    if k < 1:
        raise ValueError("k must be >= 1")
    import numpy as np
    import pandas as pd

    def rerank(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) > max_candidates:
            raise ValueError(
                f"candidate group of {len(pdf)} exceeds "
                f"max_candidates={max_candidates}; bound the upstream "
                "search's top-k before diversifying"
            )
        pdf = pdf[pdf["_v"].notna()]
        if not len(pdf):
            return pd.DataFrame(
                columns=["_q", "_id", "mmr_rank", "relevance", "mmr_score"]
            )
        x = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(x, axis=1)
        keep = nrm > 0
        pdf, x, nrm = pdf[keep], x[keep], nrm[keep]
        x = x / nrm[:, None]
        ids = pdf["_id"].to_numpy()
        rel = pdf["_rel"].to_numpy(dtype=np.float64)
        # deterministic processing order (score desc, id asc) so argmax
        # ties resolve identically everywhere
        order = np.lexsort((ids, -rel))
        ids, rel, x = ids[order], rel[order], x[order]
        sims = x @ x.T
        selected: list[int] = []
        out_rows = []
        remaining = list(range(len(ids)))
        for rank in range(1, min(k, len(ids)) + 1):
            if selected:
                penalty = sims[np.ix_(remaining, selected)].max(axis=1)
            else:
                penalty = np.zeros(len(remaining))
            mmr = lam * rel[remaining] - (1.0 - lam) * penalty
            best = remaining[int(np.argmax(mmr))]  # first max = best tie
            out_rows.append(
                (
                    pdf["_q"].iloc[0],
                    ids[best],
                    rank,
                    float(rel[best]),
                    float(mmr[int(np.argmax(mmr))]),
                )
            )
            selected.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            out_rows,
            columns=["_q", "_id", "mmr_rank", "relevance", "mmr_score"],
        )

    prepared = candidates.select(
        F.col("query_id").alias("_q"),
        F.col("neighbor_id").alias("_id"),
        F.col("sim").cast("double").alias("_rel"),
        F.col("embedding").cast("array<double>").alias("_v"),
    )
    q_t = prepared.schema["_q"].dataType.simpleString()
    id_t = prepared.schema["_id"].dataType.simpleString()
    out = prepared.groupBy("_q").applyInPandas(
        rerank,
        f"_q {q_t}, _id {id_t}, mmr_rank LONG, "
        "relevance DOUBLE, mmr_score DOUBLE",
    )
    return out.select(
        F.col("_q").alias("query_id"),
        F.col("_id").alias("neighbor_id"),
        "mmr_rank",
        "relevance",
        "mmr_score",
    )


def ranking_metrics(
    recs: DataFrame,
    truth: DataFrame,
    query_col: str,
    item_col: str,
    k: int = 10,
    rank_col: str | None = None,
    score_col: str | None = None,
) -> DataFrame:
    """Retrieval evaluation per query: precision@k, recall@k, MRR@k,
    and NDCG@k (binary relevance) -- the offline quality readout for
    every ranker in the engine (bm25_topk, knn_* ANN paths, ALS
    recommendations, hybrid rerank). ``recs`` is the system output
    (query, item, rank or score); ``truth`` the relevant set (query,
    item). Pass ``rank_col`` when ranks are materialized, else
    ``score_col`` and ranks derive as row_number over score DESC with
    a deterministic item-id tiebreak.

    Definitions (stated so the oracle replays them): hits = relevant
    items at rank <= k; precision = hits/k (k the DENOMINATOR even
    when fewer recs exist -- the retrieval convention); recall =
    hits/|truth|; MRR = 1/min(hit rank), 0 when no hit in k; DCG =
    sum over hits of 1/log2(rank+1); IDCG = the perfect-ordering DCG
    of min(k, |truth|) items (an expression fold over
    sequence(1..m) -- constant-foldable, no join); NDCG = DCG/IDCG.
    Queries present in ``recs`` but with an EMPTY truth set emit NULL
    recall/NDCG (undefined, never silently 0); queries in ``truth``
    that the system never answered emit all-zero metrics -- missing
    queries are a ranker failure the mean must see, not a dropped row.

    Scale shape: one window per query for the rank (skipped entirely
    with ``rank_col``), one equi-join against the truth frame on
    (query, item), one hash agg per side, one outer merge of two
    per-query frames -- rows shuffled are recommendation and truth
    rows, never item catalogs.

    Returns (query, n_rel, hits, precision_at_k, recall_at_k, mrr,
    ndcg), rounded to 6 digits with stable_round."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if (rank_col is None) == (score_col is None):
        raise ValueError("pass exactly one of rank_col / score_col")
    q, it = F.col(query_col), F.col(item_col)
    r = recs.filter(q.isNotNull() & it.isNotNull())
    if rank_col is None:
        w = Window.partitionBy(query_col).orderBy(
            F.col(score_col).desc(), it
        )
        r = r.withColumn("_rk", F.row_number().over(w))
    else:
        r = r.withColumn("_rk", F.col(rank_col).cast("long"))
    r = r.filter(F.col("_rk") <= k).select(
        q.alias("_q"), it.alias("_i"), "_rk"
    )
    t = (
        truth.filter(q.isNotNull() & it.isNotNull())
        .select(q.alias("_q"), it.alias("_i"))
        .distinct()
    )
    n_rel = t.groupBy("_q").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = (
        r.join(t, ["_q", "_i"])
        .groupBy("_q")
        .agg(
            F.count(F.lit(1)).alias("hits"),
            F.min("_rk").alias("_first"),
            F.sum(
                F.lit(1.0) / F.log2(F.col("_rk") + F.lit(1.0))
            ).alias("_dcg"),
        )
    )
    answered = r.select("_q").distinct()
    base = (
        answered.join(n_rel, "_q", "full")
        .join(hits, "_q", "left")
        .select(
            "_q",
            F.coalesce(F.col("n_rel"), F.lit(0)).alias("n_rel"),
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
            "_first",
            F.coalesce(F.col("_dcg"), F.lit(0.0)).alias("_dcg"),
        )
    )
    m = F.least(F.col("n_rel"), F.lit(k))
    idcg = F.aggregate(
        F.sequence(F.lit(1), m),
        F.lit(0.0),
        lambda acc, i: acc
        + F.lit(1.0) / F.log2(i.cast("double") + F.lit(1.0)),
    )
    return base.select(
        F.col("_q").alias(query_col),
        "n_rel",
        "hits",
        stable_round(
            F.col("hits").cast("double") / F.lit(float(k)), 6
        ).alias("precision_at_k"),
        stable_round(
            F.when(
                F.col("n_rel") > 0,
                F.col("hits").cast("double") / F.col("n_rel"),
            ),
            6,
        ).alias("recall_at_k"),
        stable_round(
            F.coalesce(
                F.lit(1.0) / F.col("_first").cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("mrr"),
        stable_round(
            F.when(F.col("n_rel") > 0, F.col("_dcg") / idcg), 6
        ).alias("ndcg"),
    )
