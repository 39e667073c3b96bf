"""Near-dup operator quality: LSH candidate recall against the exact
Jaccard baseline (the planted near-duplicates in documents)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.operators import neardup


def test_minhash_lsh_recall(spark, oracle_sf_dir):
    docs = load_table(spark, oracle_sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in neardup.jaccard_pairs(
            docs, "doc_id", "text", ngram=2, threshold=0.8
        ).collect()
    }
    cands = {
        (r.id_a, r.id_b)
        for r in neardup.minhash_candidates(
            docs, "doc_id", "text", ngram=2, num_hashes=32, bands=8
        ).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    recall = len(exact & cands) / len(exact)
    # 8 bands x 4 rows: P(candidate | j=0.8) = 1-(1-0.8^4)^8 ~ 0.99
    assert recall >= 0.9, f"LSH recall too low: {recall:.2f} over {len(exact)} pairs"


def test_minhash_dedup_pairs_equals_exact(spark, oracle_sf_dir):
    """The registry query's oracle guarantee (VERDICT r1 item 3): at
    16 bands x 4 rows a >= 0.8 pair is missed with prob <= (1-.41)^16
    ~= 2.1e-4 (3.9e-8 at the corpus-typical jaccard >= 0.9), the hash
    family is seed-deterministic, and every candidate is verified by
    exact Jaccard -- so minhash_dedup_pairs must EQUAL the exact
    jaccard_pairs output, values included. This pin is what lets
    minhash_near_dups carry the exact-Jaccard SQL as a real DuckDB
    oracle instead of a rows-only check."""
    docs = load_table(spark, oracle_sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b, r.n_inter, r.jaccard)
        for r in neardup.jaccard_pairs(
            docs, "doc_id", "text", ngram=2, threshold=0.8
        ).collect()
    }
    mh = {
        (r.id_a, r.id_b, r.n_inter, r.jaccard)
        for r in neardup.minhash_dedup_pairs(
            docs, "doc_id", "text", ngram=2, threshold=0.8,
            num_hashes=64, bands=16,
        ).collect()
    }
    assert exact and mh == exact, (
        f"missed={len(exact - mh)} extra={len(mh - exact)} of {len(exact)}"
    )
    # the exact reference applies its threshold: a short doc quoted
    # whole inside a longer one has Jaccard 4/6 < 0.8, so no pair
    quoted = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x a b c d e y")], "doc_id long, text string"
    )
    assert (
        neardup.jaccard_pairs(
            quoted, "doc_id", "text", ngram=2, threshold=0.8
        ).count()
        == 0
    )


def test_simhash_finds_neardups(spark, oracle_sf_dir):
    docs = load_table(spark, oracle_sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in neardup.jaccard_pairs(
            docs, "doc_id", "text", ngram=2, threshold=0.9
        ).collect()
    }
    sim = {
        (r.id_a, r.id_b)
        for r in neardup.simhash_candidates(
            docs, "doc_id", "text", max_hamming=8
        ).collect()
    }
    assert exact
    recall = len(exact & sim) / len(exact)
    assert recall >= 0.5, f"simhash recall too low: {recall:.2f}"


def test_dedup_by_key_deterministic(spark, sf_dir):
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    order = [
        F.col("l_linenumber").desc(),
        F.col("l_partkey").asc(),
        F.col("l_suppkey").asc(),
        F.col("l_extendedprice").asc(),
    ]
    a = neardup  # noqa: F841  (module import sanity)
    from bigdata_storage_and_proccess_job_data_spark.operators import dedup

    d1 = dedup.dedup_by_key(li, ["l_orderkey"], order_by=order)
    d2 = dedup.dedup_by_key(li.repartition(7), ["l_orderkey"], order_by=order)
    rows1 = {tuple(r) for r in d1.collect()}
    rows2 = {tuple(r) for r in d2.collect()}
    assert rows1 == rows2, "winner must be partitioning-independent"


def test_connected_components_chains_and_cliques(spark):
    pairs = spark.createDataFrame(
        # chain 1-2-3-4, clique {10,11,12}, isolated pair (20,21)
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a LONG, id_b LONG",
    )
    got = {
        (r.id, r.component)
        for r in neardup.connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_long_chain_converges_log_rounds(spark):
    """Pointer-jumping convergence bound (r9): a 200-edge path graph
    has diameter 200, so plain min-label propagation needs ~200 rounds
    -- the regime that blew the 20-round cap when semantic_dedup's
    sf0.1 pair graph grew a chain-shaped giant component. With the
    label-graph hop the distance to the component min doubles per
    round, so the DEFAULT max_iters=20 (> log2(200) ~ 8) must converge
    and still label every vertex with the chain's min id."""
    n = 201
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a LONG, id_b LONG"
    )
    got = {
        (r.id, r.component)
        for r in neardup.connected_components(pairs).collect()
    }
    assert got == {(i, 0) for i in range(n)}


def test_connected_components_on_minhash_pairs(spark, oracle_sf_dir):
    """End-to-end dedup clustering: exact-dup docs (same normalized text)
    must land in one component of the minhash pair graph."""
    docs = load_table(spark, oracle_sf_dir, "documents")
    pairs = neardup.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.9)
    comp = neardup.connected_components(pairs, "id_a", "id_b")
    # exact duplicates (jaccard 1.0 > any threshold) are a subset of pairs:
    # every exact-dup group with >1 member must be fully merged
    from bigdata_storage_and_proccess_job_data_spark.operators import dedup

    groups = dedup.duplicate_groups(docs, "text", "doc_id").filter(
        F.col("dup_count") > 1
    )
    exact = docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash")
    ).join(groups, "content_hash")
    merged = exact.join(comp, exact.doc_id == comp.id).groupBy(
        "content_hash"
    ).agg(F.count_distinct("component").alias("n_comp"))
    bad = merged.filter(F.col("n_comp") > 1).count()
    assert bad == 0


def test_incremental_dedup_matches_full_batch(spark, oracle_sf_dir):
    """Split the documents table into 'corpus' and 'new batch': probing
    the new batch against a stored minhash_index must find EXACTLY the
    cross-set pairs the full-batch minhash_dedup_pairs run finds on the
    union (same parameters), with identical jaccard values -- and never
    re-sign the corpus. Then the accepted batch's index rows append, and
    a re-probe of the same batch against the grown index sees each doc
    collide with its own entry skipped (self-match guard)."""
    docs = load_table(spark, oracle_sf_dir, "documents").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    params = dict(ngram=2, num_hashes=64, bands=16, seed=42)

    index = neardup.minhash_index(corpus, "doc_id", "text", **params)
    inc = {
        (r.id_a, r.id_b): r.jaccard
        for r in neardup.incremental_dedup_pairs(
            batch, corpus, index, "doc_id", "text",
            threshold=0.9, **params,
        ).collect()
    }

    full = neardup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.9, **params
    )
    cross = {}
    for r in full.collect():
        a_new, b_new = r.id_a % 5 == 0, r.id_b % 5 == 0
        if a_new != b_new:  # cross-set pairs only (id_a < id_b ordering)
            k = (r.id_a, r.id_b) if a_new else (r.id_b, r.id_a)
            cross[k] = r.jaccard
    assert inc == cross
    assert inc, "fixture should contain cross-set near-dups"

    # append the accepted batch to the index; re-probing the SAME batch
    # must not report a doc as a duplicate of itself, and -- since batch
    # ids now exist on BOTH sides (corpus_docs=docs includes them) --
    # must not emit any pair row twice (the one-shingle-row-per-side
    # guarantee of verify_jaccard's sized_b split)
    grown = index.unionByName(
        neardup.minhash_index(batch, "doc_id", "text", **params)
    )
    again = neardup.incremental_dedup_pairs(
        batch, docs, grown, "doc_id", "text", threshold=0.9, **params
    )
    rows = again.collect()
    assert all(r.id_a != r.id_b for r in rows)
    pairs = [(r.id_a, r.id_b) for r in rows]
    assert len(pairs) == len(set(pairs)), "duplicated pair rows"


def test_minhash_index_rejects_nondivisible_bands(spark, oracle_sf_dir):
    """Silent truncation of trailing hash lanes (num_hashes % bands != 0)
    would weaken every band below the requested strength; the index
    builder must refuse instead."""
    import pytest

    docs = load_table(spark, oracle_sf_dir, "documents")
    with pytest.raises(ValueError, match="must divide"):
        neardup.minhash_index(docs, "doc_id", "text", num_hashes=60, bands=16)


def test_incremental_dedup_releases_caches(spark, oracle_sf_dir):
    """The repeated-batch contract (VERDICT r5 #4): each default
    (materialize=True) incremental_dedup_pairs call must release its
    internal persists before returning -- a long session running one
    call per ingest day may accumulate only result-sized checkpoint
    storage, never the per-batch shingle/candidate caches. The lazy
    (materialize=False) mode keeps its two caches alive, which is the
    delta this test measures."""
    docs = load_table(spark, oracle_sf_dir, "documents").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    params = dict(ngram=2, num_hashes=64, bands=16, seed=42)
    index = neardup.minhash_index(corpus, "doc_id", "text", **params)

    def persisted_ids() -> set:
        # ID set, not size: earlier tests' lingering checkpoint RDDs get
        # collected by the async ContextCleaner at arbitrary points, so
        # a raw count delta can drift mid-test (suite-order flake seen
        # r7); NEW ids attribute storage to THIS test's calls only.
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    base = persisted_ids()
    eager = neardup.incremental_dedup_pairs(
        batch, corpus, index, "doc_id", "text", threshold=0.9, **params
    )
    eager_rows = {(r.id_a, r.id_b) for r in eager.collect()}
    # only the returned frame's own checkpoint blocks may remain
    new_eager = persisted_ids() - base
    assert len(new_eager) <= 1, (
        "internal caches survived a materialize=True call"
    )

    lazy = neardup.incremental_dedup_pairs(
        batch, corpus, index, "doc_id", "text",
        threshold=0.9, materialize=False, **params,
    )
    lazy_rows = {(r.id_a, r.id_b) for r in lazy.collect()}
    assert lazy_rows == eager_rows, "materialize modes must agree"
    # sanity lower bound only (CacheManager may fold nested caches into
    # one materialized entry): lazy mode leaves at least one cache
    # behind, proving the counter observes what materialize=True removed
    new_lazy = persisted_ids() - base - new_eager
    assert len(new_lazy) >= 2, (
        "lazy mode should hold caches (sanity check that the counter "
        "actually observes persists)"
    )
    spark.catalog.clearCache()


def test_recursive_cte_closure_matches_connected_components(spark, oracle_sf_dir):
    """Spark 4's recursive CTEs give the dedup-clustering semantics a
    declarative twin: a depth-bounded UNION ALL transitive closure
    (Spark doesn't yet allow UNION-distinct recursion, so the level
    guard bounds ping-pong on undirected edges) must agree with BOTH
    the engine's distributed connected_components operator AND DuckDB
    running the IDENTICAL SQL text -- three engines, one answer. The
    iterative operator remains the scale path (each CC round is one
    shuffle; the naive closure materializes all reach pairs), which is
    exactly what this cross-validation licenses it against."""
    from tests.parity import duckdb_connect

    # planted forest: chain 1-2-3-4, pair 10-11, singleton 20
    nodes = [1, 2, 3, 4, 10, 11, 20]
    undirected = [(1, 2), (2, 3), (3, 4), (10, 11)]
    edges = undirected + [(b, a) for a, b in undirected]

    spark.createDataFrame([(n,) for n in nodes], "id INT").createOrReplaceTempView(
        "cc_nodes"
    )
    spark.createDataFrame(edges, "src INT, dst INT").createOrReplaceTempView(
        "cc_edges"
    )
    closure = """
        WITH RECURSIVE reach(a, b, lvl) AS (
          SELECT id, id, 0 FROM cc_nodes
          UNION ALL
          SELECT r.a, e.dst, r.lvl + 1
          FROM reach r JOIN cc_edges e ON r.b = e.src
          WHERE r.lvl < 6
        )
        SELECT a AS id, min(b) AS component FROM reach GROUP BY a
    """
    got = {r.id: r.component for r in spark.sql(closure).collect()}
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}
    assert got == want

    # the distributed operator agrees (it only sees nodes with edges;
    # singletons are their own trivial component by construction)
    pairs = spark.createDataFrame(undirected, "id_a INT, id_b INT")
    cc = {
        r.id: r.component
        for r in neardup.connected_components(pairs, "id_a", "id_b").collect()
    }
    assert cc == {k: v for k, v in want.items() if k != 20}

    # DuckDB runs the same SQL text over inlined data
    con = duckdb_connect(oracle_sf_dir)
    con.execute(
        "CREATE VIEW cc_nodes AS SELECT * FROM (VALUES "
        + ", ".join(f"({n})" for n in nodes)
        + ") t(id)"
    )
    con.execute(
        "CREATE VIEW cc_edges AS SELECT * FROM (VALUES "
        + ", ".join(f"({a}, {b})" for a, b in edges)
        + ") t(src, dst)"
    )
    duck = dict(con.execute(closure).fetchall())
    assert duck == want
