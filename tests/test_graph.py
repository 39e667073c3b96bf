"""PageRank: exact agreement with a dense numpy power iteration (same
update rule), probability-mass conservation, dangling handling, and
validation. Iterative -> test-pinned rather than SQL-oracled (the
connected_components precedent)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
from bigdata_storage_and_proccess_job_data_spark.operators import graph


def _numpy_pagerank(edge_list, damping, iters):
    nodes = sorted({u for u, v in edge_list} | {v for u, v in edge_list})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    out = {}
    for u, v in set(edge_list):
        out.setdefault(u, []).append(v)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, (1.0 - damping) / n)
        dang = 0.0
        for u in nodes:
            targets = out.get(u)
            if not targets:
                dang += r[idx[u]]
            else:
                share = r[idx[u]] / len(targets)
                for v in targets:
                    nxt[idx[v]] += damping * share
        nxt += damping * dang / n
        r = nxt
    return {u: r[idx[u]] for u in nodes}


def test_pagerank_matches_numpy_micro(spark):
    """4-node graph with a dangling sink and a duplicate edge: ranks
    match the dense reference to 1e-9 and sum to 1."""
    edge_list = [(1, 2), (1, 2), (2, 3), (3, 1), (1, 4)]  # 4 is dangling
    df = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {
        r.node: r.rank
        for r in graph.pagerank(df, damping=0.85, iters=12).collect()
    }
    want = _numpy_pagerank(edge_list, 0.85, 12)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # node 1 receives 3's entire rank (its only out-edge) and tops the
    # graph; 2 and 4 each get half of 1's mass and tie exactly
    assert got[1] == max(got.values())
    assert got[2] == pytest.approx(got[4], abs=1e-12)


def test_pagerank_matches_numpy_bipartite(spark, sf_dir):
    """Customer -> part interaction graph from the driver tables (~350
    nodes): distributed ranks equal the dense reference."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") + 1_000_000).alias("src"),
            F.col("l_partkey").alias("dst"),
        )
    )
    edge_list = [(r.src, r.dst) for r in edges.collect()]
    got = {
        r.node: r.rank
        for r in graph.pagerank(edges, damping=0.85, iters=7).collect()
    }
    want = _numpy_pagerank(edge_list, 0.85, 7)
    assert set(got) == set(want)
    worst = max(abs(got[k] - want[k]) for k in want)
    assert worst < 1e-9
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_null_edges_and_validation(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3)], ["src", "dst"]
    )
    got = {r.node: r.rank for r in graph.pagerank(df, iters=3).collect()}
    assert set(got) == {1, 2}  # NULL endpoints drop their edges entirely
    with pytest.raises(ValueError, match="damping"):
        graph.pagerank(df, damping=1.0)
    with pytest.raises(ValueError, match="iters"):
        graph.pagerank(df, iters=0)


def _numpy_pr_general(edge_list, damping, iters, weights=None, seeds=None):
    """Dense reference for the weighted/personalized forms: teleport
    vector t over seeds (uniform over all nodes when None), init r = t,
    nxt = (1-d)t + d(W^T r + dang * t)."""
    nodes = sorted({u for u, v in edge_list} | {v for u, v in edge_list})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    w = {}
    for j, (u, v) in enumerate(edge_list):
        wt = 1.0 if weights is None else weights[j]
        if weights is None:
            w[(u, v)] = 1.0
        elif wt > 0:
            w[(u, v)] = w.get((u, v), 0.0) + wt
    out_tot = {}
    for (u, v), wt in w.items():
        out_tot[u] = out_tot.get(u, 0.0) + wt
    t = np.zeros(n)
    if seeds is None:
        t[:] = 1.0 / n
    else:
        live = [s for s in seeds if s in idx]
        for s in live:
            t[idx[s]] = 1.0 / len(live)
    r = t.copy()
    d = damping
    for _ in range(iters):
        nxt = (1.0 - d) * t
        dang = sum(r[idx[u]] for u in nodes if u not in out_tot)
        for (u, v), wt in w.items():
            nxt[idx[v]] += d * r[idx[u]] * wt / out_tot[u]
        nxt += d * dang * t
        r = nxt
    return {u: r[idx[u]] for u in nodes}


def test_pagerank_weighted_matches_numpy(spark):
    """Duplicate weighted edges sum; shares go weight-proportional
    (node 3 gets 9x node 4's share of node 1's mass); non-positive
    weights drop; exact numpy agreement."""
    rows = [
        (1, 3, 4.5), (1, 3, 4.5), (1, 4, 1.0),  # dup (1,3) sums to 9
        (3, 1, 1.0), (4, 1, 2.0), (2, 1, 0.0),  # zero-weight edge drops
        (2, 3, 3.0),
    ]
    df = spark.createDataFrame(rows, ["src", "dst", "w"])
    got = {
        r.node: r.rank
        for r in graph.pagerank(df, weight_col="w", iters=9).collect()
    }
    kept = [(u, v) for u, v, wt in rows if wt > 0]
    want = _numpy_pr_general(
        kept, 0.85, 9, weights=[wt for _, _, wt in rows if wt > 0]
    )
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    assert got[3] > got[4]  # 9:1 share split


def test_pagerank_personalized_concentrates_on_seeds(spark):
    """Random-walk-with-restart: teleporting to {1} pulls rank toward
    the seed's neighborhood vs the uniform run; exact numpy agreement;
    out-of-graph seeds ignored; empty in-graph seed set raises."""
    edge_list = [(1, 2), (2, 1), (3, 4), (4, 3), (2, 3)]
    df = spark.createDataFrame(edge_list, ["src", "dst"])
    seeds = spark.createDataFrame([(1,), (99,)], ["node"])  # 99 not in graph
    got = {
        r.node: r.rank
        for r in graph.pagerank(df, personalize=seeds, iters=10).collect()
    }
    want = _numpy_pr_general(edge_list, 0.85, 10, seeds=[1, 99])
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    uniform = {
        r.node: r.rank for r in graph.pagerank(df, iters=10).collect()
    }
    assert got[1] > uniform[1]  # mass concentrates near the seed
    assert got[4] < uniform[4]  # and drains from the far component
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)

    only_ghost = spark.createDataFrame([(99,)], ["node"])
    with pytest.raises(ValueError, match="seed"):
        graph.pagerank(df, personalize=only_ghost, iters=2)


def test_triangles_micro_shapes(spark):
    """K4 has 4 triangles (3 per node); C4 and a star have
    none. Exercises the degree-ordered orientation end to end."""
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4, "src long, dst long")
    tri = graph.triangles(df).collect()
    assert len(tri) == 4
    assert all(r.x < r.y < r.z for r in tri)
    counts = {
        r.node: r.triangles for r in graph.triangle_counts(df).collect()
    }
    assert counts == {0: 3, 1: 3, 2: 3, 3: 3}

    c4 = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    assert graph.triangles(c4).count() == 0

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 30)], "src long, dst long"
    )
    assert graph.triangles(star).count() == 0


def test_triangles_reciprocal_and_self_edges_collapse(spark):
    """(u,v) + (v,u) is ONE undirected edge; self-loops and NULLs
    drop. A directed 3-cycle is still one triangle."""
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (None, 2)],
        "src long, dst long",
    )
    rows = graph.triangles(df).collect()
    assert [(r.x, r.y, r.z) for r in rows] == [(1, 2, 3)]


def test_triangle_edge_iterator_avoids_wedge_blowup(spark, oracle_sf_dir):
    """VERDICT r8 #7: measure the adjacency-intersect claim against the
    wedge regime it replaced. On a bench-density graph (mod 2003 at
    sf0.01 ~ the sf0.1 probe's avg degree ~30): (1) the executed plan's
    Generate (explode of the array_intersect) emits EXACTLY one row per
    triangle -- rows produced = answers, the formulation's contract;
    (2) the wedge count the old self-join formulation would have
    materialized (sum over oriented out-degrees of C(d, 2)) is >= 20x
    the triangle count here, so a regression back to wedges would trip
    this guard loudly; (3) the orientation bound holds: max oriented
    out-degree <= sqrt(2E) + 1 (the no-hub property that keeps this
    skew-proof at 100 TB)."""
    import math

    edges = load_table(spark, oracle_sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 2003).alias("src"),
        (F.col("l_partkey") % 2003).alias("dst"),
    )
    und = graph.undirected_edges(edges)
    tri, _hits, deg, adj = graph._triangle_parts(und)
    try:
        # execute tri's OWN physical plan (df.count() builds a different
        # agg plan whose metrics would not populate this tree)
        n_tri = int(tri._jdf.queryExecution().toRdd().count())

        def generate_rows(df) -> int:
            acc: list[int] = []

            def walk(node) -> None:
                name = node.getClass().getSimpleName()
                if name == "AdaptiveSparkPlanExec":
                    walk(node.executedPlan())
                    return
                if name.endswith("QueryStageExec"):
                    walk(node.plan())
                    return
                if name == "GenerateExec":
                    m = node.metrics()
                    if m.contains("numOutputRows"):
                        acc.append(int(m.apply("numOutputRows").value()))
                ch = node.children()
                for i in range(ch.size()):
                    walk(ch.apply(i))

            walk(df._jdf.queryExecution().executedPlan())
            assert acc, "no GenerateExec in the triangle plan"
            return sum(acc)

        outdeg = adj.select(F.size("_nbrs").alias("count"))
        row = outdeg.select(
            F.sum(F.expr("count * (count - 1) / 2")).alias("wedges"),
            F.max("count").alias("max_out"),
            F.sum("count").alias("n_edges"),
        ).first()
        # the r14 plan has exactly TWO Generates: the adjacency explode
        # re-deriving the edge stream (|E| rows) and the intersect
        # explode (ONE row per triangle) -- a regression back to the
        # wedge formulation would still blow past this sum by >= 20x
        assert generate_rows(tri) == n_tri + row.n_edges, (
            generate_rows(tri),
            n_tri,
            row.n_edges,
        )
        assert n_tri > 100, n_tri  # the regime is non-trivial
        assert row.wedges >= 20 * n_tri, (row.wedges, n_tri)
        assert row.max_out <= math.isqrt(2 * row.n_edges) + 1, (
            row.max_out,
            row.n_edges,
        )
    finally:
        adj.unpersist()
        deg.unpersist()


def test_triangle_counts_duckdb_parity(spark, sf_dir):
    """Full per-node triangle counts on a mod-derived lineitem
    graph match DuckDB computing the naive a<b<c three-way join --
    the oriented formulation changes the shuffle shape, never the
    answer."""
    from tests.parity import compare, duckdb_connect

    edges = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 53).alias("src"),
        (F.col("l_partkey") % 53).alias("dst"),
    )
    con = duckdb_connect(sf_dir)
    problems = compare(
        graph.triangle_counts(edges),
        con,
        """
        WITH raw AS (
          SELECT l_orderkey % 53 AS s, l_partkey % 53 AS d FROM lineitem
        ),
        e AS (
          SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
          FROM raw WHERE s IS NOT NULL AND d IS NOT NULL AND s <> d
        ),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1
          JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        pern AS (
          SELECT node, COUNT(*) AS triangles FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
          ) GROUP BY node
        ),
        nodes AS (
          SELECT a AS node FROM e UNION SELECT b AS node FROM e
        )
        SELECT n.node, COALESCE(p.triangles, 0) AS triangles
        FROM nodes n LEFT JOIN pern p USING (node)
        """,
    )
    assert problems == [], problems


def test_label_propagation_two_cliques(spark):
    """Two 5-cliques joined by one bridge edge resolve into exactly
    two communities (each labeled by its min member); deterministic
    across reruns."""
    def clique(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    edges = clique(range(5)) + clique(range(10, 15)) + [(4, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.label for r in graph.label_propagation(df).collect()}
    assert {out[i] for i in range(5)} == {0}
    assert {out[i] for i in range(10, 15)} == {10}
    again = {
        r.node: r.label for r in graph.label_propagation(df).collect()
    }
    assert out == again


def test_label_propagation_weighted_and_string_ids(spark):
    """Heavy edges dominate the vote; string node ids work (the
    tiebreak is type-generic)."""
    # x is 1-hop from both triangles; the heavier bridge wins it for B
    # (intra-clique weights stay dominant so the clique labels are
    # stable -- a bridge heavier than a whole clique is the classic
    # synchronous-LPA oscillator, deliberately avoided here)
    edges = [
        ("a1", "a2", 1.0), ("a1", "a3", 1.0), ("a2", "a3", 1.0),
        ("b1", "b2", 5.0), ("b1", "b3", 5.0), ("b2", "b3", 5.0),
        ("x", "a1", 1.0), ("x", "b1", 2.0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    out = {
        r.node: r.label
        for r in graph.label_propagation(
            df, weight_col="w", iters=8
        ).collect()
    }
    assert out["x"] == out["b1"] == out["b2"] == out["b3"]
    assert out["a1"] == out["a2"] == out["a3"]
    assert out["x"] != out["a1"]

    import pytest

    with pytest.raises(ValueError):
        graph.label_propagation(df, iters=0)


def test_shortest_paths_hand_and_early_exit(spark):
    """Path graph distances, multi-seed min semantics, directed vs
    undirected, unreachable absence."""
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "s long")
    got = {
        r.node: r.dist
        for r in graph.shortest_paths(edges, seeds).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # 4,5 unreachable: absent

    undirected = {
        r.node: r.dist
        for r in graph.shortest_paths(
            spark.createDataFrame([(1, 0), (1, 2)], "src long, dst long"),
            seeds,
            directed=False,
        ).collect()
    }
    assert undirected == {0: 0, 1: 1, 2: 2}

    two_seeds = spark.createDataFrame([(0,), (3,)], "s long")
    got2 = {
        r.node: r.dist
        for r in graph.shortest_paths(edges, two_seeds).collect()
    }
    assert got2[2] == 2 and got2[3] == 0

    capped = {
        r.node: r.dist
        for r in graph.shortest_paths(edges, seeds, max_hops=1).collect()
    }
    assert capped == {0: 0, 1: 1}


def test_shortest_paths_duckdb_recursive_cte_parity(spark, sf_dir):
    """Distances on a derived lineitem graph match DuckDB's recursive
    CTE computing the same capped BFS -- the connected_components
    cross-validation precedent, now for distances."""
    from tests.parity import compare, duckdb_connect

    edges = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 211).alias("src"),
        (F.col("l_partkey") % 211).alias("dst"),
    )
    seeds = spark.createDataFrame([(0,), (1,)], "s long")
    out = graph.shortest_paths(edges, seeds, max_hops=6)
    con = duckdb_connect(sf_dir)
    problems = compare(
        out,
        con,
        """
        WITH RECURSIVE e AS (
          SELECT DISTINCT l_orderkey % 211 AS s, l_partkey % 211 AS d
          FROM lineitem
          WHERE l_orderkey % 211 IS NOT NULL
            AND l_partkey % 211 IS NOT NULL
        ),
        walk(node, dist) AS (
          SELECT * FROM (VALUES (0, 0), (1, 0)) v(node, dist)
          UNION
          SELECT e.d, walk.dist + 1
          FROM walk JOIN e ON e.s = walk.node
          WHERE walk.dist < 6
        )
        SELECT node, MIN(dist)::INT AS dist FROM walk GROUP BY node
        """,
    )
    assert problems == [], problems


def _md5_idx(parts, n):
    import hashlib

    h = hashlib.md5(":".join(parts).encode()).hexdigest()[:15]
    return int(h, 16) % n


def test_random_walks_replica_and_invariants(spark):
    """Deterministic DeepWalk corpus: (1) exact pure-Python replica of
    every sequence via the same md5 coin; (2) walks stop early at
    sinks; (3) walks_per_node fan-out; (4) md5 neighbor downsampling
    replays exactly and bounds the adjacency array."""
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("c", "d"),  # d is a sink
        ("b", "d"),
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    L, W = 5, 3
    got = {
        (r.start, r.walk): (list(r.seq), r.hops)
        for r in graph.random_walks(e, L, walks_per_node=W).collect()
    }
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    adj = {k: sorted(v) for k, v in adj.items()}
    starts = sorted(adj)  # nodes with out-edges start walks
    assert set(got) == {(s, w) for s in starts for w in range(W)}
    for (s, w), (seq, hops) in got.items():
        cur, expect = s, [s]
        for t in range(1, L + 1):
            if cur not in adj:
                break
            nbrs = adj[cur]
            cur = nbrs[_md5_idx([s, str(w), str(t), "walk"], len(nbrs))]
            expect.append(cur)
        assert seq == expect, (s, w)
        assert hops == len(expect) - 1
        if seq[-1] != "d":
            assert hops == L  # only the sink cuts a walk short

    # downsample: cap c's out-set {a, d} to 1 via the md5 rank
    capped = {
        (r.start, r.walk): list(r.seq)
        for r in graph.random_walks(
            e, 3, walks_per_node=1, max_neighbors=1
        ).collect()
    }
    import hashlib

    def rank(node, nb):
        return int(
            hashlib.md5(f"{node}:{nb}:walk".encode()).hexdigest()[:15],
            16,
        )

    adj1 = {
        k: sorted(sorted(v, key=lambda nb: rank(k, nb))[:1])
        for k, v in adj.items()
    }
    for (s, w), seq in capped.items():
        cur, expect = s, [s]
        for t in range(1, 4):
            if cur not in adj1:
                break
            nbrs = adj1[cur]
            cur = nbrs[_md5_idx([s, str(w), str(t), "walk"], len(nbrs))]
            expect.append(cur)
        assert seq == expect, (s, w)


def test_walk_skipgram_pairs_hand_and_duckdb_parity(spark, sf_dir):
    """Skip-gram extraction: hand pin on one sequence, then full DuckDB
    replay parity over per-user event-type sequences."""
    from tests.parity import compare, duckdb_connect

    one = spark.createDataFrame(
        [(["x", "y", "z"],)], "seq array<string>"
    )
    got = {
        (r.center, r.context, r.offset): r.n
        for r in graph.walk_skipgram_pairs(one, window=1).collect()
    }
    assert got == {
        ("x", "y", 1): 1, ("y", "x", -1): 1,
        ("y", "z", 1): 1, ("z", "y", -1): 1,
    }

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    seqs = (
        events.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", "event_type")
                )
            ).alias("_o")
        )
        .select(F.col("_o.event_type").alias("seq"))
    )
    got_r = graph.walk_skipgram_pairs(seqs, window=2)
    sql = """
        WITH seqs AS (
          SELECT list(event_type ORDER BY ts, event_id) AS seq
          FROM events GROUP BY user_id
        ),
        pos AS (
          SELECT seq, unnest(generate_series(1, len(seq))) AS i
          FROM seqs
        ),
        pairs AS (
          SELECT seq[i] AS center, seq[i + o.o] AS context, o.o AS "offset"
          FROM pos
          CROSS JOIN (VALUES (-2), (-1), (1), (2)) o(o)
          WHERE i + o.o BETWEEN 1 AND len(seq)
        )
        SELECT center, context, "offset", COUNT(*) AS n
        FROM pairs GROUP BY 1, 2, 3
    """
    assert compare(got_r, duckdb_connect(sf_dir), sql) == []


def test_pmi_pairs_hand_and_duckdb_parity(spark, sf_dir):
    """SPPMI weighting: hand-computable pins, zero-clamp sparsity, and
    full DuckDB replay parity over the per-user event-sequence pairs;
    then the walks->pairs->PMI->ALS chain runs end to end and is
    deterministic."""
    import math

    from tests.parity import compare, duckdb_connect

    pairs = spark.createDataFrame(
        [("a", "b", 8), ("a", "c", 2), ("b", "c", 1), ("c", "a", 1)],
        "center string, context string, n long",
    )
    got = {
        (r.center, r.context): r.sppmi
        for r in graph.pmi_pairs(pairs).collect()
    }
    # total=12; pmi(a,b) = ln(8*12 / (10*8)) = ln(1.2)
    assert got[("a", "b")] == pytest.approx(math.log(1.2), abs=1e-6)
    # pmi(b,c) = ln(1*12 / (1*3)) = ln(4)
    assert got[("b", "c")] == pytest.approx(math.log(4.0), abs=1e-6)
    # pmi(a,c) = ln(2*12/(10*3)) = ln(0.8) < 0 -> clamped away
    assert ("a", "c") not in got
    # shift=4 subtracts ln(4): only b->c (ln 4) survives at exactly 0-
    shifted = graph.pmi_pairs(pairs, shift=4.0).collect()
    assert all(r.sppmi > 0 for r in shifted)

    from bigdata_storage_and_proccess_job_data_spark.catalog import load_table
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        sql_round,
    )

    events = load_table(spark, sf_dir, "events")
    seqs = (
        events.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("_o")
        )
        .select(F.col("_o.event_type").alias("seq"))
    )
    got_r = graph.pmi_pairs(
        graph.walk_skipgram_pairs(seqs, window=2).drop("offset")
        .groupBy("center", "context").agg(F.sum("n").alias("n"))
    )
    sql = f"""
        WITH seqs AS (
          SELECT list(event_type ORDER BY ts, event_id) AS seq
          FROM events GROUP BY user_id
        ),
        pos AS (
          SELECT seq, unnest(generate_series(1, len(seq))) AS i
          FROM seqs
        ),
        pairs AS (
          SELECT seq[i] AS center, seq[i + o.o] AS context,
                 COUNT(*) AS n
          FROM pos
          CROSS JOIN (VALUES (-2), (-1), (1), (2)) o(o)
          WHERE i + o.o BETWEEN 1 AND len(seq)
          GROUP BY 1, 2
        ),
        m AS (
          SELECT p.center, p.context, p.n,
                 SUM(p.n) OVER (PARTITION BY p.center) AS nc,
                 SUM(p.n) OVER (PARTITION BY p.context) AS nx,
                 SUM(p.n) OVER () AS tot
          FROM pairs p
        )
        SELECT center, context, n,
          {sql_round("ln(n::DOUBLE * tot / (nc * nx))", 6)} AS sppmi
        FROM m
        WHERE {sql_round("ln(n::DOUBLE * tot / (nc * nx))", 6)} > 0
    """
    assert compare(got_r, duckdb_connect(sf_dir), sql) == []

    # end-to-end chain determinism on the hand graph
    from bigdata_storage_and_proccess_job_data_spark.operators import factorization

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "src string, dst string",
    )
    walks = graph.random_walks(e, 6, walks_per_node=4)
    sg = graph.walk_skipgram_pairs(walks, window=2).groupBy(
        "center", "context"
    ).agg(F.sum("n").alias("n"))
    sppmi = graph.pmi_pairs(sg)
    m1 = factorization.als_fit(sppmi, "center", "context", "sppmi",
                               rank=2, iters=3)
    m2 = factorization.als_fit(sppmi, "center", "context", "sppmi",
                               rank=2, iters=3)
    v1 = sorted((r.id, tuple(r.factors))
                for r in m1["user_factors"].collect())
    v2 = sorted((r.id, tuple(r.factors))
                for r in m2["user_factors"].collect())
    assert v1 == v2 and len(v1) == 3  # bit-reproducible node vectors


def test_triangle_broadcast_gate_paths_identical(spark, monkeypatch):
    """Bytes-based adjacency broadcast gate: forcing the shuffle
    path (budget=1) and the broadcast path (the default budget) yields
    identical per-node triangle counts on a planted graph -- the gate
    is a join-strategy choice, never a semantics one."""
    import random

    rnd = random.Random(7)
    edges = spark.createDataFrame(
        [(rnd.randrange(60), rnd.randrange(60)) for _ in range(600)],
        "src long, dst long",
    )
    bcast = {
        (r.node, r.triangles) for r in graph.triangle_counts(edges).collect()
    }
    monkeypatch.setattr(graph, "_tri_broadcast_budget", lambda _mem: 1)
    shuffled = {
        (r.node, r.triangles) for r in graph.triangle_counts(edges).collect()
    }
    assert shuffled == bcast
    assert sum(t for _, t in bcast) > 0  # the planted graph has triangles


def test_triangle_broadcast_budget_scales_with_driver_heap():
    """The budget is 1/32 of the driver heap: 32 MiB at Spark's 1g
    default, 256 MiB at the engine session's 8g."""
    assert graph._tri_broadcast_budget("1g") == 32 << 20
    assert graph._tri_broadcast_budget("8g") == 256 << 20
