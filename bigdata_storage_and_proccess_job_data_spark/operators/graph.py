"""Link-graph analytics: PageRank, triangles, label propagation, shortest
paths and random walks over an edge DataFrame.

The reference has no graph operators (SURVEY.md §2.6); this joins
connected_components (operators/neardup.py, the dedup-cluster step) as
the second iterative graph primitive -- authority scoring for document
graphs (hyperlinks, citations, user-item interactions), the classic
quality prior for crawl-corpus curation (e.g. the OPIC/harmonic-rank
features in CommonCrawl-derived training sets). Weighted edges and a
personalized teleport set make it the random-walk-with-restart form
used for recommendation ("rank items near THESE seeds").

Power iteration, all DataFrame ops: each round is one equi-join of the
rank vector against the edge list (shuffle on src) plus one hash agg on
dst -- O(|E|) per round, no adjacency matrix, no driver-side graph.
Dangling mass (rank parked on nodes with no out-edges) is redistributed
to the teleport vector each round via a one-row broadcast scalar, the
standard Page-Brin correction that keeps the rank vector a probability
distribution (sums to 1 every round -- tested).

Lineage management follows connected_components' hybrid (see its
docstring for the full rationale): persist each round, unpersist the
superseded frame deterministically, localCheckpoint every few rounds to
bound plan depth. Driver-side materializations are the node count and
(personalized only) the in-graph seed count -- two bounded longs, like
the documented scalar collects elsewhere in the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_storage_and_proccess_job_data_spark.sources.lake import (
    parse_byte_conf,
)

_CHECKPOINT_EVERY = 3


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 15,
    weight_col: str | None = None,
    personalize: DataFrame | None = None,
) -> DataFrame:
    """PageRank over the directed graph ``edges``: (node, rank) for
    every node appearing as a source or destination, ranks summing to 1.
    NULL endpoints drop; self-loops count like any edge. Fixed
    ``iters`` rounds of power iteration -- no per-round convergence
    collect, so the driver loop stays lazy between checkpoints; 10-20
    rounds is the standard operating range (residual decays as
    damping^iters).

    Unweighted (default): duplicate edges collapse, each out-edge gets
    an equal share. ``weight_col``: duplicate (src, dst) edge weights
    SUM, shares are weight-proportional, non-positive weights drop.

    ``personalize``: a DataFrame whose FIRST column lists seed nodes --
    the teleport (and dangling) mass concentrates uniformly on the
    seeds instead of all nodes, giving random-walk-with-restart
    proximity to the seed set (seeds outside the graph are ignored; an
    empty in-graph seed set raises). Iteration starts from the teleport
    vector, so non-personalized behavior is unchanged (uniform)."""
    if not 0 < damping < 1:
        raise ValueError("damping must be in (0, 1)")
    if iters < 1:
        raise ValueError("iters must be >= 1")
    sel = [F.col("src").alias("_s"), F.col("dst").alias("_d")]
    if weight_col is not None:
        sel.append(F.col(weight_col).cast("double").alias("_w"))
    e0 = edges.select(*sel).filter(
        F.col("_s").isNotNull() & F.col("_d").isNotNull()
    )
    if weight_col is not None:
        e = (
            e0.filter(F.col("_w") > 0)
            .groupBy("_s", "_d")
            .agg(F.sum("_w").alias("_w"))
            .persist()
        )
        deg = e.groupBy("_s").agg(F.sum("_w").alias("_deg")).persist()
    else:
        e = e0.distinct().withColumn("_w", F.lit(1.0)).persist()
        deg = (
            e.groupBy("_s")
            .agg(F.count(F.lit(1)).cast("double").alias("_deg"))
            .persist()
        )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # bounded driver scalar (one long)
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        deg.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))

    d = float(damping)
    if personalize is None:
        tele = nodes.withColumn("_t", F.lit(1.0 / n)).persist()
    else:
        seed_col = personalize.columns[0]
        seeds = personalize.select(
            F.col(seed_col).alias("node")
        ).distinct()
        in_graph = nodes.join(seeds, "node").persist()
        m = in_graph.count()  # bounded driver scalar (one long)
        if m == 0:
            e.unpersist()
            nodes.unpersist()
            deg.unpersist()
            in_graph.unpersist()
            raise ValueError("no personalization seed is in the graph")
        tele = (
            nodes.join(
                in_graph.withColumn("_t", F.lit(1.0 / m)), "node", "left"
            )
            .select("node", F.coalesce(F.col("_t"), F.lit(0.0)).alias("_t"))
            .persist()
        )
        in_graph.unpersist()
    ranks = tele.select("node", F.col("_t").alias("rank")).localCheckpoint()
    persisted_prev: DataFrame | None = None
    try:
        for i in range(iters):
            contribs = (
                e.join(
                    ranks.select(F.col("node").alias("_s"), "rank"),
                    "_s",
                )
                .join(deg, "_s")
                .groupBy("_d")
                .agg(
                    F.sum(
                        F.col("rank") * F.col("_w") / F.col("_deg")
                    ).alias("_c")
                )
            )
            dangling = (
                ranks.join(deg, ranks.node == deg._s, "left_anti")
                .agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang")
                )
            )
            nxt = (
                nodes.join(
                    contribs.select(F.col("_d").alias("node"), "_c"),
                    "node",
                    "left",
                )
                .join(tele, "node")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    (
                        F.lit(1.0 - d) * F.col("_t")
                        + F.lit(d)
                        * (
                            F.coalesce(F.col("_c"), F.lit(0.0))
                            + F.col("_dang") * F.col("_t")
                        )
                    ).alias("rank"),
                )
            )
            if (i + 1) % _CHECKPOINT_EVERY == 0 or i == iters - 1:
                nxt = nxt.localCheckpoint()
                if persisted_prev is not None:
                    persisted_prev.unpersist()
                    persisted_prev = None
            else:
                nxt = nxt.persist()
                if persisted_prev is not None:
                    persisted_prev.unpersist()
                persisted_prev = nxt
            ranks = nxt
        return ranks
    finally:
        e.unpersist()
        nodes.unpersist()
        deg.unpersist()
        tele.unpersist()


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: distinct (a, b) with a < b.
    Self-loops and NULL endpoints drop; (u, v) and (v, u) collapse.
    The normalization every undirected graph op here builds on."""
    a = F.least(F.col("src"), F.col("dst"))
    b = F.greatest(F.col("src"), F.col("dst"))
    return (
        edges.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _node_degrees(und: DataFrame) -> DataFrame:
    """(node, _deg) over the canonical undirected frame -- every node
    of the graph appears (degree >= 1 by construction), so the frame
    doubles as the node universe for per-node rollups."""
    return (
        und.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )


def _orient_by(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered orientation (Cohen / compact-forward): each
    undirected edge points from its lower-(degree, id) endpoint to the
    higher one. A strict total order, so the oriented graph is a DAG
    and every node's out-degree is O(sqrt(|E|)) -- the property that
    keeps a web-scale hub's triangle work off a single reducer."""
    e = (
        und.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("_deg", "_da")
        .join(deg.withColumnRenamed("node", "b"), "b")
        .withColumnRenamed("_deg", "_db")
    )
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def _triangle_parts(und: DataFrame):
    """Shared core of the triangle family over a CANONICAL undirected
    frame (distinct, a < b -- i.e. undirected_edges output, ideally
    persisted by the caller). Returns ``(tri, hits, deg, adj)``:

    - ``tri``: the LAZY (x, y, z) triangle list, x < y < z;
    - ``hits``: the LAZY pre-explode (u, v, _zs) frame tri derives
      from -- one row per oriented edge with its full intersect
      array; _per_node_counts folds it to corner counts without the
      triangle-list explode;
    - ``deg``: the PERSISTED (node, _deg) frame the orientation was
      built from -- it contains every node of the graph, so per-node
      consumers (triangle_counts) reuse it as
      the node universe instead of re-exploding + distinct-shuffling
      the edge set;
    - ``adj``: the PERSISTED sorted-adjacency frame (u, _nbrs) -- the
      ONLY materialized intermediate, V rows of O(sqrt(|E|)) longs.

    Formulation: edge-iterator over sorted adjacency arrays (Latapy's
    compact-forward on the degree-ordered DAG). Each oriented edge
    (u, v) finds its triangles as array_intersect(out(u), out(v)) --
    orientation makes each triangle x->y, x->z, y->z (x < y < z in
    (deg, id) order) match at exactly ONE edge, (x, y), with z in both
    out-sets. All intersection work is codegen'd JVM array math; the
    intersect explode produces one row per actual triangle, never the
    ~C(out-deg, 2)-fold wedge blow-up of the wedge-self-join
    formulation this replaced (measured 1.5x end-to-end on the sf0.1
    probe: 10.6M wedges vs ~36k triangles from 600k edges). Per-node
    adjacency rows are O(sqrt(|E|)) longs by the orientation bound, so
    no hub row can melt an executor.

    One persist, one join, one materializing job: the edge stream is
    re-derived by EXPLODING the cached adjacency -- (u, out(u), v) for v in
    out(u) -- which attaches out(u) for free, so only out(v) needs
    attaching, via a single equi-join on v (broadcast under the bytes-based
    gate at the join below; plain equi-join otherwise -- then the wide
    (out(u))-carrying rows cross the wire once, ~avg-degree x the
    adjacency's own size). The oriented frame itself is never cached and the
    broadcast gate's edge count comes from the same job that fills the
    adjacency cache (sum of out-degrees == |E|), so no separate count pass
    runs over the oriented joins.

    The caller must materialize everything derived from ``tri`` before
    unpersisting ``deg`` and ``adj``."""
    deg = _node_degrees(und).persist()
    try:
        o = _orient_by(und, deg)
        adj = o.groupBy("u").agg(
            F.array_sort(F.collect_list("v")).alias("_nbrs")
        ).persist()
    except Exception:
        deg.unpersist()
        raise
    try:
        # ONE materializing job: orients, groups, fills adj's cache
        # (and deg's, through the orientation's broadcast of it), and
        # returns the edge count that gates the broadcast decision
        n_edges = int(
            adj.agg(F.sum(F.size("_nbrs")).alias("n")).first()["n"] or 0
        )
    except Exception:
        adj.unpersist()
        deg.unpersist()
        raise
    edge_stream = adj.select(
        "u",
        F.col("_nbrs").alias("_nu"),
        F.explode("_nbrs").alias("v"),
    )
    adj_v = adj.select(
        F.col("u").alias("_jv"), F.col("_nbrs").alias("_nv")
    )
    # bytes-based broadcast gate: the adjacency's payload is 8 bytes
    # per oriented edge (one long per neighbor) -- estimate 16 B/edge
    # with array + row overhead, and broadcast below the byte budget.
    # Broadcasting costs O(adj bytes) per executor ONCE; the shuffle
    # alternative ships every edge row WITH its out(u) array -- sum
    # over edges of |out(u)| longs, i.e. ~avg-degree x the adjacency
    # size (measured at the sf1 spot fixture: 2.0 GB shuffled for a
    # 42 MB adjacency, avg degree ~265). The budget is a share of the
    # driver heap, which collects and ships the broadcast (see
    # _tri_broadcast_budget). Billion-edge graphs (~16 GB) stay on the
    # shuffle path.
    driver_mem = und.sparkSession.sparkContext.getConf().get(
        "spark.driver.memory", "1g"
    )
    if 16 * n_edges <= _tri_broadcast_budget(driver_mem):
        adj_v = F.broadcast(adj_v)
    # hits: one row per oriented edge with the FULL intersect array --
    # the shared pre-explode frame. tri explodes it to the (x,y,z)
    # list; _per_node_counts folds it to corner counts WITHOUT ever
    # materializing 3 rows per triangle.
    hits = edge_stream.join(adj_v, F.col("v") == F.col("_jv")).select(
        "u", "v", F.array_intersect("_nu", "_nv").alias("_zs")
    )
    tri = hits.select(
        "u", "v", F.explode("_zs").alias("_z")
    ).select(
        F.least("u", "v", "_z").alias("x"),
        F.expr("array_sort(array(u, v, _z))[1]").alias("y"),
        F.greatest("u", "v", "_z").alias("z"),
    )
    return tri, hits, deg, adj


def _tri_broadcast_budget(driver_memory: str) -> int:
    """Byte budget under which the triangle adjacency is broadcast:
    1/32 of the driver heap (32 MiB at Spark's 1g default, 256 MiB at
    8g), since the driver holds the whole adjacency while building the
    broadcast."""
    return parse_byte_conf(driver_memory, default=1 << 30) // 32


def _per_node_counts(hits: DataFrame) -> DataFrame:
    """(node, triangles) from the pre-explode hits frame in ONE pass:
    each edge (u, v) with S = out(u) & out(v) closes |S| triangles at
    u and at v and one at every z in S. The corner list per edge is
    posexplode(concat(array(u, v), S)) -- one primitive-array concat
    (an arraycopy, no per-element struct construction) -- and the
    weight is derived from the POSITION: slots 0-1 are u and v (each
    worth |S|), every later slot is a z (worth 1). 2|E| + T plain
    (pos, id) rows through a single Generate and the hash agg. Building
    the same rows as an array of (node, count) STRUCTS costs one struct
    allocation per corner row (1.23M rows per call on the sf0.1 bench
    probe: |E| = 599,061, T = 35,722); reading the weight off the
    position avoids them, and the gap widens with T on denser graphs.
    Exploding the triangle list instead would cost 3T rows plus an
    ordering projection per triangle. Each formulation enumerates
    every (triangle, corner) incidence exactly once."""
    return (
        hits.select(
            F.size("_zs").alias("_sz"),
            F.posexplode(
                F.concat(F.array("u", "v"), F.col("_zs"))
            ).alias("_i", "node"),
        )
        .groupBy("node")
        .agg(
            F.sum(
                F.when(F.col("_i") < 2, F.col("_sz")).otherwise(
                    F.lit(1)
                )
            )
            .cast("long")
            .alias("triangles")
        )
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Every triangle of the undirected graph, once: (x, y, z) with
    x < y < z. Edge-iterator over the degree-ordered orientation's
    sorted adjacency arrays (see _triangle_parts -- the skew-proof
    formulation): each oriented edge intersects its endpoints'
    out-sets, so triangles emerge directly, no wedge materialization
    and no closure join. Vertices never fan out by raw degree."""
    tri, _hits, deg, adj = _triangle_parts(undirected_edges(edges))
    try:
        # Materialize before releasing the oriented frame.
        return tri.localCheckpoint()
    finally:
        adj.unpersist()
        deg.unpersist()


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, triangles) for every node of the undirected graph --
    nodes on no triangle report 0. One canonicalization, one shared
    degree frame (doubling as the node universe -- no second
    explode+distinct over the edges), and ONE materialization: the
    20k-row per-node aggregate is the only thing checkpointed, never
    the raw triangle list (checkpointing the full (x,y,z) list would
    add a job barrier to the most expensive headline probe). Counts
    fold straight off the per-edge intersect arrays
    (_per_node_counts) -- the (x,y,z) list is never materialized here
    at all."""
    und = undirected_edges(edges).persist()
    try:
        _tri, hits, deg, adj = _triangle_parts(und)
        try:
            per_node = _per_node_counts(hits)
            out = (
                deg.select("node")
                .join(per_node, "node", "left")
                .select(
                    "node",
                    F.coalesce("triangles", F.lit(0)).alias("triangles"),
                )
            )
            return out.localCheckpoint()
        finally:
            adj.unpersist()
            deg.unpersist()
    finally:
        und.unpersist()


def label_propagation(
    edges: DataFrame,
    iters: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected graph: every node starts as its own community and each
    round adopts the label with the greatest neighbor weight, counting
    ITSELF as one vote (self-inclusion damps the classic two-cycle
    oscillation of pure synchronous LPA) and breaking ties toward the
    smallest label -- fully deterministic, unlike the random-order
    variants. Returns (node, label); nodes sharing a label share a
    community. Labels are member ids, not normalized ranks -- feed
    them to a groupBy or join as-is.

    Per round: one equi-join of the label vector against the
    bidirectional edge list + one (node, label) hash agg + one
    struct-max per node -- O(|E|) like pagerank, same persist/
    localCheckpoint lineage hybrid, no driver-side graph. Duplicate
    edges collapse (unweighted) or their weights sum."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    und = undirected_edges(edges)
    if weight_col is not None:
        w = (
            edges.filter(
                F.col("src").isNotNull() & F.col("dst").isNotNull()
            )
            .select(
                F.least(F.col("src"), F.col("dst")).alias("a"),
                F.greatest(F.col("src"), F.col("dst")).alias("b"),
                F.col(weight_col).cast("double").alias("_w"),
            )
            .filter((F.col("a") != F.col("b")) & (F.col("_w") > 0))
            .groupBy("a", "b")
            .agg(F.sum("_w").alias("_w"))
        )
    else:
        w = und.withColumn("_w", F.lit(1.0))
    bi = (
        w.select(
            F.col("a").alias("node"), F.col("b").alias("nbr"), "_w"
        )
        .union(
            w.select(
                F.col("b").alias("node"), F.col("a").alias("nbr"), "_w"
            )
        )
        .persist()
    )
    labels = (
        bi.select("node").distinct().withColumn("label", F.col("node"))
    ).localCheckpoint()
    persisted_prev: DataFrame | None = None
    try:
        for i in range(iters):
            votes = (
                bi.join(
                    labels.select(
                        F.col("node").alias("nbr"), "label"
                    ),
                    "nbr",
                )
                .select("node", "label", "_w")
                .union(
                    labels.select(
                        "node", "label", F.lit(1.0).alias("_w")
                    )
                )
                .groupBy("node", "label")
                .agg(F.sum("_w").alias("_v"))
            )
            # max weight, then MIN label among the maximizers -- two
            # cheap aggs keep the tiebreak type-generic (string ids
            # can't ride a negated struct-max)
            best = votes.groupBy("node").agg(F.max("_v").alias("_b"))
            nxt = (
                votes.join(best, "node")
                .filter(F.col("_v") == F.col("_b"))
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            if (i + 1) % _CHECKPOINT_EVERY == 0 or i == iters - 1:
                nxt = nxt.localCheckpoint()
                if persisted_prev is not None:
                    persisted_prev.unpersist()
                    persisted_prev = None
            else:
                nxt = nxt.persist()
                if persisted_prev is not None:
                    persisted_prev.unpersist()
                persisted_prev = nxt
            labels = nxt
        return labels
    finally:
        bi.unpersist()


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 20,
    directed: bool = True,
) -> DataFrame:
    """Unweighted shortest-path distance (hop count) from a seed SET:
    (node, dist) for every node reachable within ``max_hops``, dist 0
    for the seeds themselves -- the landmark-distance feature for link
    graphs (crawl depth, citation distance), and the exact counterpart
    of personalized PageRank's soft proximity. Unreachable nodes are
    simply absent. ``seeds``' first column is the seed ids.

    Frontier BFS, all DataFrame ops: each level is one equi-join of the
    CURRENT FRONTIER (not the whole distance table) against the edge
    list plus one anti-join against the known set -- O(edges touched by
    the frontier) per level, the delta-iteration formulation. Levels
    localCheckpoint (bounded lineage, pagerank's discipline); the only
    driver materialization is one frontier-size long per level, which
    also gives early exit the moment the frontier drains."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(
        F.col("src").alias("_s"), F.col("dst").alias("_d")
    ).filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
    if not directed:
        e = e.union(
            e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        )
    e = e.distinct().persist()
    seed_col = seeds.columns[0]
    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint()
    )
    frontier = dist.select("node")
    try:
        for h in range(1, max_hops + 1):
            nxt = (
                e.join(frontier.withColumnRenamed("node", "_s"), "_s")
                .select(F.col("_d").alias("node"))
                .distinct()
                .join(dist.select("node"), "node", "left_anti")
                .withColumn("dist", F.lit(h))
                .localCheckpoint()
            )
            if nxt.count() == 0:  # bounded driver scalar per level
                break
            dist = dist.union(nxt)
            frontier = nxt.select("node")
        return dist
    finally:
        e.unpersist()


def _walk_adjacency(
    edges: DataFrame,
    max_neighbors: "int | None",
    directed: bool,
) -> DataFrame:
    """Sorted neighbor-array adjacency shared by the walk generators
    (one hash agg), with the optional deterministic md5 hub downsample
    (rank neighbors by md5(node:nbr:walk), keep the smallest
    max_neighbors, re-sorted so the index coin stays
    position-independent)."""
    if max_neighbors is not None and max_neighbors < 1:
        raise ValueError("max_neighbors must be >= 1")
    e = edges.select(
        F.col("src").alias("_s"), F.col("dst").alias("_d")
    ).filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
    if not directed:
        e = e.union(
            e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        )
    adj = (
        e.distinct()
        .groupBy(F.col("_s").alias("node"))
        .agg(F.array_sort(F.collect_list("_d")).alias("_nbrs"))
    )
    if max_neighbors is not None:
        coin = (
            "cast(conv(substring(md5(concat_ws(':', "
            "cast(node as string), "
            "cast(nb as string), 'walk')), 1, 15), 16, 10) as bigint)"
        )
        adj = adj.select(
            "node",
            F.expr(
                "array_sort(slice(array_sort(_nbrs, (a, b) -> "
                f"case when {coin.replace('nb', 'a')} < "
                f"{coin.replace('nb', 'b')} then -1 "
                f"when {coin.replace('nb', 'a')} > "
                f"{coin.replace('nb', 'b')} then 1 else 0 end), "
                f"1, {int(max_neighbors)}))"
            ).alias("_nbrs"),
        )
    return adj


def random_walks(
    edges: DataFrame,
    walk_len: int,
    walks_per_node: int = 1,
    max_neighbors: int | None = None,
    directed: bool = True,
) -> DataFrame:
    """Deterministic uniform random walks over the graph -- the
    DeepWalk/node2vec(p=q=1) corpus generator (Perozzi et al. 2014):
    every node WITH AT LEAST ONE OUT-EDGE starts ``walks_per_node``
    walks of ``walk_len`` steps (pure sinks have no step to take),
    and the emitted sequences are the skip-gram training corpus that
    turns a graph into embedding training data (the graph-modality
    twin of corpus.py's text pipelines). Walks stop early at sinks
    (nodes with no out-edges).

    Determinism is the repo's md5 coin: step t of walk (node, w) picks
    neighbor index md5(start:w:t:walk) mod degree within the node's
    SORTED neighbor array -- a pure function of (start, w, t),
    reproducible across sessions, partitionings, and engines with no
    RNG state (pure-Python replica equality is the test).

    Scale shape: adjacency folds ONCE to a sorted neighbor array per
    node (one hash agg; array_sort of the collected out-set), then
    each step is ONE equi-join of the O(nodes x walks_per_node)
    frontier against that adjacency frame plus an O(1) element_at --
    walk state never grows beyond (walk id, current node), and the
    per-step join shuffles the frontier, not the graph. Positions
    accumulate as (walk, pos, node) rows and fold to sequences in one
    final sort+agg. Hub nodes make adjacency ROWS wide, not the join
    wide; ``max_neighbors`` md5-downsamples each out-set to a bounded
    array (deterministic per node) for degree-skewed graphs -- at
    corpus scale a 10M-degree hub's array must not ride every join.
    Lineage: the frontier localCheckpoints per step (pagerank's
    discipline).

    Returns (start, walk, seq: array of nodes, hops)."""
    if walk_len < 1:
        raise ValueError("walk_len must be >= 1")
    if walks_per_node < 1:
        raise ValueError("walks_per_node must be >= 1")
    adj = _walk_adjacency(edges, max_neighbors, directed).persist()
    try:
        starts = adj.select("node").crossJoin(
            F.broadcast(
                adj.sparkSession.range(walks_per_node).select(
                    F.col("id").cast("int").alias("walk")
                )
            )
        )
        cur = starts.select(
            F.col("node").alias("start"),
            "walk",
            F.col("node").alias("_cur"),
        ).localCheckpoint()
        trail = cur.select(
            "start", "walk", F.lit(0).alias("pos"),
            F.col("_cur").alias("node"),
        )
        for t in range(1, walk_len + 1):
            stepped = (
                cur.join(
                    adj.withColumnRenamed("node", "_cur"), "_cur"
                )
                .select(
                    "start",
                    "walk",
                    F.element_at(
                        F.col("_nbrs"),
                        (
                            F.expr(
                                "conv(substring(md5(concat_ws(':', "
                                "cast(start as string), "
                                "cast(walk as string), "
                                f"'{t}', 'walk')), 1, 15), 16, 10)"
                            ).cast("long")
                            % F.size("_nbrs")
                            + 1
                        ).cast("int"),
                    ).alias("_cur"),
                )
                .localCheckpoint()
            )
            trail = trail.union(
                stepped.select(
                    "start", "walk", F.lit(t).alias("pos"),
                    F.col("_cur").alias("node"),
                )
            )
            cur = stepped
        return (
            trail.groupBy("start", "walk")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "node"))
                ).alias("_tr")
            )
            .select(
                "start",
                "walk",
                F.col("_tr.node").alias("seq"),
                (F.size("_tr") - 1).alias("hops"),
            )
        )
    finally:
        adj.unpersist()


def walk_skipgram_pairs(
    walks: DataFrame,
    window: int,
) -> DataFrame:
    """Skip-gram (center, context) pair extraction from walk
    sequences -- the step that turns ``random_walks`` output into
    embedding training rows (word2vec over node sequences). For every
    position i and offset 1..window, emits both directions with the
    signed offset; pair counts aggregate across all walks.

    Pure expression shape: ONE posexplode of each sequence + a
    bounded inline offset array -- rows out = positions x 2window
    before the hash agg, nothing per-row in Python, and the whole
    thing is SQL-expressible (DuckDB replay in the test).

    Returns (center, context, offset, n)."""
    if window < 1:
        raise ValueError("window must be >= 1")
    offs = [o for o in range(-window, window + 1) if o != 0]
    return (
        walks.select(
            F.posexplode(F.col("seq")).alias("_i", "center"),
            F.col("seq").alias("_seq"),
        )
        .select(
            "center",
            F.explode(
                F.array(*[F.lit(o) for o in offs])
            ).alias("offset"),
            "_i",
            "_seq",
        )
        .select(
            "center",
            # get() is 0-based and NULL out of bounds (element_at
            # raises on index 0, which offset -pos-1 produces)
            F.get(
                F.col("_seq"), F.col("_i") + F.col("offset")
            ).alias("context"),
            "offset",
        )
        .filter(F.col("context").isNotNull())
        .groupBy("center", "context", "offset")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def pmi_pairs(
    pairs: DataFrame,
    shift: float = 1.0,
) -> DataFrame:
    """(Shifted positive) pointwise mutual information over co-occurrence
    pair counts: pmi = ln(n * total / (n_center * n_context)) - ln(shift),
    clamped at 0 (the SPPMI matrix). Levy-Goldberg 2014: word2vec's
    skip-gram-negative-sampling factorizes exactly this matrix with
    shift = #negatives -- so ``random_walks`` -> ``walk_skipgram_pairs``
    -> ``pmi_pairs`` -> ``factorization.als_fit`` (center as user,
    context as item, sppmi as rating) is a complete deterministic
    graph-embedding pipeline from public building blocks, and the
    output vectors feed the existing knn_* / semantic_dedup stack.

    Scale shape: marginals are two hash aggs ON THE PAIR FRAME (rows =
    distinct pairs, not co-occurrence events) broadcast back; the total
    is a one-row broadcast scalar via cross join (the engine's
    documented one-row pattern). Zero-clamped rows are dropped --
    SPPMI is sparse by construction, and that sparsity is the point at
    corpus scale. Contract: ``pairs`` must be PRE-AGGREGATED (one row
    per (center, context), e.g. walk_skipgram_pairs output summed over
    offsets) -- duplicate pair rows would double-count the marginals.

    Returns (center, context, n, sppmi), sppmi stable-rounded."""
    if shift < 1.0:
        raise ValueError("shift must be >= 1 (ln would flip sign)")
    from bigdata_storage_and_proccess_job_data_spark.functions.numeric import (
        stable_round,
    )

    n = F.col("n").cast("double")
    cm = pairs.groupBy("center").agg(
        F.sum("n").alias("_nc")
    )
    xm = pairs.groupBy("context").agg(
        F.sum("n").alias("_nx")
    )
    tot = pairs.agg(F.sum("n").alias("_tot"))
    pmi = (
        F.log(
            n
            * F.col("_tot").cast("double")
            / (F.col("_nc") * F.col("_nx"))
        )
        - F.log(F.lit(float(shift)))
    )
    return (
        pairs.join(F.broadcast(cm), "center")
        .join(F.broadcast(xm), "context")
        .crossJoin(F.broadcast(tot))
        .select(
            "center",
            "context",
            "n",
            stable_round(pmi, 6).alias("sppmi"),
        )
        .filter(F.col("sppmi") > 0)
    )
