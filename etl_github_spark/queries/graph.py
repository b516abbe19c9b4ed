"""Graph analytics over join-derived edge lists: PageRank and degree
statistics on the customer→supplier purchase graph, plus triangle
counting and k-core peeling on the part co-purchase graph.

The edge list is derived relationally (orders ⋈ lineitem → distinct
(customer, supplier) pairs) — the shape a 100 TB deployment produces by
collapsing the raw fact table into a much smaller distinct edge set
before any iteration. PageRank runs in **pure int64 fixed-point**
(rank mass scaled by 1e12, all divisions integral) so three engines'
worth of per-iteration reductions stay bit-exact: float PageRank sums
in-neighbor contributions in nondeterministic order, integer PageRank
doesn't care.

Iteration in Spark unrolls lazily; each round's rank frame is
`localCheckpoint(eager=False)`-materialized because the next round
consumes it twice (dangling-mass aggregate + contribution join) and the
dependency would otherwise recompute geometrically.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import local_frame, rebase, release
from ._util import T, loop_frame
from .registry import query

_SCALE = 10**12  # fixed-point rank mass (total graph mass = _SCALE)
_ITERS = 3
_TOP = 20


def _pagerank_sql() -> str:
    head = """
    WITH edges AS (
      SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                      'S' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION
      SELECT DISTINCT dst AS node FROM edges
    ),
    deg AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
      FROM edges GROUP BY src
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    r0 AS (
      SELECT node, CAST({scale} // nn.n AS BIGINT) AS r FROM nodes, nn
    )"""
    it = """,
    d{i} AS (
      SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dm
      FROM r{p} LEFT JOIN deg USING (node) WHERE outdeg IS NULL
    ),
    in{i} AS (
      SELECT e.dst AS node, CAST(sum(r.r // deg.outdeg) AS BIGINT) AS m
      FROM edges e
      JOIN r{p} r ON r.node = e.src
      JOIN deg ON deg.node = e.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT nodes.node,
             CAST((15 * ({scale} // nn.n)) // 100
                + (85 * (coalesce(in{i}.m, 0) + (d{i}.dm // nn.n))) // 100
               AS BIGINT) AS r
      FROM nodes
      CROSS JOIN nn CROSS JOIN d{i}
      LEFT JOIN in{i} USING (node)
    )"""
    parts = [head.format(scale=_SCALE)]
    for i in range(1, _ITERS + 1):
        parts.append(it.format(i=i, p=i - 1, scale=_SCALE))
    parts.append(
        f"""
    SELECT node, r AS rank_q12 FROM r{_ITERS}
    ORDER BY r DESC, node LIMIT {_TOP}
    """
    )
    return "".join(parts)


@query("graph_pagerank_purchases", sql=_pagerank_sql(), tags=("graph", "iterative"))
def graph_pagerank_purchases(spark, sf_dir):
    """PageRank over the bipartite customer→supplier purchase graph
    (damping 0.85, 3 iterations, dangling mass redistributed uniformly)
    — the influence/centrality primitive behind seller ranking, spam
    scoring, and link-graph curation. Emits the top-20 nodes by
    fixed-point rank (scaled 1e12).

    Integer fixed-point contract: r₀ = S div N; each round
    r' = (15·(S div N)) div 100 + (85·(inmass + D div N)) div 100 with
    every division integral — bit-exact under any reduction order, so
    the DuckDB oracle replays the identical recurrence with `//`.

    Scale shape: the edge list is a distinct-collapsed fact-table join
    (shuffle once, reused every round via localCheckpoint); each
    iteration is one shuffle keyed by dst plus a 1-row dangling-mass
    broadcast — the standard Pregel-on-DataFrames shape. Customers all
    tie at the teleport floor (no in-edges); the top-k order is
    (rank desc, node) so ties are deterministic.
    """
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
        # eager: the fact-table join + distinct is the full-width data
        # work; the loop below only re-reads this materialized frame
        .localCheckpoint()
    )
    # Rounds are |nodes|-sized aggregates and joins; run them at the
    # width of the measured edge count (`_util.loop_frame`), not the
    # session's full-scan width. Fixed-point ranks are order-free.
    edges = loop_frame(edges, edges.count())
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    ncnt = nodes.agg(F.count("*").cast("long").alias("n"))
    ranks = nodes.join(F.broadcast(ncnt)).select(
        "node", F.expr(f"{_SCALE} div n").cast("long").alias("r")
    )
    spent = [edges, nodes]
    for _ in range(_ITERS):
        ranks = ranks.localCheckpoint(eager=False)
        spent.append(ranks)
        dang = (
            ranks.join(
                F.broadcast(deg.withColumnRenamed("src", "node")), "node", "left"
            )
            .where(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm"))
        )
        # rank/degree frames are |nodes|×16 B — broadcast them INTO the
        # edge scan (the HITS rule): each round becomes a map-side join
        # plus one combinable aggregate instead of re-shuffling the
        # (much larger) edge list; beyond broadcastable node counts a
        # deployment drops the hints and AQE plans the shuffle join.
        inm = (
            edges.join(F.broadcast(ranks.withColumnRenamed("node", "src")), "src")
            .join(F.broadcast(deg), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("r div outdeg")).cast("long").alias("m"))
            .withColumnRenamed("dst", "node")
        )
        ranks = (
            nodes.join(F.broadcast(ncnt))
            .join(F.broadcast(dang))
            .join(inm, "node", "left")
            .select(
                "node",
                F.expr(
                    f"(15 * ({_SCALE} div n)) div 100"
                    " + (85 * (coalesce(m, 0) + (dm div n))) div 100"
                )
                .cast("long")
                .alias("r"),
            )
        )
    ranks = rebase(ranks.localCheckpoint(), spark)  # runs every round
    release(*spent)
    return (
        ranks.orderBy(F.col("r").desc(), "node")
        .limit(_TOP)
        .select("node", F.col("r").alias("rank_q12"))
    )


@query(
    "graph_degree_histogram",
    sql="""
    WITH edges AS (
      SELECT DISTINCT o_custkey, l_suppkey
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    deg AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS outdeg
      FROM edges GROUP BY o_custkey
    )
    SELECT outdeg, CAST(count(*) AS BIGINT) AS n_customers
    FROM deg GROUP BY outdeg
    """,
    tags=("graph",),
)
def graph_degree_histogram(spark, sf_dir):
    """Out-degree distribution of the purchase graph (distinct suppliers
    per customer) — the first diagnostic before any iterative graph
    algorithm: it sizes the supernode/skew risk that decides whether a
    plain keyed shuffle suffices or high-degree hubs need salting
    (`join_salted_hotkey` is the mitigation path).

    Two hash aggregations, both map-side-combinable; no sort, no window.
    """
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    deg = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("outdeg"))
    )
    return deg.groupBy("outdeg").agg(
        F.count("*").cast("long").alias("n_customers")
    )


_TRI_MINSUP = 2  # co-purchase support threshold defining an edge


@query(
    "graph_triangle_count",
    sql=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_TRI_MINSUP}
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM edges ab
    JOIN edges bc ON ab.p2 = bc.p1
    JOIN edges ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2
    """,
    tags=("graph",),
)
def graph_triangle_count(spark, sf_dir):
    """Triangle count on the co-purchase part graph (edges = part pairs
    co-bought in ≥ 2 orders, oriented p1 < p2) — the clustering-
    coefficient / community-density primitive. Ordered-edge
    enumeration counts each triangle exactly once: a<b<c appears only
    as (ab, bc, ac).

    Scale contract: the support threshold is the density bound — edges
    are frequent co-purchases, not raw pairs, so the two-hop join is
    candidate-bounded the same way the LSH dedup joins are. Both joins
    key on a part id (shuffle, no cartesian); at 100 TB the standard
    extra guard is degree-ordering (orient edges low-degree → high-
    degree), which this orientation approximates via key order.
    """
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = li.distinct()
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count("*").alias("sup"))
        .where(F.col("sup") >= _TRI_MINSUP)
        .select("p1", "p2")
        .localCheckpoint(eager=False)
    )
    ab = edges.select(F.col("p1").alias("x"), F.col("p2").alias("y"))
    bc = edges.select(F.col("p1").alias("y"), F.col("p2").alias("z"))
    ac = edges.select(F.col("p1").alias("x"), F.col("p2").alias("z"))
    tri = ab.join(bc, "y").join(ac, ["x", "z"]).agg(
        F.count("*").cast("long").alias("n_triangles")
    )
    ne = edges.agg(F.count("*").cast("long").alias("n_edges"))
    return ne.join(tri)


_KCORE_K = 3  # minimum degree for core membership
_KCORE_ROUNDS = 3  # bounded peel rounds (unrolled in the oracle)


def _kcore_sql() -> str:
    head = f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    ue AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_TRI_MINSUP}
    ),
    e0 AS (
      SELECT p1 AS u, p2 AS v FROM ue UNION ALL SELECT p2, p1 FROM ue
    )"""
    rnd = """,
    d{i} AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e{p} GROUP BY u),
    n{i} AS (SELECT u FROM d{i} WHERE deg >= {k}),
    e{i} AS (
      SELECT e.u, e.v FROM e{p} e
      JOIN n{i} a ON a.u = e.u JOIN n{i} b ON b.u = e.v
    )"""
    parts = [head]
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(rnd.format(i=i, p=i - 1, k=_KCORE_K))
    parts.append(
        f"""
    SELECT u AS part_id, CAST(count(*) AS BIGINT) AS core_deg
    FROM e{_KCORE_ROUNDS} GROUP BY u
    """
    )
    return "".join(parts)


@query("graph_kcore_peel", sql=_kcore_sql(), tags=("graph", "iterative"))
def graph_kcore_peel(spark, sf_dir):
    """Bounded k-core peeling (k=3, 3 rounds) of the co-purchase part
    graph: repeatedly drop nodes with degree < k and the edges touching
    them, then report the survivors with their within-core degree — the
    dense-subgraph extraction behind community cores and co-occurrence
    backbones (peeling kills the long tail of incidental pairings that
    PageRank and triangles both still see).

    Each round is one degree aggregation plus an edge semi-restriction
    — two keyed shuffles, integer-exact, with the oracle replaying the
    identical unrolled rounds. Full k-core iterates to fixpoint
    (O(peel-depth) rounds); the bounded variant is the anytime prefix
    of that computation and already a superset-free approximation whose
    survivor set only shrinks with more rounds.
    """
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = li.distinct()
    a, b = items.alias("a"), items.alias("b")
    ue = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count("*").alias("sup"))
        .where(F.col("sup") >= _TRI_MINSUP)
        .select("p1", "p2")
    )
    e = ue.select(F.col("p1").alias("u"), F.col("p2").alias("v")).unionAll(
        ue.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
        # eager: the co-purchase self-join is the full-width data work;
        # the peel rounds below only re-read this materialized frame
    ).localCheckpoint()
    # peel rounds at edge-count-derived width (the pagerank note);
    # degree counts are order-free, so width is layout-only
    e = loop_frame(e, e.count())
    spent = [e]
    for _ in range(_KCORE_ROUNDS):
        deg = e.groupBy("u").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= _KCORE_K).select("u")
        e = (
            e.join(keep, "u")
            .join(keep.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        spent.append(e)
    e = rebase(e.localCheckpoint(), spark)  # runs every round
    release(*spent)
    return e.groupBy("u").agg(F.count("*").cast("long").alias("core_deg")).select(
        F.col("u").alias("part_id"), "core_deg"
    )


_HITS_ITERS = 3
_HITS_S = 1_000_000  # fixed-point score scale
_HITS_TOP = 10


def _hits_sql() -> str:
    head = f"""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    h0 AS (
      SELECT DISTINCT c, CAST({_HITS_S} AS BIGINT) AS h FROM edges
    )"""
    it = f""",
    a{{k}} AS (
      SELECT e.s, CAST(sum(h.h) AS BIGINT) AS a
      FROM edges e JOIN h{{p}} h ON h.c = e.c GROUP BY e.s
    ),
    ma{{k}} AS (SELECT greatest(max(a) // {_HITS_S}, 1) AS md FROM a{{k}}),
    an{{k}} AS (SELECT s, CAST(a // md AS BIGINT) AS a FROM a{{k}}, ma{{k}}),
    hr{{k}} AS (
      SELECT e.c, CAST(sum(an.a) AS BIGINT) AS h
      FROM edges e JOIN an{{k}} an ON an.s = e.s GROUP BY e.c
    ),
    mh{{k}} AS (SELECT greatest(max(h) // {_HITS_S}, 1) AS md FROM hr{{k}}),
    h{{k}} AS (SELECT c, CAST(h // md AS BIGINT) AS h FROM hr{{k}}, mh{{k}})"""
    parts = [head]
    for k in range(1, _HITS_ITERS + 1):
        parts.append(it.format(k=k, p=k - 1))
    parts.append(
        f"""
    SELECT * FROM (
      SELECT 'authority' AS role, CAST(s AS BIGINT) AS node_id, a AS score_q6
      FROM an{_HITS_ITERS} ORDER BY a DESC, s LIMIT {_HITS_TOP}
    )
    UNION ALL
    SELECT * FROM (
      SELECT 'hub' AS role, CAST(c AS BIGINT) AS node_id, h AS score_q6
      FROM h{_HITS_ITERS} ORDER BY h DESC, c LIMIT {_HITS_TOP}
    )
    """
    )
    return "".join(parts)


@query("graph_hits_bipartite", sql=_hits_sql(), tags=("graph", "iterative"))
def graph_hits_bipartite(spark, sf_dir):
    """HITS hubs-and-authorities on the bipartite purchase graph
    (customers = hubs, suppliers = authorities, 3 rounds): a supplier is
    authoritative when many well-connected customers buy from it; a
    customer is a good hub when it buys from authoritative suppliers —
    the mutual-reinforcement centrality that PageRank's single score
    conflates, and the natural shape for any bipartite interaction
    graph (user×item, actor×repo).

    Integer fixed-point contract (the PageRank/PCA family rule): scores
    start at 1e6, each half-round is one edge-keyed sum join, then
    renormalize by ``score div max(score div 1e6, 1)`` — all int64
    truncating division, replayed verbatim by the oracle. Bounds:
    score ≲ 2e6 × max-degree per sum; the per-round normalization keeps
    every value ≤ ~2e6 regardless of graph size, so 100 TB degree
    growth cannot overflow. Per round: two broadcast-joined combinable
    aggregates + two 1-row max broadcasts — the edge list never
    re-shuffles (distinct-collapsed once, localCheckpoint-reused), and
    the only exchanges are |nodes|-sized aggregation outputs. Storage
    stays bounded across rounds: a round's two checkpoints are released
    once the next round's first checkpoint has consumed them, so only
    the edge list, the current round and the final scores are held.
    """
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        # eager: the fact-table join + distinct is the full-width data
        # work; the loop below only re-reads this materialized frame
        .localCheckpoint()
    )
    # loop rounds at edge-count-derived width (the pagerank note);
    # fixed-point scores are order-free, so width is layout-only
    edges = loop_frame(edges, edges.count())
    h = edges.select("c").distinct().withColumn(
        "h", F.lit(_HITS_S).cast("long")
    )
    an = None
    spent = []
    for _ in range(_HITS_ITERS):
        # score frames are |nodes|×16 B — broadcast them INTO the edge
        # scan so each half-round is a map-side join + one combinable
        # aggregate, not an edge-list shuffle (beyond broadcastable node
        # counts a deployment drops the hint and lets AQE pick the
        # shuffle join; the recurrence is identical either way).
        # Each half-round's sum frame is EAGERLY checkpointed before
        # its 1-row max is taken (r14): the former lazy form left the
        # edge-sized aggregate inside BOTH the max's broadcast subtree
        # and the normalize join, so every half-round ran its edge
        # pass twice (guide §7.2 duplicated subtrees; 5.4 → 2.3 s).
        # The max then collects driver-side — one tiny job over the
        # checkpointed node frame instead of a broadcast-join plan;
        # `div` on int64 is the identical truncating op either way.
        a = (
            edges.join(F.broadcast(h), "c")
            .groupBy("s")
            .agg(F.sum("h").cast("long").alias("a"))
            .localCheckpoint()
        )
        release(*spent)  # the previous round, fully consumed now
        ma = int(
            a.agg(
                F.greatest(
                    F.expr(f"max(a) div {_HITS_S}"), F.lit(1)
                ).alias("md")
            ).first()["md"]
        )
        an = a.select("s", F.expr(f"a div {ma}").cast("long").alias("a"))
        hr = (
            edges.join(F.broadcast(an), "s")
            .groupBy("c")
            .agg(F.sum("a").cast("long").alias("h"))
            .localCheckpoint()
        )
        mh = int(
            hr.agg(
                F.greatest(
                    F.expr(f"max(h) div {_HITS_S}"), F.lit(1)
                ).alias("md")
            ).first()["md"]
        )
        h = hr.select("c", F.expr(f"h div {mh}").cast("long").alias("h"))
        spent = [a, hr]
    an = rebase(an.localCheckpoint(), spark)
    h = rebase(h.localCheckpoint(), spark)
    release(*spent, edges)
    top_a = (
        an.orderBy(F.col("a").desc(), "s")
        .limit(_HITS_TOP)
        .select(
            F.lit("authority").alias("role"),
            F.col("s").cast("long").alias("node_id"),
            F.col("a").alias("score_q6"),
        )
    )
    top_h = (
        h.orderBy(F.col("h").desc(), "c")
        .limit(_HITS_TOP)
        .select(
            F.lit("hub").alias("role"),
            F.col("c").cast("long").alias("node_id"),
            F.col("h").alias("score_q6"),
        )
    )
    return top_a.unionAll(top_h)


@query(
    "graph_bfs_shortest_paths",
    sql="""
    WITH RECURSIVE und AS (
      SELECT DISTINCT concat('C', CAST(o_custkey AS VARCHAR)) AS a,
             concat('S', CAST(l_suppkey AS VARCHAR)) AS b
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
    bfs (node, d) AS (
      SELECT 'C1' AS node, 0 AS d
      UNION
      SELECT e.b, bfs.d + 1
      FROM bfs JOIN edges e ON e.a = bfs.node
      WHERE bfs.d < 4
    )
    SELECT node, CAST(min(d) AS INT) AS dist
    FROM bfs GROUP BY node
    """,
    tags=("graph", "iterative", "bfs"),
)
def graph_bfs_shortest_paths(spark, sf_dir, max_hops: int = 4):
    """Single-source BFS shortest paths over the undirected
    customer↔supplier purchase graph (source C1, hop bound 4) — the
    reachability/distance primitive behind influence radius, fraud-ring
    expansion, and graph-sampled curation. Emits (node, dist) for
    every node within the bound; distances are unique integers, so the
    result is reduction-order-free.

    Frontier iteration, not path enumeration: each round joins ONLY the
    newly-discovered frontier against the edge list and anti-joins the
    visited set — per-round shuffle is O(frontier boundary), total work
    O(edges within the horizon), never O(paths) (the path count in a
    dense bipartite graph is astronomical; the DuckDB oracle's
    recursive CTE survives the same way, via UNION's set semantics
    deduplicating (node, d) states globally). Visited/frontier frames
    are localCheckpointed per round — the lineage would otherwise
    recompute geometrically. An empty frontier short-circuits (one
    isEmpty action per round, driver-side boolean only — at 100 TB
    rounds are bounded by the hop parameter, and each is one
    co-partitioned join keyed on the node id).
    """
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    und = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
        # eager: the fact-table join + distinct is the full-width data
        # work; everything after iterates over this materialized frame
        .localCheckpoint()
    )
    # Rounds run at the width the MEASURED edge count calls for (the
    # pagerank note): at the session's full-scan width the fixed
    # per-task cost dominates the tiny frontier rounds. Distances are
    # unique per (node, hop), so width is layout-only.
    und = loop_frame(und, und.count() * 2)
    edges = und.unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)
    visited = local_frame(und.sparkSession, [("C1", 0)], "node string, dist int")
    frontier = visited
    spent = [und, edges]
    for h in range(1, max_hops + 1):
        nbrs = (
            frontier.join(edges, frontier.node == edges.a)
            .select(F.col("b").alias("node"))
            .distinct()
        )
        new = nbrs.join(visited, "node", "left_anti").select(
            "node", F.lit(h).cast("int").alias("dist")
        )
        new = new.localCheckpoint()  # materialize: reused as frontier AND union arm
        spent.append(new)
        if new.isEmpty():
            break
        visited = visited.unionAll(new).localCheckpoint(eager=False)
        spent.append(visited)
        frontier = new
    visited = rebase(visited.localCheckpoint(), spark)  # runs every round
    release(*spent)
    return visited


def _lpa_sql(rounds: int = 3) -> str:
    blocks = ["l0 AS (SELECT node, node AS label FROM nodes)"]
    for r in range(1, rounds + 1):
        blocks.append(f"""
    v{r} AS (
      SELECT e.dst AS node, l.label, count(*) AS n
      FROM edges e JOIN l{r - 1} l ON l.node = e.src
      GROUP BY e.dst, l.label
    ),
    l{r} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY n DESC, label) AS rk
        FROM v{r}
      ) WHERE rk = 1
    )""")
    return f"""
    WITH und AS (
      SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS a,
                      'S' || CAST(l_suppkey AS VARCHAR) AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM und
      UNION ALL SELECT b, a FROM und
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
    ),
    {",".join(blocks)}
    SELECT label AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(*) FILTER (WHERE node LIKE 'C%') AS BIGINT) AS n_customers,
           CAST(count(*) FILTER (WHERE node LIKE 'S%') AS BIGINT) AS n_suppliers
    FROM l{rounds} GROUP BY label
    """


def _enc_node(col: str, side: int):
    """Order-preserving int64 encoding of the ``C<key>`` / ``S<key>``
    node-label strings (r14; guide §2.3 "narrower types"): the LPA
    loop's per-round shuffle and min-label tie-breaks ran over ~8-char
    UTF8 strings; an int64 that sorts EXACTLY like the string lets the
    whole loop run on fixed-width longs (measured −30% per round with
    bit-identical decoded labels).

    Lexicographic order of a positive decimal string (no leading
    zeros) equals numeric order of ``value·10^(12−len)`` with ``len``
    as tie-break (equal scaled values ⇒ one string is the other plus
    trailing zeros ⇒ shorter sorts first) — so
    ``enc = side·2^62 + value·10^(12−len)·16 + len`` preserves the
    full string order ('C' < 'S' via the side bit) and is injective.
    Envelope: 0 ≤ key < 10^12 (TPC-H keys are ≤ 8 digits at sf100);
    10^(12−len) is exact in double and the product stays ≤ 2^54, so
    every arithmetic step is exact. A key outside the envelope would
    encode ambiguously, so it fails the query through ``raise_error``
    in the same projection (no extra job); null keys stay null."""
    v = F.col(col).cast("long")
    ln = F.length(v.cast("string"))
    enc = (
        F.lit(side).cast("long") * F.lit(1 << 62)
        + v * F.pow(F.lit(10.0), (F.lit(12) - ln)).cast("long") * 16
        + ln
    )
    return (
        F.when(
            (v < 0) | (v >= 10**12),
            F.raise_error(
                F.concat(
                    F.lit(f"_enc_node: key outside [0, 10^12) in {col}: "),
                    v.cast("string"),
                )
            ),
        )
        .otherwise(enc)
        .cast("long")
    )


def _dec_node(c):
    """Inverse of :func:`_enc_node` — reconstructs the exact original
    node string (all steps integer-exact: the scaled value is ≤ 2^54,
    within double's exact-integer range, and divides evenly)."""
    col = F.col(c) if isinstance(c, str) else c
    side = F.shiftright(col, 62)
    rest = col.bitwiseAND(F.lit((1 << 62) - 1))
    ln = rest.bitwiseAND(F.lit(15))
    val = (
        F.shiftright(rest, 4).cast("double")
        / F.pow(F.lit(10.0), (F.lit(12) - ln))
    ).cast("long")
    return F.concat(
        F.when(side == 1, F.lit("S")).otherwise(F.lit("C")),
        val.cast("string"),
    )


def _lpa_state(spark, sf_dir, rounds: int = 3):
    """Label-propagation community detection (Raghavan et al. 2007)
    over the undirected customer↔supplier purchase graph, made
    DETERMINISTIC: synchronous updates (every round reads only the
    previous round's labels), neighbor-majority vote with ties broken
    by MINIMUM label — the two choices that turn LPA's notorious
    run-to-run instability into a pure function of the graph, which is
    what lets a DuckDB oracle replay all three unrolled rounds
    exactly. Emits each surviving community with member / customer /
    supplier counts — the communities a curation pipeline uses to
    split correlated data between train and eval (`split_by_cluster`'s
    graph-shaped sibling).

    Scale shape: per round ONE join of the label frame against the
    edge list (labels broadcast into the localCheckpointed edge scan,
    so the edge list never re-shuffles) plus a (node, label) count and a
    sort-free min(struct(-n, label)) argmax keyed on node — one
    aggregate, no per-round partition sort. Per-round shuffle is
    O(edges);
    rounds are a fixed hyperparameter. Labels are order-preserving int64
    encodings of the node-id strings (`_enc_node`), so min-tie-breaks on
    them match the oracle's string comparison by construction; callers
    decode with `_dec_node`.
    """
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    und = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        # nodes ride as order-preserving int64 (`_enc_node`, r14): the
        # loop shuffles and min-label tie-breaks run on fixed-width
        # longs; callers that emit node/label STRINGS decode at the end
        # (`_dec_node` — exact inverse), so outputs are unchanged.
        .select(
            _enc_node("o_custkey", 0).alias("a"),
            _enc_node("l_suppkey", 1).alias("b"),
        )
        .distinct()
        # eager: the fact-table join + distinct is the full-width data
        # work, and the modularity rollup re-reads `und` twice more (mm,
        # ein) — without this each reference re-ran the whole join
        .localCheckpoint()
    )
    # loop rounds at the session width (the pagerank note; the explicit
    # dst repartition below is an edge-sized exchange either way)
    edges = (
        und.unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        # checkpoint only — with labels broadcast into the edge scan
        # each round, edges never join-shuffle, so pre-partitioning by
        # src would be a wasted exchange
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    spent = [labels]
    for _ in range(rounds):
        # label frame is |nodes|×2 longs — broadcast it INTO the edge
        # scan (the pagerank/HITS rule); beyond broadcastable node
        # counts a deployment drops the hint and AQE plans the
        # shuffle. The explicit dst repartition lets BOTH of the
        # round's aggregates share ONE exchange (hash(dst) satisfies
        # the (dst, label) clustering — guide §2.4 "two operations
        # keyed the same way can share one exchange"); without it
        # each round shuffled the vote rows twice (r14, −14%/round).
        votes = (
            edges.join(F.broadcast(labels), edges.src == labels.node)
            .repartition(F.col("dst"))
            .groupBy(F.col("dst").alias("node2"), "label")
            .agg(F.count("*").alias("n"))
        )
        # argmax by (n desc, label asc) as ONE sort-free aggregate:
        # min(struct(-n, label)) — same semantics as the oracle's
        # row_number window, without the per-round partition sort
        labels = (
            votes.groupBy("node2")
            .agg(
                F.min(
                    F.struct((-F.col("n")).alias("nn"), F.col("label"))
                ).alias("m")
            )
            .select(
                F.col("node2").alias("node"), F.col("m.label").alias("label")
            )
            .localCheckpoint(eager=False)
        )
        spent.append(labels)
    labels = labels.localCheckpoint()  # runs every round; the rounds are spent after
    release(*spent)
    return und, edges, labels


@query(
    "graph_label_propagation",
    sql=_lpa_sql(),
    tags=("graph", "iterative", "community"),
)
def graph_label_propagation(spark, sf_dir, rounds: int = 3):
    """Surviving LPA communities with member / customer / supplier
    counts — see `_lpa_state` for the determinism contract and
    per-round scale shape; this is its community rollup."""
    _, _, labels = _lpa_state(spark, sf_dir, rounds)
    # aggregate on the encoded label (injective ⇒ same groups), decode
    # once per surviving community; side bit 62 IS the C/S prefix test
    return (
        labels.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum((F.shiftright(F.col("node"), 62) == 0).cast("long"))
            .cast("long")
            .alias("n_customers"),
            F.sum((F.shiftright(F.col("node"), 62) == 1).cast("long"))
            .cast("long")
            .alias("n_suppliers"),
        )
        .select(
            _dec_node("label").alias("community"),
            "n_members",
            "n_customers",
            "n_suppliers",
        )
    )


def _modularity_sql(rounds: int = 3) -> str:
    """Reuses `_lpa_sql`'s CTE chain (everything up to the final
    SELECT) and scores the resulting partition with Newman-Girvan
    modularity in exact integer form: Q·4m² = Σ_c (4m·e_c − d_c²)."""
    base = _lpa_sql(rounds)
    prefix = base[: base.rindex("SELECT label AS community")].rstrip()
    return f"""{prefix},
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
    ein AS (
      SELECT la.label AS community, CAST(count(*) AS BIGINT) AS e_in
      FROM und
      JOIN l{rounds} la ON und.a = la.node
      JOIN l{rounds} lb ON und.b = lb.node
      WHERE la.label = lb.label
      GROUP BY la.label
    ),
    dg AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS d
      FROM edges GROUP BY src
    ),
    dc AS (
      SELECT l.label AS community, CAST(sum(dg.d) AS BIGINT) AS d_sum
      FROM dg JOIN l{rounds} l ON dg.node = l.node
      GROUP BY l.label
    ),
    terms AS (
      SELECT dc.community, coalesce(ein.e_in, 0) AS e_in, dc.d_sum
      FROM dc LEFT JOIN ein USING (community)
    )
    SELECT mm.m AS m_edges,
           CAST(count(*) AS BIGINT) AS n_communities,
           CAST(sum(4 * mm.m * e_in - d_sum * d_sum) AS DOUBLE)
             / (4.0 * mm.m * mm.m) AS modularity
    FROM terms CROSS JOIN mm
    GROUP BY mm.m
    """


@query(
    "graph_modularity_lpa",
    sql=_modularity_sql(),
    tags=("graph", "community", "evaluation"),
)
def graph_modularity_lpa(spark, sf_dir, rounds: int = 3):
    """Newman-Girvan modularity of the deterministic-LPA partition —
    the quality score that says whether the communities are real
    structure or noise (Q ≈ 0 means no better than random given the
    degree sequence): Q = Σ_c [e_c/m − (d_c/2m)²]. Completes the
    community pipeline: `graph_label_propagation` finds the partition,
    this evaluates it — the check a curation pipeline runs before
    trusting communities for train/eval splitting. On THIS graph the
    check fires for real: synchronous LPA on a bipartite graph
    converges to the two-sided coloring (every edge crosses), whose
    modularity is exactly −0.5 — the pathological partition the score
    exists to catch, pinned under the driver hash.

    Exactness: edges m, within-community edges e_c, and degree sums
    d_c are exact int64; Q·4m² = Σ_c (4m·e_c − d_c²) is computed as an
    order-free integer sum, with ONE shared double division at the end
    — bit-identical cross-engine. Overflow envelope: d_c ≤ 2m keeps
    every term within int64 through ~1e9 edges. Scale shape: on top of
    LPA's per-round O(edges) shuffles, scoring adds one |und| join
    against the broadcast label frame and two label-keyed rollups.
    """
    und, edges, labels = _lpa_state(spark, sf_dir, rounds)
    mm = und.agg(F.count("*").cast("long").alias("m"))
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("cla"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("clb"))
    ein = (
        und.join(F.broadcast(la), "a")
        .join(F.broadcast(lb), "b")
        .where(F.col("cla") == F.col("clb"))
        .groupBy(F.col("cla").alias("community"))
        .agg(F.count("*").cast("long").alias("e_in"))
    )
    dg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    dc = (
        dg.join(F.broadcast(labels), "node")
        .groupBy(F.col("label").alias("community"))
        .agg(F.sum("d").cast("long").alias("d_sum"))
    )
    terms = dc.join(F.broadcast(ein), "community", "left").select(
        "community",
        F.coalesce("e_in", F.lit(0).cast("long")).alias("e_in"),
        "d_sum",
    )
    return (
        terms.crossJoin(F.broadcast(mm))
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_communities"),
            F.sum(
                4 * F.col("m") * F.col("e_in") - F.col("d_sum") * F.col("d_sum")
            )
            .cast("long")
            .alias("qnum"),
        )
        .select(
            F.col("m").alias("m_edges"),
            "n_communities",
            (
                F.col("qnum").cast("double")
                / (4.0 * F.col("m").cast("double") * F.col("m").cast("double"))
            ).alias("modularity"),
        )
    )


_RA_SQL = """
    WITH cp AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    d AS (
      SELECT c, CAST(count(*) AS BIGINT) AS deg FROM cp GROUP BY c
    ),
    ok AS (SELECT c, deg FROM d WHERE deg BETWEEN 2 AND 20),
    pairs AS (
      SELECT a.p AS part_a, b.p AS part_b, 1000000000000 // ok.deg AS w
      FROM cp a
      JOIN cp b ON a.c = b.c AND a.p < b.p
      JOIN ok ON ok.c = a.c
    )
    SELECT part_a, part_b,
           CAST(count(*) AS BIGINT) AS common_customers,
           CAST(sum(w) AS BIGINT) AS ra_score_e12
    FROM pairs GROUP BY part_a, part_b
    ORDER BY ra_score_e12 DESC, part_a, part_b LIMIT 50
    """


@query("graph_resource_allocation", sql=_RA_SQL, tags=("graph", "link-prediction"))
def graph_resource_allocation(spark, sf_dir):
    """Link prediction on the customer–part co-purchase graph via the
    Resource-Allocation index (Zhou/Lü/Zhang 2009): for part pairs
    (a, b), RA = Σ_{c ∈ Γ(a)∩Γ(b)} 1/deg(c) — each shared customer
    contributes inversely to how promiscuous they are, so "both
    bought by a 3-part specialist" beats "both bought by a buy-
    everything hub". Top-50 candidate links, uniquely tiebroken.

    Determinism: 1/deg is the ONLY float in the textbook formula and
    the sum over shared neighbors would be order-sensitive — so the
    weight is the exact integer 1e12 DIV deg (truncating integer
    division, identical everywhere) and scores sum as int64:
    bit-stable under any partitioning, overflow-safe to ~9e6 shared
    neighbors per pair (cap-bounded far below that).

    Shape + scale contract: wedge enumeration is Σ_c deg(c)² — the
    degree cap (2..20, documented like the PPJoin df-caps) bounds it
    at 400 pairs/customer, linear in customers; hubs above the cap
    carry negligible RA weight (< 1/20 each) by the measure's own
    design. The pair agg is partial+final on (part_a, part_b); the
    result is a TakeOrdered top-50, never a global sort materialized.
    """
    o = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c"), "o_orderkey"
    )
    l = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").alias("p")
    )
    # one shuffle serves everything downstream: partitioning by c alone
    # satisfies the (c, p) distinct's clustering requirement AND the
    # self-join/degree-agg distributions, so EnsureRequirements inserts
    # no further exchange; localCheckpoint materializes the edge set
    # once instead of re-running the scan+join for each of its three
    # consumers (a-side, b-side, degree table)
    cp = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select("c", "p")
        .repartition("c")
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    ok = (
        cp.groupBy("c")
        .agg(F.count("*").alias("deg"))
        .where(F.col("deg").between(2, 20))
    )
    a, b = cp.alias("a"), cp.alias("b")
    pairs = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.p") < F.col("b.p")))
        .join(ok.alias("ok"), F.col("ok.c") == F.col("a.c"))
        .select(
            F.col("a.p").alias("part_a"),
            F.col("b.p").alias("part_b"),
            F.expr("1000000000000 DIV deg").alias("w"),
        )
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(
            F.count("*").alias("common_customers"),
            F.sum("w").alias("ra_score_e12"),
        )
        .orderBy(F.desc("ra_score_e12"), "part_a", "part_b")
        .limit(50)
    )


def _ppr_sql() -> str:
    head = """
    WITH edges AS (
      SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                      'S' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION SELECT DISTINCT dst FROM edges
    ),
    deg AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
      FROM edges GROUP BY src
    ),
    seeds AS (
      SELECT DISTINCT 'C' || CAST(c_custkey AS VARCHAR) AS node
      FROM customer WHERE c_nationkey = 1
    ),
    sn AS (
      SELECT node FROM nodes WHERE node IN (SELECT node FROM seeds)
    ),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS k FROM sn),
    r0 AS (
      SELECT n.node,
             CASE WHEN sn.node IS NOT NULL THEN CAST({scale} // ns.k AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS r
      FROM nodes n LEFT JOIN sn ON sn.node = n.node, ns
    )"""
    it = """,
    d{i} AS (
      SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dm
      FROM r{p} LEFT JOIN deg USING (node) WHERE outdeg IS NULL
    ),
    in{i} AS (
      SELECT e.dst AS node, CAST(sum(r.r // deg.outdeg) AS BIGINT) AS m
      FROM edges e
      JOIN r{p} r ON r.node = e.src
      JOIN deg ON deg.node = e.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.node,
             CAST(CASE WHEN sn.node IS NOT NULL
                       THEN (15 * ({scale} // ns.k)) // 100
                          + (85 * (coalesce(in{i}.m, 0) + d{i}.dm // ns.k)) // 100
                       ELSE (85 * coalesce(in{i}.m, 0)) // 100 END
               AS BIGINT) AS r
      FROM nodes n
      CROSS JOIN ns CROSS JOIN d{i}
      LEFT JOIN sn ON sn.node = n.node
      LEFT JOIN in{i} ON in{i}.node = n.node
    )"""
    parts = [head.format(scale=_SCALE)]
    for i in range(1, _ITERS + 1):
        parts.append(it.format(i=i, p=i - 1, scale=_SCALE))
    parts.append(
        f"""
    SELECT node, r AS ppr_q12 FROM r{_ITERS}
    WHERE r > 0 AND node LIKE 'S%'
    ORDER BY r DESC, node LIMIT {_TOP}
    """
    )
    return "".join(parts)


@query("graph_personalized_pagerank", sql=_ppr_sql(), tags=("graph", "iterative", "recs"))
def graph_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank from a seed cohort (nation-1 customers):
    teleport mass restarts at the SEEDS instead of uniformly, so ranks
    measure proximity to the cohort — the "suppliers this segment
    gravitates to" recommendation primitive (also the expansion step in
    graph-sampled curation: grow a topical corpus from a seed set).
    Emits the top-20 reachable suppliers by fixed-point rank.

    Same integer fixed-point contract as `graph_pagerank_purchases`
    (mass scaled 1e12, every division integral, bit-exact under any
    reduction order): r' at a seed = (15·(S div k)) div 100 +
    (85·(in + dm div k)) div 100, at a non-seed = (85·in) div 100 —
    dangling mass (suppliers have no out-edges) teleports back to the
    seeds, which is what keeps PPR mass LOCAL to the cohort instead of
    leaking uniformly. Non-seed customers stay at 0 in a bipartite
    C→S graph (nothing points at them) and unreached suppliers are
    filtered — the result is the cohort's neighborhood, not the graph.

    Scale shape: identical to pagerank — per round one combinable agg
    keyed by dst with rank/degree frames broadcast into the edge scan,
    plus a 1-row dangling broadcast; the seed flag is one more small
    broadcast. At 100 TB with many cohorts, batch the seed vectors into
    one frame keyed by (cohort, node) and the same plan ranks all
    cohorts in one pass.
    """
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
        # eager: the fact-table join + distinct is the full-width data
        # work; the loop below only re-reads this materialized frame
        .localCheckpoint()
    )
    # loop rounds at edge-count-derived width (the pagerank note);
    # fixed-point ranks are order-free, so width is layout-only
    edges = loop_frame(edges, edges.count())
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    seeds = (
        T(edges.sparkSession, sf_dir, "customer")
        .where(F.col("c_nationkey") == 1)
        .select(
            F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("node")
        )
        .distinct()
        .join(nodes, "node")  # only seeds that exist in the graph
        .select("node", F.lit(1).alias("is_seed"))
        .localCheckpoint(eager=False)
    )
    kcnt = seeds.agg(F.count("*").cast("long").alias("k"))
    if kcnt.first()["k"] == 0:
        # fail loudly: k = 0 would otherwise surface as an ANSI
        # divide-by-zero deep inside the teleport expression
        raise ValueError(
            "personalized pagerank: seed cohort (nation-1 customers with "
            "purchases) is empty in this fixture — choose another cohort"
        )
    base = nodes.join(F.broadcast(seeds), "node", "left").localCheckpoint(
        eager=False
    )
    ranks = base.join(F.broadcast(kcnt)).select(
        "node",
        F.when(F.col("is_seed").isNotNull(), F.expr(f"{_SCALE} div k"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    spent = [edges, nodes, seeds, base]
    for _ in range(_ITERS):
        ranks = ranks.localCheckpoint(eager=False)
        spent.append(ranks)
        dang = (
            ranks.join(
                F.broadcast(deg.withColumnRenamed("src", "node")), "node", "left"
            )
            .where(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm"))
        )
        inm = (
            edges.join(F.broadcast(ranks.withColumnRenamed("node", "src")), "src")
            .join(F.broadcast(deg), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("r div outdeg")).cast("long").alias("m"))
            .withColumnRenamed("dst", "node")
        )
        ranks = (
            base.join(F.broadcast(kcnt))
            .join(F.broadcast(dang))
            .join(inm, "node", "left")
            .select(
                "node",
                F.when(
                    F.col("is_seed").isNotNull(),
                    F.expr(
                        f"(15 * ({_SCALE} div k)) div 100"
                        " + (85 * (coalesce(m, 0) + dm div k)) div 100"
                    ),
                )
                .otherwise(F.expr("(85 * coalesce(m, 0)) div 100"))
                .cast("long")
                .alias("r"),
            )
        )
    ranks = rebase(ranks.localCheckpoint(), spark)  # runs every round
    release(*spent)
    return (
        ranks.where((F.col("r") > 0) & F.col("node").startswith("S"))
        .orderBy(F.col("r").desc(), "node")
        .limit(_TOP)
        .select("node", F.col("r").alias("ppr_q12"))
    )


@query(
    "graph_clustering_coefficient",
    sql=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    ue AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_TRI_MINSUP}
    ),
    tri AS (
      SELECT ab.p1 AS x, ab.p2 AS y, bc.p2 AS z
      FROM ue ab
      JOIN ue bc ON ab.p2 = bc.p1
      JOIN ue ac ON ac.p1 = ab.p1 AND ac.p2 = bc.p2
    ),
    tn AS (
      SELECT v, CAST(count(*) AS BIGINT) AS t
      FROM (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
      GROUP BY v
    ),
    deg AS (
      SELECT u AS v, CAST(count(*) AS BIGINT) AS d
      FROM (SELECT p1 AS u FROM ue UNION ALL SELECT p2 FROM ue)
      GROUP BY u
    ),
    cc AS (
      SELECT deg.v, deg.d, coalesce(tn.t, 0) AS t,
             (2 * coalesce(tn.t, 0) * 1000000000) // (deg.d * (deg.d - 1))
               AS cc9
      FROM deg LEFT JOIN tn USING (v)
      WHERE deg.d >= 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(t) AS BIGINT) // 3 AS n_triangles,
           CAST(sum(cc9) AS BIGINT) / (count(*) * 1e9) AS avg_clustering,
           CAST(2 * sum(t) AS DOUBLE)
             / CAST(sum(d * (d - 1)) AS DOUBLE) AS transitivity
    FROM cc
    """,
    tags=("graph", "clustering", "evaluation"),
)
def graph_clustering_coefficient(spark, sf_dir):
    """Watts-Strogatz average local clustering coefficient AND global
    transitivity of the co-purchase part graph — the density diagnostics
    that separate genuine community structure from hub-dominated noise
    (high transitivity + low avg-cc = a few dense hubs; both high =
    pervasive clustering). cc_v = 2·T_v / (d_v·(d_v−1)) over nodes with
    d ≥ 2; transitivity = 3·triangles / wedges = Σ2T_v / Σd_v(d_v−1).

    Exactness: per-node T_v and d_v are exact counts; cc_v is
    nano-quantized by INTEGER division (2·T_v·1e9 div d_v(d_v−1) —
    Spark `div` ≡ DuckDB `//` on non-negatives), so the node-mean is an
    exact int64 sum with one final division, and transitivity is one
    int64/int64 division — no libm anywhere. Scale shape: reuses the
    support-thresholded edge list (candidate-bounded like the LSH
    joins) + the ordered two-hop triangle join, then per-node rollups;
    the triangle→node explode is O(3·triangles). Overflow: Σcc9 ≤
    n·1e9 — int64-safe through ~9e9 nodes.
    """
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    items = li.distinct()
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count("*").alias("sup"))
        .where(F.col("sup") >= _TRI_MINSUP)
        .select("p1", "p2")
        .localCheckpoint(eager=False)
    )
    ab = edges.select(F.col("p1").alias("x"), F.col("p2").alias("y"))
    bc = edges.select(F.col("p1").alias("y"), F.col("p2").alias("z"))
    ac = edges.select(F.col("p1").alias("x"), F.col("p2").alias("z"))
    tri = ab.join(bc, "y").join(ac, ["x", "z"])
    tn = (
        tri.select(F.col("x").alias("v"))
        .unionAll(tri.select(F.col("y").alias("v")))
        .unionAll(tri.select(F.col("z").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("t"))
    )
    deg = (
        edges.select(F.col("p1").alias("v"))
        .unionAll(edges.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("d"))
    )
    cc = (
        deg.join(tn, "v", "left")
        .select(
            "v",
            "d",
            F.coalesce("t", F.lit(0).cast("long")).alias("t"),
        )
        .where(F.col("d") >= 2)
        .withColumn("cc9", F.expr("(2 * t * 1000000000) div (d * (d - 1))"))
    )
    return cc.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.expr("sum(t) div 3").cast("long").alias("n_triangles"),
        (F.sum("cc9").cast("long") / (F.count("*") * F.lit(1e9))).alias(
            "avg_clustering"
        ),
        (
            (2 * F.sum("t")).cast("double")
            / F.sum(F.col("d") * (F.col("d") - 1)).cast("double")
        ).alias("transitivity"),
    )


@query(
    "graph_assortativity",
    sql="""
    WITH und AS (
      SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS a,
                      'S' || CAST(l_suppkey AS VARCHAR) AS b
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    e AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
    jk AS (
      SELECT da.d AS j, db.d AS k
      FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS mm,
             CAST(sum(j) AS BIGINT) AS sj,
             CAST(sum(j * k) AS BIGINT) AS sjk,
             CAST(sum(j * j) AS BIGINT) AS sj2
      FROM jk
    )
    SELECT mm AS m_directed_edges, sj AS sum_deg, sjk AS sum_jk,
           sj2 AS sum_j2,
           CASE WHEN CAST(mm AS DOUBLE) * CAST(sj2 AS DOUBLE)
                     - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) = 0 THEN NULL
                ELSE (CAST(mm AS DOUBLE) * CAST(sjk AS DOUBLE)
                      - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
                     / (CAST(mm AS DOUBLE) * CAST(sj2 AS DOUBLE)
                        - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)) END
             AS assortativity
    FROM m
    """,
    tags=("graph", "structure", "evaluation"),
)
def graph_assortativity(spark, sf_dir):
    """Degree assortativity (Newman 2002) of the undirected
    customer↔supplier purchase graph: the Pearson correlation of
    endpoint degrees over edges, r = (M·Σjk − (Σj)²)/(M·Σj² − (Σj)²)
    using the directed edge list (each undirected edge in both
    directions makes Σj = Σk and Σj² = Σk², collapsing the general
    formula to pure int64 moments — NO sqrt, no libm). Disassortative
    r < 0 flags hub-and-spoke structure (high-degree suppliers serving
    low-degree customers) — the topology signal that says whether
    degree-based sampling will bias a graph-derived training corpus.

    Exactness: all four moments are exact int64 sums over the directed
    edge list (Σj² ≤ M·d_max² must fit int64); the final products run
    in DOUBLE — (Σj)² overflows int64 at the 10× probe already — and
    double products of exact ints < 2^53 are correctly rounded
    identically by both engines, so r stays bit-stable while every
    moment < 2^53. Scale shape: one distinct-collapsed fact join
    for edges, one degree groupBy, two degree joins keyed on node id
    (shuffle, no cartesian), one global rollup — every stage
    O(edges).
    """
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    und = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("a"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("b"),
        )
        .distinct()
    )
    # EAGER checkpoint: this frame is referenced three times inside ONE
    # action (deg + both jk joins); eager materialization measured ~2×
    # faster than lazy cold (7.0 s vs 16.8 s at the 10× probe) because
    # the lazy variant's first touch happens inside the already-planned
    # composite job instead of as its own narrow job.
    e = und.unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    deg = e.groupBy(F.col("a").alias("v")).agg(
        F.count("*").cast("long").alias("d")
    )
    jk = (
        e.join(deg.select(F.col("v").alias("a"), F.col("d").alias("j")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("k")), "b")
        .select("j", "k")
    )
    m = jk.agg(
        F.count("*").cast("long").alias("mm"),
        F.sum("j").cast("long").alias("sj"),
        F.sum(F.col("j") * F.col("k")).cast("long").alias("sjk"),
        F.sum(F.col("j") * F.col("j")).cast("long").alias("sj2"),
    )
    # combine in DOUBLE: the int64 moments are exact, but their products
    # overflow int64 already at the 10× probe (Σj ≈ 3.7e9 ⇒ (Σj)² ≈
    # 1.4e19, caught live by ANSI mode); double products of exact ints
    # < 2^53 are correctly rounded identically by both engines.
    num = F.col("mm").cast("double") * F.col("sjk").cast("double") - F.col(
        "sj"
    ).cast("double") * F.col("sj").cast("double")
    den = F.col("mm").cast("double") * F.col("sj2").cast("double") - F.col(
        "sj"
    ).cast("double") * F.col("sj").cast("double")
    return m.select(
        F.col("mm").alias("m_directed_edges"),
        F.col("sj").alias("sum_deg"),
        F.col("sjk").alias("sum_jk"),
        F.col("sj2").alias("sum_j2"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(num.cast("double") / den.cast("double"))
        .alias("assortativity"),
    )


@query(
    "graph_knn_degree_curve",
    sql="""
    WITH und AS (
      SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS a,
                      'S' || CAST(l_suppkey AS VARCHAR) AS b
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    e AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
    jk AS (
      SELECT da.d AS j, db.d AS k
      FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v
    )
    SELECT j AS degree,
           CAST(count(*) AS BIGINT) AS n_edge_endpoints,
           CAST(sum(k) AS BIGINT) AS neighbor_degree_sum,
           CAST(sum(k) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS knn_mean
    FROM jk GROUP BY j
    """,
    tags=("graph", "structure", "evaluation"),
)
def graph_knn_degree_curve(spark, sf_dir):
    """Average-neighbor-degree curve k_nn(k) (Pastor-Satorras et al.):
    for each node degree k, the mean degree of neighbors reached from
    degree-k nodes — the FULL assortativity profile the single
    `graph_assortativity` coefficient summarizes (a falling curve =
    disassortative hub-and-spoke at every k; a hump reveals the degree
    band where mixing flips). Drives degree-stratified sampling
    decisions a scalar r cannot.

    Exactness: per-degree endpoint counts and neighbor-degree sums are
    exact int64 over the directed edge list; knn_mean is one
    int64/int64 division per output row. Scale shape: the same
    O(edges) shape as `graph_assortativity` — one distinct-collapsed
    fact join, one degree groupBy, two node-keyed joins, one
    degree-keyed rollup (|distinct degrees| rows out). Since r14 the
    node keys ride as order-preserving int64 (`_enc_node` — the output
    carries no node strings, only degrees, so no decode is needed) and
    the node-sized degree frame broadcasts into both edge joins (the
    `_lpa_state` rule; beyond broadcastable node counts a deployment
    drops the hint and AQE plans the shuffle).
    """
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    und = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            _enc_node("o_custkey", 0).alias("a"),
            _enc_node("l_suppkey", 1).alias("b"),
        )
        .distinct()
    )
    e = und.unionAll(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    deg = e.groupBy(F.col("a").alias("v")).agg(
        F.count("*").cast("long").alias("d")
    )
    jk = (
        e.join(F.broadcast(deg.select(F.col("v").alias("a"), F.col("d").alias("j"))), "a")
        .join(F.broadcast(deg.select(F.col("v").alias("b"), F.col("d").alias("k"))), "b")
        .select("j", "k")
    )
    return jk.groupBy(F.col("j").alias("degree")).agg(
        F.count("*").cast("long").alias("n_edge_endpoints"),
        F.sum("k").cast("long").alias("neighbor_degree_sum"),
        (F.sum("k").cast("double") / F.count("*").cast("double")).alias(
            "knn_mean"
        ),
    )
