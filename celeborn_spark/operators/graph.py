"""Iterative graph analytics: PageRank over an edge relation.

The graph-centrality primitive of a curation pipeline (authority
weighting of link/citation graphs, domain-trust scoring for crawl
corpora). Reference analogue: Celeborn has no graph operators — this
extends the §2C surface with the second iterative algorithm next to
operators/kmeans.py, reusing its engine-parity discipline.

Spark-first plan: the EDGE relation (the 100 TB side) is hash-
partitioned by src ONCE and persist()ed — persist, not
localCheckpoint, so Catalyst keeps the hashpartitioning(src) metadata
and every iteration's join reuses it (the lesson pinned by
tests/test_kmeans.py). Per iteration only the node-count-sized rank
relation crosses the wire: join on src (ranks exchange to meet the
edges), groupBy(dst).sum with map-side partials (power-law in-degree
hubs combine locally before the exchange), then localCheckpoint to cut
lineage so round t+1 never re-executes round t.

Determinism: ranks are scaled to sum to N (r0 = 1.0, the "rank mass"
form) so they stay O(1), and each iteration rounds to 6 dp AFTER the
affine step — the only order-sensitive float op is the in-neighbor
sum, whose accumulation noise (~1e-13 on O(1) addends) vanishes at
6 dp. `pagerank_oracle_sql` unrolls the same arithmetic as chained
DuckDB CTEs (the operators/kmeans.kmeans_oracle_sql pattern).

The default path requires a graph where EVERY node has at least one
out-edge (undirected graphs trivially qualify). For directed graphs
with danglers (real crawl/link graphs), ``handle_dangling=True``
redistributes dangling rank mass uniformly each round (the standard
teleport-sum correction), at the cost of one extra node-sized
aggregate per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from celeborn_spark.operators import hold

DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = DAMPING,
    src_col: str = "src",
    dst_col: str = "dst",
    partition_edges: bool = False,
    handle_dangling: bool = False,
    weight_col: str | None = None,
    broadcast_ranks: bool = True,
) -> DataFrame:
    """(node, pr) after `iters` rounds of scaled PageRank
    (sum of pr over nodes == node count). By default no dangling
    handling — every src must also appear as a dst and vice versa,
    e.g. via an undirected edge list; rank mass silently leaks on
    danglers. Pass ``handle_dangling=True`` for directed graphs with
    sink nodes: the node universe becomes src ∪ dst and each round the
    summed rank of out-edge-less nodes is redistributed uniformly
    (pr' = (1-d) + d*(in_contribs + dangling_mass/N)), conserving
    total mass at N exactly (up to 6-dp rounding).

    The rank/deg relations are node-sized and BROADCAST into the edge
    joins (hinted — the edge relation derives from a checkpointed RDD
    whose stats report unknown size, so the static planner otherwise
    sort-merges: measured r13, the 3-round lazy body carried 12
    SortMergeJoins re-exchanging the edge mass every round; AQE's
    runtime conversion still pays each round's shuffle WRITE). Each
    round then costs exactly one exchange (the groupBy(dst) combine of
    edge contributions, with map-side partials absorbing power-law
    in-degree hubs). For graphs whose node set outgrows broadcast, pass
    ``partition_edges=True`` (which disables the hint) to hash-partition
    the edge relation by src once and hold it (operators.hold) for the
    invocation, so every round's (then sort-merge) rank join reuses that
    layout and only the node-sized rank relation crosses the wire. The
    per-term pr/outdeg stays a DIVISION — the oracle divides too, and
    pr*(1/outdeg) rounds differently in the last ulp.

    ``weight_col`` names a positive edge-weight column: contributions
    become pr * w / sum_w(src) (the weighted random surfer). Unweighted
    graphs use w=1.0, which reduces to the classic form bit-for-bit
    (pr * 1.0 == pr; sum of 1.0 over n edges == n exactly)."""
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    wexpr = (
        F.col(weight_col).cast("double") if weight_col is not None else F.lit(1.0)
    )
    raw = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), wexpr.alias("ew")
    )
    if partition_edges:
        raw = raw.repartition(
            edges.sparkSession.sparkContext.defaultParallelism, "src"
        ).transform(hold)
        broadcast_ranks = False  # partitioned layout IS the join plan
    if handle_dangling:
        return _pagerank_dangling(raw, iters, damping, broadcast_ranks)
    deg = raw.groupBy("src").agg(F.sum("ew").alias("outdeg"))
    e = raw.join(F.broadcast(deg) if broadcast_ranks else deg, "src")
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0).alias("pr"))
    for i in range(iters):
        ranks = _pagerank_round(ranks, e, damping, broadcast_ranks)
        # Lineage control, not per-round materialization: each round
        # feeds exactly one consumer, so the lazy DAG evaluates once at
        # the end and shuffle boundaries already persist intermediate
        # state — an eager localCheckpoint per round would re-pay a
        # full job per iteration. Checkpoint every 5th round only, to
        # bound plan depth/analysis cost on long runs.
        if (i + 1) % 5 == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def _pagerank_round(
    ranks: DataFrame, e: DataFrame, damping: float, broadcast_ranks: bool = False
) -> DataFrame:
    """One PageRank round (the loop body, exposed so skew tests can pin
    its physical plan): contribute pr/outdeg along each edge, combine
    per dst. The dst key is power-law on real link graphs (hub nodes) —
    the groupBy(dst) partial aggregation combines hub contributions
    map-side BEFORE the exchange, so a 30%-hot dst costs one partial
    row per map task, not a hot reduce partition
    (tests/test_skew_stress.py pins partial-then-final). With
    ``broadcast_ranks`` the node-sized rank relation broadcasts and the
    edge mass never rides the join exchange (see `pagerank`)."""
    if broadcast_ranks:
        ranks = F.broadcast(ranks)
    contribs = ranks.join(e, ranks["node"] == e["src"]).select(
        "dst", (F.col("pr") * F.col("ew") / F.col("outdeg")).alias("w")
    )
    return (
        contribs.groupBy("dst")
        .agg(F.round((1 - damping) + damping * F.sum("w"), 6).alias("pr"))
        .select(F.col("dst").alias("node"), "pr")
    )


def _pagerank_dangling(
    raw: DataFrame, iters: int, damping: float, broadcast_ranks: bool
) -> DataFrame:
    """Dangling-aware rounds: node universe = src ∪ dst; each round adds
    the summed dangler rank, split uniformly, into every node's affine
    step. All scalars (dangling mass, node count) stay JVM-side as
    broadcast 1-row relations — no per-iteration driver action.

    Per-round cost: the in-contribution groupBy(dst) exchange (same as
    the default path) + a tiny dangler-sum aggregate. Each round's rank
    relation is referenced twice (contribs + dangler sum), so it is
    held (operators.hold) — lazily: the caller's single action
    materializes each round once and the second branch reads the cache,
    instead of the multi-reference recompute blowup pinned in CLAUDE.md."""
    nodes = (
        raw.select(F.col("src").alias("node"))
        .union(raw.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = raw.groupBy("src").agg(F.sum("ew").alias("outdeg"))
    # (node, outdeg-null-iff-dangling): node-sized; materialized once —
    # every round's contribs/danglers/affine all reference it
    base = (
        nodes.join(deg, nodes["node"] == deg["src"], "left")
        .select("node", "outdeg")
        .localCheckpoint(eager=False)
    )
    n_nodes = base.agg(F.count(F.lit(1)).alias("n_nodes"))
    ranks = base.select("node", F.lit(1.0).alias("pr"))
    for _ in range(iters):
        r = ranks.join(base, "node").transform(hold)
        dangling = r.where(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dangling_mass")
        )
        live = r.where(F.col("outdeg").isNotNull())
        if broadcast_ranks:
            live = F.broadcast(live)  # node-sized; keep the edge mass put
        contribs = (
            live.join(raw, r["node"] == raw["src"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("ew") / F.col("outdeg")).alias("cs"))
        )
        # one broadcast of the combined 1-row scalar relation per round
        # (dangling x n_nodes is 1x1), not two nested-loop broadcasts
        scalars = dangling.crossJoin(n_nodes)
        rhs = F.broadcast(contribs) if broadcast_ranks else contribs
        ranks = (
            base.join(rhs, base["node"] == rhs["dst"], "left")
            .crossJoin(F.broadcast(scalars))
            .select(
                "node",
                F.round(
                    (1 - damping)
                    + damping
                    * (
                        F.coalesce(F.col("cs"), F.lit(0.0))
                        + F.col("dangling_mass") / F.col("n_nodes")
                    ),
                    6,
                ).alias("pr"),
            )
        )
    return ranks


def bipartite_order_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Undirected customer<->supplier edge list from the order graph:
    node id = custkey*2 for customers, suppkey*2+1 for suppliers (the
    disjoint-id encoding both engines compute identically). One
    distinct over the join output, then a union of both directions —
    every node has an out-edge, satisfying `pagerank`'s contract."""
    pairs = (
        orders.select("o_orderkey", "o_custkey")
        .join(lineitem.select("l_orderkey", "l_suppkey"),
              orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        # both union branches (and pagerank's degree branch) reference
        # pairs — materialize the join+distinct ONCE instead of letting
        # each subtree recompute it (observed 4x in the physical plan)
        .localCheckpoint(eager=False)
    )
    return pairs.union(pairs.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst")))


def directed_order_edges(
    orders: DataFrame, lineitem: DataFrame, materialize: str = "checkpoint"
) -> DataFrame:
    """DIRECTED customer->supplier edge list (no reverse union): every
    supplier node is a dangler (no out-edges) — the planted-dangler
    graph for `pagerank(handle_dangling=True)`. Same disjoint-id
    encoding as `bipartite_order_edges`.

    ``materialize="persist"`` swaps the lineage-cutting checkpoint for
    a lazy cache: right for consumers whose own round boundaries
    already bound the plan (HITS checkpoints each half-round, so the
    edge subtree never multiplies, and the cached relation's known
    stats replace a blocking build-time toRdd planning pass — measured
    r14: q_hits 2.7-4.3 -> 2.5-2.7 s). Keep the checkpoint for
    consumers that chain rounds lazily over the edges (pagerank: the
    persist form re-plans the join+distinct subtree once per round
    reference and measured SLOWER and erratic, 1.8-2.0 -> 2.2-4.5 s)."""
    pairs = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            lineitem.select("l_orderkey", "l_suppkey"),
            orders["o_orderkey"] == lineitem["l_orderkey"],
        )
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    if materialize == "persist":
        return pairs.transform(hold)
    return pairs.localCheckpoint(eager=False)


EDGES_ORACLE = """
    eraw AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    e AS (SELECT src, dst FROM eraw UNION ALL SELECT dst AS src, src AS dst FROM eraw)
"""

DIRECTED_EDGES_ORACLE = """
    e AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )
"""


def pagerank_dangling_oracle_sql(
    edges_cte: str = DIRECTED_EDGES_ORACLE, iters: int = 3, damping: float = DAMPING
) -> str:
    """DuckDB mirror of `pagerank(handle_dangling=True)` over `edges_cte`
    (must define a CTE `e(src, dst)`): node universe = src ∪ dst, one
    (dangler-sum, contribs, affine) CTE triple per iteration. All
    arithmetic forced to DOUBLE so DuckDB's DECIMAL inference can't
    diverge from Spark's double path."""
    ctes = [
        edges_cte.strip(),
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM nodes)",
    ]
    prev = "r0"
    for i in range(iters):
        cur = f"r{i + 1}"
        ctes.append(
            f"""d{i} AS (
        SELECT coalesce(sum(r.pr), CAST(0 AS DOUBLE)) AS dm
        FROM {prev} r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL
    )"""
        )
        ctes.append(
            f"""c{i} AS (
        SELECT e.dst AS node, sum(r.pr / deg.outdeg) AS cs
        FROM {prev} r JOIN e ON r.node = e.src JOIN deg ON deg.src = e.src
        GROUP BY e.dst
    )"""
        )
        ctes.append(
            f"""{cur} AS (
        SELECT nodes.node,
               round((1 - {damping}) + {damping} *
                     (coalesce(c.cs, CAST(0 AS DOUBLE)) + d{i}.dm / nn.n), 6) AS pr
        FROM nodes CROSS JOIN d{i} CROSS JOIN nn
        LEFT JOIN c{i} c ON nodes.node = c.node
    )"""
        )
        prev = cur
    return "WITH " + ",\n    ".join(ctes) + f"\n    SELECT node, pr FROM {prev}"


def pagerank_oracle_sql(
    edges_cte: str = EDGES_ORACLE,
    iters: int = 3,
    damping: float = DAMPING,
    weighted: bool = False,
) -> str:
    """DuckDB mirror of `pagerank` over `edges_cte` (which must define
    a CTE named `e(src, dst)` — plus `ew` when ``weighted``): the same
    init/contribute/sum arithmetic unrolled one CTE per iteration."""
    deg = (
        "deg AS (SELECT src, sum(ew) AS outdeg FROM e GROUP BY src)"
        if weighted
        else "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)"
    )
    contrib = "{p}.pr * e.ew / deg.outdeg" if weighted else "{p}.pr / deg.outdeg"
    ctes = [
        edges_cte.strip(),
        deg,
        "r0 AS (SELECT src AS node, 1.0 AS pr FROM deg)",
    ]
    prev = "r0"
    for i in range(iters):
        cur = f"r{i + 1}"
        term = contrib.format(p=prev)
        ctes.append(f"""{cur} AS (
        SELECT e.dst AS node,
               round((1 - {damping}) + {damping} * sum({term}), 6) AS pr
        FROM {prev} JOIN e ON {prev}.node = e.src JOIN deg ON deg.src = e.src
        GROUP BY e.dst
    )""")
        prev = cur
    return "WITH " + ",\n    ".join(ctes) + f"\n    SELECT node, pr FROM {prev}"


WEIGHTED_EDGES_ORACLE = """
    eraw AS (
        SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
               CAST(count(*) AS DOUBLE) AS ew
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    e AS (SELECT src, dst, ew FROM eraw
          UNION ALL SELECT dst AS src, src AS dst, ew FROM eraw)
"""


def weighted_order_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Undirected customer<->supplier edges weighted by order-line
    multiplicity (how many lineitems link the pair) — the natural
    strength signal a weighted random surfer should follow. Same
    disjoint-id encoding as `bipartite_order_edges`; the groupBy
    replaces its distinct (one exchange either way)."""
    pairs = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            lineitem.select("l_orderkey", "l_suppkey"),
            orders["o_orderkey"] == lineitem["l_orderkey"],
        )
        .groupBy(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("ew"))
        .localCheckpoint(eager=False)
    )
    return pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "ew")
    )


def copurchase_edges(lineitem: DataFrame, min_qty: int = 45) -> DataFrame:
    """Undirected supplier co-purchase edges (u < v): two suppliers are
    connected when large lines (l_quantity >= min_qty) of both appear in
    the same order. One self-equi-join on the order key (shuffle on
    l_orderkey, the natural co-occurrence key) + distinct."""
    big = lineitem.filter(F.col("l_quantity") >= min_qty).select(
        "l_orderkey", "l_suppkey"
    )
    return (
        big.alias("a")
        .join(big.alias("b"), "l_orderkey")
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts via DEGREE-ORDERED
    orientation — the classic subquadratic triangle algorithm (each
    undirected edge is directed from its lower-(degree, id) endpoint,
    so every out-neighborhood is O(sqrt(m)) and the wedge join touches
    sum-of-squares of SMALL out-degrees, never the hub's full
    neighborhood; a naive wedge join explodes quadratically on hubs).
    In any triangle exactly one vertex (the orientation-minimal apex)
    points to the other two, so each triangle is generated once:
    wedge (a->x, a->y, x < y) closed by canonical edge (x, y).

    `edges` must be canonical undirected (u < v, distinct). Three
    exchanges total (degree agg, wedge self-join on apex, closing
    equi-join) — all equality-keyed, AQE-skew-splittable."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        edges.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).localCheckpoint(eager=False)  # o feeds both sides of the wedge join
    w = (
        o.alias("o1")
        .join(o.alias("o2"), "s")
        .filter(F.col("o1.t") < F.col("o2.t"))
        .select(
            F.col("s").alias("a"),
            F.col("o1.t").alias("x"),
            F.col("o2.t").alias("y"),
        )
    )
    tri = w.join(
        edges.select(F.col("u").alias("x"), F.col("v").alias("y")), ["x", "y"]
    )
    return (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )


def triangle_oracle_sql(min_qty: int = 45) -> str:
    """DuckDB mirror of triangle_counts over copurchase_edges: same
    orientation, same wedge+close joins — exact integer counts."""
    return f"""
    WITH el AS (
        SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_suppkey < b.l_suppkey
        WHERE a.l_quantity >= {min_qty} AND b.l_quantity >= {min_qty}
    ),
    deg AS (
        SELECT node, count(*) AS d
        FROM (SELECT u AS node FROM el UNION ALL SELECT v FROM el)
        GROUP BY node
    ),
    o AS (
        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND el.u < el.v)
                    THEN el.u ELSE el.v END AS s,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND el.u < el.v)
                    THEN el.v ELSE el.u END AS t
        FROM el JOIN deg du ON el.u = du.node JOIN deg dv ON el.v = dv.node
    ),
    w AS (
        SELECT o1.s AS a, o1.t AS x, o2.t AS y
        FROM o o1 JOIN o o2 ON o1.s = o2.s AND o1.t < o2.t
    ),
    tri AS (SELECT a, x, y FROM w JOIN el ON el.u = w.x AND el.v = w.y)
    SELECT node, CAST(count(*) AS BIGINT) AS n_tri
    FROM (SELECT a AS node FROM tri
          UNION ALL SELECT x FROM tri
          UNION ALL SELECT y FROM tri)
    GROUP BY node
    """


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """(node, hop) — minimum hop distance from ANY seed node, bounded at
    ``max_hops`` (unreached nodes are absent). Multi-source breadth-first
    search: the reachability / blast-radius primitive (crawl-frontier
    expansion, contamination spread from flagged documents, link-graph
    locality). Reference analogue: Celeborn has no graph operators; this
    is the third iterative algorithm of the §2C surface next to
    `pagerank` and `operators/components.py`, same bounded-round
    discipline.

    ``edges`` is a DIRECTED (src, dst) relation — pass an undirected
    (both-direction) list for undirected semantics. ``seeds`` has one
    ``node`` column.

    Scale shape: per round exactly one equality-keyed exchange (frontier
    join edges on src) + a distinct + an anti-join against the settled
    set. The settled set is a union of per-round localCheckpoint'ed
    frontiers, so each round's anti-join re-reads materialized rows
    instead of recomputing all prior rounds (the multi-reference rule
    from CLAUDE.md: `dist` is read twice per round). Frontier size is
    bounded by the reachable-node count, never the edge count; the edge
    relation itself is never mutated, so at 100 TB it is hash-partitioned
    by src once (persist) and every round's join reuses that layout."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = edges.select(F.col("src"), F.col("dst"))
    frontier = seeds.select(
        F.col("node").cast("long").alias("node")
    ).distinct().localCheckpoint(eager=False)
    settled = [frontier.withColumn("hop", F.lit(0))]
    dist = settled[0]
    for h in range(1, max_hops + 1):
        # frontier/dist are node-sized checkpointed RDDs (unknown
        # stats) — broadcast hints keep the edge mass out of the
        # per-hop join exchange (the pagerank/hits discipline)
        fb = F.broadcast(frontier)
        nxt = (
            fb.join(e, fb["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(F.broadcast(dist), "node", "left_anti")
            .localCheckpoint(eager=False)  # read by next round's anti-join AND the result union
        )
        settled.append(nxt.withColumn("hop", F.lit(h)))
        dist = dist.unionAll(settled[-1])
        frontier = nxt
    return dist


def bfs_oracle_sql(seed_pred: str, max_hops: int = 3) -> str:
    """DuckDB mirror of `bfs_hops` over the undirected order bipartite
    graph: bounded recursive walk (UNION dedups exact (node, hop) pairs,
    the hop bound guarantees termination), then min(hop) per node —
    identical to frontier BFS because BFS settles each node at its
    minimum hop."""
    return f"""
    WITH RECURSIVE {EDGES_ORACLE.strip().rstrip()},
    walk(node, hop) AS (
        SELECT DISTINCT src AS node, 0 FROM e WHERE {seed_pred}
        UNION
        SELECT e.dst, w.hop + 1
        FROM walk w JOIN e ON w.node = e.src
        WHERE w.hop < {max_hops}
    )
    SELECT node, CAST(min(hop) AS INT) AS hop FROM walk GROUP BY node
    """


def kcore(
    edges: DataFrame, k: int, rounds: int = 4, broadcast_keep: bool = True
) -> DataFrame:
    """(node, core_deg) — nodes surviving ``rounds`` rounds of k-core
    peeling (repeatedly delete nodes of degree < k), with their degree
    in the surviving subgraph. The density-filter primitive: k-core
    isolates the mutually-well-connected region of a link/co-purchase
    graph (spam farms and long-tail leaves peel away first). Bounded
    rounds keep the operator oracle-checkable; at convergence the
    result IS the k-core, and `rounds` is the convergence knob exactly
    like `pagerank(iters=...)`.

    ``edges`` must be canonical undirected (u < v, distinct).

    Scale shape: each round is one degree aggregation (map-side
    partials absorb power-law hubs) + two semi-joins that shrink the
    edge relation. The edge relation is localCheckpoint'ed per round
    because it feeds BOTH the degree agg and the semi-joins (and
    rounds are few and the relation only shrinks — materializing the
    survivor set is the cheap direction). The node-sized survivor set
    BROADCASTS into both semi-joins (hinted — the checkpointed edge
    RDD reports unknown stats, so the static planner otherwise
    sort-merges, re-exchanging the edge mass twice per round; measured
    r13: 4 SortMergeJoins per round body). Pass
    ``broadcast_keep=False`` when the survivor set outgrows
    broadcast."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = edges.select("u", "v").localCheckpoint(eager=False)
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("node")
        if broadcast_keep:
            keep = F.broadcast(keep)
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("int").alias("core_deg"))
    )


def kcore_oracle_sql(k: int, rounds: int = 4, min_qty: int = 45) -> str:
    """DuckDB mirror of `kcore` over the supplier co-purchase graph:
    the same fixed peeling rounds unrolled as chained CTEs."""
    ctes = [
        f"""e0 AS (
        SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_suppkey < b.l_suppkey
        WHERE a.l_quantity >= {min_qty} AND b.l_quantity >= {min_qty}
    )"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""keep{r} AS (
        SELECT node FROM (
            SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r}
        ) GROUP BY node HAVING count(*) >= {k}
    ),
    e{r + 1} AS (
        SELECT e.u, e.v FROM e{r} e
        WHERE e.u IN (SELECT node FROM keep{r})
          AND e.v IN (SELECT node FROM keep{r})
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, CAST(count(*) AS INT) AS core_deg
    FROM (SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
    GROUP BY node
    """
    )


def adamic_adar(edges: DataFrame, k: int = 30, dp: int = 6) -> DataFrame:
    """Top-k link predictions by Adamic–Adar score: for each NON-edge
    pair (a, b) at distance 2, sum 1/ln(deg(n)) over common neighbors n
    — rare shared neighbors are strong evidence, hubs nearly none. The
    link-prediction / related-entity primitive over any co-occurrence
    graph.

    `edges` must be canonical undirected (u < v, distinct). Plan: the
    wedge self-join keys on the COMMON NEIGHBOR (so its cost is the sum
    of squared degrees — cap or sample hub neighborhoods upstream at
    100 TB scale, as the LSH operators cap hot shingles), an anti-join
    drops already-connected pairs, then one pair-keyed aggregate. A
    common neighbor has degree >= 2 by construction, so ln(deg) > 0.
    Scores are ~deg-sized ln-sums rounded `dp` before the ranking cut;
    ties break on the pair key — engine-deterministic."""
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy(F.col("nbr").alias("n")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    wedges = (
        adj.alias("x")
        .join(adj.alias("y"), F.col("x.nbr") == F.col("y.nbr"))
        .filter(F.col("x.node") < F.col("y.node"))
        .select(
            F.col("x.node").alias("a"),
            F.col("y.node").alias("b"),
            F.col("x.nbr").alias("n"),
        )
    )
    non_edges = wedges.join(
        edges.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    scored = (
        non_edges.join(deg, "n")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.round(F.sum(F.lit(1.0) / F.log(F.col("d").cast("double"))), dp).alias(
                "aa_score"
            ),
        )
    )
    return scored.orderBy(
        F.col("aa_score").desc(), F.col("a"), F.col("b")
    ).limit(k)


def adamic_adar_oracle_sql(k: int = 30, dp: int = 6, min_qty: int = 45) -> str:
    """DuckDB mirror of `adamic_adar` over copurchase_edges: identical
    wedge/anti joins, identical rounded score and tie-broken cut."""
    return f"""
    WITH el AS (
        SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_suppkey < b.l_suppkey
        WHERE a.l_quantity >= {min_qty} AND b.l_quantity >= {min_qty}
    ),
    adj AS (SELECT u AS node, v AS nbr FROM el
            UNION ALL SELECT v, u FROM el),
    deg AS (SELECT nbr AS n, CAST(count(*) AS BIGINT) AS d
            FROM adj GROUP BY 1),
    wedges AS (
        SELECT x.node AS a, y.node AS b, x.nbr AS n
        FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
    ),
    non_edges AS (
        SELECT w.* FROM wedges w
        WHERE NOT EXISTS (SELECT 1 FROM el WHERE el.u = w.a AND el.v = w.b)
    ),
    scored AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
               round(sum(1.0 / ln(CAST(deg.d AS DOUBLE))), {dp}) AS aa_score
        FROM non_edges JOIN deg ON non_edges.n = deg.n
        GROUP BY 1, 2
    )
    SELECT a, b, n_common, aa_score
    FROM scored
    ORDER BY aa_score DESC, a, b
    LIMIT {k}
    """


def hits(
    edges: DataFrame,
    iters: int = 3,
    partition_edges: bool = False,
    broadcast_state: bool | None = None,
) -> DataFrame:
    """(node, hub, auth) after ``iters`` rounds of HITS (Kleinberg's
    hubs-and-authorities) over a DIRECTED edge relation — the
    link-analysis dual of `pagerank`: authorities are pointed-to by
    good hubs, hubs point to good authorities. The domain-trust signal
    a crawl-curation pipeline uses when in-link quality and out-link
    quality diverge (a directory page is a hub, a reference page an
    authority — PageRank conflates them).

    Per round: auth_raw(v) = sum of hub(u) over in-edges, then L1
    normalization (auth sums to 1); hub_raw(u) = sum of auth(v) over
    out-edges, L1-normalized. Both raw sums are one equality-keyed
    groupBy exchange each; each normalizer is a 1-row aggregate that
    stays JVM-side as a broadcast scalar relation (the
    `_pagerank_dangling` discipline — no per-round driver action).
    Values round to 6 dp after each normalization, so the only
    order-sensitive op (the in/out-neighbor float sum, ~1e-13 noise on
    O(1) addends) vanishes and `hits_oracle_sql` unrolls bit-identical
    rounds. Nodes with no in-edges hold auth 0; no out-edges, hub 0.

    Scale shape: per round exactly two node-keyed exchanges + two
    scalar broadcasts; the edge relation is never mutated. With
    ``partition_edges=True`` it is shuffled ONCE per join direction
    (src- and dst-keyed copies, held by operators.hold — HITS alternates
    join keys, unlike pagerank) and every round reuses the cached
    partitioning instead of re-exchanging the edge mass ``iters`` times
    — the option to set when the node set outgrows broadcast."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # The edge relation is referenced 2*iters+1 times (nodes + two
    # joins per round) and stays LAZY on purpose: the checkpoint-inputs
    # rule applies only when the derived relation is EXPENSIVE relative
    # to a rescan. q_hits' edges are a broadcast join of two parquet
    # scans — recomputing that inside each round's codegen measured
    # 3.4-4.4 s for the whole query, while an eager localCheckpoint of
    # the same edges (r8 first attempt) measured 7.0-11.8 s: the
    # materialize+deserialize round-trip cost MORE than 7 cheap
    # recomputes. Pagerank's pair build (the r7 4x lesson) was the
    # opposite regime — an expensive exchange-bearing build. Callers
    # with a costly edge pipeline should localCheckpoint it themselves
    # before calling, or pass partition_edges=True, which materializes
    # exactly once per join direction anyway.
    e = edges.select("src", "dst")
    e_src = e_dst = e
    if partition_edges:
        par = edges.sparkSession.sparkContext.defaultParallelism
        e = e.localCheckpoint(eager=False)  # one materialization feeds both copies
        e_src = e.repartition(par, "src").transform(hold)
        e_dst = e.repartition(par, "dst").transform(hold)
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)  # read by every round's left joins + the final select
    )
    hub = nodes.select("node", F.lit(1.0).alias("h"))
    auth = None
    # Every round references the raw aggregate TWICE (normalizer agg +
    # the normalized join) and the final join references the whole
    # auth chain a second time — left fully lazy, the plan QUADRUPLES
    # per round (measured: 754 exchanges at iters=3, and even
    # rendering the plan string OOMed a default driver). Lazy
    # persist() does not help: the LOGICAL lineage still doubles, and
    # plan analysis/rendering pays it. The checkpoint PLACEMENT was
    # re-measured r8 (warm reps, idle host, sf0.1): eager checkpoint
    # of the NORMALIZED node-sized relations (auth AND hub, one per
    # half-round) 4.2-4.4 s; auth+raw-hraw 5.3-5.7 s; hraw-only
    # 6.5-6.9 s (its lazy auth recomputes araw + the normalizer
    # subquery inside every consumer). Normalized-relation checkpoints
    # win because each half-round's job then contains exactly ONE edge
    # join reading the previous checkpoint.
    # The hub/auth/araw/hraw relations are node-sized but derive from
    # checkpointed RDDs (unknown stats), so the static planner
    # sort-merges every per-round join, re-exchanging the EDGE mass
    # twice per round (measured r13: 6 SortMergeJoins per half-round
    # body). Broadcast hints keep the edge relation un-shuffled; with
    # partition_edges=True the hints default off — the persisted edge
    # layout is the join plan (beyond-broadcast node sets).
    # ``broadcast_state`` overrides that default either way (the
    # metrics test models the beyond-broadcast regime with it).
    if broadcast_state is None:
        broadcast_state = not partition_edges
    bcast = F.broadcast if broadcast_state else (lambda df: df)
    # The iteration carries only NONZERO-SUPPORT state (r13): a node
    # absent from araw would hold auth exactly 0.0, and 0.0-valued
    # state rows are exact-neutral addends in the next raw sum
    # (x + 0.0 == x for every finite double), while a node that IS the
    # src/dst of an edge necessarily appears in the corresponding raw
    # aggregate — so the per-half-round nodes left-join that re-padded
    # the full universe changed no double anywhere and is done ONCE at
    # the end instead (zero fill). The checkpoint moves to the raw
    # aggregate (still the doubling point: the normalizer AND the
    # normalized projection read it); the normalized relations are now
    # cheap projections over checkpointed rows.
    for i in range(iters):
        hubb = bcast(hub)
        araw = (
            hubb.join(e_src, hubb["node"] == e_src["src"])
            .groupBy("dst")
            .agg(F.sum("h").alias("ar"))
            .localCheckpoint(eager=False)  # read by the normalizer AND the projection
        )
        asum = araw.agg(F.sum("ar").alias("anorm"))
        auth = araw.crossJoin(F.broadcast(asum)).select(
            F.col("dst").alias("node"),
            F.round(F.col("ar") / F.col("anorm"), 6).alias("a"),
        )
        authb = bcast(auth)
        hraw = (
            authb.join(e_dst, authb["node"] == e_dst["dst"])
            .groupBy("src")
            .agg(F.sum("a").alias("hr"))
            .localCheckpoint(eager=False)  # read by the normalizer AND the projection
        )
        hsum = hraw.agg(F.sum("hr").alias("hnorm"))
        hub = hraw.crossJoin(F.broadcast(hsum)).select(
            F.col("src").alias("node"),
            F.round(F.col("hr") / F.col("hnorm"), 6).alias("h"),
        )
    return (
        nodes.join(bcast(hub), "node", "left")
        .join(bcast(auth), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("h"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("a"), F.lit(0.0)).alias("auth"),
        )
    )


def hits_oracle_sql(
    edges_cte: str = DIRECTED_EDGES_ORACLE, iters: int = 3
) -> str:
    """DuckDB mirror of `hits` over `edges_cte` (must define a CTE
    `e(src, dst)`): the same raw-sum / L1-normalize / round-6dp
    arithmetic unrolled, four CTEs per round."""
    ctes = [
        edges_cte.strip(),
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes)",
    ]
    ph = "h0"
    pa = None
    for i in range(iters):
        ctes.append(
            f"""ar{i} AS (
        SELECT e.dst, sum({ph}.h) AS ar
        FROM {ph} JOIN e ON {ph}.node = e.src GROUP BY e.dst
    )"""
        )
        ctes.append(
            f"""a{i + 1} AS (
        SELECT nodes.node,
               round(coalesce(ar{i}.ar, CAST(0 AS DOUBLE))
                     / (SELECT sum(ar) FROM ar{i}), 6) AS a
        FROM nodes LEFT JOIN ar{i} ON nodes.node = ar{i}.dst
    )"""
        )
        pa = f"a{i + 1}"
        ctes.append(
            f"""hr{i} AS (
        SELECT e.src, sum({pa}.a) AS hr
        FROM {pa} JOIN e ON {pa}.node = e.dst GROUP BY e.src
    )"""
        )
        ctes.append(
            f"""h{i + 1} AS (
        SELECT nodes.node,
               round(coalesce(hr{i}.hr, CAST(0 AS DOUBLE))
                     / (SELECT sum(hr) FROM hr{i}), 6) AS h
        FROM nodes LEFT JOIN hr{i} ON nodes.node = hr{i}.src
    )"""
        )
        ph = f"h{i + 1}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT {ph}.node, {ph}.h AS hub, {pa}.a AS auth
    FROM {ph} JOIN {pa} ON {ph}.node = {pa}.node"""
    )


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    broadcast_dist: bool = True,
) -> DataFrame:
    """(node, dist) — minimum WEIGHTED path cost from any seed within
    ``rounds`` edge relaxations (bounded Bellman-Ford; unreached nodes
    absent). The weighted generalization of `bfs_hops`: cheapest-route
    cost over a cost-labeled link graph (crawl politeness budgets,
    lineage depth weighted by transform cost).

    ``edges`` is (src, dst, w) with NON-NEGATIVE INTEGER weights —
    integer min/plus arithmetic makes every round engine-exact, no
    rounding anywhere. ``seeds`` has one ``node`` column.

    Per round: the settled frontier BROADCASTS into the edge join
    (hinted — dist derives from cached rows with unknown stats,
    so the static planner otherwise sort-merges and re-exchanges the
    EDGE mass every round; measured r13) + a groupBy(dst).min with
    map-side partials (hub in-degrees combine locally) + a union
    merge against the settled relation folded into the same
    groupBy.min. The dist relation is node-sized and persist()ed each
    round because the merge reads it twice (CLAUDE.md multi-reference
    rule; the cache bounds recompute while deferring ALL planning to
    the single final action — a localCheckpoint per round paid a
    blocking driver planning + AQE stage-materialization pass each,
    r14); the edge relation is never mutated — partitioned once at
    scale. When the settled set outgrows broadcast, pass
    ``broadcast_dist=False`` for the shuffle join."""
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    e = edges.select(
        F.col("src"), F.col("dst"), F.col("w").cast("long").alias("w")
    )
    dist = (
        seeds.select(F.col("node").cast("long").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .transform(hold)
    )
    for _ in range(rounds):
        frontier = F.broadcast(dist) if broadcast_dist else dist
        relax = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst"), (F.col("dist") + F.col("w")).alias("cand"))
        )
        # The settled/candidate merge is a pure keyed MIN over exact
        # longs, so instead of a full-outer join (two sort-merge
        # exchanges per round, r13 before-plan) the relaxed candidates
        # simply union with the settled rows and one partial-combined
        # groupBy.min folds both — identical integers (min(old, best
        # cand) with absent sides skipped is exactly the old
        # null-aware when-chain), one node-keyed exchange per round.
        # persist(), not localCheckpoint: each round is read twice
        # (relax + merge) so the cache bounds recompute, while the
        # lazy 2x/round lineage stays small at bounded rounds (2^3
        # copies of a node-sized subtree) — a per-round checkpoint
        # paid a blocking driver planning + AQE stage-materialization
        # pass per round (r14; a self-loop-fold variant that chained
        # rounds lazily with ONE checkpoint re-paid the saved time in
        # its extra node-universe distinct exchange — A/B'd, reverted).
        dist = (
            dist.select("node", "dist")
            .unionAll(relax.select(F.col("dst").alias("node"),
                                   F.col("cand").alias("dist")))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(hold)
        )
    return dist


def shortest_paths_oracle_sql(
    edges_cte: str, seed_sql: str, rounds: int = 3
) -> str:
    """DuckDB mirror of `shortest_paths`: the same relax/merge rounds
    unrolled as chained CTEs — exact integer min/plus, no rounding.
    ``edges_cte`` must define `e(src, dst, w)`; ``seed_sql`` is a
    SELECT yielding the seed `node` column."""
    ctes = [
        edges_cte.strip(),
        f"d0 AS (SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist FROM ({seed_sql}))",
    ]
    prev = "d0"
    for i in range(rounds):
        cur = f"d{i + 1}"
        ctes.append(
            f"""b{i} AS (
        SELECT e.dst, min({prev}.dist + e.w) AS best
        FROM {prev} JOIN e ON {prev}.node = e.src GROUP BY e.dst
    )"""
        )
        ctes.append(
            f"""{cur} AS (
        SELECT coalesce({prev}.node, b{i}.dst) AS node,
               CASE WHEN {prev}.dist IS NULL THEN b{i}.best
                    WHEN b{i}.best IS NULL THEN {prev}.dist
                    WHEN b{i}.best < {prev}.dist THEN b{i}.best
                    ELSE {prev}.dist END AS dist
        FROM {prev} FULL OUTER JOIN b{i} ON {prev}.node = b{i}.dst
    )"""
        )
        prev = cur
    return "WITH " + ",\n    ".join(ctes) + f"\n    SELECT node, dist FROM {prev}"


COST_EDGES_ORACLE = """
    ecost AS (
        SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
               CAST(min(l.l_quantity) AS BIGINT) AS w
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    e AS (SELECT src, dst, w FROM ecost
          UNION ALL SELECT dst AS src, src AS dst, w FROM ecost)
"""


def cost_order_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """UNDIRECTED customer<->supplier edges weighted by the SMALLEST
    linking line quantity (a positive integer 1..50) — the cheapest-hop
    cost label for `shortest_paths`. Undirected (both-direction union)
    so multi-hop customer->supplier->customer routes exist and
    relaxation rounds actually improve paths (a directed bipartite
    graph bottoms out after one hop). Same disjoint-id encoding as
    `bipartite_order_edges`; the groupBy(min) replaces its distinct."""
    pairs = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            lineitem.select("l_orderkey", "l_suppkey", "l_quantity"),
            orders["o_orderkey"] == lineitem["l_orderkey"],
        )
        .groupBy(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .agg(F.min("l_quantity").cast("long").alias("w"))
        .localCheckpoint(eager=False)  # both union branches reference the join+agg
    )
    return pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )


def label_propagation(
    edges: DataFrame, rounds: int = 3, broadcast_labels: bool = True
) -> DataFrame:
    """(node, label) after ``rounds`` of synchronous majority label
    propagation over an undirected (both-direction) edge relation —
    community detection (denser groupings than connected components,
    which `operators/components.py` already finds: LPA labels split a
    connected graph along its dense cores). Labels init to the node id;
    each round every node adopts the most frequent label among its
    neighbors, ties to the SMALLEST label — an all-integer argmax, so
    the unrolled-CTE oracle matches exactly.

    Per round: one (dst, label) count aggregate exchange with map-side
    partials absorbing hub in-degrees + a per-dst argmax via struct
    max (no window). The label relation is node-sized and BROADCASTS
    into the edge join (hinted — labels derive from a checkpointed RDD
    whose stats report unknown size, so the static planner otherwise
    sort-merges and re-exchanges the EDGE mass every round; measured
    r13: the 3-round plan carried 3 edge-side exchanges + 3 label-side
    exchanges that the hint removes). The edge relation is never
    mutated — partitioned once at 100 TB; when the node set outgrows
    broadcast, pass ``broadcast_labels=False`` to fall back to the
    shuffle join (the `hits` partition_edges discipline). Rounds chain
    lazily (each round's labels feed exactly one consumer; CLAUDE.md
    rule)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = edges.select("src", "dst")
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)  # feeds every round's join
    )
    for _ in range(rounds):
        lhs = F.broadcast(labels) if broadcast_labels else labels
        counts = (
            lhs.join(e, labels["node"] == e["src"])
            .groupBy(F.col("dst"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        pick = F.struct(F.col("cnt").alias("c"), (-F.col("label")).alias("nl"))
        labels = (
            counts.groupBy("dst")
            .agg((-F.max(pick)["nl"]).alias("label"))
            .select(F.col("dst").alias("node"), "label")
        )
    return labels


def label_propagation_oracle_sql(
    edges_cte: str = EDGES_ORACLE, rounds: int = 3
) -> str:
    """DuckDB mirror of `label_propagation`: identical per-round
    neighbor-label counts and (count DESC, label ASC) argmax, unrolled
    one CTE pair per round."""
    ctes = [
        edges_cte.strip(),
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM e)",
    ]
    prev = "l0"
    for i in range(rounds):
        cur = f"l{i + 1}"
        ctes.append(
            f"""c{i} AS (
        SELECT e.dst, {prev}.label, count(*) AS cnt
        FROM {prev} JOIN e ON {prev}.node = e.src
        GROUP BY 1, 2
    )"""
        )
        ctes.append(
            f"""{cur} AS (
        SELECT dst AS node, label FROM (
            SELECT dst, label,
                   row_number() OVER (
                       PARTITION BY dst ORDER BY cnt DESC, label ASC
                   ) AS rn
            FROM c{i}
        ) WHERE rn = 1
    )"""
        )
        prev = cur
    return "WITH " + ",\n    ".join(ctes) + f"\n    SELECT node, label FROM {prev}"


def neighbor_jaccard(edges: DataFrame, k: int = 25) -> DataFrame:
    """Top-k NON-edge pairs by neighbor-set Jaccard — the normalized
    link-prediction sibling of `adamic_adar` (Adamic-Adar weights rare
    common neighbors; Jaccard asks what FRACTION of the combined
    neighborhoods is shared, the better signal when degrees vary
    wildly). Output (a, b, n_common, jac) ranked (jac desc, a, b).

    `edges` must be canonical undirected (u < v, distinct). Same
    wedge-join shape as adamic_adar: the self-join keys on the common
    neighbor (cost = sum of squared degrees — cap hub neighborhoods
    upstream at 100 TB), anti-join vs existing edges, one pair-keyed
    count. jac = cn / (deg_a + deg_b - cn) is ONE division of exact
    integers — bit-identical cross-engine, so ranking on the raw value
    with the pair tiebreak is deterministic (no rounding needed before
    the cut; the emitted column rounds 6dp for the driver hash)."""
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    wedges = (
        adj.alias("x")
        .join(adj.alias("y"), F.col("x.nbr") == F.col("y.nbr"))
        .filter(F.col("x.node") < F.col("y.node"))
        .select(F.col("x.node").alias("a"), F.col("y.node").alias("b"))
    )
    non_edges = wedges.join(
        edges.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    cn = non_edges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    scored = (
        cn.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
        .withColumn(
            "jac_raw",
            F.col("n_common")
            / (F.col("da") + F.col("db") - F.col("n_common")),
        )
    )
    return (
        scored.orderBy(F.col("jac_raw").desc(), "a", "b")
        .limit(k)
        .select("a", "b", "n_common", F.round("jac_raw", 6).alias("jac"))
    )


def neighbor_jaccard_oracle_sql(
    edges_cte: str, k: int = 25
) -> str:
    """DuckDB mirror of `neighbor_jaccard` over ``edges_cte`` (must
    define a CTE `el(u, v)` of canonical undirected edges)."""
    return f"""
    WITH {edges_cte},
    adj AS (SELECT u AS node, v AS nbr FROM el
            UNION ALL SELECT v, u FROM el),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    wedges AS (
        SELECT x.node AS a, y.node AS b
        FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
    ),
    non_edges AS (
        SELECT w.* FROM wedges w
        WHERE NOT EXISTS (SELECT 1 FROM el WHERE el.u = w.a AND el.v = w.b)
    ),
    cn AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS n_common
        FROM non_edges GROUP BY 1, 2
    ),
    scored AS (
        SELECT a, b, n_common,
               CAST(n_common AS DOUBLE) / (da.d + db.d - n_common) AS jac_raw
        FROM cn
        JOIN deg da ON da.node = cn.a
        JOIN deg db ON db.node = cn.b
    )
    SELECT a, b, n_common, round(jac_raw, 6) AS jac
    FROM scored
    ORDER BY jac_raw DESC, a, b
    LIMIT {k}
    """


def harmonic_centrality_2hop(edges: DataFrame) -> DataFrame:
    """Truncated (2-hop) harmonic centrality per node: H2(v) =
    |N1(v)| + |N2(v)|/2, with N2 the nodes at distance exactly 2 —
    the influence-reach ranking that full closeness centrality needs
    all-pairs BFS for; truncating at 2 hops keeps it two equi-joins
    and captures most of the ranking signal on small-diameter graphs
    (the reach primitive next to `triangle_counts` (density) and
    `neighbor_jaccard` (pairwise overlap)). Output (node, n1, n2,
    harmonic), node-sized.

    Engine parity: n1/n2 are exact distinct counts; harmonic =
    (2*n1 + n2)/2.0 is one division by 2 of an exact integer — exact
    in IEEE, emitted raw.

    Scale shape: the wedge self-join keys on the middle node, so cost
    is sum of squared degrees (cap hub neighborhoods upstream at
    100 TB — the neighbor_jaccard discipline); the distance-2 set is
    deduplicated by (node, nbr2) BEFORE counting, and 1-hop nodes are
    removed with one anti-join. `edges` must be canonical undirected
    (u < v, distinct)."""
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    n1 = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("n1"))
    two = (
        adj.alias("x")
        .join(adj.alias("y"), F.col("x.nbr") == F.col("y.nbr"))
        .filter(F.col("x.node") != F.col("y.node"))
        .select(F.col("x.node").alias("node"), F.col("y.node").alias("nbr2"))
        .distinct()
        .join(
            adj.select("node", F.col("nbr").alias("nbr2")),
            ["node", "nbr2"],
            "left_anti",
        )
    )
    n2 = two.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("n2"))
    return (
        n1.join(n2, "node", "left")
        .select(
            "node",
            "n1",
            F.coalesce("n2", F.lit(0)).cast("long").alias("n2"),
            (
                (2 * F.col("n1") + F.coalesce("n2", F.lit(0))) / F.lit(2.0)
            ).alias("harmonic"),
        )
    )


def harmonic_oracle_sql(edges_cte: str) -> str:
    """DuckDB mirror of `harmonic_centrality_2hop` over ``edges_cte``
    (must define a CTE `el(u, v)` of canonical undirected edges)."""
    return f"""
    WITH {edges_cte},
    adj AS (SELECT u AS node, v AS nbr FROM el
            UNION ALL SELECT v, u FROM el),
    n1 AS (SELECT node, CAST(count(*) AS BIGINT) AS n1 FROM adj GROUP BY 1),
    two AS (
        SELECT DISTINCT x.node, y.node AS nbr2
        FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node <> y.node
        WHERE NOT EXISTS (SELECT 1 FROM adj a
                          WHERE a.node = x.node AND a.nbr = y.node)
    ),
    n2 AS (SELECT node, CAST(count(*) AS BIGINT) AS n2 FROM two GROUP BY 1)
    SELECT n1.node, n1.n1,
           CAST(coalesce(n2.n2, 0) AS BIGINT) AS n2,
           (2 * n1.n1 + coalesce(n2.n2, 0)) / 2.0 AS harmonic
    FROM n1 LEFT JOIN n2 ON n1.node = n2.node
    """


def personalized_pagerank(
    edges: DataFrame,
    seed_mod: int,
    iters: int = 3,
    damping: float = DAMPING,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Personalized PageRank: random walk with restart to a SEED SET —
    the relevance-to-these-nodes ranking behind related-item / local
    influence queries, where global PageRank answers the wrong
    question (importance to the whole graph). Seeds are the nodes with
    ``node % seed_mod == 0`` (a deterministic predicate both engines
    evaluate identically); r0 = 1.0 on seeds, 0 elsewhere;
    r' = (1-d)*seed_indicator + d * in_contributions. Output
    (node, ppr) over the full node universe.

    Engine parity: same contribute/divide/sum arithmetic as
    `pagerank` (the per-term division is written as DIVISION on both
    sides), 6dp round per ROUND so accumulation order can't drift
    across iterations.

    Scale shape: per round ONE groupBy(dst) exchange (map-side partials
    absorb hub in-degrees) plus a node-sized left join against the
    node universe to re-add restart mass on nodes with no in-edges —
    node-relation traffic only, the pagerank discipline. Each round's
    relation feeds exactly one consumer, so the chain stays LAZY
    (checkpoint every 5th round only, for lineage depth)."""
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    # The edge input is often an EXPENSIVE subtree (co-purchase =
    # lineitem self-join + distinct) referenced once per round PLUS by
    # the node-universe and degree builds — lazy evaluation would
    # recompute it ~(2*iters + 2) times (measured: 48 parquet scans at
    # iters=3). Checkpoint it ONCE (the CLAUDE.md localCheckpoint-
    # inputs rule); unlike HITS' broadcast-cheap edge build, this one
    # is worth materializing.
    raw = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=False)
    nodes = (
        raw.select(F.col("src").alias("node"))
        .union(raw.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn(
            "seed",
            F.when(F.col("node") % seed_mod == 0, F.lit(1.0)).otherwise(F.lit(0.0)),
        )
        .localCheckpoint(eager=False)
    )
    # deg/ranks/contribs are node-sized but derive from checkpointed
    # RDDs (unknown stats) — broadcast hints keep the edge mass out of
    # every per-round join exchange (the pagerank/hits discipline)
    deg = raw.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    e = raw.join(F.broadcast(deg), "src")
    ranks = nodes.select("node", F.col("seed").alias("ppr"))
    for i in range(iters):
        rb = F.broadcast(ranks)
        contribs = (
            rb.join(e, rb["node"] == e["src"])
            .select("dst", (F.col("ppr") / F.col("outdeg")).alias("w"))
            .groupBy("dst")
            .agg(F.sum("w").alias("inw"))
            .select(F.col("dst").alias("node"), "inw")
        )
        ranks = nodes.join(F.broadcast(contribs), "node", "left").select(
            "node",
            F.round(
                (1 - damping) * F.col("seed")
                + damping * F.coalesce(F.col("inw"), F.lit(0.0)),
                6,
            ).alias("ppr"),
        )
        if (i + 1) % 5 == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def personalized_pagerank_oracle_sql(
    edges_cte: str,
    seed_mod: int,
    iters: int = 3,
    damping: float = DAMPING,
) -> str:
    """DuckDB mirror of `personalized_pagerank` over ``edges_cte``
    (must define a CTE `e(src, dst)`): the same restart/contribute
    arithmetic unrolled one CTE per iteration. Each round references
    the previous round ONCE (plus the static node/seed relation), so
    plain CTE inlining stays linear — no AS MATERIALIZED needed (the
    MMR lesson applies only to multi-reference rounds)."""
    ctes = [
        edges_cte.strip(),
        """nodes AS (
        SELECT node,
               CASE WHEN node % {m} = 0 THEN 1.0 ELSE 0.0 END AS seed
        FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)
    )""".format(m=seed_mod),
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        "r0 AS (SELECT node, seed AS ppr FROM nodes)",
    ]
    prev = "r0"
    for i in range(iters):
        cur = f"r{i + 1}"
        ctes.append(f"""{cur} AS (
        SELECT nodes.node,
               round((1 - {damping}) * nodes.seed
                     + {damping} * coalesce(c.inw, 0.0), 6) AS ppr
        FROM nodes LEFT JOIN (
            SELECT e.dst AS node, sum({prev}.ppr / deg.outdeg) AS inw
            FROM {prev} JOIN e ON {prev}.node = e.src
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst
        ) c ON c.node = nodes.node
    )""")
        prev = cur
    return "WITH " + ",\n    ".join(ctes) + f"\n    SELECT node, ppr FROM {prev}"


def modularity(el: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a node partition over a canonical
    undirected edge list ``el(u, v)`` (u < v, distinct) — the
    partition-quality score that tells you whether a community
    structure (label propagation, components, an external clustering)
    actually beats random wiring: Q = sum_c (e_c/m - (d_c/(2m))^2).
    One output row (m, n_communities, modularity).

    Engine parity: e_c (intra-community edge counts), d_c (community
    degree sums) and m are exact integers; each community term is the
    identical IEEE expression and the community-sized sum rounds 6dp
    (Q is O(1); the per-term squares make half-way ties
    measure-zero).

    Scale shape: two label joins keyed on the edge endpoints (the
    label relation is node-sized — broadcast or co-partitioned), one
    community-keyed aggregate; the edge mass is touched once.
    ``labels`` is consumed three times — pass a materialized relation
    (the callers checkpoint the LPA output)."""
    lab = labels.select(F.col("node"), F.col("label"))
    deg = (
        el.select(F.col("u").alias("node"))
        .unionAll(el.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    dc = (
        deg.join(lab, "node")
        .groupBy("label")
        .agg(F.sum("deg").alias("d_c"))
    )
    lu = lab.select(F.col("node").alias("u"), F.col("label").alias("lu"))
    lv = lab.select(F.col("node").alias("v"), F.col("label").alias("lv"))
    ec = (
        el.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    m = el.agg(F.count(F.lit(1)).cast("long").alias("m"))
    terms = (
        dc.join(ec, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "m",
            (
                F.coalesce(F.col("e_c"), F.lit(0)).cast("double") / F.col("m")
                - (F.col("d_c").cast("double") / (2 * F.col("m")))
                * (F.col("d_c").cast("double") / (2 * F.col("m")))
            ).alias("term"),
        )
    )
    return terms.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.round(F.sum("term"), 6).alias("modularity"),
    ).select("m", "n_communities", "modularity")


def modularity_oracle_sql(edges_cte: str, labels_cte: str) -> str:
    """DuckDB mirror of `modularity`: ``edges_cte`` must define
    `el(u, v)`; ``labels_cte`` must define `lfinal(node, label)`."""
    return f"""
    WITH {edges_cte},
    {labels_cte},
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT u AS node FROM el UNION ALL SELECT v FROM el)
        GROUP BY 1
    ),
    dc AS (
        SELECT l.label, sum(deg.deg) AS d_c
        FROM deg JOIN lfinal l ON l.node = deg.node
        GROUP BY 1
    ),
    ec AS (
        SELECT lu.label, CAST(count(*) AS BIGINT) AS e_c
        FROM el
        JOIN lfinal lu ON lu.node = el.u
        JOIN lfinal lv ON lv.node = el.v
        WHERE lu.label = lv.label
        GROUP BY 1
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM el),
    terms AS (
        SELECT m.m,
               CAST(coalesce(ec.e_c, 0) AS DOUBLE) / m.m
               - (CAST(dc.d_c AS DOUBLE) / (2 * m.m))
                 * (CAST(dc.d_c AS DOUBLE) / (2 * m.m)) AS term
        FROM dc LEFT JOIN ec ON ec.label = dc.label CROSS JOIN m
    )
    SELECT m, CAST(count(*) AS BIGINT) AS n_communities,
           round(sum(term), 6) AS modularity
    FROM terms GROUP BY m
    """


def ktruss(edges: DataFrame, k: int, rounds: int = 2) -> DataFrame:
    """(u, v) edges surviving ``rounds`` rounds of k-truss pruning
    (repeatedly delete edges supported by fewer than k-2 triangles in
    the CURRENT subgraph) — the edge-level density filter one notch
    stricter than k-core (a k-core keeps a sparse hub-and-spoke; a
    k-truss demands every edge sit in k-2 closed wedges, isolating
    genuinely cohesive communities). Bounded rounds keep it
    oracle-checkable, exactly like kcore(rounds=...).

    ``edges`` must be canonical undirected (u < v, distinct). Per
    round, triangles enumerate once from DEGREE-ORDERED orientation
    (the triangle_counts plan: every out-neighborhood is O(sqrt(m)),
    hub-safe where the naive canonical wedge join is quadratic on the
    lowest-id hub) and each triangle credits its three CANONICAL
    edges; the support join then prunes the edge relation. The edge
    relation is localCheckpoint'ed per round (it feeds the degree agg,
    both wedge sides, the closing join, and the prune — five
    references); the triangle relation has a single consumer (the
    3-edge in-row explode) so it stays lazy."""
    if k < 3:
        raise ValueError(f"k must be >= 3, got {k}")
    e = edges.select("u", "v").localCheckpoint(eager=False)
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # deg is node-sized but derives from a checkpointed RDD with
        # unknown stats — broadcast it explicitly or the static planner
        # sort-merges and re-exchanges the edge mass per round (the r13
        # batch-4 iterative-graph rule)
        ed = e.join(
            F.broadcast(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du")),
            "u",
        ).join(
            F.broadcast(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv")),
            "v",
        )
        fwd = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        o = ed.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        ).localCheckpoint(eager=False)
        w = (
            o.alias("o1")
            .join(o.alias("o2"), "s")
            .filter(F.col("o1.t") < F.col("o2.t"))
            .select(
                F.col("s").alias("a"),
                F.col("o1.t").alias("x"),
                F.col("o2.t").alias("y"),
            )
        )
        tri = w.join(
            e.select(F.col("u").alias("x"), F.col("v").alias("y")),
            ["x", "y"],
        )
        # each triangle credits its three canonical edges IN-ROW (one
        # explode of an array expression) — the former three union
        # lanes read tri thrice and forced an eager checkpoint per
        # round; a single consumer needs neither (identical edge
        # multiset, so identical support counts)
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.least("a", "x").alias("u"),
                            F.greatest("a", "x").alias("v"),
                        ),
                        F.struct(
                            F.least("a", "y").alias("u"),
                            F.greatest("a", "y").alias("v"),
                        ),
                        F.struct(F.col("x").alias("u"), F.col("y").alias("v")),
                    )
                ).alias("t")
            )
            .select("t.u", "t.v")
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        e = (
            e.join(sup.filter(F.col("support") >= k - 2), ["u", "v"], "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    return e


def ktruss_oracle_sql(k: int, rounds: int = 2, min_qty: int = 45) -> str:
    """DuckDB mirror of `ktruss` over the supplier co-purchase graph:
    the same fixed pruning rounds unrolled as MATERIALIZED CTEs (each
    e{r}/tri{r} is referenced several times per round — DuckDB inlines
    multi-referenced CTEs, the r7 MMR lesson). The oracle enumerates
    triangles in canonical (x < y < z) order — a different enumeration
    of the SAME triangle set as the engine's degree-ordered plan, so
    the per-edge support counts agree exactly."""
    ctes = [
        f"""e0 AS MATERIALIZED (
        SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_suppkey < b.l_suppkey
        WHERE a.l_quantity >= {min_qty} AND b.l_quantity >= {min_qty}
    )"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""tri{r} AS MATERIALIZED (
        SELECT a.u AS x, a.v AS y, b.v AS z
        FROM e{r} a
        JOIN e{r} b ON a.u = b.u AND a.v < b.v
        JOIN e{r} c ON c.u = a.v AND c.v = b.v
    ),
    sup{r} AS MATERIALIZED (
        SELECT u, v, count(*) AS support FROM (
            SELECT x AS u, y AS v FROM tri{r}
            UNION ALL SELECT x, z FROM tri{r}
            UNION ALL SELECT y, z FROM tri{r}
        ) GROUP BY 1, 2
    ),
    e{r + 1} AS MATERIALIZED (
        SELECT e.u, e.v FROM e{r} e
        JOIN sup{r} s ON s.u = e.u AND s.v = e.v
        WHERE s.support >= {k - 2}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT u, v FROM e{rounds}
    """
    )


def attribute_assortativity(
    edges: DataFrame, attrs: DataFrame
) -> DataFrame:
    """Newman's discrete attribute assortativity (homophily
    coefficient) of an undirected graph whose nodes carry a categorical
    attribute — "do same-nation suppliers co-sell more than chance?",
    the categorical sibling of `degree_assortativity`. ``edges`` is
    canonical (u < v, distinct); ``attrs`` maps (node, attr). Output
    ONE row: (n_edges, same_attr_edges, assortativity).

    Integer-cleared form over DIRECTED stub counts (each edge counted
    both ways, T = 2m): with C same-attribute directed edges and s_i
    directed edges sourced from attribute i,
        r = (C*T - sum_i s_i^2) / (T*T - sum_i s_i^2)
    — sum_i s_i^2 is an order-free BIGINT sum, so r is a SINGLE
    division of exact integers, raw. NULL when every node shares one
    attribute (denominator 0).

    Scale shape: two node-keyed attribute joins on the edge relation +
    one attribute-keyed aggregate; nothing pairs beyond the existing
    edges."""
    a = attrs.select(F.col("node").alias("u"), F.col("attr").alias("attr_u"))
    b = attrs.select(F.col("node").alias("v"), F.col("attr").alias("attr_v"))
    lab = (
        edges.join(a, "u")
        .join(b, "v")
        .select("attr_u", "attr_v")
        .localCheckpoint(eager=False)  # feeds the same-count, stub, and total aggs
    )
    tot = lab.agg(
        (2 * F.count(F.lit(1))).cast("long").alias("t"),
        (2 * F.sum((F.col("attr_u") == F.col("attr_v")).cast("long")))
        .cast("long")
        .alias("c"),
    )
    stubs = (
        lab.select(F.col("attr_u").alias("attr"))
        .unionAll(lab.select(F.col("attr_v").alias("attr")))
        .groupBy("attr")
        .agg(F.count(F.lit(1)).cast("long").alias("s"))
        .agg(F.sum(F.col("s") * F.col("s")).cast("long").alias("s2"))
    )
    return tot.crossJoin(F.broadcast(stubs)).select(
        F.expr("t div 2").alias("n_edges"),
        F.expr("c div 2").alias("same_attr_edges"),
        F.when(
            F.expr("t * t - s2") != 0,
            F.expr("CAST(c * t - s2 AS DOUBLE) / (t * t - s2)"),
        ).alias("assortativity"),
    )


def homophily_oracle_sql(min_qty: int = 45) -> str:
    """DuckDB mirror of `attribute_assortativity` over the supplier
    co-purchase graph with supplier nation as the attribute."""
    return f"""
    WITH el AS (
        SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_suppkey < b.l_suppkey
        WHERE a.l_quantity >= {min_qty} AND b.l_quantity >= {min_qty}
    ),
    lab AS (
        SELECT sa.s_nationkey AS attr_u, sb.s_nationkey AS attr_v
        FROM el
        JOIN supplier sa ON sa.s_suppkey = el.u
        JOIN supplier sb ON sb.s_suppkey = el.v
    ),
    tot AS (
        SELECT CAST(2 * count(*) AS BIGINT) AS t,
               CAST(2 * sum(CASE WHEN attr_u = attr_v THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM lab
    ),
    stubs AS (
        SELECT CAST(sum(s * s) AS BIGINT) AS s2 FROM (
            SELECT attr, CAST(count(*) AS BIGINT) AS s FROM (
                SELECT attr_u AS attr FROM lab
                UNION ALL SELECT attr_v FROM lab
            ) GROUP BY attr
        )
    )
    SELECT t // 2 AS n_edges, c // 2 AS same_attr_edges,
           CASE WHEN t * t - s2 <> 0
                THEN CAST(c * t - s2 AS DOUBLE) / (t * t - s2) END
               AS assortativity
    FROM tot CROSS JOIN stubs
    """


def eigenvector_centrality(edges: DataFrame, iters: int = 3) -> DataFrame:
    """(node, score) after ``iters`` rounds of L1-normalized power
    iteration on an UNDIRECTED edge relation (u < v, distinct) —
    eigenvector centrality: a node matters when its neighbors matter.
    The undirected companion of `pagerank` (no damping, no dangling
    mass: influence flows along co-occurrence, not hyperlinks) and of
    `hits` (one score, symmetric adjacency). Use it to rank suppliers/
    domains inside an influence web where degree alone over-counts
    leaf-heavy hubs.

    Per round: raw(v) = sum of x(u) over neighbors (ONE node-keyed
    exchange on the both-ways edge view), then x = round(raw / sum(raw),
    6) — the L1 normalizer is a 1-row broadcast scalar, and the 6 dp
    re-sync erases the ~1e-13 neighbor-sum accumulation noise so the
    oracle unrolls bit-identical rounds (the `hits` discipline).
    Isolated nodes cannot appear (every node comes off an edge).

    Scale shape: the both-ways view is checkpointed ONCE (the edge
    build is exchange-bearing — the pagerank-input regime, not the
    cheap-rescan hits regime) and each round costs exactly one
    exchange; each normalized x is eagerly checkpointed (raw is
    referenced by the normalizer AND the join — lazy lineage doubles
    per round otherwise, the r7 HITS lesson)."""
    und = (
        edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionAll(edges.select(F.col("v").alias("a"), F.col("u").alias("b")))
        # exchange-bearing build (self-join + distinct upstream),
        # referenced every round — materialize once
        .localCheckpoint(eager=False)
    )
    nodes = und.select(F.col("a").alias("node")).distinct().localCheckpoint(eager=False)
    x = nodes.select("node", F.lit(1.0).alias("x"))
    for _ in range(iters):
        # x / raw are node-sized but derive from checkpointed RDDs
        # (unknown stats) — broadcast hints keep the edge mass out of
        # the per-round join exchanges (the pagerank/hits discipline).
        # EVERY node appears as `b` in the both-ways view, so the old
        # per-round nodes left-join re-padded nothing (its coalesce
        # branch was dead) and is gone (r13); the checkpoint moves to
        # raw, the doubling point (normalizer + projection read it).
        xb = F.broadcast(x)
        raw = (
            und.join(xb, und["a"] == xb["node"])
            .groupBy("b")
            .agg(F.sum("x").alias("r"))
            .localCheckpoint(eager=False)
        )
        tot = raw.agg(F.sum("r").alias("tot"))
        x = raw.crossJoin(F.broadcast(tot)).select(
            F.col("b").alias("node"),
            F.round(F.col("r") / F.col("tot"), 6).alias("x"),
        )
    return x.select("node", F.col("x").alias("score"))


COPURCHASE_EDGES_ORACLE = """
    el AS (
        SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        FROM lineitem a
        JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                       AND a.l_suppkey < b.l_suppkey
        WHERE a.l_quantity >= {min_qty} AND b.l_quantity >= {min_qty}
    )"""


def eigenvector_oracle_sql(min_qty: int = 45, iters: int = 3) -> str:
    """DuckDB mirror of `eigenvector_centrality` over copurchase_edges:
    the same raw-sum / L1-normalize / round-6dp rounds unrolled."""
    ctes = [
        COPURCHASE_EDGES_ORACLE.format(min_qty=min_qty).strip(),
        "und AS (SELECT u AS a, v AS b FROM el"
        " UNION ALL SELECT v AS a, u AS b FROM el)",
        "evnodes AS (SELECT DISTINCT a AS node FROM und)",
        "x0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS x FROM evnodes)",
    ]
    px = "x0"
    for i in range(iters):
        ctes.append(
            f"""evr{i} AS MATERIALIZED (
        SELECT und.b, sum({px}.x) AS r
        FROM {px} JOIN und ON {px}.node = und.a GROUP BY und.b
    )"""
        )
        ctes.append(
            f"""x{i + 1} AS MATERIALIZED (
        SELECT evnodes.node,
               round(coalesce(evr{i}.r, CAST(0 AS DOUBLE))
                     / (SELECT sum(r) FROM evr{i}), 6) AS x
        FROM evnodes LEFT JOIN evr{i} ON evnodes.node = evr{i}.b
    )"""
        )
        px = f"x{i + 1}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, x AS score FROM {px}"""
    )


def katz_centrality(
    edges: DataFrame, alpha: float = 0.1, iters: int = 3
) -> DataFrame:
    """(node, score) after ``iters`` rounds of the Katz recurrence
    x' = alpha * A x + 1 on an UNDIRECTED edge relation (u < v,
    distinct) — Katz centrality: influence with a baseline, counting
    walks of every length damped by alpha. The third member of the
    influence desk: eigenvector centrality zeroes out nodes outside
    the dominant component's core, PageRank redistributes via random
    jumps; Katz gives every node its +1 floor and rewards reachable
    volume — the ranking of choice for sparse co-occurrence graphs
    with many near-isolated nodes.

    Per round: raw(v) = sum of x(u) over neighbors (ONE node-keyed
    exchange on the both-ways edge view), then
    x = round(alpha * raw + 1, 6) — the 6 dp re-sync erases the
    ~1e-13 neighbor-sum accumulation noise so the oracle unrolls
    bit-identical rounds (the eigenvector/hits discipline).

    Scale shape: both-ways view checkpointed ONCE (exchange-bearing
    build, referenced every round + the node derivation); the rounds
    then chain LAZILY in one job — unlike eigenvector/hits, Katz has
    NO normalizer, so each round's x is referenced exactly once (the
    next round's join) and the r7 lineage-doubling regime never
    applies: plan depth grows linearly with ``iters`` and the former
    per-round eager localCheckpoint re-paid a driver-blocking job per
    round for nothing (r14; the r13 "chain bounded iterations LAZILY"
    rule)."""
    und = (
        edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionAll(edges.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .localCheckpoint(eager=False)
    )
    # nodes is referenced once (x0) — it stays lazy inside the chain.
    nodes = und.select(F.col("a").alias("node")).distinct()
    x = nodes.select("node", F.lit(1.0).alias("x"))
    for _ in range(iters):
        # x is node-sized but derives from checkpointed RDDs (unknown
        # stats) — the broadcast hint keeps the edge mass out of the
        # per-round join exchange (the pagerank/hits discipline).
        # EVERY node appears as `b` in the both-ways view, so the old
        # per-round nodes left-join re-padded nothing (its coalesce
        # branch was dead) and is gone (r13).
        xb = F.broadcast(x)
        x = (
            und.join(xb, und["a"] == xb["node"])
            .groupBy("b")
            .agg(F.sum("x").alias("r"))
            .select(
                F.col("b").alias("node"),
                F.round(F.lit(alpha) * F.col("r") + F.lit(1.0), 6).alias(
                    "x"
                ),
            )
        )
    return x.select("node", F.col("x").alias("score"))


def katz_oracle_sql(
    min_qty: int = 45, alpha: float = 0.1, iters: int = 3
) -> str:
    """DuckDB mirror of `katz_centrality` over copurchase_edges: the
    same raw-sum / alpha-damp / +1 / round-6dp rounds unrolled."""
    ctes = [
        COPURCHASE_EDGES_ORACLE.format(min_qty=min_qty).strip(),
        "kund AS (SELECT u AS a, v AS b FROM el"
        " UNION ALL SELECT v AS a, u AS b FROM el)",
        "knodes AS (SELECT DISTINCT a AS node FROM kund)",
        "kx0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS x FROM knodes)",
    ]
    px = "kx0"
    for i in range(iters):
        ctes.append(
            f"""kr{i} AS MATERIALIZED (
        SELECT kund.b, sum({px}.x) AS r
        FROM {px} JOIN kund ON {px}.node = kund.a GROUP BY kund.b
    )"""
        )
        ctes.append(
            f"""kx{i + 1} AS MATERIALIZED (
        SELECT knodes.node,
               round({alpha!r} * coalesce(kr{i}.r, CAST(0 AS DOUBLE))
                     + 1.0, 6) AS x
        FROM knodes LEFT JOIN kr{i} ON knodes.node = kr{i}.b
    )"""
        )
        px = f"kx{i + 1}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, x AS score FROM {px}"""
    )


def edge_embeddedness(edges: DataFrame, k: int = 25) -> DataFrame:
    """Top-k EXISTING edges by embeddedness: common neighbors of the
    endpoints over their union neighborhood (endpoints excluded) —
    Granovetter's tie-strength proxy. The link-prediction desk
    (`neighbor_jaccard`, `adamic_adar`) scores NON-edges; this scores
    the edges you already have: an edge with zero embeddedness is a
    local bridge whose removal disconnects its neighborhoods.
    Output (u, v, n_common, embeddedness) ranked (emb desc, u, v).

    ``edges`` must be canonical undirected (u < v, distinct). Same
    wedge-join shape as `neighbor_jaccard` but with an INNER join
    against the edge list (cost = sum of squared degrees — cap hub
    neighborhoods upstream at 100 TB); the score cn/(da+db-2-cn) is
    one division of exact BIGINTs, so ranking on the raw value with
    the pair tiebreak is deterministic (emitted value rounds 6dp for
    the driver hash)."""
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    wedges = (
        adj.alias("x")
        .join(adj.alias("y"), F.col("x.nbr") == F.col("y.nbr"))
        .filter(F.col("x.node") < F.col("y.node"))
        .select(F.col("x.node").alias("u"), F.col("y.node").alias("v"))
    )
    on_edges = wedges.join(
        edges.select("u", "v"), ["u", "v"], "left_semi"
    )
    cn = on_edges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    scored = (
        cn.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .withColumn(
            "emb_raw",
            F.col("n_common")
            / (F.col("du") + F.col("dv") - 2 - F.col("n_common")),
        )
    )
    return (
        scored.orderBy(F.col("emb_raw").desc(), "u", "v")
        .limit(k)
        .select("u", "v", "n_common", F.round("emb_raw", 6).alias("embeddedness"))
    )


def edge_embeddedness_oracle_sql(edges_cte: str, k: int = 25) -> str:
    """DuckDB mirror of `edge_embeddedness` over ``edges_cte`` (must
    define a CTE `el(u, v)` of canonical undirected edges)."""
    return f"""
    WITH {edges_cte},
    adj AS (
        SELECT u AS node, v AS nbr FROM el
        UNION ALL SELECT v AS node, u AS nbr FROM el
    ),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    wedges AS (
        SELECT x.node AS u, y.node AS v
        FROM adj x JOIN adj y ON x.nbr = y.nbr
        WHERE x.node < y.node
    ),
    cn AS (
        SELECT w.u, w.v, CAST(count(*) AS BIGINT) AS n_common
        FROM wedges w
        WHERE EXISTS (SELECT 1 FROM el e WHERE e.u = w.u AND e.v = w.v)
        GROUP BY w.u, w.v
    )
    SELECT c.u, c.v, c.n_common,
           round(c.n_common * 1.0 / (du.d + dv.d - 2 - c.n_common), 6)
               AS embeddedness
    FROM cn c
    JOIN deg du ON du.node = c.u
    JOIN deg dv ON dv.node = c.v
    ORDER BY c.n_common * 1.0 / (du.d + dv.d - 2 - c.n_common) DESC,
             c.u, c.v
    LIMIT {k}
    """


def degree_centralization(edges: DataFrame, dp: int = 6) -> DataFrame:
    """Freeman degree centralization of an undirected graph: how
    star-like is the topology — sum(dmax - d_i) over the maximum
    possible (n-1)(n-2) attained by the star. 0 = perfectly regular
    (every node equal), 1 = one hub carries everything. The single-
    number summary of the degree histogram that q_powerlaw_alpha fits
    a tail to and q_key_skew_profile reads as shuffle-risk: high
    centralization = hub keys = skew-split territory. Output ONE
    row: (n_nodes, n_edges, dmax, centralization).

    ``edges`` must be canonical undirected (u < v, distinct). Degree
    sums are exact BIGINTs; centralization is one double division
    rounded ``dp``.

    Scale shape (100 TB): one degree aggregate (node-bounded) + one
    scalar reduce; nothing quadratic anywhere."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    return deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum("d").cast("long") / 2).cast("long").alias("n_edges"),
        F.max("d").cast("long").alias("dmax"),
        F.sum("d").cast("long").alias("dsum"),
    ).select(
        "n_nodes",
        "n_edges",
        "dmax",
        F.round(
            (F.col("n_nodes") * F.col("dmax") - F.col("dsum")).cast("double")
            / ((F.col("n_nodes") - 1) * (F.col("n_nodes") - 2)),
            dp,
        ).alias("centralization"),
    )


def degree_centralization_oracle_sql(edges_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `degree_centralization` over ``edges_sql``
    yielding canonical undirected (u, v) rows."""
    return f"""
    WITH dgc_el AS ({edges_sql}),
    dgc_deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT u AS node FROM dgc_el
              UNION ALL SELECT v FROM dgc_el)
        GROUP BY node
    ),
    dgc_s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(d) // 2 AS BIGINT) AS n_edges,
               CAST(max(d) AS BIGINT) AS dmax,
               CAST(sum(d) AS BIGINT) AS dsum
        FROM dgc_deg
    )
    SELECT n_nodes, n_edges, dmax,
           round(CAST(n_nodes * dmax - dsum AS DOUBLE)
                 / ((n_nodes - 1) * (n_nodes - 2)), {dp}) AS centralization
    FROM dgc_s
    """
