"""Graph-layer queries (SURVEY.md §2.5 J6, §2.1 S9, §5.1 validation corpus)
exercised through the PropertyGraph vertex/edge DataFrames."""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.functions import hll
from graph_etl_pipeline_spark.graph.build import star_graph
from graph_etl_pipeline_spark.io import memo, table
from graph_etl_pipeline_spark.registry import register


@register(
    "graph_count_by_label",
    oracle="""
    SELECT 'vertex' AS kind, label, n FROM (
        SELECT 'Region' AS label, COUNT(*) AS n FROM region
        UNION ALL SELECT 'Nation', COUNT(*) FROM nation
        UNION ALL SELECT 'Customer', COUNT(*) FROM customer
        UNION ALL SELECT 'Supplier', COUNT(*) FROM supplier
        UNION ALL SELECT 'Order', COUNT(*) FROM orders
    )
    UNION ALL
    SELECT 'edge' AS kind, rel_type AS label, n FROM (
        SELECT 'IN_REGION' AS rel_type, COUNT(*) AS n FROM nation
        UNION ALL SELECT 'IN_NATION', COUNT(*) FROM customer
        UNION ALL SELECT 'SUPP_NATION', COUNT(*) FROM supplier
        UNION ALL SELECT 'PLACED_BY', COUNT(*) FROM orders
    )
    """,
    tags=("graph", "agg"),
)
def graph_count_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/A1: catalog stats — node counts per label + edge counts per type
    (reference: src/db/neo4j_db.py:122-149 get_stats; the 1+N+1 query loop
    becomes two hash aggregations over the union views)."""
    g = star_graph(spark, sf_dir)
    v = g.label_counts().select(F.lit("vertex").alias("kind"), "label", "n")
    e = g.edge_type_counts().select(
        F.lit("edge").alias("kind"), F.col("rel_type").alias("label"), "n"
    )
    return v.unionByName(e)


@register(
    "graph_reachability",
    oracle="""
    SELECT r_name AS root, COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("graph", "traversal"),
)
def graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: bounded variable-length traversal (reference: schema.cql:122 —
    AVV HAS_PARENT level 3→2→1 rollup; Schema_Doku.pdf §6 NEXT_CHECK
    chains). Frontier iteration from each Region root over reversed
    containment edges; the oracle is the closed-form join chain, so the
    iterative engine must converge to exactly the static plan's answer."""
    g = star_graph(spark, sf_dir)
    roots = g.vertices.filter(F.col("label") == "Region").select(
        "uid", F.col("name").alias("root")
    )
    visited = g.reachable(
        roots, rel_types=("IN_REGION", "IN_NATION"), direction="in", max_depth=3
    )
    customers = g.vertices.filter(F.col("label") == "Customer").select("uid")
    return (
        visited.join(customers, "uid")
        .groupBy("root")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "graph_orphan_antijoin",
    oracle="""
    SELECT CAST('C' || CAST(c_custkey AS VARCHAR) AS VARCHAR) AS uid,
           c_name AS name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("graph", "audit"),
)
def graph_orphan_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation corpus: orphan detection (reference:
    etl_implementation.md:238 — WasteItems with no DISPOSED_IN/DISPOSED_AT
    edge). Customers with no incoming PLACED_BY edge, via the graph
    layer's anti-join."""
    g = star_graph(spark, sf_dir)
    return g.orphans("Customer", rel_types=("PLACED_BY",), direction="in").select(
        "uid", "name"
    )


@register(
    "graph_pattern_match",
    oracle="""
    SELECT n_name AS dst_name, COUNT(*) AS n_edges
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("graph",),
)
def graph_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern API (SURVEY §4.2): `MATCH (:Customer)-[:IN_NATION]->(:Nation)`
    via PropertyGraph.match — edge fan-in per nation (reference
    etl_implementation.md:249-251 items-per-stream shape, through the
    graph ergonomics layer instead of raw joins)."""
    g = star_graph(spark, sf_dir)
    return (
        g.match("Customer", "IN_NATION", "Nation")
        .groupBy(F.col("dst_name").alias("dst_name"))
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


@register(
    "graph_connected_components",
    oracle="""
    SELECT uid, component FROM (
        SELECT 'C' || CAST(c_custkey AS VARCHAR) AS uid,
               'C' || CAST(c_custkey AS VARCHAR) AS component
        FROM customer
        UNION ALL
        SELECT 'O' || CAST(o_orderkey AS VARCHAR),
               'C' || CAST(o_custkey AS VARCHAR)
        FROM orders
    )
    """,
    tags=("graph", "iterative"),
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed connected components (PropertyGraph.connected_components:
    hash-min rounds, star contraction past HASH_MIN_ROUNDS) over the
    PLACED_BY subgraph: customers ∪ their orders. Ground truth is
    closed-form — each component is one customer plus their orders, and
    since 'C…' sorts before 'O…' the min-uid representative is always the
    customer's uid — so the ITERATIVE algorithm must converge to exactly
    the static answer (same oracle discipline as graph_reachability). Customers
    with no orders stay singleton components. Multi-hop convergence on a
    long planted chain is exercised in tests/test_library.py."""
    from graph_etl_pipeline_spark.graph.model import PropertyGraph

    g = star_graph(spark, sf_dir)
    sub = PropertyGraph(
        vertices=g.vertices.filter(F.col("label").isin("Customer", "Order")),
        edges=g.edges.filter(F.col("rel_type") == "PLACED_BY"),
    )
    return sub.connected_components()


@register(
    "graph_triangle_count",
    # Oracle counts triangles with plain ID-ordered edges (u < v) and a
    # three-way self-join — orientation-invariant, so it checks the Spark
    # side's degree-oriented algorithm against an INDEPENDENT formulation.
    oracle="""
    WITH per_user_hour AS (
        SELECT date_trunc('hour', ts) AS h, user_id, MIN(ts) AS first_ts
        FROM events GROUP BY 1, 2
    ),
    chained AS (
        SELECT h, user_id,
               LAG(user_id) OVER (PARTITION BY h ORDER BY first_ts, user_id) AS prev_id
        FROM per_user_hour
    ),
    edges AS (
        SELECT DISTINCT LEAST(user_id, prev_id) AS u, GREATEST(user_id, prev_id) AS v
        FROM chained WHERE prev_id IS NOT NULL
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM edges e1 JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    nodes AS (
        SELECT COUNT(DISTINCT x) AS n_nodes
        FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
    ),
    ec AS (SELECT COUNT(*) AS n_edges FROM edges)
    SELECT n_nodes, n_edges, n_triangles FROM nodes, ec, tri
    """,
    tags=("graph", "agg"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the user-interaction graph (users linked
    when consecutive in an hour's activity chain — a sparse handoff graph
    whose node count scales with SF, unlike co-occurrence cliques).

    The triangle join is DEGREE-ORIENTED (Cohen's map-reduce triangle
    algorithm / the 'compact-forward' orientation): every edge points
    from its lower-(degree, id) endpoint to the higher one, so each
    triangle is generated exactly once and — the scale property — wedge
    fanout at a node is its OUT-degree under orientation, which is
    O(sqrt(m)) for any graph. A celebrity node with 10M neighbors
    contributes almost no wedges because nearly all its edges point IN;
    the ID-only orientation the oracle uses has no such bound (a
    low-id hub would fan out its full degree). Degrees are a node-count
    sized table, joined by BROADCAST onto the edge list — the edge fact
    table shuffles only for the wedge join itself.

    Chain derivation windows are per-(hour, bucket) partitions (no
    global ordering anywhere); the time-bounded key plus the
    CHAIN_HOUR_CAP adaptive bucket width keeps window tasks evenly
    sized at any scale."""
    edges = interaction_edges(spark, sf_dir)
    tri = _oriented_triangles(edges).agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = edges.select(F.explode(F.array("u", "v")).alias("node")).agg(
        F.count_distinct(F.col("node")).alias("n_nodes"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
    )
    return stats.join(tri)  # two 1-row sides: broadcast scalar combine


def _both_ways(edges: DataFrame) -> DataFrame:
    """Directed view ``(s, t)`` of the undirected edge list ``edges(u, v)``:
    each edge once in each direction."""
    return edges.select(F.col("u").alias("s"), F.col("v").alias("t")).unionAll(
        edges.select(F.col("v").alias("s"), F.col("u").alias("t"))
    )


def _widen(df: DataFrame, key: str) -> DataFrame:
    """Hash ``df`` by ``key`` at ``spark.sql.shuffle.partitions``, ahead of
    a join that explodes it (wedges, basket pairs, frontier expansion,
    hop bitsets). The planner sizes such a probe by its input bytes,
    which are small, so it keeps the scan's few partitions and the
    blow-up runs near-serially at any core count: at sf0.1 the jaccard
    wedge join made 11.1M rows from 182k edge rows on 2 tasks. The width
    is the session's, never a local constant, and at real scale this is
    the exchange a shuffle join on ``key`` would insert anyway."""
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(width, key)


def _bfs_forward(bi: DataFrame, sources: DataFrame, hops: int) -> DataFrame:
    """Bounded multi-source BFS over ``bi(s, t)`` from every ``node`` of
    ``sources``, as ``settled(src, node, dist, sigma)``: each node within
    ``hops`` of ``src`` once, at its distance, with ``sigma`` its number
    of shortest src→node paths (the Brandes forward pass on a composite
    ``(src, node)`` key). A round expands only the last frontier, sums
    sigma over in-edges, and anti-joins the settled set, so only the
    first, shortest discovery keeps a row.

    Intermediate rounds are pinned: the frontier feeds both the next
    join and the union, and the union feeds the next anti-join. The last
    round stays lazy; its consumer decides whether to pin it."""
    settled = sources.select(
        F.col("node").alias("src"),
        "node",
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint(eager=True)
    frontier = settled
    for rnd in range(1, hops + 1):
        expanded = (
            frontier.join(bi, frontier.node == bi.s)
            .groupBy("src", F.col("t").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        frontier = expanded.join(settled, ["src", "node"], "left_anti").select(
            "src", "node", F.lit(rnd).cast("long").alias("dist"), "sigma"
        )
        if rnd < hops:
            frontier = frontier.localCheckpoint(eager=True)
            settled = settled.unionByName(frontier).localCheckpoint(eager=True)
        else:
            settled = settled.unionByName(frontier)
    return settled


def _fold_hops(
    bi: DataFrame,
    state: DataFrame,
    hops: int,
    merge: Callable[[DataFrame], DataFrame],
) -> list[DataFrame]:
    """The per-node ``state(node, ...)`` after each of ``hops`` hops over
    ``bi(s, t)``: hop t is ``merge`` of the hop t-1 rows of a node and of
    its out-neighbours. With an idempotent ``merge`` (bitset OR, register
    MAX) hop t summarizes the node's t-hop ball. The neighbours' rows are
    a join of ``bi`` to the state on ``t``, so ``merge`` sees one row per
    edge and should be map-combinable.

    Every hop but the last is pinned: it is read by the next hop's join
    and by the caller's per-hop readout. The last stays lazy."""
    payload = [c for c in state.columns if c != "node"]
    states = []
    for hop in range(1, hops + 1):
        nbrs = bi.join(state.withColumnRenamed("node", "t"), "t").select(
            F.col("s").alias("node"), *payload
        )
        state = merge(nbrs.unionByName(state))
        if hop < hops:
            state = state.localCheckpoint(eager=True)
        states.append(state)
    return states


def _oriented_triangles(edges: DataFrame) -> DataFrame:
    """Every triangle of the undirected edge list ``edges(u, v)`` exactly
    once, as (x, y, z) under the degree-rank orientation — the shared
    core of graph_triangle_count (global count) and
    graph_clustering_coefficient (per-vertex credit). See
    graph_triangle_count's docstring for the O(sqrt(m)) wedge-fanout
    argument; the node-degree table broadcasts onto the edge fact."""
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    ranked = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    e1 = _widen(oriented, "dst").alias("e1")
    e2, e3 = oriented.alias("e2"), oriented.alias("e3")
    wedges = e1.join(e2, F.col("e1.dst") == F.col("e2.src")).select(
        F.col("e1.src").alias("x"), F.col("e2.src").alias("y"), F.col("e2.dst").alias("z")
    )
    return wedges.join(
        e3, (F.col("e3.src") == F.col("x")) & (F.col("e3.dst") == F.col("z"))
    ).select("x", "y", "z")




# PageRank in fixed-point: ranks are int64 micro-units (1e-12), so every
# engine-side operation is integer add/multiply/floor-divide — there is
# no decimal-division scale rule or double rounding to reconcile between
# Spark and DuckDB. 0.15/0.85 damping becomes +150_000_000_000 and
# (85*s) div 100. int64 headroom: total mass ≈ |V|·1e12, and 85·mass
# must stay under 2^63 ⇒ safe to ~10^5 vertices per unit; at larger |V|
# shrink the unit (1e-9) or widen to DECIMAL(38,0) — same plan shape.
PAGERANK_UNIT = 1_000_000_000_000
PAGERANK_ITERS = 3


@register(
    "graph_pagerank",
    oracle=f"""
    WITH verts AS (
        SELECT 'C' || c_custkey AS v FROM customer
        UNION ALL SELECT 'N' || n_nationkey FROM nation
        UNION ALL SELECT 'R' || r_regionkey FROM region
    ),
    edges AS (
        SELECT 'C' || c_custkey AS src, 'N' || c_nationkey AS dst FROM customer
        UNION ALL SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
    ),
    ed AS (
        SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS d FROM edges
    ),
    r0 AS (SELECT v, CAST({PAGERANK_UNIT} AS BIGINT) AS r FROM verts),
    c1 AS (SELECT ed.dst AS v, CAST(SUM(r0.r // ed.d) AS BIGINT) AS s
           FROM ed JOIN r0 ON ed.src = r0.v GROUP BY ed.dst),
    r1 AS (SELECT r0.v,
                  CAST({PAGERANK_UNIT * 15 // 100}
                       + (85 * COALESCE(c1.s, 0)) // 100 AS BIGINT) AS r
           FROM r0 LEFT JOIN c1 ON r0.v = c1.v),
    c2 AS (SELECT ed.dst AS v, CAST(SUM(r1.r // ed.d) AS BIGINT) AS s
           FROM ed JOIN r1 ON ed.src = r1.v GROUP BY ed.dst),
    r2 AS (SELECT r1.v,
                  CAST({PAGERANK_UNIT * 15 // 100}
                       + (85 * COALESCE(c2.s, 0)) // 100 AS BIGINT) AS r
           FROM r1 LEFT JOIN c2 ON r1.v = c2.v),
    c3 AS (SELECT ed.dst AS v, CAST(SUM(r2.r // ed.d) AS BIGINT) AS s
           FROM ed JOIN r2 ON ed.src = r2.v GROUP BY ed.dst),
    r3 AS (SELECT r2.v,
                  CAST({PAGERANK_UNIT * 15 // 100}
                       + (85 * COALESCE(c3.s, 0)) // 100 AS BIGINT) AS r
           FROM r2 LEFT JOIN c3 ON r2.v = c3.v)
    SELECT v AS vertex, r AS rank_fp FROM r3
    """,
    tags=("graph", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank over the customer→nation→region membership DAG,
    {it} fixed iterations, dangling mass dropped (the standard
    no-redistribution variant). Per iteration: one equi-join of the rank
    table to the (static, degree-annotated) edge table + one hash
    aggregation on dst + one left join back to the vertex set — the
    GraphX Pregel step expressed as DataFrames. Out-degrees are computed
    ONCE outside the loop and ride the edge rows, so iterations never
    re-aggregate the graph; at cluster scale both edges and ranks hash-
    partition by the join key and the per-iteration shuffle is bounded
    by |E|. Fixed-point int64 arithmetic (see PAGERANK_UNIT) makes every
    iteration exact — results are hash-identical across engines,
    partitionings, and cluster sizes, which a double-precision PageRank
    cannot promise. A fixed iteration count needs no convergence probe,
    so the iterations are one lazy plan with nothing pinned.""".replace(
        "{it}", str(PAGERANK_ITERS)
    )
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")

    def tag(prefix: str, c) -> F.Column:
        return F.concat(F.lit(prefix), c.cast("string"))

    verts = (
        cust.select(tag("C", F.col("c_custkey")).alias("v"))
        .unionAll(nat.select(tag("N", F.col("n_nationkey")).alias("v")))
        .unionAll(reg.select(tag("R", F.col("r_regionkey")).alias("v")))
    )
    edges = cust.select(
        tag("C", F.col("c_custkey")).alias("src"),
        tag("N", F.col("c_nationkey")).alias("dst"),
    ).unionAll(
        nat.select(
            tag("N", F.col("n_nationkey")).alias("src"),
            tag("R", F.col("n_regionkey")).alias("dst"),
        )
    )
    from pyspark.sql import Window

    ed = edges.select(
        "src", "dst", F.count(F.lit(1)).over(Window.partitionBy("src")).alias("d")
    )

    teleport = PAGERANK_UNIT * 15 // 100
    ranks = verts.select("v", F.lit(PAGERANK_UNIT).cast("long").alias("r"))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            ed.join(ranks, ed.src == ranks.v)
            .select(F.col("dst").alias("v"), F.expr("r div d").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        ranks = ranks.join(contrib, "v", "left").select(
            "v",
            (
                F.lit(teleport)
                + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")
            ).cast("long").alias("r"),
        )
    return ranks.select(F.col("v").alias("vertex"), F.col("r").alias("rank_fp"))


SSSP_ROUNDS = 4  # bounded Bellman-Ford relaxation rounds


def interaction_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected user-interaction chain edges (u < v): users linked when
    consecutive in an hour's activity chain — the shared sparse graph under
    triangle counting, SSSP, k-core, and the adversarial-topology tests.
    Chain windows are per-(hour, bucket) partitions with the bucket count
    derived from the observed per-hour max (CHAIN_HOUR_CAP note above):
    the derivation shuffles by a time-bounded key AND no single window
    task sorts more than ~cap users, whatever one hot hour holds. The
    probe is a map-combined per-hour count folded to one broadcast row —
    no driver collect, no plan nondeterminism (the bucket count is a pure
    function of the data both engines compute identically)."""
    from pyspark.sql import Window

    from graph_etl_pipeline_spark.io import materialize

    ev = table(spark, sf_dir, "events")
    # materialize (not localCheckpoint): the width probe, the chain
    # window, AND callers' u/v union branches all reference this frame —
    # without truncation the events aggregation would re-execute once per
    # reference (the kcore_peel lineage discipline). Content-addressed
    # parquet further means the EIGHT graph queries sharing this edge
    # list build it once per process and every later caller starts from
    # a scan — the production shape (the interaction graph is a persisted
    # derived table, not a per-query recompute). The table is (hours ×
    # active users) rows, far smaller than events.
    per_uh = materialize(
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .agg(F.min("ts").alias("first_ts")),
        "chain_per_uh",
    )
    width = per_uh.groupBy("h").agg(F.count(F.lit(1)).alias("n")).agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.max("n") / F.lit(float(CHAIN_HOUR_CAP))).cast("long"),
        ).alias("nb")
    )
    bucketed = per_uh.crossJoin(F.broadcast(width)).withColumn(
        "bkt", F.abs(F.col("user_id")) % F.col("nb")
    )
    w = Window.partitionBy("h", "bkt").orderBy("first_ts", "user_id")
    chained = bucketed.select("user_id", F.lag("user_id").over(w).alias("prev_id"))
    edges = (
        chained.filter(F.col("prev_id").isNotNull())
        .select(
            F.least("user_id", "prev_id").alias("u"),
            F.greatest("user_id", "prev_id").alias("v"),
        )
        .distinct()
    )
    # the finished edge list is itself materialized: the first caller in
    # a process pays the chain-window build, every subsequent graph query
    # (kcore, sssp, triangle, jaccard, hits, modularity, walks, …) scans
    # the same content-addressed parquet.
    return materialize(edges, "chain_edges")


def bellman_ford(bi: DataFrame, dist: DataFrame, rounds: int) -> DataFrame:
    """``rounds`` unit-weight Bellman-Ford relaxations over a directed edge
    list ``bi(s, t)`` from seed distances ``dist(node, dist)``. Each round
    relaxes every edge out of the reached set (one |E|-bounded shuffle,
    PageRank's profile) and folds candidates with one min-aggregation.
    The rounds are one lazy plan, in which shuffle-stage reuse already
    dedups the linear dist lineage."""
    for _ in range(rounds):
        relaxed = dist.join(bi, dist.node == bi.s).select(
            F.col("t").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist


@register(
    "graph_sssp_bounded",
    # Same interaction-chain edge derivation as graph_triangle_count;
    # the oracle unrolls the relaxation rounds as CTEs — an independent
    # formulation of the same fixed point.
    oracle=f"""
    WITH per_user_hour AS (
        SELECT date_trunc('hour', ts) AS h, user_id, MIN(ts) AS first_ts
        FROM events GROUP BY 1, 2
    ),
    chained AS (
        SELECT h, user_id,
               LAG(user_id) OVER (PARTITION BY h ORDER BY first_ts, user_id) AS prev_id
        FROM per_user_hour
    ),
    edges AS (
        SELECT DISTINCT LEAST(user_id, prev_id) AS u, GREATEST(user_id, prev_id) AS v
        FROM chained WHERE prev_id IS NOT NULL
    ),
    bi AS (SELECT u AS s, v AS t FROM edges UNION ALL SELECT v, u FROM edges),
    d0 AS (SELECT (SELECT MIN(s) FROM bi) AS node, CAST(0 AS BIGINT) AS dist),
    d1 AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d0
               UNION ALL SELECT bi.t, d0.dist + 1 FROM d0 JOIN bi ON bi.s = d0.node
           ) GROUP BY node),
    d2 AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d1
               UNION ALL SELECT bi.t, d1.dist + 1 FROM d1 JOIN bi ON bi.s = d1.node
           ) GROUP BY node),
    d3 AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d2
               UNION ALL SELECT bi.t, d2.dist + 1 FROM d2 JOIN bi ON bi.s = d2.node
           ) GROUP BY node),
    d4 AS (SELECT node, MIN(dist) AS dist FROM (
               SELECT node, dist FROM d3
               UNION ALL SELECT bi.t, d3.dist + 1 FROM d3 JOIN bi ON bi.s = d3.node
           ) GROUP BY node)
    SELECT node, dist FROM d4
    """,
    tags=("graph", "iterative"),
)
def graph_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths (unit weights) from the smallest
    user id over the interaction-chain graph, bounded to {k} Bellman-
    Ford relaxation rounds — the last of the classic Pregel quartet
    (reachability J6, connected components, PageRank, SSSP) expressed
    as DataFrame iterations. Each round relaxes every edge out of the
    currently-reached set (join on the edge source) and folds the new
    candidates into the distance table with one min-aggregation —
    per-round cost is one |E|-bounded shuffle, exactly PageRank's
    profile. Distances are exact int64 hops; nodes farther than {k}
    hops (or disconnected) are absent, matching the oracle's unrolled
    fixed point.""".replace("{k}", str(SSSP_ROUNDS))
    edges = interaction_edges(spark, sf_dir)
    # Pin the both-ways edge list once: the seed and every relaxation
    # round read it, and unpinned the plan scans the chain_edges parquet
    # twice per read (14 scans). At sf0.1 both forms take ~2.0 s, so the
    # pin saves scans, not time. The rounds stay one lazy plan.
    bi = _both_ways(edges).localCheckpoint(eager=True)
    dist = (
        bi.agg(F.min("s").alias("node"))
        .select("node", F.lit(0).cast("long").alias("dist"))
    )
    return bellman_ford(bi, dist, SSSP_ROUNDS)


COPURCHASE_MIN_SUPPORT = 2
COPURCHASE_BASKET_CAP = 64  # max items per basket before the hot-basket guard


_COPURCHASE_ORACLE = f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM basket a JOIN basket b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {COPURCHASE_MIN_SUPPORT}
    """


def _basket_pair_select(pairs: DataFrame) -> DataFrame:
    """Project the a/b-aliased within-basket pair join to (part_a, part_b)."""
    return pairs.select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )


@register("graph_copurchase_project", oracle=_COPURCHASE_ORACLE, tags=("graph", "join"))
def graph_copurchase_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite-graph projection: collapse the (order, part) bipartite
    edge set into a part–part co-purchase graph weighted by shared-order
    support — the projection step under recommendation graphs and the
    reference's item–stream co-disposal structure (DISPOSED_IN edges
    projected over shared facilities, etl_implementation.md:102-104).

    Scale shape: distinct (order, part) first (dedup repeat lineitems of
    one part — also the projection's correctness: support counts ORDERS,
    not line items), materialized once so the size probe and both join
    sides scan instead of re-running the distinct. The quadratic term is
    per-basket: an order of k parts emits k(k-1)/2 pairs, so the basket
    histogram decides the plan ADAPTIVELY: a map-combined per-order
    count probes for baskets over COPURCHASE_BASKET_CAP. None (TPC-H:
    k ≤ 7, and any sanely bucketed corpus) ⇒ the plain a<b
    self-join, zero extra work. Hot baskets present (power-law corpora —
    exactly the shape a co-occurrence projection gets pointed at) ⇒
    baskets split cold/hot via a broadcast anti/semi join; cold keep the
    plain join, hot go through triangle tiling with per-task pair count
    bounded by cap², and the two disjoint pair sets union. The
    min-support HAVING prunes the long tail map-side-partially before
    the final exchange. Guard engagement is asserted by
    tests/test_adversarial_topology.py's skewed-basket fixture. The
    cap/probe/tile mechanics live in the ONE shared helper,
    operators/pairs.py:bounded_self_pairs."""
    from graph_etl_pipeline_spark.io import materialize
    from graph_etl_pipeline_spark.operators.pairs import bounded_self_pairs

    li = table(spark, sf_dir, "lineitem")
    basket = materialize(
        li.select("l_orderkey", "l_partkey").distinct(), "copurchase_basket"
    )
    # k-item baskets explode into k(k-1)/2 pairs; the tiled hot branch's
    # per-key window reuses this layout.
    basket = _widen(basket, "l_orderkey")
    pairs = bounded_self_pairs(
        basket, "l_orderkey", "l_partkey", COPURCHASE_BASKET_CAP, _basket_pair_select
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= COPURCHASE_MIN_SUPPORT)
    )


KCORE_K = 2
KCORE_ROUNDS = 3

# Max users one chain-window task may sort, so a hot hour with 10M
# actives is never one 10M-row sort task. The bucket count is derived
# IN-QUERY from the observed per-hour max (B = ceil(max_n / cap), the
# pairs.py adaptive probe applied to a window key), so at every test SF
# B = 1 and the graph is bit-identical to the unbucketed chain, while a
# hot hour splits into B hash buckets of ~cap users chained independently
# (abs(user_id) % B is engine-identical; user_id is non-negative in the
# events domain). The closed-form oracle implements the SAME rule, so
# parity holds on any density.
CHAIN_HOUR_CAP = 256

_SQL_CHAIN_EDGES = f"""
    per_user_hour AS (
        SELECT date_trunc('hour', ts) AS h, user_id, MIN(ts) AS first_ts
        FROM events GROUP BY 1, 2
    ),
    chain_width AS (
        SELECT GREATEST(1, CAST(CEIL(MAX(n) / {CHAIN_HOUR_CAP}.0) AS BIGINT)) AS nb
        FROM (SELECT h, COUNT(*) AS n FROM per_user_hour GROUP BY h)
    ),
    chained AS (
        SELECT h, user_id,
               LAG(user_id) OVER (
                   PARTITION BY h, abs(user_id) % nb
                   ORDER BY first_ts, user_id
               ) AS prev_id
        FROM per_user_hour, chain_width
    ),
    e0 AS (
        SELECT DISTINCT LEAST(user_id, prev_id) AS u, GREATEST(user_id, prev_id) AS v
        FROM chained WHERE prev_id IS NOT NULL
    )"""


def _sql_kcore_rounds() -> str:
    ctes = []
    for i in range(1, KCORE_ROUNDS + 1):
        ctes.append(f"""d{i} AS (
        SELECT x AS node, COUNT(*) AS deg FROM (
            SELECT u AS x FROM e{i - 1} UNION ALL SELECT v FROM e{i - 1}
        ) GROUP BY x
    )""")
        ctes.append(f"""s{i} AS (SELECT node FROM d{i} WHERE deg >= {KCORE_K})""")
        ctes.append(f"""e{i} AS (
        SELECT e.u, e.v FROM e{i - 1} e
        JOIN s{i} a ON a.node = e.u JOIN s{i} b ON b.node = e.v
    )""")
    return ",\n    ".join(ctes)


@register(
    "graph_kcore_bounded",
    oracle=f"""
    WITH {_SQL_CHAIN_EDGES},
    {_sql_kcore_rounds()}
    SELECT x AS node, COUNT(*) AS deg FROM (
        SELECT u AS x FROM e{KCORE_ROUNDS} UNION ALL SELECT v FROM e{KCORE_ROUNDS}
    ) GROUP BY x
    """,
    tags=("graph", "iterative"),
)
def graph_kcore_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded {KCORE_K}-core peeling over the user-interaction graph:
    {KCORE_ROUNDS} rounds of "drop every node whose surviving degree is
    < K, then drop its edges" — the community-density primitive under
    spam-ring pruning and graph sparsification. Fixed rounds (the
    pagerank/SSSP convention) keep the oracle a closed-form unrolled CTE
    chain.

    Scale shape per round: one degree aggregation (map-combined — the
    node table is tiny next to edges) and one broadcast anti-join
    pushing the (small) dropped-node set onto the edge list; edges
    shrink monotonically, so every round costs at most |E| and the
    {KCORE_ROUNDS}-round total is bounded by {KCORE_ROUNDS}·|E| — never
    a pairwise blowup."""
    edges = kcore_peel(interaction_edges(spark, sf_dir), KCORE_K, KCORE_ROUNDS)
    return (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """At most ``rounds`` k-core peel rounds over an undirected edge list
    ``edges(u, v)``: each round drops every node whose surviving degree
    is < k, plus its edges. Returns the surviving edge list. A round that
    drops nothing is a fixed point, so the loop stops there (one cheap
    isEmpty probe on the dropped-node table) with the same result the
    remaining rounds would give.

    Per-round cost: one map-combined degree aggregation + one BROADCAST
    anti-join of the dropped-node set (typically far smaller than the
    survivor set — broadcasting the small side matters at 100 TB).
    localCheckpoint truncates lineage each round; without it round N
    re-executes rounds 1..N-1 to build its broadcast AND again for its
    join, an O(rounds²) recompute."""
    for _ in range(rounds):
        deg = (
            edges.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        dropped = deg.filter(F.col("deg") < k).select("node")
        if dropped.isEmpty():
            break
        dropped = F.broadcast(dropped)
        edges = edges.join(
            dropped.withColumnRenamed("node", "u"), "u", "left_anti"
        ).join(dropped.withColumnRenamed("node", "v"), "v", "left_anti")
        edges = edges.localCheckpoint(eager=True)
    return edges


LPA_ROUNDS = 2  # synchronous label-propagation rounds (unrolled oracle)


def _sql_lpa_rounds() -> str:
    ctes = []
    for i in range(1, LPA_ROUNDS + 1):
        ctes.append(f"""cnt{i} AS (
        SELECT b.t AS node, l.label, COUNT(*) AS c
        FROM bi b JOIN l{i - 1} l ON l.node = b.s
        GROUP BY b.t, l.label
    )""")
        ctes.append(f"""pick{i} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
            FROM cnt{i}
        ) WHERE rn = 1
    )""")
        ctes.append(f"""l{i} AS (
        SELECT l.node, COALESCE(p.label, l.label) AS label
        FROM l{i - 1} l LEFT JOIN pick{i} p ON p.node = l.node
    )""")
    return ",\n    ".join(ctes)


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH {_SQL_CHAIN_EDGES},
    bi AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
    l0 AS (SELECT DISTINCT s AS node, s AS label FROM bi),
    {_sql_lpa_rounds()}
    SELECT node, label FROM l{LPA_ROUNDS}
    """,
    tags=("graph", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation (LPA,
    Raghavan et al. 2007) over the user-interaction graph — {LPA_ROUNDS}
    rounds, each node adopting its neighbors' PLURALITY label with a
    deterministic (count DESC, label ASC) tie-break. Distinct from
    hash-min connected components: LPA partitions a connected graph into
    dense communities instead of collapsing it to one label, and the
    plurality vote needs a per-node top-1 — a (node, label) count
    aggregation plus one row_number window — rather than a plain min.

    Scale shape per round: one |E|-bounded shuffle for the neighbor-label
    count (map-combined) and one window over the (node, label) count
    table, which is node-bounded. The label table rides broadcast-sized
    per community only in the pick join; nothing is pairwise. Fixed
    rounds unroll into the closed-form oracle (the pagerank/SSSP
    convention) and need no convergence probe, so the rounds are one lazy
    plan over the pinned edge list.""".replace("{LPA_ROUNDS}", str(LPA_ROUNDS))
    edges = interaction_edges(spark, sf_dir)
    bi = _both_ways(edges).localCheckpoint(eager=True)
    labels = bi.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ROUNDS):
        labels = _lpa_round(bi, labels)
    return labels


def _lpa_round(bi: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous plurality vote over ``bi(s, t)``: each node adopts
    the label most frequent among its neighbors' ``labels(node, label)``,
    ties to the smallest label; a node with no neighbors keeps its own."""
    from pyspark.sql import Window

    cnt = (
        bi.join(labels, labels.node == bi.s)
        .groupBy(F.col("t").alias("cnode"), "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("cnode").orderBy(F.desc("c"), F.asc("label"))
    pick = (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("cnode").alias("node"), F.col("label").alias("new_label"))
    )
    return labels.join(pick, "node", "left").select(
        "node", F.coalesce("new_label", "label").alias("label")
    )


JACCARD_MIN_COMMON = 1  # wedge support floor for candidate pairs
JACCARD_WEDGE_CAP = 256  # max neighbors through one wedge vertex before the
# hot-node guard triangle-tiles its pair generation (operators/pairs.py) —
# a degree-d hub otherwise makes one d² task


@register(
    "graph_jaccard_similarity",
    oracle=f"""
    WITH {_SQL_CHAIN_EDGES},
    bi AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
    deg AS (SELECT s AS node, COUNT(*) AS d FROM bi GROUP BY s),
    wedge AS (
        SELECT a.s AS x, b.s AS y, COUNT(*) AS common
        FROM bi a JOIN bi b ON b.t = a.t AND a.s < b.s
        GROUP BY a.s, b.s
    )
    SELECT w.x, w.y, w.common,
           CAST(dx.d + dy.d - w.common AS BIGINT) AS unioned,
           CAST(w.common AS DOUBLE) / (dx.d + dy.d - w.common) AS jaccard
    FROM wedge w
    JOIN deg dx ON dx.node = w.x
    JOIN deg dy ON dy.node = w.y
    WHERE w.common >= {JACCARD_MIN_COMMON}
    """,
    tags=("graph", "similarity"),
)
def graph_jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity for node pairs — the classic
    link-prediction / entity-matching primitive (|N(x)∩N(y)| over
    |N(x)∪N(y)|). Candidates come from the WEDGE join only (pairs
    sharing ≥ {JACCARD_MIN_COMMON} neighbor, grouped through the common
    neighbor) — the |Γ(v)|²-bounded generation every scalable
    implementation uses, never an all-pairs product; pairs with disjoint
    neighborhoods (Jaccard 0) are structurally absent. Intersections are
    exact integer wedge counts; union sizes come from one degree table
    joined twice; the single double division is correctly rounded from
    exact int64s, so the hash is engine-stable.

    At 100 TB the wedge fanout at a hub node is its degree squared — the
    same power-law hazard as copurchase baskets, bounded the same way:
    wedge generation runs through the shared hot-group guard
    (operators/pairs.py:bounded_self_pairs, keyed on the common
    neighbor, capped at JACCARD_WEDGE_CAP), so a degree-d hub becomes
    (d/cap)² bounded tiles instead of one d² task; graphs with no hub
    pay nothing (plain-join fast path). Guard engagement on a planted
    hub is asserted by tests/test_adversarial_topology.py.""".replace(
        "{JACCARD_MIN_COMMON}", str(JACCARD_MIN_COMMON)
    )
    from graph_etl_pipeline_spark.operators.pairs import bounded_self_pairs

    edges = interaction_edges(spark, sf_dir)
    # widened by the wedge key BEFORE the checkpoint, so the checkpoint
    # keeps the layout
    bi = _widen(_both_ways(edges), "t").localCheckpoint(eager=True)
    deg = bi.groupBy(F.col("s").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    wedge_pairs = bounded_self_pairs(
        bi,
        "t",
        "s",
        JACCARD_WEDGE_CAP,
        lambda j: j.select(F.col("a.s").alias("x"), F.col("b.s").alias("y")),
    )
    wedge = (
        wedge_pairs.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= JACCARD_MIN_COMMON)
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    out = wedge.join(F.broadcast(dx), "x").join(F.broadcast(dy), "y")
    un = F.col("dx") + F.col("dy") - F.col("common")
    return out.select(
        "x",
        "y",
        "common",
        un.cast("long").alias("unioned"),
        (F.col("common").cast("double") / un).alias("jaccard"),
    )


@register(
    "graph_connected_components_star",
    oracle="""
    SELECT uid, component FROM (
        SELECT 'C' || CAST(c_custkey AS VARCHAR) AS uid,
               'C' || CAST(c_custkey AS VARCHAR) AS component
        FROM customer
        UNION ALL
        SELECT 'O' || CAST(o_orderkey AS VARCHAR),
               'C' || CAST(o_custkey AS VARCHAR)
        FROM orders
    )
    """,
    tags=("graph", "iterative"),
)
def graph_connected_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating LARGE-STAR/SMALL-STAR
    contraction (Kiveris et al., SoCC'14) — the web-scale algorithm whose
    round count is O(log² n) worst case regardless of component DIAMETER,
    where hash-min pays one round per hop (a 10⁶-long chain is 10⁶
    hash-min rounds but ~20 star rounds). graph_connected_components
    goes through PropertyGraph.connected_components, which converges in
    its hash-min stage on this shallow graph; this row calls the star
    stage directly on the same closed-form oracle — both must land on
    the identical min-uid labeling.
    Long-chain convergence (where the two differ materially) is pinned in
    tests/test_library.py's planted-chain cases."""
    from graph_etl_pipeline_spark.graph.model import star_contraction_components

    g = star_graph(spark, sf_dir)
    vertices = g.vertices.filter(F.col("label").isin("Customer", "Order"))
    edges = g.edges.filter(F.col("rel_type") == "PLACED_BY")
    labels, _rounds = star_contraction_components(vertices, edges)
    return labels


WALK_STEPS = 3  # fixed walk length (unrolled oracle, pagerank convention)


def _sql_walk_steps() -> str:
    ctes = []
    for i in range(1, WALK_STEPS + 1):
        carried = ", ".join(f"w.p{j}" for j in range(i))
        ctes.append(f"""w{i} AS (
        SELECT w.walk_id, {carried},
               a.nb[1 + (w.p{i - 1} * 2654435761 + {i} * 40503) % len(a.nb)] AS p{i}
        FROM w{i - 1} w JOIN adj a ON a.node = w.p{i - 1}
    )""")
    return ",\n    ".join(ctes)


@register(
    "graph_random_walks",
    oracle=f"""
    WITH {_SQL_CHAIN_EDGES},
    bi AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
    adj AS (SELECT s AS node, list(t ORDER BY t) AS nb FROM bi GROUP BY s),
    w0 AS (SELECT node AS walk_id, node AS p0 FROM adj),
    {_sql_walk_steps()}
    SELECT walk_id, p0, p1, p2, p3 FROM w{WALK_STEPS}
    """,
    tags=("graph", "llm", "embedding"),
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-corpus generation for graph embeddings (DeepWalk/node2vec
    data prep): one length-{WALK_STEPS} walk per node over the
    interaction graph. The step choice is a DETERMINISTIC hash over
    (position, step) — ``(node·2654435761 + step·40503) mod degree``
    into the SORTED adjacency list — because training-data generation
    must be replayable: the same corpus, cluster size, and retry always
    produce the same walks (seeded determinism is the walk-generation
    analogue of the engine's no-Math.random rule; vary the multiplier
    per epoch for fresh walk sets).

    Scale shape: the adjacency table is built once (one groupBy,
    |V|-bounded rows with degree-bounded arrays) and each step is one
    key-partitioned join against it — {WALK_STEPS}·|V| join rows total,
    never materializing anything edge-quadratic. At web scale the
    adjacency table is the bucketed/bucket-joined artifact every epoch
    reuses.""".replace("{WALK_STEPS}", str(WALK_STEPS))
    edges = interaction_edges(spark, sf_dir)
    bi = _both_ways(edges)
    adj = bi.groupBy(F.col("s").alias("node")).agg(
        F.array_sort(F.collect_list("t")).alias("nb")
    ).localCheckpoint(eager=True)

    walks = adj.select(F.col("node").alias("walk_id"), F.col("node").alias("p0"))
    for i in range(1, WALK_STEPS + 1):
        prev = f"p{i - 1}"
        a = adj.select(F.col("node").alias(prev), F.col("nb").alias("_nb"))
        idx = (
            (F.col(prev) * F.lit(2654435761) + F.lit(i * 40503))
            % F.size("_nb")
        ).cast("int")
        walks = (
            walks.join(a, prev)
            .withColumn(f"p{i}", F.element_at("_nb", idx + 1))
            .drop("_nb")
        )
    return walks.select("walk_id", *[f"p{i}" for i in range(WALK_STEPS + 1)])


# --- HITS hubs/authorities ---------------------------------------------------
HITS_TOPK = 20

_HITS_EDGES_SQL = """
        SELECT DISTINCT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


@register(
    "graph_hits",
    oracle=f"""
    WITH e AS ({_HITS_EDGES_SQL}),
    a1 AS (SELECT dst AS v, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY dst),
    h1 AS (SELECT e.src AS v, CAST(SUM(a1.a) AS BIGINT) AS h
           FROM e JOIN a1 ON e.dst = a1.v GROUP BY e.src),
    a2 AS (SELECT e.dst AS v, CAST(SUM(h1.h) AS BIGINT) AS a
           FROM e JOIN h1 ON e.src = h1.v GROUP BY e.dst),
    h2 AS (SELECT e.src AS v, CAST(SUM(a2.a) AS BIGINT) AS h
           FROM e JOIN a2 ON e.dst = a2.v GROUP BY e.src),
    top_auth AS (SELECT 'authority' AS role, v AS vertex, a AS score_fp
                 FROM a2 ORDER BY a DESC, v LIMIT {HITS_TOPK}),
    top_hub AS (SELECT 'hub' AS role, v AS vertex, h AS score_fp
                FROM h2 ORDER BY h DESC, v LIMIT {HITS_TOPK})
    SELECT * FROM top_auth UNION ALL SELECT * FROM top_hub
    """,
    tags=("graph", "iterative"),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over the customer→supplier
    purchase graph — pagerank's companion eigenvector method, and the
    natural one for BIPARTITE influence: a customer is a good HUB if it
    buys from many good suppliers, a supplier a good AUTHORITY if good
    hubs buy from it. Two unrolled mutual-reinforcement rounds (h⁰ = 1 ⇒
    a¹ = in-degree, then h¹ = Σa¹, a² = Σh¹, h² = Σa²) in exact int64 —
    the standard L2 normalization only rescales rankings, so dropping it
    keeps every score an exact integer and the hash engine-stable;
    int64 headroom bounds the unrolled depth at ~4 rounds for this
    graph shape (score ≤ |E|·maxdeg per round), after which a
    production run rescales by a power of two, same plan.

    Per round: one equi-join of the score table to the static distinct
    edge list + one map-combined aggregation — the pagerank step with
    src/dst alternating. Top-{HITS_TOPK} per role is
    TakeOrderedAndProject with a total (score DESC, vertex) order."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    a = e.groupBy(F.col("dst").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    h = (
        e.join(a, e.dst == a.v)
        .groupBy(F.col("src").alias("v"))
        .agg(F.sum("a").alias("h"))
    )
    a2 = (
        e.join(h, e.src == h.v)
        .groupBy(F.col("dst").alias("v"))
        .agg(F.sum("h").alias("a"))
    )
    h2 = (
        e.join(a2, e.dst == a2.v)
        .groupBy(F.col("src").alias("v"))
        .agg(F.sum("a").alias("h"))
    )
    top_auth = (
        a2.orderBy(F.col("a").desc(), "v")
        .limit(HITS_TOPK)
        .select(F.lit("authority").alias("role"), F.col("v").alias("vertex"),
                F.col("a").alias("score_fp"))
    )
    top_hub = (
        h2.orderBy(F.col("h").desc(), "v")
        .limit(HITS_TOPK)
        .select(F.lit("hub").alias("role"), F.col("v").alias("vertex"),
                F.col("h").alias("score_fp"))
    )
    return top_auth.unionAll(top_hub)


@register(
    "graph_assortativity",
    oracle="""
    WITH per_user_hour AS (
        SELECT date_trunc('hour', ts) AS h, user_id, MIN(ts) AS first_ts
        FROM events GROUP BY 1, 2
    ),
    chained AS (
        SELECT h, user_id,
               LAG(user_id) OVER (PARTITION BY h ORDER BY first_ts, user_id) AS prev_id
        FROM per_user_hour
    ),
    base AS (
        SELECT DISTINCT LEAST(user_id, prev_id) AS u,
               GREATEST(user_id, prev_id) AS v
        FROM chained WHERE prev_id IS NOT NULL
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM base UNION ALL SELECT v FROM base
        ) GROUP BY node
    ),
    j AS (
        SELECT du.d AS dj, dv.d AS dk FROM base
        JOIN deg du ON du.node = base.u
        JOIN deg dv ON dv.node = base.v
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(dj * dk) AS BIGINT) AS s_jk,
               CAST(SUM(dj + dk) AS BIGINT) AS s_sum,
               CAST(SUM(dj * dj + dk * dk) AS BIGINT) AS s_sq
        FROM j
    )
    SELECT m, s_jk, s_sum, s_sq,
           CAST(4 * m * s_jk - s_sum * s_sum AS DOUBLE)
           / CAST(2 * m * s_sq - s_sum * s_sum AS DOUBLE) AS assortativity
    FROM s
    """,
    tags=("graph", "profile"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree ASSORTATIVITY (Newman 2002) of the interaction graph — do
    high-degree nodes attach to other high-degree nodes (r > 0, social
    networks) or to low-degree ones (r < 0, technological/star
    topologies)? The one-number structural profile that predicts
    whether hub-capping guards (copurchase, jaccard) will actually be
    exercised. Computed exactly: per-edge endpoint-degree pairs feed
    integer sums (m, Σjk, Σ(j+k), Σ(j²+k²)), and r arrives as ONE
    double division of the half-cleared Pearson form
    (4m·Σjk − (Σ(j+k))²) / (2m·Σ(j²+k²) − (Σ(j+k))²) — exact integers
    in the hash row certify the moments, the IEEE quotient is
    bit-stable.

    Plan: the edge list derives once (same hour×type construction as
    the graph family), degrees are one map-combined agg joined to both
    endpoints, and everything reduces to a single row."""
    edges = interaction_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dj"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dk"))
    j = edges.join(du, "u").join(dv, "v")
    s = j.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("dj") * F.col("dk")).alias("s_jk"),
        F.sum(F.col("dj") + F.col("dk")).alias("s_sum"),
        F.sum(F.col("dj") * F.col("dj") + F.col("dk") * F.col("dk")).alias("s_sq"),
    )
    num = F.lit(4) * F.col("m") * F.col("s_jk") - F.col("s_sum") * F.col("s_sum")
    den = F.lit(2) * F.col("m") * F.col("s_sq") - F.col("s_sum") * F.col("s_sum")
    return s.select(
        "m", "s_jk", "s_sum", "s_sq",
        (num.cast("double") / den.cast("double")).alias("assortativity"),
    )


@register(
    "graph_modularity",
    oracle=f"""
    WITH {_SQL_CHAIN_EDGES},
    bi AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
    l0 AS (SELECT DISTINCT s AS node, s AS label FROM bi),
    cnt1 AS (
        SELECT b.t AS node, l.label, COUNT(*) AS c
        FROM bi b JOIN l0 l ON l.node = b.s
        GROUP BY b.t, l.label
    ),
    pick1 AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
            FROM cnt1
        ) WHERE rn = 1
    ),
    labels AS (
        SELECT l.node, COALESCE(p.label, l.label) AS label
        FROM l0 l LEFT JOIN pick1 p ON p.node = l.node
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
    intra AS (
        SELECT lu.label, CAST(COUNT(*) AS BIGINT) AS e_c
        FROM e0 JOIN labels lu ON lu.node = e0.u
        JOIN labels lv ON lv.node = e0.v AND lv.label = lu.label
        GROUP BY lu.label
    ),
    degsum AS (
        SELECT l.label, CAST(COUNT(*) AS BIGINT) AS d_c
        FROM bi JOIN labels l ON l.node = bi.s GROUP BY l.label
    ),
    per AS (
        SELECT d.label,
               COALESCE(i.e_c, 0) AS e_c, d.d_c,
               4 * m.m * COALESCE(i.e_c, 0) - d.d_c * d.d_c AS q_num_c
        FROM degsum d LEFT JOIN intra i USING (label), m
    )
    SELECT (SELECT m FROM m) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(SUM(q_num_c) AS BIGINT) AS q_num,
           CAST(SUM(q_num_c) AS DOUBLE)
           / CAST(4 * (SELECT m FROM m) * (SELECT m FROM m) AS DOUBLE)
               AS modularity
    FROM per
    """,
    tags=("graph", "profile"),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODULARITY (Newman-Girvan Q) of the round-1 LPA communities — the quality
    score that closes the community-detection loop: LPA produces a
    partition, Q says whether it beats random (Q > 0 means more
    intra-community edges than a degree-preserving null model expects).
    Exact arithmetic throughout: with e_c = intra-community edges and
    d_c = community degree sum, 4m²·Q = Σ_c (4m·e_c − d_c²) is one
    integer — emitted alongside m and n_communities — and the double Q
    is a single IEEE division of exact ints (Q's sign never falls to an
    engine-dependent negative integer division).

    Plan: one LPA vote round (see inline note on why round 1), then
    intra-edge counting is ONE join of the edge list to the label table
    on each endpoint (label-equality filtered), and degree mass is a
    map-combined count — everything |E|-bounded, reduced to one row."""
    edges = interaction_edges(spark, sf_dir)
    # ONE LPA round (not graph_label_propagation's LPA_ROUNDS=2): on the
    # dense per-hour chain graph the plurality vote collapses to a single
    # label by round 2 (Q degenerates to exactly 0 — 4m·m == (2m)²); the
    # round-1 partition has real communities at every test SF, which is
    # what a quality score should score. Same vote + tie-break as LPA.
    bi0 = _both_ways(edges)
    l0 = bi0.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    labels = _lpa_round(bi0, l0).localCheckpoint(eager=False)
    bi = edges.select(F.col("u").alias("s")).unionAll(
        edges.select(F.col("v").alias("s"))
    )
    lu = labels.select(F.col("node").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("node").alias("v"), F.col("label").alias("lv"))
    intra = (
        edges.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    degsum = (
        bi.join(labels.select(F.col("node").alias("s"), "label"), "s")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    m_row = edges.agg(F.count(F.lit(1)).alias("m"))
    per = (
        degsum.join(intra, "label", "left")
        .crossJoin(F.broadcast(m_row))
        .select(
            "label",
            F.coalesce("e_c", F.lit(0)).alias("e_c"),
            "d_c",
            "m",
            (
                F.lit(4) * F.col("m") * F.coalesce("e_c", F.lit(0))
                - F.col("d_c") * F.col("d_c")
            ).alias("q_num_c"),
        )
    )
    return per.groupBy("m").agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.sum("q_num_c").alias("q_num"),
        (
            F.sum("q_num_c").cast("double")
            / (F.lit(4) * F.col("m") * F.col("m")).cast("double")
        ).alias("modularity"),
    ).select("m", "n_communities", "q_num", "modularity")


# --- Bounded harmonic centrality ----------------------------------------------
HARMONIC_HOPS = 3
# 1/d in exact sixths (lcm of 1,2,3): d=1 -> 6, d=2 -> 3, d=3 -> 2. Integer
# scores, no float reciprocal sums to reconcile across engines.
_HARMONIC_W = {1: 6, 2: 3, 3: 2}


def _sql_harmonic_rounds() -> str:
    ctes = []
    for i in range(1, HARMONIC_HOPS + 1):
        ctes.append(f"""p{i} AS (
        SELECT src, node, MIN(dist) AS dist FROM (
            SELECT src, node, dist FROM p{i - 1}
            UNION ALL
            SELECT p{i - 1}.src, bi.t, p{i - 1}.dist + 1
            FROM p{i - 1} JOIN bi ON bi.s = p{i - 1}.node
        ) GROUP BY src, node
    )""")
    return ",\n    ".join(ctes)


@register(
    "graph_harmonic_centrality",
    oracle=f"""
    WITH {_SQL_CHAIN_EDGES},
    bi AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
    verts AS (SELECT DISTINCT s AS node FROM bi),
    p0 AS (SELECT node AS src, node, CAST(0 AS BIGINT) AS dist FROM verts),
    {_sql_harmonic_rounds()}
    SELECT src AS node,
           CAST(SUM(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
           CAST(SUM(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
           CAST(SUM(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3,
           CAST(SUM(CASE dist WHEN 1 THEN {_HARMONIC_W[1]}
                              WHEN 2 THEN {_HARMONIC_W[2]}
                              WHEN 3 THEN {_HARMONIC_W[3]}
                              ELSE 0 END) AS BIGINT) AS harmonic6
    FROM p{HARMONIC_HOPS} WHERE dist > 0 GROUP BY src
    """,
    tags=("graph", "iterative", "centrality"),
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOP-BOUNDED HARMONIC CENTRALITY — the distance-based centrality
    missing from the spectral pair (graph_pagerank, graph_hits):
    score(v) = Σ_{{u: 0<d(v,u)≤{HARMONIC_HOPS}}} 1/d(v,u), the standard
    finite-radius form (harmonic, not closeness, so disconnected /
    out-of-radius vertices contribute 0 instead of ∞). Reciprocals are
    kept EXACT by scoring in sixths of a unit (lcm(1,2,3)): d=1→6,
    d=2→3, d=3→2 — integer sums, hash-identical in both engines; the
    per-ring counts n_d1/n_d2/n_d3 ship alongside so the score is
    auditable per row.

    Representation is chosen by DENSITY. All-sources bounded BFS over
    (src, node, dist) pairs carries |V|·|ball_k| state — on the shared
    interaction graph the 3-hop ball IS the graph (measured at sf0.1:
    1500 vertices, d̄≈121, settled pairs = |V|² = 2.25 M, and the last
    frontier round shuffled ~250 M expansion rows to discover 164 new
    pairs: 31-97 s). So the exact operator runs the DENSE-GRAPH form
    instead: each vertex's k-hop reachability set is a |V|-bit bitset in
    64-bit chunks, and one hop is "OR your neighbors' bitsets" — boolean
    A^k via map-combinable bit_or aggregation, cost O(|E|·|V|/64) rows
    per hop (~4.4 M here, measured ~2 s), never a pair-set shuffle. Ring
    counts are popcount deltas between consecutive hop bitsets; the
    exact sixth-scoring is unchanged. The oracle unrolls the equivalent
    min-fold BFS as CTEs over the shared bucketed chain-edge derivation
    (_SQL_CHAIN_EDGES) — two completely different algorithms must meet
    on the hash.

    Scale honesty: |V|-bit bitsets are the BSP/dense answer and pay
    O(|V|²/64) total — right when the ball saturates (the answer itself
    is that big), wrong for web-scale sparse graphs, where the operator
    family splits: sample pivots (graph_closeness_sampled — frontier
    BFS, K·d̄^k state) or sketch the neighborhood function
    (HyperANF-style HLL unions — agg_hll_mergeable is the building
    block). This operator is the exact form both are validated
    against."""
    from pyspark.sql import Window

    edges = interaction_edges(spark, sf_dir)
    # each hop joins bi to the bitsets on t: |E|·chunks rows
    bi = _widen(_both_ways(edges), "t").localCheckpoint(eager=True)
    # Dense vertex index 0..|V|-1 (deterministic: ordered by node id).
    # |V| rows through one window — a dimension build; at larger |V| the
    # index comes from the two-level prefix machinery (operators/prefix.py)
    # instead of one global window.
    idx = bi.select(F.col("s").alias("node")).distinct().select(
        "node",
        (F.row_number().over(Window.orderBy("node")) - 1).alias("i"),
    ).localCheckpoint(eager=True)
    # b0 = {self}; hop t ORs the neighbours' hop t-1 bitsets into one's
    # own, so b_t is the t-hop ball.
    selfb = idx.select(
        "node",
        F.expr("i div 64").alias("c"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(i % 64 AS INT))").alias("w"),
    )
    balls = _fold_hops(
        bi,
        selfb,
        HARMONIC_HOPS,
        lambda df: df.groupBy("node", "c").agg(F.bit_or("w").alias("w")),
    )
    pops = [
        b.groupBy("node").agg(F.sum(F.bit_count("w")).alias(f"p{hop}"))
        for hop, b in enumerate(balls, 1)
    ]
    counts = pops[0].join(pops[1], "node").join(pops[2], "node")
    n1 = F.col("p1") - 1  # drop the self bit
    n2 = F.col("p2") - F.col("p1")
    n3 = F.col("p3") - F.col("p2")
    return counts.select(
        "node",
        n1.cast("long").alias("n_d1"),
        n2.cast("long").alias("n_d2"),
        n3.cast("long").alias("n_d3"),
        (
            n1 * _HARMONIC_W[1] + n2 * _HARMONIC_W[2] + n3 * _HARMONIC_W[3]
        ).cast("long").alias("harmonic6"),
    )


# --- Sampled closeness centrality ----------------------------------------------
CLOSENESS_HOPS = 3
CLOSENESS_K = 16  # sampled BFS sources (Eppstein-Wang style pivot count)


@register(
    "graph_closeness_sampled",
    oracle=f"""
    WITH {_SQL_CHAIN_EDGES},
    bi AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
    verts AS (SELECT DISTINCT s AS node FROM bi),
    srcs AS (
        SELECT node FROM verts
        ORDER BY md5('cls:' || CAST(node AS VARCHAR)), node
        LIMIT {CLOSENESS_K}
    ),
    p0 AS (SELECT node AS src, node, CAST(0 AS BIGINT) AS dist FROM srcs),
    {_sql_harmonic_rounds()}
    SELECT node,
           CAST(COUNT(*) AS BIGINT) AS n_src_reached,
           CAST(SUM(dist) AS BIGINT) AS sum_dist,
           CAST(COUNT(*) * 1000000 // SUM(dist) AS BIGINT) AS closeness_ppm
    FROM p{CLOSENESS_HOPS} WHERE dist > 0 GROUP BY node
    """,
    tags=("graph", "iterative", "centrality", "sampling"),
)
def graph_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED-PIVOT CLOSENESS CENTRALITY — the companion estimator to
    graph_harmonic_centrality's exact all-sources form:
    run bounded BFS from only K={CLOSENESS_K} deterministically sampled
    pivot vertices (the Eppstein–Wang trick) and score every vertex by
    its distances TO the pivots. On the undirected interaction graph
    d(v, s) = d(s, v), so K source-BFS sweeps price the whole vertex
    set: state is |ball_k(pivots)| rows — K·d̄^hops, independent of |V|
    — where the exact form carries |V|·|ball_k| rows. That state ratio
    IS the 100 TB story: pivots scale the cost knob, the exact operator
    validates the estimator at test scale.

    Pivot choice is the registry's KMV discipline — the K smallest
    md5('cls:'||node) draws, a uniform sample both engines replay
    bit-identically (no RNG, no seed drift). Per vertex the result
    carries n_src_reached (pivots within {CLOSENESS_HOPS} hops),
    sum_dist, and closeness_ppm = n_reached·10⁶ div sum_dist — the
    inverse-mean-distance core of closeness as an EXACT int64 ratio
    (the caller applies the (n−1)/(K·n) population scaling in floats if
    it wants the textbook estimator; the stored stat stays
    hash-identical). The BFS is _bfs_forward, the stress operator's
    forward pass with its path counts dropped; each round shuffles only
    the live frontier."""
    edges = interaction_edges(spark, sf_dir)
    # each round's frontier join explodes frontier rows by node degree
    bi = _widen(_both_ways(edges), "s").localCheckpoint(eager=True)
    verts = bi.select(F.col("s").alias("node")).distinct()
    srcs = (
        verts.orderBy(
            F.md5(F.concat(F.lit("cls:"), F.col("node").cast("string"))), "node"
        )
        .limit(CLOSENESS_K)
    )
    pairs = _bfs_forward(bi, srcs, CLOSENESS_HOPS)
    return (
        pairs.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_src_reached"),
            F.sum("dist").cast("long").alias("sum_dist"),
            F.expr("count(1) * 1000000 div sum(dist)").alias("closeness_ppm"),
        )
    )


# --- Sampled stress (betweenness-family) centrality ------------------------------
STRESS_HOPS = 3
STRESS_PAIRS = 6  # sampled (source, target) pivot pairs


def _sql_sigma_rounds() -> str:
    """Unrolled Brandes forward pass: per round, candidate path counts =
    sum of predecessors' sigma, anti-joined against settled so only the
    first (= shortest) discovery keeps a row."""
    ctes = []
    for r in range(1, STRESS_HOPS + 1):
        ctes.append(f"""e{r} AS (
        SELECT f{r - 1}.src, bi.t AS node, SUM(f{r - 1}.sigma) AS sigma
        FROM f{r - 1} JOIN bi ON bi.s = f{r - 1}.node
        GROUP BY 1, 2
    ),
    f{r} AS (
        SELECT e{r}.src, e{r}.node, CAST({r} AS BIGINT) AS dist, e{r}.sigma
        FROM e{r} ANTI JOIN s{r - 1} USING (src, node)
    ),
    s{r} AS (SELECT * FROM s{r - 1} UNION ALL SELECT * FROM f{r})""")
    return ",\n    ".join(ctes)


@register(
    "graph_betweenness_stress_sampled",
    oracle=f"""
    WITH {_SQL_CHAIN_EDGES},
    bi AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
    verts AS (SELECT DISTINCT s AS node FROM bi),
    pv AS (
        SELECT node, row_number() OVER (
            ORDER BY md5('btw:' || CAST(node AS VARCHAR)), node
        ) - 1 AS i
        FROM verts
        ORDER BY md5('btw:' || CAST(node AS VARCHAR)), node
        LIMIT {2 * STRESS_PAIRS}
    ),
    pairs AS (
        SELECT a.i // 2 AS pair_id, a.node AS ps, b.node AS pt
        FROM pv a JOIN pv b ON b.i = a.i + 1 AND a.i % 2 = 0
    ),
    f0 AS (
        SELECT node AS src, node, CAST(0 AS BIGINT) AS dist,
               CAST(1 AS BIGINT) AS sigma
        FROM pv
    ),
    s0 AS (SELECT * FROM f0),
    {_sql_sigma_rounds()},
    dst AS (SELECT * FROM s{STRESS_HOPS}),
    pdist AS (
        SELECT p.pair_id, p.ps, p.pt, d.dist AS d_st, d.sigma AS sigma_st
        FROM pairs p JOIN dst d ON d.src = p.ps AND d.node = p.pt
        WHERE d.dist > 0
    )
    SELECT a.node,
           CAST(SUM(a.sigma * b.sigma) AS BIGINT) AS stress,
           CAST(COUNT(DISTINCT pd.pair_id) AS BIGINT) AS n_pairs
    FROM pdist pd
    JOIN dst a ON a.src = pd.ps AND a.dist > 0
    JOIN dst b ON b.src = pd.pt AND b.node = a.node AND b.dist > 0
    WHERE a.dist + b.dist = pd.d_st
    GROUP BY a.node
    """,
    tags=("graph", "iterative", "centrality", "sampling"),
)
def graph_betweenness_stress_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED STRESS CENTRALITY (the exact-integer member of the
    betweenness family) — Brandes-style pair dependencies over sampled
    pivot pairs: for K={STRESS_PAIRS} deterministically sampled
    (source, target) pairs, count per vertex the SHORTEST s→t PATHS
    PASSING THROUGH it (Shimbel's stress). Betweenness proper normalizes
    by σ_st — a ratio whose float accumulation is summation-order-
    dependent and therefore unhashable across engines; stress keeps the
    same "who sits on the traffic" signal as pure path COUNTS, exact
    int64, and a caller can normalize the output per pair (σ_st ships
    alongside via the through-endpoint rows).

    Algorithm: one multi-source Brandes FORWARD pass (_bfs_forward) from
    all 2·{STRESS_PAIRS} pivots at once — per round, candidate σ(v) = Σ of
    the previous frontier's σ over in-edges (a groupBy-sum), anti-joined
    against settled state so only first (= shortest-distance) discovery
    survives; the classic path-count DP lifted to a composite (src,
    node) key. Then v lies on a shortest s→t path iff
    d_s(v) + d_t(v) = d(s,t) (both BFS trees come from the SAME forward
    pass — the graph is undirected) and contributes σ_s(v)·σ_t(v).
    Endpoints are excluded (dist > 0 on both legs), matching the
    standard betweenness convention.

    Scale: pivot-pair sampling is THE practical betweenness estimator
    (Brandes–Pich / Riondato–Kornaropoulos sampling) — state is
    2K·|ball| rows, independent of |V|; every step is a bounded
    frontier shuffle or an O(K·|ball|) join. The exact all-pairs form
    is |V|²-hard by nature and intentionally absent; this operator is
    the auditable sampled form, with the pivot draw on the registry's
    seeded-md5 discipline so both engines sample identically."""
    from pyspark.sql import Window

    edges = interaction_edges(spark, sf_dir)
    bi = _widen(_both_ways(edges), "s").localCheckpoint(eager=True)
    verts = bi.select(F.col("s").alias("node")).distinct()
    draw = F.md5(F.concat(F.lit("btw:"), F.col("node").cast("string")))
    pv = (
        verts.orderBy(draw, "node")
        .limit(2 * STRESS_PAIRS)
        .select(
            "node", (F.row_number().over(Window.orderBy(draw, "node")) - 1).alias("i")
        )
        .localCheckpoint(eager=True)
    )
    pairs = (
        pv.alias("a")
        .join(pv.alias("b"), F.expr("b.i = a.i + 1 AND a.i % 2 = 0"))
        .select(
            F.expr("a.i div 2").alias("pair_id"),
            F.col("a.node").alias("ps"),
            F.col("b.node").alias("pt"),
        )
    )
    # read three times below: the pair distances and both path legs
    dst = _bfs_forward(bi, pv, STRESS_HOPS).localCheckpoint(eager=True)
    pdist = pairs.join(
        dst.select(
            F.col("src").alias("ps"),
            F.col("node").alias("pt"),
            F.col("dist").alias("d_st"),
        ),
        ["ps", "pt"],
    ).filter(F.col("d_st") > 0)
    a = dst.select(
        F.col("src").alias("ps"),
        "node",
        F.col("dist").alias("da"),
        F.col("sigma").alias("sa"),
    ).filter(F.col("da") > 0)
    b = dst.select(
        F.col("src").alias("pt"),
        "node",
        F.col("dist").alias("db"),
        F.col("sigma").alias("sb"),
    ).filter(F.col("db") > 0)
    through = (
        pdist.join(a, "ps")
        .join(b, ["pt", "node"])
        .filter(F.col("da") + F.col("db") == F.col("d_st"))
    )
    return through.groupBy("node").agg(
        F.sum(F.col("sa") * F.col("sb")).cast("long").alias("stress"),
        F.countDistinct("pair_id").cast("long").alias("n_pairs"),
    )


# --- HyperANF sketched neighborhood function --------------------------------

ANF_HOPS = 3


def _sql_anf_denoms() -> str:
    """DuckDB per-hop denominators den_t from the exact hop balls p_t,
    t = 1..ANF_HOPS."""
    j, rho = hll.rank_sql("verts.node", "anf:")
    ctes = [
        f"""vh AS (
        SELECT verts.node, {j} AS j, {rho} AS rho FROM verts
    )"""
    ]
    for t in range(1, ANF_HOPS + 1):
        ctes.append(f"""regs{t} AS (
        SELECT p.src, vh.j, MAX(vh.rho) AS m
        FROM p{t} p JOIN vh ON vh.node = p.node
        GROUP BY p.src, vh.j
    )""")
        ctes.append(f"""den{t} AS (
        SELECT src, {hll.DENOMINATOR_SQL} AS d
        FROM regs{t} GROUP BY src
    )""")
    return ",\n    ".join(ctes)


_ANF_EST_NUM = f"(CAST(0.673 AS DOUBLE) * 256 * {hll.SCALE})"


@register(
    "graph_hyperanf_sketch",
    oracle=f"""
    WITH {_SQL_CHAIN_EDGES},
    bi AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
    verts AS (SELECT DISTINCT s AS node FROM bi),
    p0 AS (SELECT node AS src, node, CAST(0 AS BIGINT) AS dist FROM verts),
    {_sql_harmonic_rounds()},
    {_sql_anf_denoms()}
    SELECT v.node AS node,
           den1.d AS d1, den2.d AS d2, den3.d AS d3,
           {_ANF_EST_NUM} / CAST(den1.d AS DOUBLE) AS est1,
           {_ANF_EST_NUM} / CAST(den2.d AS DOUBLE) AS est2,
           {_ANF_EST_NUM} / CAST(den3.d AS DOUBLE) AS est3
    FROM verts v
    JOIN den1 ON den1.src = v.node
    JOIN den2 ON den2.src = v.node
    JOIN den3 ON den3.src = v.node
    """,
    tags=("graph", "iterative", "sketch"),
)
def graph_hyperanf_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYPERANF SKETCHED NEIGHBORHOOD FUNCTION — the third member of the
    centrality family graph_harmonic_centrality's docstring pre-declares:
    exact |V|-bit bitsets for dense graphs (harmonic), sampled-pivot BFS
    for per-vertex sparse estimates (closeness_sampled), and THIS — the
    Boldi-Rosa-Vigna HyperANF form for web-scale sparse graphs, where
    each vertex carries an m-register HyperLogLog counter of its k-hop
    ball and one hop is "register-wise MAX with your neighbors". State is
    O(|V| · m · 6 bits) — here m=16 registers of 6 bits packed into TWO
    BIGINT words per vertex, so a hop is an |E|-row shuffle of 16-byte
    payloads (vs |V|²/64 for the exact bitsets), and the register-MAX
    aggregation is map-combinable (max is associative/commutative — the
    same mergeability contract agg_hll_mergeable pins for counters).

    Determinism/exactness discipline: registers are integers from seeded
    md5 lanes seeded 'anf:' (functions/hll.py: j = lane1 mod 16,
    rho = 33 − bit length of lane2), so the SKETCH ITSELF is
    hash-exact — the query ships the per-hop denominators D_t = Σ_j 2^(33−M_j) as exact BIGINTs plus the
    standard alpha·m²/Σ2^(−M_j) estimate as ONE double division from
    those integers (bigint→double is exact below 2^53; both engines
    perform the identical op sequence). The DuckDB oracle computes the
    registers from the EXACT hop balls (the harmonic BFS CTEs) while the
    Spark side ITERATES packed register maxes — two different algorithms
    that must agree bit-for-bit because register MAX over a set equals
    MAX over any union decomposition of it.

    Estimator note: est1/2/3 apply the RAW
    alpha_16·m²/Σ2^(−M) formula with NO small-range (linear-counting)
    correction — with m=16 and hop balls of 2-5 vertices the estimates
    carry the well-known strong small-cardinality bias. That is
    deliberate: the contract here is determinism and engine-identity
    (both engines perform the identical op sequence on identical
    integers), not unbiasedness at toy scale; at the web-graph scales
    HyperANF targets, ball sizes dwarf the small-range regime. The exact
    D_t bigints are the canonical output; est_t is a convenience view.

    At 100 TB: this is the O(k·|E|) neighborhood-function plan — no
    pair-set shuffle, no |V|-wide bitsets; register slicing keeps the
    shuffle row fixed-width regardless of ball size, and the final
    denominators are one map-side projection of the hop-k state. This
    query is the sketch PRODUCER: it always re-runs the k-hop iteration
    (refresh=True) and refreshes the sketch-state memo that downstream
    consumers (graph_neighborhood_function) serve from — so its bench
    row prices the full build, not post-memo serving."""
    out = _anf_denominators(spark, sf_dir, refresh=True)
    num = 0.673 * 256 * float(hll.SCALE)
    return out.select(
        "node",
        "d1",
        "d2",
        "d3",
        (F.lit(num) / F.col("d1").cast("double")).alias("est1"),
        (F.lit(num) / F.col("d2").cast("double")).alias("est2"),
        (F.lit(num) / F.col("d3").cast("double")).alias("est3"),
    )


def _anf_denominators(
    spark: SparkSession, sf_dir: str, refresh: bool = False
) -> DataFrame:
    """Per-vertex HyperANF denominators D_t = Σ_j 2^(33−M_j) for hops
    1..ANF_HOPS as one (node, d1, d2, d3) table — the shared core of
    graph_hyperanf_sketch (per-vertex serving; calls with refresh=True
    and always pays the k-hop iteration) and graph_neighborhood_function
    (global roll-up; serves from the memoized state).

    The hop-k register state is the trained artifact of HyperANF: it is
    built once per corpus and memoized (io.memo), and every downstream
    consumer serves from it. Its producer, graph_hyperanf_sketch, passes
    ``refresh=True``, so the producer pays the artifact's cost every call
    and only later consumers ride the memo."""
    edges = interaction_edges(spark, sf_dir)
    return memo("anf_denoms", [edges], lambda: _anf_state(edges), refresh=refresh)


def _anf_state(edges: DataFrame) -> DataFrame:
    """One HyperANF hop is every vertex register-wise MAXing its packed
    HLL words with its neighbours' (B_t(v) = B_{t-1}(v) ∪ ⋃_{u∈N(v)}
    B_{t-1}(u)), a _fold_hops step with hll.register_max as the merge;
    its partial HashAggregate is pinned in tests/test_plans.py. The last
    hop is pinned here too: the memo serves this state to later callers,
    and it must not hold an unmaterialized plan."""
    bi = _both_ways(edges).localCheckpoint(eager=True)
    verts = bi.select(F.col("s").alias("node")).distinct()
    state = hll.words(verts, "node", "node", "anf:").localCheckpoint(eager=True)
    states = _fold_hops(bi, state, ANF_HOPS, lambda df: hll.register_max(df, "node"))
    states[-1] = states[-1].localCheckpoint(eager=True)
    denoms = [
        st.select("node", hll.denominator().alias(f"d{hop}"))
        for hop, st in enumerate(states, 1)
    ]
    return reduce(lambda a, b: a.join(b, "node"), denoms)


# alpha_16 · m² · 2^33 in EXACT milli-units: 0.673 = 673/1000, so
# est(v)·1000 = 673·256·2^33 / D(v) — an integer floor-division both
# engines perform identically (verified: Spark div == DuckDB //).
ANF_NUM_MILLI = 673 * 256 * hll.SCALE  # = 1_479_942_650_986_496 < 2^63


@register(
    "graph_neighborhood_function",
    oracle=f"""
    WITH {_SQL_CHAIN_EDGES},
    bi AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
    verts AS (SELECT DISTINCT s AS node FROM bi),
    p0 AS (SELECT node AS src, node, CAST(0 AS BIGINT) AS dist FROM verts),
    {_sql_harmonic_rounds()},
    {_sql_anf_denoms()},
    g AS (
        SELECT (SELECT COUNT(*) FROM verts) AS n_vertices,
               (SELECT CAST(SUM({ANF_NUM_MILLI} // d) AS BIGINT) FROM den1) AS nf1,
               (SELECT CAST(SUM({ANF_NUM_MILLI} // d) AS BIGINT) FROM den2) AS nf2,
               (SELECT CAST(SUM({ANF_NUM_MILLI} // d) AS BIGINT) FROM den3) AS nf3
    )
    SELECT 1 AS hop, n_vertices, nf1 AS nf_milli,
           CAST((CAST(nf1 AS HUGEINT) * 1000000) // nf3 AS BIGINT) AS frac_of_h3_ppm
    FROM g WHERE n_vertices > 0
    UNION ALL
    SELECT 2, n_vertices, nf2,
           CAST((CAST(nf2 AS HUGEINT) * 1000000) // nf3 AS BIGINT)
    FROM g WHERE n_vertices > 0
    UNION ALL
    SELECT 3, n_vertices, nf3,
           CAST((CAST(nf3 AS HUGEINT) * 1000000) // nf3 AS BIGINT)
    FROM g WHERE n_vertices > 0
    """,
    tags=("graph", "iterative", "sketch", "agg"),
)
def graph_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL NEIGHBORHOOD FUNCTION N(t) — the roll-up HyperANF exists to
    compute (Boldi-Rosa-Vigna §1: N(t) = Σ_v |ball_t(v)| drives distance
    distribution, effective diameter, and the small-world checks): one
    row per hop with the sketched N(t) and its fraction of the hop-k
    value, from which the t%-effective-diameter reads off directly
    (smallest t with frac ≥ threshold).

    Exactness discipline for a GLOBAL SUM of per-vertex estimates:
    summing per-vertex DOUBLE estimates would be order-dependent
    (forbidden — partitioning would change the hash), so each vertex's
    estimate ships in exact integer MILLI-units: est(v)·1000 =
    673·256·2^33 div D(v) (alpha_16 = 673/1000 — the numerator is an
    exact int64 literal), and N(t)_milli = Σ_v of that is an
    order-independent bigint sum. The cross-hop fraction is likewise an
    exact ppm floor-division. Headroom note: the milli sum holds to
    ~9·10^18, i.e. ~10^7 vertices × 10^8-ball estimates; past that the
    sum column widens to decimal(38,0) — same contract, wider lane.

    Scale: the denominators table is the hop-k sketch state (two bigint
    words/vertex, see graph_hyperanf_sketch); this adds ONE map-combined
    global aggregate over it — the whole roll-up is O(|V|) rows into a
    3-row result."""
    den = _anf_denominators(spark, sf_dir)
    g = den.agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        *[
            F.sum(F.expr(f"CAST({ANF_NUM_MILLI} AS BIGINT) div d{t}"))
            .cast("long")
            .alias(f"nf{t}")
            for t in (1, 2, 3)
        ],
    ).filter(F.col("n_vertices") > 0)  # empty graph → empty result, not null rows
    hops = [
        g.select(
            F.lit(t).cast("int").alias("hop"),
            "n_vertices",
            F.col(f"nf{t}").alias("nf_milli"),
            F.expr(
                f"CAST((CAST(nf{t} AS DECIMAL(38,0)) * 1000000) div nf3 AS BIGINT)"
            ).alias("frac_of_h3_ppm"),
        )
        for t in (1, 2, 3)
    ]
    return reduce(DataFrame.unionByName, hops)


# 90%-effective-diameter threshold in exact ppm (the conventional cut in
# Boldi-Rosa-Vigna §5 and the snap.stanford.edu diameter tooling).
EFF_DIAMETER_PPM = 900_000


@register(
    "graph_effective_diameter",
    oracle=f"""
    WITH {_SQL_CHAIN_EDGES},
    bi AS (SELECT u AS s, v AS t FROM e0 UNION ALL SELECT v, u FROM e0),
    verts AS (SELECT DISTINCT s AS node FROM bi),
    p0 AS (SELECT node AS src, node, CAST(0 AS BIGINT) AS dist FROM verts),
    {_sql_harmonic_rounds()},
    {_sql_anf_denoms()},
    g AS (
        SELECT (SELECT COUNT(*) FROM verts) AS n_vertices,
               (SELECT CAST(SUM({ANF_NUM_MILLI} // d) AS BIGINT) FROM den1) AS nf1,
               (SELECT CAST(SUM({ANF_NUM_MILLI} // d) AS BIGINT) FROM den2) AS nf2,
               (SELECT CAST(SUM({ANF_NUM_MILLI} // d) AS BIGINT) FROM den3) AS nf3
    ),
    fr AS (
        SELECT 1 AS hop,
               CAST((CAST(nf1 AS HUGEINT) * 1000000) // nf3 AS BIGINT) AS frac
        FROM g WHERE n_vertices > 0
        UNION ALL
        SELECT 2, CAST((CAST(nf2 AS HUGEINT) * 1000000) // nf3 AS BIGINT)
        FROM g WHERE n_vertices > 0
        UNION ALL
        SELECT 3, CAST((CAST(nf3 AS HUGEINT) * 1000000) // nf3 AS BIGINT)
        FROM g WHERE n_vertices > 0
    )
    SELECT CAST({EFF_DIAMETER_PPM} AS BIGINT) AS threshold_ppm,
           MIN(hop) AS eff_diameter_hops,
           MIN_BY(frac, hop) AS frac_at_diameter_ppm
    FROM fr WHERE frac >= {EFF_DIAMETER_PPM}
    HAVING COUNT(*) > 0
    """,
    tags=("graph", "sketch", "agg"),
)
def graph_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EFFECTIVE-DIAMETER SERVING READOUT over the HyperANF state:
    the smallest hop t whose sketched N(t) reaches 90%
    of the hop-k neighborhood mass — the headline number HyperANF papers
    report for web graphs and the reason the N(t) roll-up ships a ppm
    fraction column. A 3-row scan of graph_neighborhood_function's
    output: filter frac ≥ threshold, take the minimum hop (hop is unique,
    so min_by is tie-free and deterministic in both engines).

    Memo discipline: a pure CONSUMER of the memoized sketch state
    (like the N(t) roll-up itself) — the production shape is "sketch
    built once per corpus, diameter read off per monitoring tick".
    Empty graph ⇒ empty result (the aggregate row is dropped, both
    engines via the same count guard), not a null row."""
    nf = graph_neighborhood_function(spark, sf_dir)
    hit = nf.filter(F.col("frac_of_h3_ppm") >= EFF_DIAMETER_PPM)
    return (
        hit.agg(
            F.min("hop").alias("eff_diameter_hops"),
            F.expr("min_by(frac_of_h3_ppm, hop)").alias("frac_at_diameter_ppm"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") > 0)
        .select(
            F.lit(EFF_DIAMETER_PPM).cast("long").alias("threshold_ppm"),
            "eff_diameter_hops",
            "frac_at_diameter_ppm",
        )
    )


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_SQL_CHAIN_EDGES},
    und AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM und GROUP BY u),
    tri AS (
        SELECT a.u AS x, a.v AS y, b.v AS z
        FROM e0 a JOIN e0 b ON b.u = a.v
        JOIN e0 c ON c.u = a.u AND c.v = b.v
    ),
    pern AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS t
        FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node
    )
    SELECT d.node, d.degree,
           COALESCE(p.t, 0) AS triangles,
           CAST(2 * COALESCE(p.t, 0) AS BIGINT) AS c_num,
           CAST(d.degree * (d.degree - 1) AS BIGINT) AS c_den,
           CASE WHEN d.degree >= 2
                THEN CAST(2 * COALESCE(p.t, 0) AS DOUBLE)
                     / CAST(d.degree * (d.degree - 1) AS DOUBLE)
                ELSE 0.0 END AS coeff
    FROM deg d LEFT JOIN pern p ON p.node = d.node
    """,
    tags=("graph", "stats"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-VERTEX LOCAL CLUSTERING COEFFICIENT — the standard
    graph-quality metric the global triangle count cannot answer
    ("which users sit in tight cliques vs long chains?"):
    c(v) = 2·T(v) / (d(v)·(d(v)−1)), where T(v) counts triangles
    through v. Completes the per-vertex structural family (degree →
    graph_degree_distribution, reach → harmonic/closeness, flow →
    pagerank/HITS, density → here).

    Triangles are enumerated ONCE each via the shared degree-oriented
    join (_oriented_triangles — the graph_triangle_count plan, wedge
    fanout O(sqrt(m)) at any scale), then credit ALL THREE corners via
    one explode + map-combined count; degrees ride the same node-sized
    aggregate the orientation already builds. The output carries the
    EXACT rational pieces (c_num = 2T, c_den = d(d−1)) alongside the
    headline double, which is ONE IEEE division of two exact int64s —
    bit-identical in both engines (the embed_sign_hamming_topk
    convention); degree-1 vertices emit 0.0 by the same CASE both
    engines evaluate. Oracle enumerates triangles by id-order instead —
    two different orientations must meet on the hash."""
    edges = interaction_edges(spark, sf_dir)
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    per_node = (
        _oriented_triangles(edges)
        .select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    t = F.coalesce(F.col("t"), F.lit(0).cast("long"))
    den = F.col("degree") * (F.col("degree") - 1)
    return deg.join(per_node, "node", "left").select(
        "node",
        "degree",
        t.alias("triangles"),
        (t * 2).alias("c_num"),
        den.cast("long").alias("c_den"),
        F.when(
            F.col("degree") >= 2,
            (t * 2).cast("double") / den.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("coeff"),
    )
