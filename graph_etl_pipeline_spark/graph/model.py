"""Labeled property graph over DataFrames (SURVEY.md §1.5).

The reference's data model is a Neo4j property graph (schema.cql:17-142).
The engine represents it as the GraphX/GraphFrames vertex-edge
decomposition: ``vertices(uid, label, name, ...)`` and
``edges(src_uid, dst_uid, rel_type, ...)`` DataFrames. Cypher MATCH
patterns become self-joins over the edges table; variable-length paths
become a bounded iterative frontier loop (Pregel analogue in DataFrames,
no custom Catalyst rules).

Scale notes: the edges table is the single large fact — partition/bucket
it by src_uid (and keep a dst-sorted copy for reverse traversal at real
scale); per-hop joins then co-locate. Frontiers stay (uid, root) pairs —
never collected to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# connected_components() runs at most this many hash-min rounds before it
# contracts the graph onto its labels and hands it to star contraction.
HASH_MIN_ROUNDS = 3
# Round budget of star contraction (O(log² n) rounds worst case; a
# 1024-node chain needs ~12). Running out raises instead of returning
# intermediate labels.
STAR_MAX_ROUNDS = 30


def edge_endpoints(edges: DataFrame) -> DataFrame:
    """(uid) — the distinct endpoints of an (src_uid, dst_uid) edge frame:
    the vertex set of a graph that is defined by its edges alone (the
    pair graphs the dedup and entity-resolution closures run on)."""
    return (
        edges.select(F.col("src_uid").alias("uid"))
        .unionByName(edges.select(F.col("dst_uid").alias("uid")))
        .distinct()
    )


@dataclass
class PropertyGraph:
    vertices: DataFrame  # uid, label, name, ...
    edges: DataFrame  # src_uid, dst_uid, rel_type, ...

    def label_counts(self) -> DataFrame:
        """Per-label node counts (reference: src/db/neo4j_db.py:129-143)."""
        return self.vertices.groupBy("label").agg(F.count(F.lit(1)).alias("n"))

    def edge_type_counts(self) -> DataFrame:
        """Per-type relationship counts (reference: src/db/neo4j_db.py:142-148)."""
        return self.edges.groupBy("rel_type").agg(F.count(F.lit(1)).alias("n"))

    def hop(
        self,
        frontier: DataFrame,
        rel_types: tuple[str, ...] | None = None,
        direction: str = "out",
    ) -> DataFrame:
        """One traversal step: frontier(uid, root) → neighbors(uid, root).

        `direction='out'` follows src→dst; `'in'` follows dst→src (the
        reversed patterns in reference etl_implementation.md:253-257)."""
        e = self.edges
        if rel_types:
            e = e.filter(e.rel_type.isin(*rel_types))
        return self.hop_edges(frontier, e, direction)

    @staticmethod
    def hop_edges(frontier: DataFrame, e: DataFrame, direction: str = "out") -> DataFrame:
        """`hop` over a pre-resolved (already type-filtered) edge frame —
        lets iterative callers resolve the edge set once instead of once
        per level. Alias-qualified: a frontier built by an earlier hop
        carries the edge frame's attributes in its lineage, so bare column
        references would be ambiguous from the second level on."""
        here, there = ("src_uid", "dst_uid") if direction == "out" else ("dst_uid", "src_uid")
        f, ee = frontier.alias("__hop_f"), e.alias("__hop_e")
        return (
            f.join(ee, F.col("__hop_f.uid") == F.col(f"__hop_e.{here}"))
            .select(
                F.col(f"__hop_e.{there}").alias("uid"),
                F.col("__hop_f.root").alias("root"),
            )
            .distinct()
        )

    def reachable(
        self,
        roots: DataFrame,
        rel_types: tuple[str, ...] | None = None,
        direction: str = "out",
        max_depth: int = 3,
    ) -> DataFrame:
        """Bounded variable-length traversal (J6 — reference schema.cql:122
        AVV HAS_PARENT chains, Schema_Doku.pdf §6 NEXT_CHECK chains;
        hierarchies in the reference are ≤3 deep).

        roots: (uid, root) seed pairs. Returns every (uid, root) pair
        within max_depth hops of its root, roots included, once each.

        Invariants: the traversal is one lazy dataflow of fixed depth.
        Level k is ``hop_edges(level k-1)`` over the edge set resolved
        once before the loop; levels 0..max_depth are unioned and
        deduplicated by one final ``distinct()``. Building it runs no
        Spark job and caches nothing, so traversals are independent: any
        number may be built before any is consumed. Level k's plan
        contains level k-1's, and the planner reuses the shared
        exchanges, so each hop runs once per consumption. Lineage grows
        one join per level, so the bound is meant to stay shallow (every
        caller passes 3)."""
        e = self.edges
        if rel_types:
            e = e.filter(e.rel_type.isin(*rel_types))
        levels = [roots]
        for _ in range(max_depth):
            levels.append(self.hop_edges(levels[-1], e, direction))
        return reduce(DataFrame.unionByName, levels).distinct()

    def connected_components(self) -> DataFrame:
        """Distributed connected components. Returns (uid, component)
        where component = the lexicographically smallest uid in the
        vertex's component — a deterministic representative. Isolated
        vertices keep their own uid.

        The graph, not the caller, picks the strategy. Up to
        HASH_MIN_ROUNDS rounds of hash-min propagation run first: each
        round every vertex adopts the minimum label among itself and its
        neighbors (one join + one min-aggregation over the undirected
        edge set), and a round that changes no label ends the loop.
        Shallow graphs (near-dup balls, one-hop containment) converge
        here with few jobs per round. A graph whose labels still move
        after the last round is CONTRACTED — every edge maps to its
        endpoints' current labels, self-loops drop — and the contracted
        graph goes to star_contraction_components, whose round count is
        O(log² n) regardless of chain length. Each vertex's final
        component is the star root of its hash-min label.

        Correctness of the hand-off: every hash-min label is a uid in the
        vertex's own component, so the contracted graph has the same
        components over labels; a component's minimum uid is its own
        label (nothing smaller can reach it), so the star root — the
        minimum label — is the component's minimum uid."""
        # Pin the undirected edge view once: every round's join would
        # otherwise re-execute the caller's edge DERIVATION (for the
        # dedup composites that is the whole LSH band-join/verify
        # pipeline). localCheckpoint per round keeps plan size constant.
        und = self.edges.select("src_uid", "dst_uid").unionByName(
            self.edges.select(
                F.col("dst_uid").alias("src_uid"), F.col("src_uid").alias("dst_uid")
            )
        ).localCheckpoint(eager=True)
        comp = self.vertices.select("uid", F.col("uid").alias("component"))
        for _ in range(HASH_MIN_ROUNDS):
            # a vertex's own label rides along flagged `own`, so the
            # round's aggregation also yields its previous label and the
            # change test is a filter, not a second join
            nbr = und.join(comp, und.src_uid == comp.uid).select(
                F.col("dst_uid").alias("uid"), "component", F.lit(False).alias("own")
            )
            cand = (
                comp.withColumn("own", F.lit(True))
                .unionByName(nbr)
                .groupBy("uid")
                .agg(
                    F.min("component").alias("component"),
                    F.min(F.when(F.col("own"), F.col("component"))).alias("prev"),
                )
                .localCheckpoint(eager=True)
            )
            comp = cand.select("uid", "component")
            if cand.filter(F.col("component") != F.col("prev")).isEmpty():
                return comp
        src = comp.select(F.col("uid").alias("src_uid"), F.col("component").alias("sl"))
        dst = comp.select(F.col("uid").alias("dst_uid"), F.col("component").alias("dl"))
        contracted = (
            und.join(src, "src_uid")
            .join(dst, "dst_uid")
            .select(F.col("sl").alias("src_uid"), F.col("dl").alias("dst_uid"))
            .filter(F.col("src_uid") != F.col("dst_uid"))
        )
        star, _ = star_contraction_components(edge_endpoints(contracted), contracted)
        root = star.select(F.col("uid").alias("label"), F.col("component").alias("root"))
        return comp.join(root, comp.component == root.label, "left").select(
            "uid", F.coalesce("root", "component").alias("component")
        )

    def match(self, src_label: str, rel_type: str, dst_label: str) -> DataFrame:
        """Tiny pattern API (SURVEY §4.2): the engine's ergonomic analogue
        of Cypher `MATCH (:Src)-[:REL]->(:Dst)` — a 3-way join returning
        (src_uid, src_name, rel_type, dst_uid, dst_name). Dimension-sized
        vertex sides broadcast automatically under AQE."""
        e = self.edges.filter(self.edges.rel_type == rel_type)
        src = self.vertices.filter(self.vertices.label == src_label).select(
            F.col("uid").alias("src_uid"), F.col("name").alias("src_name")
        )
        dst = self.vertices.filter(self.vertices.label == dst_label).select(
            F.col("uid").alias("dst_uid"), F.col("name").alias("dst_name")
        )
        return (
            e.join(src, "src_uid")
            .join(dst, "dst_uid")
            .select("src_uid", "src_name", "rel_type", "dst_uid", "dst_name")
        )

    def orphans(self, label: str, rel_types: tuple[str, ...], direction: str = "in") -> DataFrame:
        """Nodes of `label` missing a required incident edge (reference:
        etl_implementation.md:238 — WasteItems with no DISPOSED_IN |
        DISPOSED_AT edge). Anti-join against the relevant edge endpoint."""
        e = self.edges.filter(self.edges.rel_type.isin(*rel_types))
        endpoint = "dst_uid" if direction == "in" else "src_uid"
        return self.vertices.filter(self.vertices.label == label).join(
            e, self.vertices.uid == e[endpoint], "left_anti"
        )


def star_contraction_components(
    vertices: DataFrame, edges: DataFrame
) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al., 'Connected Components in MapReduce and
    Beyond', SoCC'14) — the long-chain stage of
    PropertyGraph.connected_components. Returns ``(labels, rounds)``: the
    (uid, component) DataFrame under the same contract as
    PropertyGraph.connected_components (component = lexicographically
    smallest uid; isolated vertices keep their own uid), and the number
    of alternation rounds to the fixed point. Raises RuntimeError if the
    fixed point is not reached within STAR_MAX_ROUNDS.

    Each round over the current undirected neighbor view Γ:
      * large-star: every node u links its LARGER neighbors to
        m(u) = min(Γ(u) ∪ {u}) — long chains halve;
      * small-star: every node u links its smaller-or-equal neighbors
        and itself to m(u) — stars flatten onto their roots.
    The edge set reaches a fixed point of directed star edges
    (v → component root) in O(log² n) rounds worst-case (~log n in
    practice), vs O(diameter) for hash-min — a 10k-node path needs ~12
    rounds here and 10k there. Every step is joins/aggregations (min is
    map-combined); nothing is collected to the driver; localCheckpoint
    truncates the per-round lineage."""
    # Orientation invariant: every STORED edge is strictly (larger,
    # smaller). The input is normalized once here; each round's outputs
    # re-establish it by construction — large-star emits (v, m(u)) with
    # v > u ≥ m, small-star emits (v, m(u)) with v ∈ Γ(u) ⇒ m ≤ v (plus
    # (u, m(u)), m ≤ u), both ≠-filtered to strict. Under the invariant
    # the undirected view is a plain union of two DISJOINT orientations
    # (one side u>v, the mirror u<v), so it needs no distinct.
    #
    # The input edge set is materialized ONCE before iterating: round 1
    # otherwise re-executes the caller's whole edge DERIVATION 3-4 times
    # (two undirected unions + two min-joins consume `cur` before the
    # first per-round checkpoint). For cheap edge frames this is one
    # extra tiny checkpoint job.
    pair = (
        edges.select(
            F.greatest("src_uid", "dst_uid").alias("u"),
            F.least("src_uid", "dst_uid").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _und(e: DataFrame) -> DataFrame:
        # `e` is strictly oriented u>v, so the mirror's rows (u<v) never
        # coincide with e's. `e` itself may carry duplicates (the
        # large-star output is not deduped), so every consumer of the
        # union must be duplicate-insensitive: the min aggregations and
        # the (u, v) groupBy of the fixed-point probe are.
        return e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _mins(und: DataFrame) -> DataFrame:
        return und.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    cur = pair
    for rounds in range(1, STAR_MAX_ROUNDS + 1):
        und = _und(cur)
        mins = _mins(und)
        # No per-phase `.distinct()`: duplicates in the raw star outputs
        # cannot change a min aggregation, and the round's ONE (u, v)
        # exchange — the fixed-point probe's groupBy below — dedups the
        # small-star output as a side effect, so the edge set handed to
        # the next round is a distinct set.
        large = (
            und.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        und2 = _und(large)
        mins2 = _mins(und2)
        small_raw = (
            und2.filter(F.col("v") <= F.col("u"))
            .join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
        )
        # Fixed-point test and small-star dedup FUSED into one (u, v)
        # aggregation: per edge, track presence on each side; the sets
        # are equal exactly when no edge is one-sided. `cur` is a
        # distinct set, small_raw may carry duplicates — max() presence
        # flags are duplicate-insensitive.
        agg = (
            small_raw.select("u", "v", F.lit(1).alias("_s"), F.lit(0).alias("_c"))
            .unionByName(
                cur.select("u", "v", F.lit(0).alias("_s"), F.lit(1).alias("_c"))
            )
            .groupBy("u", "v")
            .agg(F.max("_s").alias("_s"), F.max("_c").alias("_c"))
            # LAZY checkpoint: the fixed-point probe below is the round's
            # first action over the aggregation and materializes it; the
            # next round's `cur` reads blocks. Lineage is truncated the
            # same as with an eager checkpoint.
            .localCheckpoint(eager=False)
        )
        stable = agg.filter(F.col("_s") != F.col("_c")).isEmpty()
        cur = agg.filter(F.col("_s") == 1).select("u", "v")
        if stable:
            break
    else:
        raise RuntimeError(
            f"star_contraction_components did not reach a fixed point within "
            f"{STAR_MAX_ROUNDS} rounds (O(log^2 n) expected)"
        )
    # fixed point: every edge is (member -> component root)
    roots = cur.groupBy("u").agg(F.min("v").alias("component"))
    return (
        vertices.select("uid")
        .join(roots, vertices.uid == roots.u, "left")
        .select("uid", F.coalesce("component", "uid").alias("component")),
        rounds,
    )
