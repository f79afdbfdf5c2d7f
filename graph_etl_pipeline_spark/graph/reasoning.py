"""Decision-flow reasoning over the rule graph (reference:
Schema_Doku.pdf §7 — the Graph-RAG traversal the ontology exists for).

Flow semantics (reference §7.2-7.3): an item routes to a WasteStream
either directly (simple route) or through a DisposalRule's condition tree
— each Condition node asks a question; IF_TRUE/IF_FALSE edges lead to the
next Condition (NEXT_CHECK chains) or to a terminal stream via
ROUTES_TO/IMPLIES_STREAM. Campus rules OVERRIDE city rules (§7.3:
scope='campus' wins when both exist).

Set-oriented by design: `resolve_streams` routes EVERY item in one lazy
plan — answers arrive as a DataFrame of (condition_uid, answer) facts and
each rule's condition tree is walked by a fixed chain of broadcast joins —
so the same code answers one chatbot query or re-routes a 10^9-item catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.graph.model import PropertyGraph

# Branch steps from a rule's entry to its stream; a deeper route raises.
MAX_RULE_DEPTH = 8


def resolve_streams(g: PropertyGraph, answers: DataFrame) -> DataFrame:
    """Route every WasteItem to its stream given condition answers, a
    (condition_uid, answer: bool) frame.

    Returns (item_uid, stream_uid, via) where via ∈ {direct, rule}.
    Rule resolution walks each rule's condition tree, following at each
    Condition the IF_TRUE/IF_FALSE edge matching its answer, one broadcast
    join per step. A WasteStream is terminal; a walk stuck at an
    unanswered Condition or a missing branch yields no route; a walk still
    moving after MAX_RULE_DEPTH steps fails the query instead of dropping
    the item. Campus scope overrides city (reference §7.3): when an item
    has both, the campus rule's outcome wins.
    """
    v, e = g.vertices, g.edges

    # 1. direct routes: item -DISPOSED_IN-> stream
    direct = (
        e.filter(e.rel_type == "DISPOSED_IN")
        .select(
            F.col("src_uid").alias("item_uid"),
            F.col("dst_uid").alias("stream_uid"),
            F.lit("direct").alias("via"),
        )
    )

    # 2. rule routes: item -HAS_RULE-> rule(scope) -HAS_CONDITION-> node ...
    rules = (
        e.filter(e.rel_type == "HAS_RULE")
        .select(F.col("src_uid").alias("item_uid"), F.col("dst_uid").alias("rule_uid"))
        .join(
            v.filter(v.label == "DisposalRule").select(
                F.col("uid").alias("rule_uid"), F.col("name").alias("scope")
            ),
            "rule_uid",
        )
    )
    streams = v.filter(v.label == "WasteStream").select(F.col("uid").alias("node_uid"))
    # the answered branch out of each node; streams never move
    chosen = F.broadcast(
        e.filter(e.rel_type.isin("IF_TRUE", "IF_FALSE"))
        .select(
            F.col("src_uid").alias("node_uid"),
            F.col("dst_uid").alias("next_uid"),
            (F.col("rel_type") == "IF_TRUE").alias("on_true"),
        )
        .join(answers.select(F.col("condition_uid").alias("node_uid"), "answer"), "node_uid")
        .filter(F.col("answer") == F.col("on_true"))
        .join(streams, "node_uid", "left_anti")
        .select("node_uid", "next_uid")
    )
    # frontier: (rule_uid, node_uid); a row with no chosen branch stays
    # put. The extra last step must move nothing: its raise sits in the
    # projected join key, so no later filter is pushed beneath it.
    frontier = e.filter(e.rel_type == "HAS_CONDITION").select(
        F.col("src_uid").alias("rule_uid"), F.col("dst_uid").alias("node_uid")
    )
    for step in range(MAX_RULE_DEPTH + 1):
        nxt = F.col("next_uid")
        if step == MAX_RULE_DEPTH:
            nxt = F.when(nxt.isNotNull(), F.raise_error(F.lit(
                f"resolve_streams: MAX_RULE_DEPTH={MAX_RULE_DEPTH} exhausted "
                "(condition chain too deep or cyclic)"
            )))
        frontier = frontier.join(chosen, "node_uid", "left").select(
            "rule_uid", F.coalesce(nxt, "node_uid").alias("node_uid")
        )
    resolved = (
        frontier.join(F.broadcast(streams), "node_uid")
        .join(F.broadcast(rules), "rule_uid")
        .select("item_uid", F.col("node_uid").alias("stream_uid"), "scope")
    )

    # campus overrides city (reference §7.3)
    w = Window.partitionBy("item_uid").orderBy("prio", "stream_uid")
    ruled = (
        resolved.withColumn("prio", F.when(F.col("scope") == "campus", 0).otherwise(1))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("item_uid", "stream_uid", F.lit("rule").alias("via"))
    )
    # rule outcome wins over a direct edge when both exist
    direct_only = direct.join(ruled.select("item_uid"), "item_uid", "left_anti")
    return ruled.unionByName(direct_only)


def validate_branch_determinism(g: PropertyGraph) -> DataFrame:
    """Well-formedness audit for the rule graph: a Condition node with
    more than one outgoing IF_TRUE (or IF_FALSE) edge is ambiguous — an
    item answering it would follow BOTH branches, and which outcome wins
    becomes an accident of tie-breaking. Rules must not share a Condition
    node unless they also share its routing; model per-rule variants as
    separate Condition nodes (the reference's unique `Condition.key`,
    schema.cql:68, makes sharing tempting — this audit catches the
    conflicting case). Returns (node_uid, rel_type, n_targets) rows."""
    e = g.edges
    return (
        e.filter(e.rel_type.isin("IF_TRUE", "IF_FALSE"))
        .groupBy(F.col("src_uid").alias("node_uid"), "rel_type")
        .agg(F.countDistinct("dst_uid").alias("n_targets"))
        .filter(F.col("n_targets") > 1)
    )


def validate_avv_paths(g: PropertyGraph) -> DataFrame:
    """Consistency audit (reference §4.10: "no ALLOWS_AVV path ⇒
    validation error"): items whose routed stream lacks an ALLOWS_AVV
    edge to the item's REQUIRES_AVV code. Returns the violating
    (item_uid, stream_uid, code_uid) triples."""
    e = g.edges
    routed = e.filter(e.rel_type == "DISPOSED_IN").select(
        F.col("src_uid").alias("item_uid"), F.col("dst_uid").alias("stream_uid")
    )
    requires = e.filter(e.rel_type == "REQUIRES_AVV").select(
        F.col("src_uid").alias("item_uid"), F.col("dst_uid").alias("code_uid")
    )
    allows = e.filter(e.rel_type == "ALLOWS_AVV").select(
        F.col("src_uid").alias("stream_uid"), F.col("dst_uid").alias("code_uid")
    )
    return (
        routed.join(requires, "item_uid")
        .join(allows, ["stream_uid", "code_uid"], "left_anti")
    )
