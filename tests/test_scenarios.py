"""End-to-end reasoning-flow scenarios (reference: Schema_Doku.pdf §7 —
the acceptance scenarios the reference's graph must answer; SURVEY §5.1):
banana peel (simple stream route), paint bucket (condition tree + AVV
validation), electric toothbrush (campus rule overrides city rule)."""

from __future__ import annotations

import itertools
import random
from collections import defaultdict

import pytest
from conftest import job_group

from graph_etl_pipeline_spark.graph.model import PropertyGraph
from graph_etl_pipeline_spark.graph.reasoning import (
    MAX_RULE_DEPTH,
    resolve_streams,
    validate_avv_paths,
)

VERTEX_SCHEMA = "uid string, label string, name string"
EDGE_SCHEMA = "src_uid string, dst_uid string, rel_type string"
ANSWER_SCHEMA = "condition_uid string, answer boolean"


@pytest.fixture(scope="module")
def rule_graph(spark):
    vertices = spark.createDataFrame(
        [
            # items
            ("i_banana", "WasteItem", "Bananenschale"),
            ("i_paint", "WasteItem", "Farbeimer"),
            ("i_brush", "WasteItem", "Elektrozahnbürste"),
            # streams
            ("s_bio", "WasteStream", "Biotonne"),
            ("s_rest", "WasteStream", "Restabfalltonne"),
            ("s_schad", "WasteStream", "Schadstoffsammlung"),
            ("s_elektro", "WasteStream", "Elektrokleingerät"),
            # rules (name carries scope)
            ("r_paint", "DisposalRule", "city"),
            ("r_brush_city", "DisposalRule", "city"),
            ("r_brush_campus", "DisposalRule", "campus"),
            # conditions
            ("c_empty", "Condition", "Ist der Eimer restentleert?"),
            ("c_dried", "Condition", "Ist die Farbe eingetrocknet?"),
            ("c_battery", "Condition", "Enthält das Gerät einen Akku?"),
            ("c_battery_campus", "Condition", "Enthält das Gerät einen Akku? (Campus)"),
            # AVV codes
            ("a_0801", "AVVCode", "08 01"),
        ],
        VERTEX_SCHEMA,
    )
    edges = spark.createDataFrame(
        [
            # banana: simple direct route (§7.1)
            ("i_banana", "s_bio", "DISPOSED_IN"),
            # paint bucket: multi-step condition chain (§7.2)
            ("i_paint", "r_paint", "HAS_RULE"),
            ("r_paint", "c_empty", "HAS_CONDITION"),
            ("c_empty", "s_rest", "IF_TRUE"),  # empty bucket → residual
            ("c_empty", "c_dried", "IF_FALSE"),  # else: is it dried?
            ("c_dried", "s_rest", "IF_TRUE"),
            ("c_dried", "s_schad", "IF_FALSE"),  # wet paint → hazardous
            # toothbrush: city rule says residual, campus overrides (§7.3)
            ("i_brush", "r_brush_city", "HAS_RULE"),
            ("r_brush_city", "c_battery", "HAS_CONDITION"),
            ("c_battery", "s_rest", "IF_FALSE"),
            ("c_battery", "s_schad", "IF_TRUE"),
            # campus rule owns its OWN condition node: sharing c_battery
            # with a different IF_TRUE target would make the graph
            # ambiguous (validate_branch_determinism flags that shape)
            ("i_brush", "r_brush_campus", "HAS_RULE"),
            ("r_brush_campus", "c_battery_campus", "HAS_CONDITION"),
            ("c_battery_campus", "s_elektro", "IF_TRUE"),
            ("c_battery_campus", "s_rest", "IF_FALSE"),
            # AVV validation (§4.10): paint requires 08 01; only
            # Schadstoffsammlung is allowed to take it
            ("i_paint", "a_0801", "REQUIRES_AVV"),
            ("s_schad", "a_0801", "ALLOWS_AVV"),
        ],
        EDGE_SCHEMA,
    )
    return PropertyGraph(vertices=vertices, edges=edges)


def _answers(spark, **by_uid):
    # the campus twin of c_battery answers identically
    items = list(by_uid.items())
    if "c_battery" in by_uid:
        items.append(("c_battery_campus", by_uid["c_battery"]))
    return spark.createDataFrame(items, ANSWER_SCHEMA)


def test_banana_peel_direct_route(spark, rule_graph):
    out = resolve_streams(rule_graph, _answers(spark, c_empty=True, c_battery=False))
    routes = {r.item_uid: (r.stream_uid, r.via) for r in out.collect()}
    assert routes["i_banana"] == ("s_bio", "direct")


def test_paint_bucket_condition_chain(spark, rule_graph):
    # wet, non-empty paint → two-level chain ends at Schadstoffsammlung
    out = resolve_streams(
        rule_graph, _answers(spark, c_empty=False, c_dried=False, c_battery=False)
    )
    routes = {r.item_uid: r.stream_uid for r in out.collect()}
    assert routes["i_paint"] == "s_schad"
    # empty bucket short-circuits at level 1
    out2 = resolve_streams(
        rule_graph, _answers(spark, c_empty=True, c_battery=False)
    )
    routes2 = {r.item_uid: r.stream_uid for r in out2.collect()}
    assert routes2["i_paint"] == "s_rest"


def test_campus_overrides_city(spark, rule_graph):
    # battery device: city rule → Schadstoffsammlung, campus rule →
    # Elektrokleingerät; campus must win (§7.3)
    out = resolve_streams(rule_graph, _answers(spark, c_empty=True, c_battery=True))
    routes = {r.item_uid: r.stream_uid for r in out.collect()}
    assert routes["i_brush"] == "s_elektro"


def test_branch_determinism_audit(spark, rule_graph):
    from graph_etl_pipeline_spark.graph.reasoning import validate_branch_determinism

    # the fixture graph is well-formed
    assert validate_branch_determinism(rule_graph).isEmpty()
    # sharing one condition across rules with conflicting IF_TRUE targets
    # is flagged
    bad = rule_graph.edges.sparkSession.createDataFrame(
        [("c_battery", "s_elektro", "IF_TRUE")],
        "src_uid string, dst_uid string, rel_type string",
    )
    g_bad = PropertyGraph(rule_graph.vertices, rule_graph.edges.unionByName(bad))
    rows = validate_branch_determinism(g_bad).collect()
    assert [(r.node_uid, r.rel_type, r.n_targets) for r in rows] == [
        ("c_battery", "IF_TRUE", 2)
    ]


def test_avv_validation(spark, rule_graph):
    # i_paint requires 08 01; only s_schad ALLOWS it. Add a DISPOSED_IN
    # edge to the WRONG stream → violation; to the right one → clean.
    from pyspark.sql import functions as F

    bad_edge = rule_graph.edges.sparkSession.createDataFrame(
        [("i_paint", "s_rest", "DISPOSED_IN")],
        "src_uid string, dst_uid string, rel_type string",
    )
    g_bad = PropertyGraph(rule_graph.vertices, rule_graph.edges.unionByName(bad_edge))
    violations = validate_avv_paths(g_bad).collect()
    assert [(v.item_uid, v.stream_uid) for v in violations] == [("i_paint", "s_rest")]

    good_edge = bad_edge.withColumn("dst_uid", F.lit("s_schad"))
    g_good = PropertyGraph(rule_graph.vertices, rule_graph.edges.unionByName(good_edge))
    assert validate_avv_paths(g_good).isEmpty()


def test_resolve_streams_job_count_pinned(spark, rule_graph):
    """Routing is one lazy plan: building it fires no job (no per-level
    probe or eager checkpoint), and its collect runs a fixed number of
    jobs whatever the depth of the condition trees."""
    answers = _answers(spark, c_empty=False, c_dried=False, c_battery=True)
    with job_group(spark) as jobs:
        out = resolve_streams(rule_graph, answers)
        build_jobs = jobs()
        rows = out.collect()
        total_jobs = jobs()
    assert build_jobs == 0
    assert total_jobs == 5
    assert sorted(tuple(r) for r in rows) == [
        ("i_banana", "s_bio", "direct"),
        ("i_brush", "s_elektro", "rule"),
        ("i_paint", "s_schad", "rule"),
    ]


def _chain_graph(spark, n_conditions):
    """One item whose rule is a chain of n always-true conditions ending
    in a stream: n-1 branch steps from the entry to the last condition,
    n to the stream."""
    conds = [f"c{i}" for i in range(n_conditions)]
    vertices = [
        ("i", "WasteItem", "i"), ("s", "WasteStream", "s"), ("r", "DisposalRule", "city")
    ] + [(c, "Condition", c) for c in conds]
    edges = [("i", "r", "HAS_RULE"), ("r", "c0", "HAS_CONDITION")] + [
        (a, b, "IF_TRUE") for a, b in zip(conds, conds[1:] + ["s"])
    ]
    g = PropertyGraph(
        spark.createDataFrame(vertices, VERTEX_SCHEMA),
        spark.createDataFrame(edges, EDGE_SCHEMA),
    )
    return g, spark.createDataFrame([(c, True) for c in conds], ANSWER_SCHEMA)


def test_rule_depth_budget_fails_loudly(spark):
    g, answers = _chain_graph(spark, MAX_RULE_DEPTH)
    assert [tuple(r) for r in resolve_streams(g, answers).collect()] == [("i", "s", "rule")]
    g, answers = _chain_graph(spark, MAX_RULE_DEPTH + 1)
    with pytest.raises(Exception, match=f"MAX_RULE_DEPTH={MAX_RULE_DEPTH} exhausted"):
        resolve_streams(g, answers).collect()


# One forced shape per forest (forest k gets shape k % 7), as
# "src dst rel" edges plus answers. Uid initials give the label:
# I item, R city rule, Q campus rule, C condition, S stream.
SHAPES = [
    # campus beats city
    ("I R HAS_RULE, R S0 HAS_CONDITION, I Q HAS_RULE, Q S2 HAS_CONDITION", {}),
    # same-scope outcomes: the smaller stream_uid wins
    ("I R HAS_RULE, R S2 HAS_CONDITION, I R2 HAS_RULE, R2 S1 HAS_CONDITION", {}),
    # a rule route beats a direct edge
    ("I S0 DISPOSED_IN, I R HAS_RULE, R C HAS_CONDITION, C S1 IF_TRUE", {"C": True}),
    # unanswered condition and dead end: the direct edge stands
    (
        "I S0 DISPOSED_IN, I R HAS_RULE, R C HAS_CONDITION, C S1 IF_TRUE, "
        "R C2 HAS_CONDITION, C2 S2 IF_TRUE",
        {"C2": False},
    ),
    # ambiguous node: both IF_TRUE edges are followed
    ("I Q HAS_RULE, Q C HAS_CONDITION, C S2 IF_TRUE, C S1 IF_TRUE", {"C": True}),
    # entry straight at a stream
    ("I R HAS_RULE, R S1 HAS_CONDITION", {}),
    # a stream's answered branch is never followed
    ("I R HAS_RULE, R C HAS_CONDITION, C S0 IF_FALSE, S0 S1 IF_FALSE", {"C": False, "S0": False}),
]
LABELS = {
    "I": ("WasteItem", "item"), "R": ("DisposalRule", "city"),
    "Q": ("DisposalRule", "campus"), "C": ("Condition", "q"), "S": ("WasteStream", "s"),
}


def _random_forest(rng, k):
    """Edges and answers of forest k: its forced shape plus two random
    items with direct edges and rules over random condition trees
    (unanswered nodes, dead ends, ambiguous branches, entries at
    streams). Uids are prefixed by the forest, so forests are disjoint."""
    p = f"f{k:02d}_"
    text, forced = SHAPES[k % len(SHAPES)]
    edges = [(p + s, p + d, r) for s, d, r in (t.split() for t in text.split(", "))]
    answers = {p + c: a for c, a in forced.items()}
    streams = [f"{p}S{j}" for j in range(3)]
    ids = itertools.count()

    def tree(depth):
        if depth == 4 or rng.random() < (0.2 if depth == 0 else 0.4):
            return rng.choice(streams)
        c = f"{p}Cr{next(ids)}"
        if rng.random() < 0.85:
            answers[c] = rng.random() < 0.5
        for rel in ("IF_TRUE", "IF_FALSE") + (("IF_TRUE",) if rng.random() < 0.1 else ()):
            if rng.random() < 0.9:
                edges.append((c, tree(depth + 1), rel))
        return c

    for i in range(2):
        item = f"{p}Ir{i}"
        edges += [(item, rng.choice(streams), "DISPOSED_IN") for _ in range(rng.choice([0, 1, 2]))]
        for j in range(rng.choice([0, 1, 1, 2])):
            rule = f"{p}{rng.choice('RQ')}r{i}{j}"
            edges.append((item, rule, "HAS_RULE"))
            edges += [(rule, tree(0), "HAS_CONDITION") for _ in range(rng.choice([1, 1, 2]))]
    vertices = {u for s, d, _ in edges for u in (s, d)} | set(streams)
    return [(u, *LABELS[u[len(p)]]) for u in sorted(vertices)], edges, answers


def _walk_routes(vertices, edges, answers):
    """Reference router: per item, walk every rule entry depth-first."""
    label = {u: (lab, name) for u, lab, name in vertices}
    out = defaultdict(list)
    for s, d, r in edges:
        out[s, r].append(d)

    def walk(node, steps):
        if label[node][0] == "WasteStream":
            return [node]
        if node not in answers:
            return []
        nxt = out[node, "IF_TRUE" if answers[node] else "IF_FALSE"]
        assert not nxt or steps < MAX_RULE_DEPTH
        return [s for n in nxt for s in walk(n, steps + 1)]

    routes = []
    for item in sorted({u for u, (lab, _) in label.items() if lab == "WasteItem"}):
        ruled = [
            (label[r][1] != "campus", s)
            for r in out[item, "HAS_RULE"]
            for c in out[r, "HAS_CONDITION"]
            for s in walk(c, 0)
        ]
        if ruled:
            routes.append((item, min(ruled)[1], "rule"))
        else:
            routes += [(item, s, "direct") for s in out[item, "DISPOSED_IN"]]
    return sorted(routes)


def test_resolve_streams_matches_reference_walk(spark):
    rng = random.Random(20240917)
    vertices, edges, answers = [], [], {}
    for k in range(49):
        v, e, a = _random_forest(rng, k)
        vertices += v
        edges += e
        answers.update(a)
    g = PropertyGraph(
        spark.createDataFrame(vertices, VERTEX_SCHEMA),
        spark.createDataFrame(edges, EDGE_SCHEMA),
    )
    out = resolve_streams(g, spark.createDataFrame(list(answers.items()), ANSWER_SCHEMA))
    got = sorted(tuple(r) for r in out.collect())
    want = _walk_routes(vertices, edges, answers)
    assert {via for *_, via in want} == {"direct", "rule"}
    assert got == want
