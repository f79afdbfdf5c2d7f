"""The benchmark's workloads and their output checks.

Each workload registers its generated inputs, then runs passes. A pass
returns its operation latencies; every output a pass produces that can be
checked cheaply is checked, and the warm (first) pass also runs the full
checks. ``Checks`` counts operations attempted and failed; a failure is an
exception or a wrong output.

The check functions at the bottom take plain Python rows, so the
benchmark's self-check can feed them corrupted outputs without Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from collections import Counter

from gen import FIELDS, STREAMS, uid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The 14 headline queries of the engine's bench.py, in its order.
HEADLINE = (
    "join_four_hop_chain", "agg_multi_counter", "join_two_hop", "agg_group_topn",
    "win_lag_running_sum", "win_session_batch", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "sim_cosine_topk", "dedup_embedding_cosine",
    "text_fingerprint", "graph_reachability", "sink_upsert_node",
    "mm_binary_features",
)

LOOKUP_SQL = {
    "item": (
        "SELECT e.rel_type, t.name FROM kg_edges e "
        "JOIN kg_items i ON e.src_uid = i.uid JOIN kg_targets t ON e.dst_uid = t.uid "
        "WHERE i.name = :key"
    ),
    "facility": (
        "SELECT name, " + ", ".join(FIELDS) + " FROM kg_facilities WHERE name = :key"
    ),
    "facility_items": (
        "SELECT i.name FROM kg_edges e "
        "JOIN kg_items i ON e.src_uid = i.uid JOIN kg_facilities f ON e.dst_uid = f.uid "
        "WHERE f.name = :key AND e.rel_type = 'DISPOSED_AT'"
    ),
}


class Checks:
    """Operations attempted and failed, with the first few reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(f"{what}: {'; '.join(problems)[:300]}")

    def run(self, what: str, fn):
        """Call ``fn``; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception:  # the run goes on; the failure is counted
            self.record(what, [traceback.format_exc(limit=3).strip().splitlines()[-1]])
            print(traceback.format_exc(), file=sys.stderr)
            return None


def _family(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


class OlapHeadline:
    """The 14 headline queries over the generated tables, noop sink."""

    name = "olap_headline"

    def __init__(self, inputs: str, tracer_ref, checks: Checks):
        self.dir = os.path.join(inputs, "tables")
        self.tr = tracer_ref
        self.checks = checks

    def register(self, spark) -> None:
        from graph_etl_pipeline_spark.catalog import register_tables
        from graph_etl_pipeline_spark.registry import all_queries

        specs = all_queries()
        self.specs = [(n, specs[n]) for n in HEADLINE]
        register_tables(spark, self.dir)

    def run_pass(self, spark, warm: bool) -> tuple[list[float], dict]:
        lat, results = [], {}
        for name, spec in self.specs:
            tr = self.tr()
            fam = _family(spec.fn)
            t0 = time.perf_counter()

            def op():
                with tr.span(f"queries.{fam}.build"):
                    df = spec.fn(spark, self.dir)
                with tr.span(f"queries.{fam}.exec"):
                    if warm:
                        return Collected(df)
                    df.write.format("noop").mode("overwrite").save()
                    return True

            tr.op = name
            out = self.checks.run(name, op)
            lat.append((time.perf_counter() - t0) * 1e3)
            if out is not None and not warm:
                self.checks.record(name, [])
            results[name] = out
        return lat, results

    def check_warm(self, spark, results: dict) -> None:
        compare = parity().compare
        for name, spec in self.specs:
            if results.get(name) is not None:
                self.checks.record(name, compare(results[name], spec.oracle, self.dir))


class KgIngestServe:
    """The paper's pipeline on generated inputs: facility and waste-item
    ingest into parquet graph state, decision-flow routing, and
    parameterized Graph-RAG lookups.

    The warm pass loads the facilities, batch 0 and every incremental
    batch, and serves a few lookups. A timed pass re-delivers the last
    batch (an idempotent upsert with the full merge and write cost),
    routes every item over the new state and serves the next
    ``LOOKUPS_PER_PASS`` lookups from it.
    """

    name = "kg_ingest_serve"
    LOOKUPS_PER_PASS = 30

    def __init__(self, inputs: str, tracer_ref, checks: Checks):
        self.dir = os.path.join(inputs, "kg")
        self.state_root = os.path.join(inputs, "state")
        self.tr = tracer_ref
        self.checks = checks
        with open(os.path.join(self.dir, "truth.json"), encoding="utf-8") as f:
            self.truth = json.load(f)
        self.version = 0
        self.next_lookup = 0
        self.ingest_rows_per_s = 0.0  # the warm pass's full load
        self.upsert_batch_s: list[float] = []  # one per traced timed pass

    def register(self, spark) -> None:
        from pyspark.sql import functions as F

        from graph_etl_pipeline_spark.functions.hashing import uid_hash

        read = spark.read.parquet
        self.rule_vertices = read(os.path.join(self.dir, "rule_vertices.parquet"))
        self.rule_edges = read(os.path.join(self.dir, "rule_edges.parquet"))
        self.answers = read(os.path.join(self.dir, "answers.parquet"))
        self.streams = spark.createDataFrame([(s,) for s in STREAMS], "name string").select(
            uid_hash("name").alias("uid"), F.lit("WasteStream").alias("label"), "name"
        )

    def _save(self, df, name: str):
        """Write one piece of graph state to a new parquet version and
        read it back."""
        path = os.path.join(self.state_root, f"{name}_v{self.version}")
        with self.tr().span("sinks.upsert"):
            df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)

    def _batch(self, spark, b: int) -> None:
        from graph_etl_pipeline_spark.etl.waste_items import import_waste_items

        batch = self.truth["batches"][b]
        self.version += 1
        with self.tr().span("etl.waste_items"):
            items, edges, stats = import_waste_items(
                spark, os.path.join(self.dir, batch["path"]), self.fac, self.items, self.edges
            )
        self.items = self._save(items, "items")
        self.edges = self._save(edges, "edges")
        self.checks.record(f"batch {b} stats", check_batch_stats(batch, stats.asDict()))

    def _load(self, spark) -> None:
        from graph_etl_pipeline_spark.etl.facilities import import_facilities

        t0 = time.perf_counter()
        with self.tr().span("etl.facilities"):
            fac, _ = import_facilities(spark, os.path.join(self.dir, "facilities.json"))
        self.fac = self._save(fac, "facilities")
        self.items = self.edges = None
        for b in range(len(self.truth["batches"])):
            self._batch(spark, b)
        rows = self.truth["facility_records"] + sum(b["csv_rows"] for b in self.truth["batches"])
        self.ingest_rows_per_s = rows / (time.perf_counter() - t0)

    def _route(self, spark) -> None:
        from pyspark.sql import functions as F

        from graph_etl_pipeline_spark.graph.model import PropertyGraph
        from graph_etl_pipeline_spark.graph.reasoning import resolve_streams

        g = PropertyGraph(
            vertices=self.items.select("uid", F.lit("WasteItem").alias("label"), "name")
            .unionByName(self.streams)
            .unionByName(self.fac.select("uid", F.lit("Facility").alias("label"), "name"))
            .unionByName(self.rule_vertices),
            edges=self.edges.select("src_uid", "dst_uid", "rel_type").unionByName(self.rule_edges),
        )
        with self.tr().span("graph.reasoning"):
            routes = [tuple(r) for r in resolve_streams(g, self.answers).collect()]
        self.checks.record("routes", check_routes(self.truth["routes"], routes))

    def _lookups(self, spark, n: int) -> list[float]:
        from graph_etl_pipeline_spark import catalog

        self.items.createOrReplaceTempView("kg_items")
        self.edges.createOrReplaceTempView("kg_edges")
        self.fac.createOrReplaceTempView("kg_facilities")
        self.fac.select("uid", "name").unionByName(self.streams.select("uid", "name")) \
            .createOrReplaceTempView("kg_targets")
        lat = []
        for _ in range(n):
            lk = self.truth["lookups"][self.next_lookup % len(self.truth["lookups"])]
            self.next_lookup += 1
            self.tr().op = f"lookup {lk['kind']} {lk['key']}"
            t0 = time.perf_counter()

            def lookup():
                with self.tr().span("catalog.query") as rec:
                    rows = catalog.query(spark, LOOKUP_SQL[lk["kind"]], key=lk["key"])
                    rec["results"] = len(rows)
                    return rows

            rows = self.checks.run(self.tr().op, lookup)
            lat.append((time.perf_counter() - t0) * 1e3)
            if rows is not None:
                self.checks.record(self.tr().op, check_lookup(lk, rows))
        return lat

    def run_pass(self, spark, warm: bool) -> tuple[list[float], dict]:
        tr = self.tr()
        old = self.version
        if warm:
            tr.op = "load"
            self.checks.run("load", lambda: self._load(spark))
        else:
            tr.op = "upsert"
            t0 = time.perf_counter()
            self.checks.run("upsert", lambda: self._batch(spark, len(self.truth["batches"]) - 1))
            if tr.enabled:
                self.upsert_batch_s.append(time.perf_counter() - t0)
        if self.version == old:  # the ingest failed: nothing to serve
            return [], {}
        if not warm:
            tr.op = "routes"
            self.checks.run("routes", lambda: self._route(spark))
        lat = self._lookups(spark, 3 if warm else self.LOOKUPS_PER_PASS)
        for d in os.listdir(self.state_root):
            if int(d.rsplit("_v", 1)[1]) <= old and not d.startswith("facilities"):
                shutil.rmtree(os.path.join(self.state_root, d), ignore_errors=True)
        return lat, {"ok": True}

    def check_warm(self, spark, results: dict) -> None:
        """Full state check, then an untimed replay of the last batch that
        must leave the state digests unchanged."""
        from graph_etl_pipeline_spark.etl.waste_items import import_waste_items

        if not results:
            return
        fac_rows = [r.asDict() for r in self.fac.collect()]
        item_rows = [tuple(r) for r in self.items.select("uid", "name").collect()]
        edge_rows = [tuple(r) for r in self.edges.select("src_uid", "dst_uid", "rel_type").collect()]
        self.checks.record("state", check_state(self.truth, fac_rows, item_rows, edge_rows))

        def replay():
            last = self.truth["batches"][-1]["path"]
            i2, e2, _ = import_waste_items(
                spark, os.path.join(self.dir, last), self.fac, self.items, self.edges
            )
            return (
                digest(tuple(r) for r in i2.select("uid", "name").collect()),
                digest(tuple(r) for r in e2.select("src_uid", "dst_uid", "rel_type").collect()),
            )

        again = self.checks.run("replay", replay)
        if again is not None:
            same = again == (digest(item_rows), digest(edge_rows))
            self.checks.record("replay", [] if same else ["replaying the last batch changed the state"])


WORKLOADS = {w.name: w for w in (OlapHeadline, KgIngestServe)}


# ------------------------------------------------------------------ checks


def parity():
    """The repository's own oracle comparison, ``tests/parity.py``:
    order-insensitive multiset of the rows, columns matched by name, and
    a per-column type-class check."""
    tests = os.path.join(ROOT, "tests")
    if tests not in sys.path:
        sys.path.append(tests)
    import parity as mod

    return mod


class Collected:
    """A DataFrame collected once: the columns, schema and rows that
    ``parity.compare`` reads, so the check runs the query no second time."""

    def __init__(self, df):
        self.columns = df.columns
        self.schema = df.schema
        self._rows = df.collect()

    def collect(self) -> list:
        return self._rows


def check_batch_stats(batch: dict, stats: dict) -> list[str]:
    return [
        f"{k} {stats[k]} != {batch[k]}"
        for k in ("items_loaded", "unmatched_facilities")
        if stats[k] != batch[k]
    ]


def check_state(truth: dict, fac_rows: list[dict], item_rows, edge_rows) -> list[str]:
    """Node and edge counts, merged facility fields and the edge set."""
    problems = []
    facs = {r["name"]: {f: r[f] for f in FIELDS} for r in fac_rows}
    if facs != truth["facilities"]:
        bad = sorted(n for n in set(facs) | set(truth["facilities"])
                     if facs.get(n) != truth["facilities"].get(n))
        problems.append(f"facilities differ for {bad[:3]}")
    if any(r["uid"] != uid(r["name"]) for r in fac_rows):
        problems.append("facility uid is not the name hash")
    if len(item_rows) != truth["items"] or len({u for u, _ in item_rows}) != truth["items"]:
        problems.append(f"{len(item_rows)} item nodes != {truth['items']}")
    targets = {uid(s): s for s in STREAMS} | {uid(n): n for n in truth["facilities"]}
    names = {u: n for u, n in item_rows}
    got = Counter((names.get(s), targets.get(d), r) for s, d, r in edge_rows)
    want = Counter(tuple(e) for e in truth["edges"])
    if got != want:
        problems.append(f"{sum(got.values())} edges vs {sum(want.values())}; "
                        f"extra {list(got - want)[:2]} missing {list(want - got)[:2]}")
    return problems


def check_routes(truth_routes: dict, routes) -> list[str]:
    got: dict[str, list] = {}
    for item, stream, via in routes:
        got.setdefault(item, []).append([stream, via])
    got = {k: sorted(v) for k, v in got.items()}
    if got == truth_routes:
        return []
    bad = sorted(k for k in set(got) | set(truth_routes) if got.get(k) != truth_routes.get(k))
    return [f"{len(bad)} items routed wrongly, e.g. {bad[:2]}"]


def check_lookup(lookup: dict, rows: list[dict]) -> list[str]:
    got = sorted([list(r.values()) for r in rows], key=repr)
    want = sorted(lookup["expect"], key=repr)
    return [] if got == want else [f"got {got[:3]} want {want[:3]}"]


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows, key=repr):
        h.update(repr(r).encode())
    return h.hexdigest()
