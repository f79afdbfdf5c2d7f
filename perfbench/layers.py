"""Per-layer metrics of a traced run.

``install`` wraps the engine functions that have no call site in the
benchmark itself (graph traversal, materialization); the workloads open
the other spans around their own calls into ``etl``, ``sinks``,
``graph.reasoning`` and ``catalog``. ``layer_metrics`` turns the spans of
the timed passes into per-pass averages. A layer a workload does not
exercise reads 0.
"""

from __future__ import annotations

import os
import statistics

FAMILIES = (
    "joins", "aggregates", "windows", "dedup", "similarity", "textops",
    "graph_queries", "sinks", "multimodal",
)

# name -> unit, in output order
METRICS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    **{
        f"queries.{f}.{k}": u
        for f in FAMILIES
        for k, u in (
            ("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("tasks", "count"),
            ("shuffle_bytes", "B"), ("executor_cpu_s", "s"), ("driver_share", "ratio"),
        )
    },
    "graph.model.s": "s",
    "graph.model.jobs": "count",
    "io.materialize.calls": "count",
    "io.materialize.s": "s",
    "io.materialize.hit_ratio": "ratio",
    "io.cache_bytes": "B",
    "etl.facilities.s": "s",
    "etl.facilities.executor_util": "ratio",
    "etl.waste_items.s": "s",
    "etl.waste_items.jobs": "count",
    "etl.waste_items.shuffle_bytes": "B",
    "etl.waste_items.executor_util": "ratio",
    "etl.ingest_rows_per_s": "rows/s",
    "sinks.upsert.s": "s",
    "sinks.upsert.batch_s": "s",
    "sinks.upsert.shuffle_bytes": "B",
    "sinks.upsert.bytes_written": "B",
    "sinks.upsert.bytes_per_input_byte": "ratio",
    "graph.reasoning.s": "s",
    "graph.reasoning.jobs": "count",
    "catalog.query.plan_s": "s",
    "catalog.query.jobs": "count",
    "catalog.query.tasks": "count",
    "catalog.query.input_rows_per_result": "rows",
    "trace.overhead_s": "s",
}


def install(tracer) -> None:
    from graph_etl_pipeline_spark import io
    from graph_etl_pipeline_spark.graph import model

    for method in ("reachable", "connected_components"):
        tracer.wrap(model.PropertyGraph, method, "graph.model")
    tracer.wrap(model, "star_contraction_components", "graph.model")

    def dirs():
        return len(os.listdir(io.SCRATCH_DIR)) if os.path.isdir(io.SCRATCH_DIR) else 0

    def hit(rec, before, _out):
        rec["hit"] = dirs() == before

    tracer.wrap(io, "materialize", "io.materialize", before=dirs, after=hit)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _by_name(spans: list[dict]) -> dict[str, list[dict]]:
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    return by


def layer_metrics(warm: list[dict], spans: list[dict], passes: int, cores: int,
                  setup: dict, workload) -> dict:
    """Per-layer metrics, per timed pass. The facility import and the
    bulk-load rate exist only in the warm pass (the full load) and come
    from its spans."""
    by = _by_name(spans)
    warm_fac = _by_name(warm).get("etl.facilities", [])

    def tot(names, key):
        return sum(s[key] for n in names for s in by.get(n, []))

    def per_pass(names, key):
        return tot(names, key) / passes

    def util(name):
        return _ratio(tot([name], "run_s"), tot([name], "wall_s") * cores)

    out = {k: 0.0 for k in METRICS}
    out.update(setup)
    for f in FAMILIES:
        b, e = f"queries.{f}.build", f"queries.{f}.exec"
        out.update({
            f"queries.{f}.build_s": per_pass([b], "wall_s"),
            f"queries.{f}.exec_s": per_pass([e], "wall_s"),
            f"queries.{f}.jobs": per_pass([b, e], "n_jobs"),
            f"queries.{f}.tasks": per_pass([b, e], "tasks"),
            f"queries.{f}.shuffle_bytes": per_pass([b, e], "shuffle_bytes"),
            f"queries.{f}.executor_cpu_s": per_pass([b, e], "cpu_s"),
            f"queries.{f}.driver_share": _ratio(tot([b, e], "driver_s"), tot([b, e], "wall_s")),
        })
    # graph.model spans can nest (a traversal inside a traversal): count
    # only the outermost ones
    model_ids = {s["id"] for s in by.get("graph.model", [])}
    outer = [s for s in by.get("graph.model", []) if s["parent"] not in model_ids]
    mat = by.get("io.materialize", [])
    calls = by.get("catalog.query", [])
    out.update({
        "graph.model.s": sum(s["wall_s"] for s in outer) / passes,
        "graph.model.jobs": sum(s["n_jobs"] for s in outer) / passes,
        "io.materialize.calls": len(mat) / passes,
        "io.materialize.s": per_pass(["io.materialize"], "wall_s"),
        "io.materialize.hit_ratio": _ratio(sum(s["hit"] for s in mat), len(mat)),
        "io.cache_bytes": max((s.get("cache_bytes", 0) for s in spans), default=0),
        "etl.facilities.s": sum(s["wall_s"] for s in warm_fac),
        "etl.facilities.executor_util": _ratio(
            sum(s["run_s"] for s in warm_fac), sum(s["wall_s"] for s in warm_fac) * cores
        ),
        "etl.waste_items.s": per_pass(["etl.waste_items"], "wall_s"),
        "etl.waste_items.jobs": per_pass(["etl.waste_items"], "n_jobs"),
        "etl.waste_items.shuffle_bytes": per_pass(["etl.waste_items"], "shuffle_bytes"),
        "etl.waste_items.executor_util": util("etl.waste_items"),
        "sinks.upsert.s": per_pass(["sinks.upsert"], "wall_s"),
        "sinks.upsert.shuffle_bytes": per_pass(["sinks.upsert"], "shuffle_bytes"),
        "sinks.upsert.bytes_written": per_pass(["sinks.upsert"], "output_bytes"),
        "sinks.upsert.bytes_per_input_byte": _ratio(
            tot(["sinks.upsert"], "output_bytes"), tot(["sinks.upsert"], "input_bytes")
        ),
        "graph.reasoning.s": per_pass(["graph.reasoning"], "wall_s"),
        "graph.reasoning.jobs": per_pass(["graph.reasoning"], "n_jobs"),
        "catalog.query.plan_s": _ratio(sum(s["driver_s"] for s in calls), len(calls)),
        "catalog.query.jobs": _ratio(sum(s["n_jobs"] for s in calls), len(calls)),
        "catalog.query.tasks": _ratio(sum(s["tasks"] for s in calls), len(calls)),
        "catalog.query.input_rows_per_result": _ratio(
            sum(s["input_records"] for s in calls), sum(s.get("results", 0) for s in calls)
        ),
    })
    if hasattr(workload, "upsert_batch_s"):
        out["etl.ingest_rows_per_s"] = workload.ingest_rows_per_s
        out["sinks.upsert.batch_s"] = statistics.median(workload.upsert_batch_s)
    return {k: (v, METRICS[k]) for k, v in out.items()}
