"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --cores 4 --shuffle-partitions 4 \
        --workload olap_headline --seed 1 --seconds 10 --trace 0

Run from the repository root. The runner generates the workload's inputs
from the seed, builds the engine's Spark session at a pinned master and
shuffle width, registers the inputs and runs one untimed warm pass whose
outputs are checked in full. It then runs timed passes, closed loop with
one client, until ``--seconds`` have passed. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Spans of a traced run go to a side file under
``.bench_run/``. Logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import WORKLOADS, Checks  # noqa: E402

DEADLINE_S = 170
# The driver JVM's heap and collector. The engine's own default is an 8g
# heap and the default collector; the benchmark's inputs peak near 2 GB
# RSS, and serial GC with a fixed young generation makes the heap, and so
# the RSS, grow with live data rather than with concurrent GC timing (peak
# RSS spread 10% -> 3% over ten seeds).
DRIVER_MEMORY = "2g"
DRIVER_JAVA_OPTIONS = "-Xmn256m -XX:+UseSerialGC"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # pinned by the command in BENCHMARK.json, never taken from the host
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--shuffle-partitions", type=int, required=True)
    return ap.parse_args(argv)


class Session:
    """The engine's Spark session plus the run's private directories."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.spark = None

    def start(self):
        from graph_etl_pipeline_spark.session import get_spark

        self.spark = get_spark(cpus=self.args.cores, shuffle_partitions=self.args.shuffle_partitions)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait for the JVM the session launched to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # still alive after 30 s: kill and reap it
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def peak_rss_mb(self) -> float:
        """Peak RSS of the Python driver plus the driver JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        pid = self.spark._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024


def hd_quantile(samples: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile.

    A mean of all order statistics, each weighted by the mass that
    Beta(p(n+1), (1-p)(n+1)) puts on its 1/n of [0, 1]; the weights come
    from a midpoint rule on a grid aligned to those bins. With 14 unlike
    queries per pass, interpolating between the two order statistics next
    to the quantile made the estimate jump whenever one query swapped
    ranks; spreading the weight over the neighbours halved that part of
    the spread between seeds.
    """
    import numpy as np

    xs = np.sort(np.asarray(samples, dtype=float))
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    per_bin = 1000
    t = (np.arange(n * per_bin) + 0.5) / (n * per_bin)
    log_dens = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    mass = np.exp(log_dens - log_dens.max()).reshape(n, per_bin).sum(axis=1)
    return float(mass @ xs / mass.sum())


class NoTracer:
    """Stand-in for ``spans.Tracer`` when tracing is off."""

    enabled = False
    op = None
    spans: list = []

    def span(self, name):
        import contextlib

        return contextlib.nullcontext({})


def run(args) -> dict:
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(run_dir, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # confs get_spark does not set, through the launcher's defaults file
    conf_dir = os.path.join(run_dir, "conf")
    os.makedirs(conf_dir)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(f"spark.sql.warehouse.dir {os.path.join(run_dir, 'warehouse')}\n"
                "spark.ui.showConsoleProgress false\n"
                f"spark.driver.extraJavaOptions {DRIVER_JAVA_OPTIONS}\n")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    os.environ["TZ"] = "UTC"
    time.tzset()

    gen.generate(args.seed, inputs)

    checks = Checks()
    tracer = NoTracer()
    workload = WORKLOADS[args.workload](inputs, lambda: tracer, checks)
    sess = Session(args, run_dir)
    layer: dict[str, float] = {}
    try:
        # set-up: JVM launch, session, registry and input registration,
        # once per process (a restarted context slows every later pass)
        t0 = time.perf_counter()
        spark = sess.start()
        layer["session.start_s"] = time.perf_counter() - t0
        tr = time.perf_counter()
        from graph_etl_pipeline_spark import registry

        registry.all_queries()
        layer["registry.load_s"] = time.perf_counter() - tr
        workload.register(spark)
        setup_s = time.perf_counter() - t0

        if args.trace:
            from layers import install
            from spans import Tracer

            tracer = Tracer(spark)
            install(tracer)

        tw = time.perf_counter()
        cold_lat, results = workload.run_pass(spark, warm=True)
        cold_pass_s = time.perf_counter() - tw
        workload.check_warm(spark, results)
        spans_before = len(tracer.spans)

        def untraced_pass() -> float:
            tracer.enabled = False
            tp = time.perf_counter()
            workload.run_pass(spark, warm=False)
            tracer.enabled = True
            return time.perf_counter() - tp

        passes, lat, untraced = [], [], []
        # a traced run brackets its traced passes with two untraced ones,
        # so a drift over the run cancels out of trace.overhead_s
        if args.trace:
            untraced.append(untraced_pass())
        t_end = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < t_end:
            tp = time.perf_counter()
            op_lat, _ = workload.run_pass(spark, warm=False)
            passes.append(time.perf_counter() - tp)
            lat += op_lat
        if args.trace:
            untraced.append(untraced_pass())

        if len(lat) < 2:
            raise RuntimeError("fewer than two operations completed in the timed passes")
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (cold_pass_s, "s"),
            "pass_s": (statistics.median(passes), "s"),
            "op_p50_ms": (hd_quantile(lat, 0.5), "ms"),
            "op_p75_ms": (hd_quantile(lat, 0.75), "ms"),
            "peak_rss_mb": (sess.peak_rss_mb(), "MB"),
        }
        if args.trace:
            from layers import layer_metrics

            metrics = layer_metrics(
                tracer.spans[:spans_before], tracer.spans[spans_before:], len(passes),
                args.cores, layer, workload,
            )
            metrics["trace.overhead_s"] = (statistics.median(passes) - statistics.mean(untraced), "s")
            tracer.dump(os.path.join(ROOT, ".bench_run", f"trace-{args.workload}-{args.seed}.json"))
        print(
            f"[perfbench] {args.workload} seed={args.seed} setup={setup_s:.2f} {layer} cold={cold_pass_s:.2f} cold_ops={[round(x) for x in cold_lat]} "
            f"passes={[round(p, 3) for p in passes]} untraced={[round(p, 3) for p in untraced]} ops={[round(x) for x in lat]} failed={checks.failed} "
            f"{checks.reasons[:5]}",
            file=sys.stderr,
        )
        return {
            "correct": checks.failed == 0,
            "attempted": checks.attempted,
            "failed": checks.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        sess.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        scratch = os.path.join(ROOT, ".cache", "scratch")
        if os.path.isdir(scratch):
            for d in os.listdir(scratch):
                if d.endswith(f"-{os.getpid()}"):
                    shutil.rmtree(os.path.join(scratch, d), ignore_errors=True)


class Deadline(BaseException):
    """Raised by the alarm; a BaseException so no operation check counts
    it as an ordinary failure and carries on."""


def _deadline(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import graph_etl_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    result = run(args)
    signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
