"""Spans around calls into the engine, with Spark's own counters per span.

The tracer never edits engine code: it replaces module attributes with
thin wrappers for the rest of the traced process. Each span runs its jobs under
its own Spark job group; on exit the job ids of the span (and of its child
spans) are resolved through the status tracker and the status store
(``lastStageAttempt``) into jobs, tasks, executor time, shuffle bytes and
the time no job was running. Spans are kept in memory and written to a
side file by ``dump``; nothing here prints.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import time

PACKAGE = "graph_etl_pipeline_spark"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self.enabled = True
        self.op: str | None = None  # id of the operation being run
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._stages: dict[int, dict] = {}

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        sid = next(self._ids)
        group = f"perfbench-{sid}"
        rec = {
            "id": sid, "name": name, "op": self.op, "jobs": [],
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            rec["jobs"] += list(self.sc.statusTracker().getJobIdsForGroup(group))
            if self._stack:
                self._stack[-1]["jobs"] += rec["jobs"]
            rec.update(self._counters(rec))
            if not self._stack:
                rec["cache_bytes"] = self.cache_bytes()
            self.spans.append(rec)

    def _counters(self, rec: dict) -> dict:
        """Spark counters for the span's jobs (its own and its children's)."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        intervals = []
        for jid in rec["jobs"]:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
            job = store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((
                    max(rec["start"], job.submissionTime().get().getTime() / 1000),
                    min(rec["end"], job.completionTime().get().getTime() / 1000),
                ))
        out = dict.fromkeys(
            ("tasks", "run_s", "cpu_s", "shuffle_bytes", "input_records",
             "input_bytes", "output_bytes"), 0)
        for sid in stage_ids:
            for k, v in self._stage(store, sid).items():
                out[k] += v
        busy, last = 0.0, rec["start"]
        for a, b in sorted(intervals):
            a = max(a, last)
            if b > a:
                busy, last = busy + b - a, b
        wall = rec["end"] - rec["start"]
        out.update(wall_s=wall, n_jobs=len(rec["jobs"]), driver_s=max(0.0, wall - busy))
        return out

    def _stage(self, store, sid: int) -> dict:
        if sid not in self._stages:
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage evicted or never submitted
                return {}
            self._stages[sid] = {
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_bytes": s.shuffleReadBytes() + s.shuffleWriteBytes(),
                "input_records": s.inputRecords(),
                "input_bytes": s.inputBytes(),
                "output_bytes": s.outputBytes(),
            }
        return self._stages[sid]

    def cache_bytes(self) -> int:
        """Bytes held by persisted and checkpointed RDD blocks right now."""
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())

    # ---------------------------------------------------------- wrappers

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Run ``owner.attr`` inside a span named ``name``. ``before()``
        returns a token handed to ``after(rec, token, result)``. Modules
        of the engine that imported the function by name get the wrapper
        too."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            token = before() if before else None
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if after:
                    after(rec, token, out)
                return out

        targets = [owner] + [
            m for n, m in list(sys.modules.items())
            if m is not None and m is not owner and n.startswith(PACKAGE)
            and getattr(m, attr, None) is orig
        ]
        for t in targets:
            setattr(t, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
