"""Scratch-path ownership: every staged file, fixture and materialized
subplan lives in one `{name}-{key}-{pid}` dir directly under
io.SCRATCH_DIR, built by io.scratch_dir, so the dead-pid reaper sees all
of it."""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
from collections import Counter

from conftest import CACHE_AT_START, SCRATCH_AT_START, listing

from graph_etl_pipeline_spark import io
from graph_etl_pipeline_spark.registry import all_queries


def test_scratch_dir_names_by_pid_and_reaps_dead_owners(tmp_path, monkeypatch):
    monkeypatch.setattr(io, "SCRATCH_DIR", str(tmp_path))
    child = subprocess.Popen(["true"])
    child.wait()  # a pid that no longer runs
    dead = tmp_path / f"old-{io.sf_key('/data/sf1')}-{child.pid}"
    dead.mkdir()
    own = tmp_path / f"live-abc-{os.getpid()}"
    own.mkdir()

    path = io.scratch_dir("fixture", io.sf_key("/data/sf1"))

    assert path == str(tmp_path / f"fixture-{io.sf_key('/data/sf1')}-{os.getpid()}")
    assert io.sf_key("/data/sf1") != io.sf_key("/other/sf1")
    assert not dead.exists() and own.exists()


def test_only_io_builds_scratch_paths():
    """Outside io.py no module derives a data-root digest, calls the
    reaper, joins onto SCRATCH_DIR or keeps a `.cache` root of its own."""
    hand_built = re.compile(
        r"md5\(os\.path\.abspath|_reap_stale_pid_dirs\(|SCRATCH_DIR|[\"']\.cache[\"']"
    )
    pkg = pathlib.Path(io.__file__).parent
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pathlib.Path(io.__file__)
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if hand_built.search(line)
    ]
    assert offenders == []


# foreachBatch stream queries -> the scratch name of their checkpoint dir
STREAM_CHECKPOINTS = {
    "stream_incremental_upsert": "stream_upsert_ckpt",
    "stream_sketch_register_merge": "stream_ehll_ckpt",
    "stream_partitioned_sink_merge": "psm_ckpt",
    "stream_countmin_topk": "stream_cms_ckpt",
}


def test_stream_reruns_keep_one_checkpoint_dir(spark, sf_dir):
    """Each run of a foreachBatch stream query removes its previous run's
    checkpoint and state dir: three runs in one process leave one dir per
    query, and each run's frame reads before the next run starts."""
    for name in STREAM_CHECKPOINTS:
        for _ in range(3):
            assert all_queries()[name].fn(spark, sf_dir).count() > 0
    own = f"-{os.getpid()}"
    dirs = Counter(
        entry.rsplit("-", 2)[0] for entry in listing(io.SCRATCH_DIR) if entry.endswith(own)
    )
    assert {n: dirs[n] for n in STREAM_CHECKPOINTS.values()} == dict.fromkeys(
        STREAM_CHECKPOINTS.values(), 1
    )


def test_suite_scratch_dirs_carry_a_pid():
    """Runs last (see conftest): every dir the suite added under the
    scratch root ends in `-<pid>`, the suffix the reaper parses, and the
    suite added no cache root besides the scratch root."""
    added = listing(io.SCRATCH_DIR) - SCRATCH_AT_START
    assert [d for d in added if not d.rsplit("-", 1)[-1].isdigit()] == []
    assert listing(os.path.dirname(io.SCRATCH_DIR)) - CACHE_AT_START <= {"scratch"}
