"""Structured Streaming surface (SURVEY.md §2.9 T1-T4).

The reference is batch-only; its notion of incremental processing is
"re-run the idempotent MERGE import" (reference CLAUDE.md:80). The engine
lifts exactly that contract into Structured Streaming: the same DataFrame
transformations run over readStream, watermarks bound state, and the
incremental sink is the SAME set-oriented merge_upsert via foreachBatch —
checkpoint + idempotent merge = effectively-exactly-once.

Tests drive these with trigger(availableNow) against the parquet test
data and assert equality with the batch plans (tests/test_streaming.py).
"""

from __future__ import annotations

import contextlib
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.functions.numeric import dec
from graph_etl_pipeline_spark.io import read_parquet
from graph_etl_pipeline_spark.sinks.upsert import merge_upsert


def fixture_stream(spark: SparkSession, src: str, files: str | None = None) -> DataFrame:
    """File-source stream over the directory ``src``, one file per
    micro-batch in the source's (mtime, path) order; ``files`` narrows
    the directory to the matching file names (the file source needs a
    directory, so a single table file is read out of its data root this
    way). The required explicit schema comes from ``io.read_parquet``,
    which infers it once per listing of the probed files."""
    import os

    probe = os.path.join(src, files) if files else src
    schema = read_parquet(spark, probe).schema
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
    if files:
        reader = reader.option("pathGlobFilter", files)
    return reader.parquet(src)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table, one micro-batch. ts
    arrives however THIS PySpark reads TIMESTAMP(NANOS) — long nanos on
    ≤4.0 with the legacy conf, TIMESTAMP_NTZ on 4.1+ — and is rebuilt
    into a proper timestamp by the same helper as the batch reader."""
    from graph_etl_pipeline_spark.io import rebuild_event_ts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return rebuild_event_ts(fixture_stream(spark, sf_dir, "events.parquet"))


def tumbling_aggregate(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """T1+T3: tumbling-window aggregation with a watermark (sliding
    windows when ``slide`` is given). The watermark bounds state: windows
    older than (max event time - watermark) are finalized and evicted —
    the difference between O(stream length) and O(watermark horizon)
    state at 100 TB/day ingest."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_aggregate(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """T4: native streaming sessionization — session_window merges events
    within `gap` into one growing window per user, state evicted past the
    watermark (the batch twin is the gaps-and-islands win_session_batch)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def _state_versions(target_dir: str) -> list[int]:
    """Complete (``_SUCCESS``-marked) state-table versions, ascending."""
    import os

    if not os.path.isdir(target_dir):
        return []
    out = []
    for entry in os.listdir(target_dir):
        if entry.startswith("v") and entry[1:].lstrip("-").isdigit():
            if os.path.exists(os.path.join(target_dir, entry, "_SUCCESS")):
                out.append(int(entry[1:]))
    return sorted(out)


# Small-file compaction target for state-table writes. Each committed
# version should hold ~this many bytes per part file; the write width is
# derived from the PREVIOUS version's on-disk size (driver-side listing
# only — no extra Spark job), so state that grows re-widens automatically
# and test-scale state collapses to one file per version instead of one
# per shuffle partition (N batches × 32 shuffle partitions of a few KB
# each is the classic streaming small-file leak; Delta calls the
# equivalent maintenance OPTIMIZE).
STATE_TARGET_FILE_BYTES = 128 * 1024 * 1024


def _state_write_width(version_dir: str, target_file_bytes: int = STATE_TARGET_FILE_BYTES) -> int:
    """Part-file count for the next state version: ceil(prev bytes /
    target). The previous version's size is a one-version-stale but
    monotone-accurate estimate of the next one's (a micro-batch merge
    changes state size marginally), which is exactly what a compaction
    width needs."""
    import os

    total = 0
    try:
        for entry in os.listdir(version_dir):
            if entry.startswith("part-"):
                total += os.path.getsize(os.path.join(version_dir, entry))
    except OSError:
        return 1  # non-local store: callers on object stores use Delta/OPTIMIZE
    return max(1, -(-total // target_file_bytes))


def incremental_upsert(
    stream: DataFrame,
    existing: DataFrame,
    keys: Sequence[str],
    checkpoint_dir: str,
    table_name: str,
    prepare=None,
    merge=None,
    target_dir: str | None = None,
):
    """T2: incremental idempotent upsert — every micro-batch merges into
    a STORAGE-BACKED state table with the SAME set-oriented merge the
    batch path uses (reference re-run safety, waste_items.py:366-373).

    State lives in versioned parquet under ``target_dir`` (default:
    ``{checkpoint_dir}/state_table``), one complete ``v{batch_id}`` dir
    per committed batch — the plain-parquet equivalent of a Delta
    ``MERGE INTO`` target (state must not ride executor memory as
    chained localCheckpoints, which dies with the executor and is not
    restart-recoverable). Batch b reads the newest version BELOW
    b, merges, and writes ``v{b}``; version selection makes replay
    self-healing — a crash after the write but before the checkpoint
    commit leaves a ``v{b}`` that the replayed batch deterministically
    overwrites from the same ``v{<b}`` input, so effectively-exactly-once
    falls out of checkpoint + versioned idempotent rewrite. On restart
    the persisted state is resumed: ``existing`` only seeds a target
    with no versions yet (it is deliberately ignored otherwise).
    Versions older than the merge input are pruned after each commit.

    ``prepare`` (optional) maps each micro-batch DataFrame to the rows to
    merge — e.g. a row_number dedup to one row per key. It runs inside
    foreachBatch where the batch is an ordinary DataFrame, so operations
    the streaming planner rejects (non-time windows, arbitrary joins) are
    legal. merge_upsert requires key-unique incoming rows; a batch with
    duplicate keys MUST be reduced here.

    ``merge`` (optional) replaces the default last-batch-wins
    merge_upsert with a custom (current, prepared_batch) -> DataFrame
    combiner. Use it whenever batch ARRIVAL order is not the desired
    precedence — e.g. a recency-aware merge that keeps the row with the
    larger event time regardless of which micro-batch delivered it
    (late-arriving batches must not regress state).

    Directory bookkeeping uses driver-local filesystem calls (foreachBatch
    runs on the driver); on an object store, swap ``_state_versions`` /
    pruning for the Hadoop FileSystem API or use a Delta table outright.
    """
    import os
    import shutil

    spark = stream.sparkSession
    target = target_dir or os.path.join(checkpoint_dir, "state_table")
    if not _state_versions(target):
        # first ever run: seed version v-1 (batch ids start at 0)
        existing.write.mode("overwrite").parquet(os.path.join(target, "v-1"))

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        prev = max(v for v in _state_versions(target) if v < batch_id)
        current = read_parquet(spark, os.path.join(target, f"v{prev}"))
        if prepare is not None:
            batch_df = prepare(batch_df)
        if merge is not None:
            merged = merge(current, batch_df)
        else:
            merged = merge_upsert(current, batch_df, keys=list(keys))
        # compact as we write: coalesce (narrow, no extra shuffle — the
        # merge's own exchange still runs wide) down to a size-derived
        # file count, so version dirs hold ~STATE_TARGET_FILE_BYTES files
        # instead of one sliver per shuffle partition per batch
        width = _state_write_width(os.path.join(target, f"v{prev}"))
        merged.coalesce(width).write.mode("overwrite").parquet(
            os.path.join(target, f"v{batch_id}")
        )
        for v in _state_versions(target):
            if v < prev:
                shutil.rmtree(os.path.join(target, f"v{v}"), ignore_errors=True)

    query = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName(table_name)
        .start()
    )
    query.awaitTermination()
    return read_parquet(spark, os.path.join(target, f"v{_state_versions(target)[-1]}"))


STREAM_SHUFFLE_PARTITIONS = 8

# Stream-STREAM joins run even narrower: each shuffle partition carries
# FOUR state-store instances (left/right keyToNumValues + keyWithIndex),
# so their per-micro-batch fixed cost (open, lookup, commit, snapshot ×
# stores × partitions) is 4× a single-operator stateful query's at the
# same width. Fresh-process A/B at sf0.1: width 8→4 takes
# stream_full_join_timeout 6.4→4.0 s and stream_left_join_timeout
# 4.6→4.1 s with identical results; the Python-stateful sessionizer
# moves the OTHER way (8→2 is 6.3→10.4 s — applyInPandasWithState needs
# the Arrow-worker parallelism), which is why this is a separate knob
# and not a lower global default. Production sizing still follows state
# VOLUME; these fixtures' join state is a few thousand rows.
STREAM_JOIN_SHUFFLE_PARTITIONS = 4


@contextlib.contextmanager
def stream_shuffle_partitions(spark: SparkSession, n: int = STREAM_SHUFFLE_PARTITIONS):
    """Bound spark.sql.shuffle.partitions while a stateful streaming query
    plans and runs, restoring the session value after.

    Stateful streaming cost scales with the PARTITION COUNT, not the data:
    every micro-batch pays one state-store instance (open, lookup, commit,
    snapshot) per shuffle partition per stateful operator, so running a
    small-state stream at a batch-sized width is the classic
    misconfiguration — measured here at sf0.1, the interval join drops
    16.3 s → 3.5 s going from 64 to 16 partitions, and again to ~2.4 s
    at 8 (16 → 8 also cut the session-timeout and left-join
    fixtures by ~25-45%), with identical results throughout.
    Production sizing follows state VOLUME (keys × bytes ÷ target
    store size), never the batch analytics width; the partition count is
    also pinned into the checkpoint at first run, which is why it is set
    explicitly here rather than inherited from whatever the session last
    used."""
    key = "spark.sql.shuffle.partitions"
    nd_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key)
    old_nd = spark.conf.get(nd_key)
    spark.conf.set(key, str(n))
    # Pin no-data micro-batches ON (the Spark default, made explicit):
    # the watermark fixtures rely on the trailing no-data batch to fire
    # timeout/eviction emission instead of paying a third data batch — a
    # session that had disabled this conf would silently truncate their
    # output.
    spark.conf.set(nd_key, "true")
    try:
        yield
    finally:
        spark.conf.set(key, old)
        spark.conf.set(nd_key, old_nd)
        unload_state_stores(spark)


def unload_state_stores(spark: SparkSession) -> None:
    """Unload every loaded state-store provider and stop the maintenance
    thread (both restart lazily on the next stateful query).

    Why: executors
    keep state-store providers LOADED per (checkpoint, operator,
    partition, store-name) for the process lifetime — correct for one
    long-lived production stream (the cache is the point), but a
    bench/test process that runs MANY short availableNow queries with
    fresh checkpoints accumulates hundreds of providers, each pinning
    its recent version maps on the heap and each visited by the periodic
    maintenance pass — later streaming queries in the session inherit a
    GROWING tax. Measured A/B at sf0.1, three passes over the
    six-fixture stream family in one session: without the unload,
    pass-3 stream_full_join_timeout 12.9 s / stream_left_join_timeout
    10.1 s and still climbing; with it, 4.4 s / 4.9 s and flat — so a
    bench that runs more queries before the stream rows does not tax
    them. Local-mode note: driver JVM == executor
    JVM, so this py4j call
    reaches the real provider registry; on a cluster it would touch only
    the driver's (empty) registry and executors unload via their own
    inactivity/maintenance path — the call is hygiene for the
    single-JVM fixture world, not a production crutch."""
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # internal API — if it moves, stale providers are a perf
        # nuisance, never a correctness problem


def fresh_memory_sink_name(spark, prefix: str) -> str:
    """A unique memory-sink table name, dropping any PREVIOUS run's view
    for the same query shape first. Memory sinks pin their collected
    rows on the driver heap for as long as the temp view references
    them, so repeat runs (bench min-of-N, long sessions) would otherwise
    accumulate one full result set per run — unreclaimable by GC because
    the catalog still holds them (a session running the stateful-stream
    family degraded 4.6 → 5.9 s/query over ~24 query starts with the
    views retained). One live result per query shape is the steady-state
    contract; the caller's own just-returned frame is never dropped (it
    gets a fresh name)."""
    import uuid as _uuid

    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith(prefix + "_"):
            spark.catalog.dropTempView(t.name)
    return f"{prefix}_{_uuid.uuid4().hex[:8]}"


def run_to_memory(
    df: DataFrame,
    prefix: str,
    output_mode: str = "complete",
    partitions: int = STREAM_SHUFFLE_PARTITIONS,
) -> DataFrame:
    """Run a streaming query to completion (availableNow) into a memory
    sink named by fresh_memory_sink_name(prefix), at ``partitions``
    shuffle partitions (see stream_shuffle_partitions), and return the
    finished table. No checkpointLocation is set: Spark checkpoints to a
    temporary dir and deletes it when the query stops, so repeat runs
    leave nothing behind — each run starts from batch 0 anyway."""
    spark = df.sparkSession
    name = fresh_memory_sink_name(spark, prefix)
    with stream_shuffle_partitions(spark, partitions):
        (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return spark.table(name)


def staged_events_single_file(spark: SparkSession, sf_dir: str) -> tuple[str, object]:
    """ONE single-file parquet image of the full events table per
    (sf_dir, pid), SHARED by every 3-batch streaming fixture: a
    coalesce(1) copy per fixture made staging roughly half of each
    fixture's measured cost, so the big write happens once per process
    and each fixture just file-copies it. Returns ``(file_path, tmax)``
    with tmax (the table's max event time, a naive-UTC datetime) read
    from the staged file's ts column via pyarrow — no extra Spark job.

    The file intentionally carries ALL event columns; fixtures project
    their working set AFTER readStream, where the parquet reader's
    column pruning applies per micro-batch."""
    import glob
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from graph_etl_pipeline_spark.io import scratch_dir, sf_key, table

    root = scratch_dir("evsingle", sf_key(sf_dir))
    done = os.path.join(root, "events.parquet")
    if not os.path.exists(done):
        os.makedirs(root, exist_ok=True)
        stage = os.path.join(root, "stage")
        table(spark, sf_dir, "events").coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        os.replace(part, done)
    tmax = pc.max(pq.read_table(done, columns=["ts"])["ts"]).as_py()
    return done, tmax


def write_event_marker_file(path: str, rows: Sequence[tuple]) -> None:
    """Write synthetic watermark-advance rows as a tiny parquet file in
    the full events schema, driver-side with pyarrow — replacing the
    per-fixture agg + coalesce(1) Spark write jobs that used to build
    these 1-2 row files. ``rows``: (event_id, ts, user_id, event_type,
    value) tuples; props is always null."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([None] * len(rows), pa.string()),
            }
        ),
        path,
    )


def stage_batch_files(
    root: str, files: Sequence[tuple[str, Callable[[str], None]]], stamp: object = None
) -> str:
    """Stage a file-source fixture directory ``{root}/src`` and return it.
    ``files`` lists (name, write) pairs in batch order; ``write(path)``
    writes one file, driver-side. Mtimes are pinned 10 s apart so the
    file source's (mtime, path) order is the list order.

    An existing directory is reused only when its file set matches
    EXACTLY and a fingerprint of the names and ``stamp`` (the content
    the writers depend on, e.g. marker rows) matches too. The fingerprint
    sits beside src, where the file source does not list it, and is
    written last, so a stale layout (pid reuse), an interrupted build,
    same-named files with other rows or a non-directory at src all
    rebuild instead of replaying the wrong batches."""
    import hashlib
    import os
    import shutil

    src = os.path.join(root, "src")
    names = [name for name, _ in files]
    stamp_path = os.path.join(root, "src.fingerprint")
    digest = hashlib.sha256(repr((names, stamp)).encode()).hexdigest()
    existing = sorted(os.listdir(src)) if os.path.isdir(src) else None
    if existing == sorted(names) and os.path.isfile(stamp_path):
        with open(stamp_path, encoding="utf-8") as f:
            if f.read() == digest:
                return src
    if os.path.exists(stamp_path):
        os.remove(stamp_path)
    if existing is not None:
        shutil.rmtree(src)
    elif os.path.lexists(src):
        os.remove(src)
    os.makedirs(src)
    base = 1_000_000_000
    for i, (name, write) in enumerate(files):
        path = os.path.join(src, name)
        write(path)
        os.utime(path, (base + 10 * i, base + 10 * i))
    with open(stamp_path, "w", encoding="utf-8") as f:
        f.write(digest)
    return src


def stage_three_batch_fixture(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    marker_files: Sequence[tuple[str, Sequence[tuple]]],
    replay_events: bool = False,
) -> str:
    """Assemble a watermark fixture directory: batch 0 is the shared
    single-file events image (a-events.parquet), followed by the given
    marker files (each a (name, rows) pair; a callable row is called with
    the table's max event time), with an optional byte-identical replay
    of batch 0 appended last (c-replay). Returns the src directory. The
    whole assembly is driver-side file I/O except the once-per-process
    events write inside staged_events_single_file."""
    import shutil

    events_file, tmax = staged_events_single_file(spark, sf_dir)
    markers = [
        (f"{name}.parquet", [r(tmax) if callable(r) else r for r in rows])
        for name, rows in marker_files
    ]
    copy = lambda path: shutil.copy(events_file, path)  # noqa: E731
    files = [("a-events.parquet", copy)]
    files += [
        (name, lambda path, rows=rows: write_event_marker_file(path, rows))
        for name, rows in markers
    ]
    if replay_events:
        files.append(("c-replay.parquet", copy))
    return stage_batch_files(root, files, stamp=markers)


# Spark writes NULL (and empty-string) partition values under this
# directory name — see Spark's ExternalCatalogUtils.DEFAULT_PARTITION_NAME.
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# Characters Spark escapes in partition DIRECTORY names (port of the
# public ExternalCatalogUtils.charToEscape set: ASCII control chars
# 0x01-0x1F, 0x7F, and the listed specials). A raw f"{col}={value}"
# lookup silently misses the on-disk dir for any such value — prev state
# resolves to None and the partition's accumulated state would reset to
# the current batch (silent data loss).
_PART_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\{[]^')


def escape_partition_value(value) -> str:
    """Directory-name rendering of one partition VALUE, matching what
    ``DataFrameWriter.partitionBy`` writes: NULL and '' become
    ``__HIVE_DEFAULT_PARTITION__``; escapable characters become %XX
    (uppercase hex), everything else passes through.

    Scope: exact for string values and for integral values (whose str()
    matches Spark's rendering). Types whose string form differs between
    Python and Spark (bool, float, date/timestamp) must be cast to
    string in ``prepare`` — ``partitioned_incremental_merge`` asserts
    this on the prepared schema."""
    if value is None or value == "":
        return HIVE_DEFAULT_PARTITION
    return "".join(
        "%%%02X" % o if ((o := ord(ch)) <= 0x1F and o >= 0x01) or o == 0x7F
        or ch in _PART_ESCAPE_CHARS else ch
        for ch in str(value)
    )


def partitioned_incremental_merge(
    stream: DataFrame,
    partition_col: str,
    checkpoint_dir: str,
    prepare,
    merge,
    target_dir: str | None = None,
) -> DataFrame | None:
    """Streaming MERGE INTO a hive-partitioned, versioned parquet target
    with PARTITION-PRUNED rewrite — the composition of
    ``incremental_upsert``'s versioned exactly-once scheme with
    ``sink_dynamic_partition_overwrite``'s partition-granular publish.

    Layout: ``{target}/v{batch}/{partition_col}=X/part-*`` — version
    ``v{b}`` holds ONLY the partitions batch b touched; a partition's
    current content is its newest complete version. Per micro-batch:

      1. ``prepare(batch_df)`` reduces the batch to mergeable rows
         carrying ``partition_col``;
      2. for each TOUCHED partition, the newest committed version BELOW b
         is read (partition-pruned: untouched partitions are never read,
         rewritten, or shuffled — their bytes sit in older versions);
      3. ``merge(prev, prepared)`` combines; the result overwrites
         ``v{b}`` (dynamic-overwrite semantics by construction: the fresh
         version dir contains exactly the batch's partitions).

    Exactly-once is the incremental_upsert argument applied per
    partition: a crash after the ``v{b}`` write but before the checkpoint
    commit leaves a version the replayed batch deterministically
    overwrites from the same ``v{<b}`` inputs. Pruning is replay-safe by
    ORDERING: superseded versions are deleted at the START of a batch,
    when every version they were superseded BY is checkpoint-committed
    (foreachBatch b only runs after b-1's commit) — pruning after the
    write could delete the very inputs a replay of b still needs.

    At 100 TB the same layout is a metadata-tracked table format
    (Delta/Iceberg partition-level commits); as with incremental_upsert,
    the driver-local directory bookkeeping swaps for the Hadoop
    FileSystem API or a MERGE INTO on an object store. Returns the
    resolved current table (None when no batch ever produced rows)."""
    import os
    import shutil

    spark = stream.sparkSession
    target = target_dir or os.path.join(checkpoint_dir, "ptable")

    def _partition_dirs(vdir: str) -> list[str]:
        try:
            return [e for e in os.listdir(vdir) if e.startswith(partition_col + "=")]
        except OSError:
            return []

    def _resolve(below: int | None = None) -> dict[str, int]:
        """partition-dir name → newest complete version (optionally < below)."""
        out: dict[str, int] = {}
        for v in sorted(_state_versions(target), reverse=True):
            if below is not None and v >= below:
                continue
            for p in _partition_dirs(os.path.join(target, f"v{v}")):
                out.setdefault(p, v)
        return out

    def _read_parts(mapping: dict[str, int], want: set[str] | None = None):
        by_v: dict[int, list[str]] = {}
        for p, v in mapping.items():
            if want is None or p in want:
                by_v.setdefault(v, []).append(p)
        frames = []
        for v, parts in by_v.items():
            base = os.path.join(target, f"v{v}")
            frames.append(
                spark.read.option("basePath", base).parquet(
                    *[os.path.join(base, p) for p in parts]
                )
            )
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        committed = _resolve(below=batch_id)
        live = set(committed.values())
        for v in _state_versions(target):
            if v < batch_id and v not in live:
                shutil.rmtree(os.path.join(target, f"v{v}"), ignore_errors=True)
        # localCheckpoint: `prepared` is consumed twice (touched-partition
        # metadata below + the merge write) — eager checkpointing runs
        # the batch transformation once instead of twice per micro-batch.
        # The checkpointed blocks are explicitly
        # unpersisted in the finally below: without that, a long-running
        # stream accumulates one batch's blocks per micro-batch on the
        # executors until driver GC lets ContextCleaner reap them.
        # localCheckpoint data does not survive executor
        # loss — a failure mid-batch fails the batch, which replays
        # whole; exactly-once holds because the v{batch_id} write is the
        # only commit point.
        prepared = prepare(batch_df).localCheckpoint(eager=True)
        try:
            # hard error, not assert: python -O must not strip the guard
            # that keeps escape_partition_value's rendering contract
            # sound — a bool/float/date column whose str() differs from
            # Spark's rendering would silently reopen the
            # prev-state-miss data loss
            ptype = dict(prepared.dtypes)[partition_col]
            if ptype not in ("string", "int", "bigint", "smallint", "tinyint"):
                raise ValueError(
                    f"partition column {partition_col} has type {ptype}; "
                    "cast it to string in prepare() — "
                    "escape_partition_value only matches Spark's directory "
                    "rendering for string/integral values"
                )
            touched = {
                f"{partition_col}={escape_partition_value(r[partition_col])}"
                for r in prepared.select(partition_col).distinct().collect()
            }
            prev = _read_parts(committed, want=touched)
            merged = merge(prev, prepared) if prev is not None else prepared
            # one task → one file per touched partition: micro-batch
            # deltas are sliver-sized; at volume, swap for the
            # _state_write_width sizing (per partition) or the table
            # format's OPTIMIZE
            merged.coalesce(1).write.mode("overwrite").partitionBy(
                partition_col
            ).parquet(os.path.join(target, f"v{batch_id}"))
        finally:
            # bound checkpoint-block accumulation deterministically: the
            # v{batch_id} write is done with `prepared`, so the blocks
            # must not wait for a driver GC cycle to be reclaimed
            prepared.unpersist()

    with stream_shuffle_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return _read_parts(_resolve())
