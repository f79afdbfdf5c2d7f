"""Streaming ≡ batch equivalence (SURVEY.md §2.9): the streaming jobs must
produce exactly the batch plans' results when run to completion with
availableNow over the same files."""

from __future__ import annotations

import glob
import os
import tempfile
import uuid

from pyspark.sql import functions as F

from graph_etl_pipeline_spark.io import table
from graph_etl_pipeline_spark.streaming.jobs import (
    events_stream,
    incremental_upsert,
    run_to_memory,
    session_aggregate,
    tumbling_aggregate,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    result = run_to_memory(tumbling_aggregate(stream), "tumbling")

    ev = table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(result, cols) == _rows(batch, cols)


def test_session_stream_produces_sessions(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    result = run_to_memory(session_aggregate(stream), "sessions")
    rows = result.collect()
    assert len(rows) > 0
    ev_count = table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == ev_count


def test_incremental_upsert_stream(spark, sf_dir):
    """T2: streaming merge over micro-batches ends in the same state as one
    batch merge, and replaying is a no-op (idempotency)."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    existing = ev.filter(ev.event_id % 2 == 0)

    stream = events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    with tempfile.TemporaryDirectory() as ckpt:
        final = incremental_upsert(
            stream, existing, keys=["event_id"], checkpoint_dir=ckpt,
            table_name=f"upsert_{uuid.uuid4().hex[:8]}",
        )
        assert final.count() == ev.count()
        # re-merging the full table again changes nothing
        from graph_etl_pipeline_spark.sinks.upsert import merge_upsert

        again = merge_upsert(final, ev, keys=["event_id"])
        assert again.count() == ev.count()


def test_watermark_advances_across_micro_batches(spark, sf_dir, tmp_path):
    """T3: multi-file arrival (one file per micro-batch via
    maxFilesPerTrigger) — the event-time watermark must start at epoch,
    advance to (max event time - delay) after batch 0, and bound state:
    append mode emits each window exactly once (no duplicates), with
    every batch-0 window finalized once the watermark passes it.

    (Spark 4.1's availableNow pipeline aggregates a fully-late batch and
    finalizes it in the same micro-batch rather than silently dropping
    rows — so the cross-version-stable contract asserted here is
    watermark progression + exactly-once window emission, not row drops.)
    """
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    rows = ev.count()
    newest = ev.orderBy(F.desc("ts")).limit(rows // 2)
    oldest = ev.orderBy(F.asc("ts")).limit(rows // 4)

    src = tmp_path / "stream_src"
    stream_dir = tmp_path / "arrivals"
    stream_dir.mkdir()
    newest.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    shutil.copy(next((src / "f1").glob("*.parquet")), stream_dir / "a_newest.parquet")
    oldest.coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))
    shutil.copy(next((src / "f2").glob("*.parquet")), stream_dir / "b_oldest.parquet")

    raw = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    agg = (
        raw.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    name = f"wm_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    progress = q.recentProgress
    assert len(progress) >= 2, "expected one micro-batch per file"
    wm0 = progress[0]["eventTime"]["watermark"]
    wm1 = progress[1]["eventTime"]["watermark"]
    assert wm0.startswith("1970"), "watermark must start at epoch"
    assert wm1 > wm0, "watermark must advance after the first batch"

    finalized = spark.table(name).collect()
    # exactly-once emission: no window appears twice across batches
    starts = [r.ws for r in finalized]
    assert len(starts) == len(set(starts)), "append mode re-emitted a window"
    # every batch-0 window except the still-open tail is finalized
    newest_max = newest.agg(F.max("ts")).collect()[0][0]
    open_tail = newest_max.replace(minute=0, second=0, microsecond=0)
    emitted = set(starts)
    expected = {
        r.ws
        for r in newest.select(F.date_trunc("hour", "ts").alias("ws")).distinct().collect()
        if r.ws < open_tail
    }
    assert expected <= emitted, "a closed batch-0 window was never finalized"


def test_incremental_upsert_late_batch_cannot_regress_state(spark, tmp_path):
    """Recency merge across micro-batches: a LATER-arriving batch holding
    an OLDER event must not overwrite newer held state. Two single-row
    parquet files arrive as separate availableNow micro-batches
    (maxFilesPerTrigger=1), the newer event's file first."""
    import time

    from graph_etl_pipeline_spark.queries.streaming_queries import (
        latest_per_user_batch,
        newer_wins_user_state,
    )

    src = tmp_path / "ooo_events"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, value double"
    newer = spark.createDataFrame(
        [(2, __import__("datetime").datetime(2024, 1, 1, 10, 0), 7, 2.0)], schema
    )
    older = spark.createDataFrame(
        [(1, __import__("datetime").datetime(2024, 1, 1, 9, 0), 7, 1.0)], schema
    )
    # file mod-time ordering decides batch order: the NEWER event lands
    # in the earlier batch, the OLDER event arrives late
    newer.coalesce(1).write.parquet(str(src / "f1"))
    time.sleep(1.1)
    older.coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    existing = spark.createDataFrame(
        [(7, "cust7", None, None, None)],
        "user_id long, c_name string, last_event_id long, "
        "last_ts timestamp, last_value double",
    )
    final = incremental_upsert(
        stream,
        existing,
        keys=["user_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        table_name=f"ooo_{uuid.uuid4().hex[:8]}",
        prepare=latest_per_user_batch,
        merge=newer_wins_user_state,
    )
    (row,) = final.collect()
    # newest event (id=2, 10:00) must survive the late 09:00 batch
    assert row.last_event_id == 2
    assert row.last_value == 2.0
    assert row.c_name == "cust7"


def test_incremental_upsert_restart_resumes_persisted_state(spark, tmp_path):
    """VERDICT r3 #4: the streaming upsert state must live in STORAGE,
    not executor memory. Two separate incremental_upsert invocations
    share one checkpoint + state dir (a stop/restart of the same
    logical stream):
      * run 1 processes file 1 and persists the merged state;
      * run 2 (after file 2 arrives) must (a) NOT re-merge file 1
        (checkpoint replay safety), (b) resume from the PERSISTED state
        rather than its ``existing`` argument — proven by passing a
        poisoned seed the second time — and (c) leave exactly one new
        committed state version.
    """
    import datetime as dt

    from graph_etl_pipeline_spark.streaming.jobs import _state_versions

    src = tmp_path / "restart_events"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, value double"
    ckpt = str(tmp_path / "ckpt")
    state_dir = str(tmp_path / "ckpt" / "state_table")
    existing = spark.createDataFrame(
        [(7, None, None, None)],
        "user_id long, last_event_id long, last_ts timestamp, last_value double",
    )

    def _prepare(batch_df):
        return batch_df.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )

    def _run(seed):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        return incremental_upsert(
            stream,
            seed,
            keys=["user_id"],
            checkpoint_dir=ckpt,
            table_name=f"restart_{uuid.uuid4().hex[:8]}",
            prepare=_prepare,
        )

    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 9, 0), 7, 1.0)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    (row,) = _run(existing).collect()
    assert (row.last_event_id, row.last_value) == (1, 1.0)
    versions_after_run1 = _state_versions(state_dir)

    # "restart": second invocation, same checkpoint, new file arrived.
    # The seed is POISONED — if the implementation consulted it (i.e.
    # kept state anywhere but storage) user 7's history would vanish.
    poisoned = spark.createDataFrame(
        [(7, 999, dt.datetime(2030, 1, 1), -1.0)],
        "user_id long, last_event_id long, last_ts timestamp, last_value double",
    )
    spark.createDataFrame(
        [(2, dt.datetime(2024, 1, 1, 10, 0), 7, 2.0)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    (row,) = _run(poisoned).collect()
    # resumed from persisted v0 (event 1 already applied), applied only
    # the new batch: last-batch-wins leaves event 2, not the poison row
    assert (row.last_event_id, row.last_value) == (2, 2.0)
    versions_after_run2 = _state_versions(state_dir)
    assert len(set(versions_after_run2) - set(versions_after_run1)) == 1, (
        f"expected exactly one new committed version, "
        f"got {versions_after_run1} -> {versions_after_run2}"
    )


def test_stateful_running_totals_accumulate_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState must carry per-user state BETWEEN
    micro-batches: with the events split across two files
    (maxFilesPerTrigger=1), a user seen in both batches emits two
    cumulative rows whose totals grow, and the final row equals the
    batch groupBy."""
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    from graph_etl_pipeline_spark.streaming.stateful import running_user_totals

    ev = table(spark, sf_dir, "events")
    rows = ev.count()
    first = ev.orderBy("event_id").limit(rows // 2)
    second = ev.orderBy(F.desc("event_id")).limit(rows - rows // 2)

    src = tmp_path / "halves"
    stream_dir = tmp_path / "arrivals"
    stream_dir.mkdir()
    for tag, half in (("a", first), ("b", second)):
        half.coalesce(1).write.mode("overwrite").parquet(str(src / tag))
        shutil.copy(next((src / tag).glob("*.parquet")), stream_dir / f"{tag}.parquet")

    raw = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    name = f"stateful_{_uuid.uuid4().hex[:8]}"
    q = (
        running_user_totals(raw)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)

    # at least one user appears in both batches → two emitted rows,
    # strictly increasing cumulative count
    multi = (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("n_events").alias("lo"),
            F.max("n_events").alias("hi"),
        )
        .filter((F.col("n_rows") == 2) & (F.col("hi") > F.col("lo")))
    )
    assert multi.count() > 0

    final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("total_cents").alias("total_cents")
    )
    expected = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    assert final.exceptAll(expected).isEmpty() and expected.exceptAll(final).isEmpty()


def test_stateful_state_survives_restart(spark, sf_dir, tmp_path):
    """The state store is checkpointed: stop after batch 1, deliver a
    second file, restart with the SAME checkpoint — totals must resume
    from persisted state, not restart from zero."""
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    from graph_etl_pipeline_spark.streaming.stateful import running_user_totals

    ev = table(spark, sf_dir, "events")
    rows = ev.count()
    first = ev.orderBy("event_id").limit(rows // 2)
    second = ev.orderBy(F.desc("event_id")).limit(rows - rows // 2)

    src = tmp_path / "halves"
    stream_dir = tmp_path / "arrivals"
    stream_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    for tag, half in (("a", first), ("b", second)):
        half.coalesce(1).write.mode("overwrite").parquet(str(src / tag))

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )

    # memory sink cannot recover from a checkpoint; foreachBatch into an
    # append-only parquet dir is the recoverable-sink twin
    out_dir = str(tmp_path / "out")

    def _run(run_tag):
        raw = spark.readStream.schema(schema).parquet(str(stream_dir))

        def _dump(batch_df, batch_id):
            batch_df.withColumn("run", F.lit(run_tag)).write.mode("append").parquet(
                out_dir
            )

        q = (
            running_user_totals(raw)
            .writeStream.foreachBatch(_dump)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out_dir).filter(F.col("run") == run_tag)

    shutil.copy(next((src / "a").glob("*.parquet")), stream_dir / "a.parquet")
    _run("run1")

    shutil.copy(next((src / "b").glob("*.parquet")), stream_dir / "b.parquet")
    out2 = _run("run2")

    # run 2 saw ONLY file b, but its emitted totals must include file a's
    # counts via the recovered state store
    final = out2.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    expected = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    merged = final.alias("f").join(expected.alias("e"), "user_id")
    assert merged.filter(F.col("f.n_events") != F.col("e.n_events")).isEmpty()


def test_incremental_upsert_drops_orphan_event_users(spark, tmp_path):
    """VERDICT r4 #5: the state table is CUSTOMER-KEYED — an event from a
    user OUTSIDE the seed must not insert a new state row (the oracle's
    customer LEFT JOIN latest never emits it). The referentially-intact
    driver testdata can't exercise this, so this fixture plants one
    orphan event alongside a seeded user's event."""
    import datetime

    from graph_etl_pipeline_spark.queries.streaming_queries import (
        latest_per_user_batch,
        newer_wins_user_state,
    )

    src = tmp_path / "orphan_events"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, value double"
    spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 9, 0), 7, 1.5),   # seeded user
            (2, datetime.datetime(2024, 1, 1, 10, 0), 99, 9.9),  # orphan
        ],
        schema,
    ).coalesce(1).write.parquet(str(src / "f1"))

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    existing = spark.createDataFrame(
        [(7, "cust7", None, None, None)],
        "user_id long, c_name string, last_event_id long, "
        "last_ts timestamp, last_value double",
    )
    final = incremental_upsert(
        stream,
        existing,
        keys=["user_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        table_name=f"orphan_{uuid.uuid4().hex[:8]}",
        prepare=latest_per_user_batch,
        merge=newer_wins_user_state,
    )
    rows = {r.user_id: r for r in final.collect()}
    assert set(rows) == {7}, "orphan event user must not be inserted"
    assert rows[7].last_event_id == 1
    assert rows[7].last_value == 1.5


def test_watermark_late_three_regimes(spark, tmp_path):
    """stream_watermark_late's oracle hash covers three behaviors at once;
    this test pins each one MECHANICALLY so the query can't pass by
    accident: late replay rows really are dropped by the watermark
    (engine-reported numRowsDroppedByWatermark > 0), the merge zone
    really doubles counts, and windows past the final watermark never
    appear. Hand-built 4-hour fixture: 3 files -> 3 micro-batches."""
    import datetime

    from pyspark.sql import functions as F

    t0 = datetime.datetime(2024, 3, 1, 0, 30)

    def ev(eid, hours):
        return (eid, "t", t0 + datetime.timedelta(hours=hours), 1.0)

    schema = "event_id long, event_type string, ts timestamp, value double"
    src = tmp_path / "src"
    src.mkdir()
    # batch 0: hours 0..4 (tmax = 04:30, wm after = 02:30)
    a = [ev(i, h) for i, h in enumerate(range(5))]
    # batch 1: advance row at tmax+1h = 05:30 (final wm = 03:30)
    b = [ev(100, 5)]
    # batch 2: replay of batch 0 — hours 0,1 late-dropped (window end
    # <= 02:30); hour 2 merges (end 03:00 in (02:30, 03:30]); hours 3,4
    # land in never-emitted windows (end > 03:30)
    for name, rows, mtime in (("a", a, 100), ("b", b, 110), ("c", a, 120)):
        d = src / f"{name}.parquet"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d))
        os.utime(d, (1_000_000_000 + mtime, 1_000_000_000 + mtime))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    name = f"wmlate_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 2, f"watermark must drop the 2 late replay rows, got {dropped}"
    out = {r.ws.hour: r.n for r in spark.table(name).collect()}
    # emitted: windows ending <= final wm 03:30 → hours 0,1,2 only
    assert out == {0: 1, 1: 1, 2: 2}, out


def test_state_table_files_stay_bounded_over_restarts(spark, tmp_path):
    """VERDICT r5 #6: the versioned-parquet upsert state must not leak
    small files. 10 stop/restart cycles of the same logical stream — one
    new input file per cycle, shared checkpoint — must leave the state
    dir with a BOUNDED file count: version pruning caps live versions at
    2 and the size-derived write width (jobs._state_write_width) keeps
    each version at one part file until state reaches the 128 MB target."""
    import datetime as dt

    from graph_etl_pipeline_spark.streaming.jobs import _state_versions

    src = tmp_path / "evsrc"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, value double"
    ckpt = str(tmp_path / "ckpt")
    state_dir = str(tmp_path / "ckpt" / "state_table")
    existing = spark.createDataFrame(
        [], "user_id long, last_event_id long, last_ts timestamp, last_value double"
    )

    def _prepare(batch_df):
        return batch_df.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        ).dropDuplicates(["user_id"])

    def _count_files(root):
        import os

        return sum(
            1
            for d, _, fs in os.walk(root)
            for f in fs
            if f.startswith("part-")
        )

    for cycle in range(10):
        spark.createDataFrame(
            [(cycle * 10 + k, dt.datetime(2024, 1, 1, 8, cycle, k), k, 1.0 * cycle)
             for k in range(5)],
            schema,
        ).coalesce(1).write.parquet(str(src / f"f{cycle:02d}"))
        final = incremental_upsert(
            spark.readStream.schema(schema).parquet(str(src / "*")),
            existing,
            keys=["user_id"],
            checkpoint_dir=ckpt,
            table_name=f"bounded_{uuid.uuid4().hex[:8]}",
            prepare=_prepare,
        )
        n_files = _count_files(state_dir)
        assert len(_state_versions(state_dir)) <= 2, "version pruning must cap versions"
        assert n_files <= 4, f"cycle {cycle}: {n_files} part files in state dir"
    assert final.count() == 5  # 5 users, latest state each


def test_stateful_session_timeout_mechanics(spark, tmp_path):
    """Pin the EventTimeTimeout machinery on a hand fixture: in-batch gap
    splits emit immediately; the trailing session of each user parks in
    state and is emitted ONLY by the watermark-driven timeout (batch 2
    runs with the advanced watermark); sessions whose deadline lies past
    the final watermark are never emitted."""
    import datetime as dt

    from pyspark.sql import functions as F

    from graph_etl_pipeline_spark.streaming.jobs import stream_shuffle_partitions
    from graph_etl_pipeline_spark.streaming.stateful import (
        session_totals_with_timeout,
    )

    t0 = dt.datetime(2024, 5, 1, 8, 0)

    def ev(eid, uid, minutes, val):
        return (eid, uid, t0 + dt.timedelta(minutes=minutes), val)

    schema = "event_id long, user_id long, ts timestamp, value double"
    src = tmp_path / "src"
    src.mkdir()
    # batch 0: user 1 has two sessions split by a 40-min gap (first emits
    # in-batch); user 2 one session. Trailing sessions park in state.
    a = [ev(1, 1, 0, 1.0), ev(2, 1, 10, 2.0),      # s1: 8:00-8:10
         ev(3, 1, 50, 4.0),                        # s2 (open): 8:50
         ev(4, 2, 5, 8.0)]                         # user2 (open): 8:05
    # batch 1: advance row far in the future for user -1 only
    b = [ev(100, -1, 240, 0.0)]
    # batch 2: second advance so a batch RUNS with the advanced watermark
    c = [ev(101, -2, 240, 0.0)]
    for name, rows, mt in (("a", a, 100), ("b", b, 110), ("c", c, 120)):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"{name}.parquet")
        )
        os.utime(src / f"{name}.parquet", (1_000_000_000 + mt, 1_000_000_000 + mt))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    name = f"sessto_{uuid.uuid4().hex[:8]}"
    with stream_shuffle_partitions(spark):
        q = (
            session_totals_with_timeout(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    rows = {
        (r.user_id, r.session_start.minute): (r.n_events, r.session_cents)
        for r in spark.table(name).collect()
    }
    # final wm = (t0+240min) - 60min = t0+180min: all real deadlines pass;
    # the advance users' own sessions (deadline t0+270min) never emit
    assert rows == {
        (1, 0): (2, 300),    # 8:00 session: 2 events, 1.0+2.0 = 300 cents
        (1, 50): (1, 400),   # 8:50 session, timeout-emitted
        (2, 5): (1, 800),    # user 2, timeout-emitted
    }, rows


def test_partitioned_merge_restart_and_pruned_rewrite(spark, tmp_path):
    """The partitioned-sink composition's two contracts (VERDICT r13 #8):

      * EXACTLY-ONCE ACROSS RESTART — a second invocation on the same
        checkpoint must process only the newly arrived file (no re-merge
        of run 1's batches) and resume partition state from storage;
      * PARTITION-PRUNED REWRITE — a batch touching only one partition
        must write a version containing exactly that partition, and the
        files currently serving every untouched partition must survive
        BYTE-IDENTICAL (never read, rewritten, or replaced)."""
    from graph_etl_pipeline_spark.queries.streaming_queries import (
        psm_merge,
        psm_prepare,
    )
    from graph_etl_pipeline_spark.streaming.jobs import (
        _state_versions,
        partitioned_incremental_merge,
    )

    schema = "event_type string, user_id long, value double"
    src = tmp_path / "psm_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "ckpt" / "ptable")

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        out = partitioned_incremental_merge(
            stream, "event_type", ckpt, psm_prepare, psm_merge
        )
        return {(r.event_type, r.user_id): (r.n_events, r.cents) for r in out.collect()}

    def _serving_file(part: str):
        """(path, size, mtime) of the part-file currently serving `part`."""
        for v in sorted(_state_versions(target), reverse=True):
            pdir = os.path.join(target, f"v{v}", f"event_type={part}")
            if os.path.isdir(pdir):
                (f,) = [e for e in os.listdir(pdir) if e.startswith("part-")]
                p = os.path.join(pdir, f)
                return p, os.path.getsize(p), os.path.getmtime(p)
        raise AssertionError(f"no version serves {part}")

    spark.createDataFrame(
        [("click", 1, 1.0), ("view", 2, 2.0)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame([("click", 1, 0.5)], schema).coalesce(1).write.parquet(
        str(src / "f2")
    )
    got = _run()
    assert got == {("click", 1): (2, 150), ("view", 2): (1, 200)}
    view_before = _serving_file("view")
    click_before = _serving_file("click")

    # restart: a purchase-partition-only file arrives; same checkpoint
    spark.createDataFrame([("purchase", 3, 1.25)], schema).coalesce(1).write.parquet(
        str(src / "f3")
    )
    got = _run()
    # run 1's batches not re-merged (counts unchanged), new partition added
    assert got == {
        ("click", 1): (2, 150),
        ("view", 2): (1, 200),
        ("purchase", 3): (1, 125),
    }
    # the new batch's version holds ONLY the partition it touched
    head = max(_state_versions(target))
    head_parts = [
        e
        for e in os.listdir(os.path.join(target, f"v{head}"))
        if e.startswith("event_type=")
    ]
    assert head_parts == ["event_type=purchase"]
    # untouched partitions: same serving files, byte-for-byte untouched
    assert _serving_file("view") == view_before
    assert _serving_file("click") == click_before


def test_partition_value_escaping_matches_spark_writer(spark, tmp_path):
    """escape_partition_value must render EXACTLY the directory names
    DataFrameWriter.partitionBy writes (ADVICE r14 #1: the raw
    f"{col}={value}" lookup missed escaped dirs, silently resetting that
    partition's accumulated state to the current batch). Empirical
    parity, not trust in the port: write every value class through
    Spark and diff the listing."""
    from graph_etl_pipeline_spark.streaming.jobs import escape_partition_value

    vals = ["a/b:c=d%e", "x y", "tab\tchar", 'quote"brace{[]^', None, "", "plain"]
    df = spark.createDataFrame([(v, 1) for v in vals], "p string, x int")
    df.write.partitionBy("p").parquet(str(tmp_path / "t"))
    dirs = sorted(
        e for e in os.listdir(tmp_path / "t") if e.startswith("p=")
    )
    # None and '' both collapse to __HIVE_DEFAULT_PARTITION__ (one dir)
    assert dirs == sorted({f"p={escape_partition_value(v)}" for v in vals})


def test_partitioned_merge_escaped_and_null_partition_values(spark, tmp_path):
    """Accumulation across batches for partition values Spark ESCAPES on
    disk and for NULL (ADVICE r14 #1): prev-state resolution must find
    the escaped / __HIVE_DEFAULT_PARTITION__ dirs, so batch 2's deltas
    ADD to batch 1's state instead of replacing it."""
    from graph_etl_pipeline_spark.queries.streaming_queries import (
        psm_merge,
        psm_prepare,
    )
    from graph_etl_pipeline_spark.streaming.jobs import (
        partitioned_incremental_merge,
    )

    schema = "event_type string, user_id long, value double"
    src = tmp_path / "esc_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    nasty = "a/b:c=d%e"
    spark.createDataFrame(
        [(nasty, 1, 1.0), (None, 2, 2.0)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(nasty, 1, 0.5), (None, 2, 0.25)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    out = partitioned_incremental_merge(
        stream, "event_type", ckpt, psm_prepare, psm_merge
    )
    got = {(r.event_type, r.user_id): (r.n_events, r.cents) for r in out.collect()}
    # (2, ...) counts prove the second batch merged INTO resolved state
    assert got == {(nasty, 1): (2, 150), (None, 2): (2, 225)}


def test_partitioned_merge_replay_overwrites_stray_versions(spark, tmp_path):
    """Fault injection for the exactly-once claim (VERDICT r14 #6): a
    v{b} left by a crash AFTER the write but BEFORE the checkpoint
    commit — once COMPLETE (_SUCCESS, wrong content) and once TORN (a
    part file, no _SUCCESS) — must be deterministically overwritten /
    ignored by the replayed batch, and the final table must equal the
    all-batches oracle with no trace of the stray content."""
    from graph_etl_pipeline_spark.queries.streaming_queries import (
        psm_merge,
        psm_prepare,
    )
    from graph_etl_pipeline_spark.streaming.jobs import (
        partitioned_incremental_merge,
    )

    schema = "event_type string, user_id long, value double"
    src = tmp_path / "fi_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    target = str(tmp_path / "ckpt" / "ptable")

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        out = partitioned_incremental_merge(
            stream, "event_type", ckpt, psm_prepare, psm_merge
        )
        return {(r.event_type, r.user_id): (r.n_events, r.cents) for r in out.collect()}

    spark.createDataFrame(
        [("click", 1, 1.0), ("view", 2, 2.0)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    assert _run() == {("click", 1): (1, 100), ("view", 2): (1, 200)}

    # crash window 1: batch 1 "wrote v1 then died before the checkpoint
    # commit" — simulate with a COMPLETE stray v1 whose content is wrong
    # (a poisoned user and a poisoned extra partition) so reuse would be
    # visible; the replayed batch must rebuild v1 from v0 + the batch.
    spark.createDataFrame(
        [("click", 99, 9, 9999), ("poison", 66, 6, 6666)],
        "event_type string, user_id long, n_events long, cents long",
    ).coalesce(1).write.partitionBy("event_type").parquet(
        os.path.join(target, "v1")
    )
    spark.createDataFrame([("click", 1, 0.5)], schema).coalesce(1).write.parquet(
        str(src / "f2")
    )
    got = _run()
    assert got == {("click", 1): (2, 150), ("view", 2): (1, 200)}
    assert not any(et == "poison" for et, _ in got)

    # crash window 2: TORN v2 (part file present, no _SUCCESS) — invisible
    # to version resolution, physically replaced by the replayed write.
    torn = os.path.join(target, "v2", "event_type=click")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"torn write, not a parquet file")
    spark.createDataFrame([("purchase", 3, 1.25)], schema).coalesce(1).write.parquet(
        str(src / "f3")
    )
    got = _run()
    assert got == {
        ("click", 1): (2, 150),
        ("view", 2): (1, 200),
        ("purchase", 3): (1, 125),
    }


def test_incremental_upsert_replay_overwrites_stray_versions(spark, tmp_path):
    """Same fault injection for the T2 versioned upsert sink (VERDICT
    r14 #6): complete-but-uncommitted and torn v{b} dirs from a crashed
    attempt must be overwritten by the replayed batch, never served."""
    import datetime as dt

    src = tmp_path / "fi_upsert"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long, value double"
    ckpt = str(tmp_path / "ckpt")
    state_dir = str(tmp_path / "ckpt" / "state_table")
    existing = spark.createDataFrame(
        [], "user_id long, last_event_id long, last_value double"
    )

    def _prepare(batch_df):
        return batch_df.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
        )
        return incremental_upsert(
            stream,
            existing,
            keys=["user_id"],
            checkpoint_dir=ckpt,
            table_name=f"fi_{uuid.uuid4().hex[:8]}",
            prepare=_prepare,
        )

    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 9, 0), 7, 1.0)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    (row,) = _run().collect()
    assert (row.last_event_id, row.last_value) == (1, 1.0)

    # COMPLETE stray v1 with poisoned content, then the real f2 arrives
    spark.createDataFrame(
        [(7, 999, -1.0)], "user_id long, last_event_id long, last_value double"
    ).coalesce(1).write.parquet(os.path.join(state_dir, "v1"))
    spark.createDataFrame(
        [(2, dt.datetime(2024, 1, 1, 10, 0), 7, 2.0)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    (row,) = _run().collect()
    assert (row.last_event_id, row.last_value) == (2, 2.0)

    # TORN stray v2 (no _SUCCESS) before f3's batch
    os.makedirs(os.path.join(state_dir, "v2"))
    with open(os.path.join(state_dir, "v2", "part-00000.parquet"), "wb") as f:
        f.write(b"torn")
    spark.createDataFrame(
        [(3, dt.datetime(2024, 1, 1, 11, 0), 7, 3.0)], schema
    ).coalesce(1).write.parquet(str(src / "f3"))
    (row,) = _run().collect()
    assert (row.last_event_id, row.last_value) == (3, 3.0)


def test_bucketed_equals_per_user_sessionizer(spark, sf_dir):
    """The bucketed-state sessionizer must emit EXACTLY the per-user
    operator's rows — same >= gap splits, carried-session merges, and
    timeout-driven closes — with ~users/B fewer group invocations (the
    r15 scale path). Full-fixture equality, not just oracle parity."""
    from graph_etl_pipeline_spark.registry import all_queries

    qs = all_queries()
    a = sorted(
        tuple(r)
        for r in qs["stream_stateful_session_timeout"].fn(spark, sf_dir).collect()
    )
    b = sorted(
        tuple(r)
        for r in qs["stream_session_bucketed_state"].fn(spark, sf_dir).collect()
    )
    assert a and a == b


def test_bucketed_sessionizer_sweeps_expired_users_on_data_invocation(
    spark, tmp_path
):
    """The one semantics bucketing forces: a bucket that receives DATA
    gets no separate timeout invocation for its OTHER users that batch,
    so expired co-bucketed sessions must be closed by the operator's own
    watermark sweep inside the data invocation. Users 1 and 65 share
    bucket 1 (B=64); user 65 keeps sending while user 1 goes quiet —
    user 1's session must still be emitted exactly once, closed by the
    sweep, with no timeout invocation ever firing for the bucket."""
    import datetime as dt

    from graph_etl_pipeline_spark.streaming.stateful import (
        session_totals_bucketed,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    src = tmp_path / "bk_src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 9, 0)

    # batch 0: one event per user; batch 1: user 65 at t0+3h (raises the
    # watermark seen by batch 2 to t0+2h); batch 2: user 65 again — the
    # bucket has data in every batch, so only the sweep can close user 1
    # (deadline t0+30min < watermark t0+2h at batch 2).
    spark.createDataFrame(
        [(1, t0, 1, 1.0), (2, t0, 65, 2.0)], schema
    ).coalesce(1).write.parquet(str(src / "f0"))
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(hours=3), 65, 3.0)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(4, t0 + dt.timedelta(hours=3, minutes=1), 65, 4.0)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    name = f"bk_sweep_{uuid.uuid4().hex[:8]}"
    q = (
        session_totals_bucketed(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(name).collect()
    # user 65's trailing session (t0+3h..t0+3h1m) never closes (no later
    # watermark) — the only emitted session is user 1's, via the sweep.
    # user 65's t0 session closes in-batch at batch 1 (3h gap proof).
    got = sorted((r.user_id, r.session_start, r.n_events, r.session_cents) for r in rows)
    assert got == [(1, t0, 1, 100), (65, t0, 1, 200)]


def test_bucketed_sessionizer_default_applies_sizing_policy(spark, tmp_path):
    """The default constructor (buckets=None) must resolve the bucket
    count through the documented sizing policy's pinned value
    (SESSION_BUCKETS, itself checklist-pinned to session_buckets_for at
    the fixture scale) — asserted against the analyzed plan's pmod
    literal so a signature change that bypasses the policy fails here
    (VERDICT r15 #6)."""
    from graph_etl_pipeline_spark.streaming.stateful import (
        SESSION_BUCKETS,
        session_totals_bucketed,
    )

    schema = "event_id long, ts timestamp, user_id long, value double"
    stream = spark.readStream.schema(schema).parquet(str(tmp_path))
    plan = session_totals_bucketed(stream)._jdf.queryExecution().analyzed().toString()
    assert (
        "pmod(user_id" in plan
        and f"cast({SESSION_BUCKETS} as bigint)" in plan
    ), plan


class _FakeGroupState:
    """Duck-typed GroupState for driving the sessionizer functions
    directly — the engine-independent way to exercise paths the pinned
    fixtures (sorted batch 0) can never reach."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self._wm = 0

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self._timeout_ms = ms

    def getCurrentWatermarkMs(self):
        return self._wm


def test_sessionizers_tolerate_cross_batch_late_merge():
    """ORDERING CONTRACT (r15): an in-watermark event arriving one batch
    AFTER a same-session successor must fold aggregate-wise — min start,
    max stored last-event time — not overwrite them. Before the fix a
    late merge kept the carried start and regressed the stored last to
    the (earlier) batch tail, so a following event at last+gap-ε would
    spuriously split the session. Both operators, driven directly."""
    import pandas as pd

    from graph_etl_pipeline_spark.streaming.stateful import (
        _update_bucket_sessions,
        _update_sessions,
    )

    t0 = pd.Timestamp("2024-01-01 09:00:00")

    def pdf(rows):  # (event_id, ts_offset_min, value)
        return pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "user_id": [1] * len(rows),
                "ts": [t0 + pd.Timedelta(minutes=r[1]) for r in rows],
                "value": [r[2] for r in rows],
            }
        )

    t0_us = t0.value // 1000
    t10_us = (t0 + pd.Timedelta(minutes=10)).value // 1000

    st = _FakeGroupState()
    assert list(_update_sessions((1,), [pdf([(1, 10, 1.0)])], st)) == []
    assert list(_update_sessions((1,), [pdf([(2, 0, 2.0)])], st)) == []
    start_us, last_us, n, cents = st.get
    assert (start_us, last_us, n, cents) == (t0_us, t10_us, 2, 300)

    st = _FakeGroupState()
    assert list(_update_bucket_sessions((1,), [pdf([(1, 10, 1.0)])], st)) == []
    assert list(_update_bucket_sessions((1,), [pdf([(2, 0, 2.0)])], st)) == []
    su, ss, sl, sn, sc = st.get
    assert (list(su), list(ss), list(sl), list(sn), list(sc)) == (
        [1], [t0_us], [t10_us], [2], [300]
    )


def test_bucketed_sessionizer_bucket_count_invariance(spark, sf_dir):
    """B is a pure state-volume sizing knob (the docstring's claim, now
    pinned): changing the bucket count must not change a single output
    row — sessions are per-user facts; buckets only decide which group
    folds them. B=3 forces heavy user-co-residency (hundreds of users
    per bucket at sf0.001) and exercises the packed-array paths far
    harder than B=64."""
    from graph_etl_pipeline_spark.queries.streaming_queries import (
        _run_session_fixture,
    )
    from graph_etl_pipeline_spark.streaming.stateful import (
        session_totals_bucketed,
    )

    def run(b, tag):
        return sorted(
            tuple(r)
            for r in _run_session_fixture(
                spark,
                sf_dir,
                f"sessbk{b}",
                f"bk_inv_{tag}",
                lambda s: session_totals_bucketed(s, buckets=b),
            ).collect()
        )

    a, b = run(3, "b3"), run(64, "b64")
    assert a and a == b


def test_three_batch_fixture_replaces_non_directory_src(spark, sf_dir, tmp_path):
    """A plain file where the fixture's src directory belongs (a stale
    artifact of an older layout) is a mismatch: the fixture removes it
    and rebuilds the directory instead of failing in os.makedirs."""
    from graph_etl_pipeline_spark.streaming.jobs import stage_three_batch_fixture

    (tmp_path / "src").write_text("stale")
    src = stage_three_batch_fixture(spark, sf_dir, str(tmp_path), [])
    assert sorted(os.listdir(src)) == ["a-events.parquet"]


def test_three_batch_fixture_rebuilds_on_changed_marker_rows(spark, sf_dir, tmp_path):
    """Same-named marker files with different rows are a mismatch too:
    the second staging must serve the new rows, not the first call's;
    staging the same rows again reuses the directory."""
    import datetime

    import pyarrow.parquet as pq

    from graph_etl_pipeline_spark.streaming.jobs import stage_three_batch_fixture

    def staged(event_id):
        row = (event_id, datetime.datetime(2030, 1, 1), -1, "wm_advance", 0.0)
        src = stage_three_batch_fixture(spark, sf_dir, str(tmp_path), [("b-advance", [row])])
        path = os.path.join(src, "b-advance.parquet")
        return pq.read_table(path)["event_id"].to_pylist(), os.stat(path).st_ctime_ns

    assert staged(-1)[0] == [-1]
    ids, built = staged(-2)
    assert ids == [-2]
    assert staged(-2) == ([-2], built)


def test_stage_batch_files_reuses_only_a_complete_matching_build(tmp_path):
    """A staged fixture is rebuilt unless its file set and fingerprint
    both match; a build that never wrote its fingerprint (interrupted)
    is rebuilt, and the pinned mtimes give the file source list order."""
    from graph_etl_pipeline_spark.streaming.jobs import stage_batch_files

    writes = []

    def writer(tag):
        def write(path):
            writes.append(tag)
            with open(path, "w", encoding="utf-8") as f:
                f.write(tag)

        return write

    files = [("b-first", writer("b")), ("a-second", writer("a"))]
    src = stage_batch_files(str(tmp_path), files, stamp=1)
    assert writes == ["b", "a"]
    mtimes = [os.stat(os.path.join(src, name)).st_mtime for name, _ in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 2
    assert stage_batch_files(str(tmp_path), files, stamp=1) == src
    assert writes == ["b", "a"]
    stage_batch_files(str(tmp_path), files, stamp=2)
    assert writes == ["b", "a"] * 2
    os.remove(tmp_path / "src.fingerprint")
    stage_batch_files(str(tmp_path), files, stamp=2)
    assert writes == ["b", "a"] * 3


def test_fixture_query_reruns_leave_no_checkpoint_dir(spark, sf_dir):
    """Fixture queries restart from batch 0 on every run, so their
    checkpoints are temporary: two runs add no `ckpt_*` dir to this
    process's scratch dirs."""
    from graph_etl_pipeline_spark.io import SCRATCH_DIR
    from graph_etl_pipeline_spark.queries.streaming_queries import (
        stream_watermark_late,
    )

    pattern = os.path.join(SCRATCH_DIR, f"*-{os.getpid()}", "ckpt_*")
    before = set(glob.glob(pattern))
    for _ in range(2):
        assert stream_watermark_late(spark, sf_dir).count() > 0
    assert set(glob.glob(pattern)) - before == set()


def test_only_the_stream_runner_reads_streams_or_sinks_to_memory():
    """How a stream query is read and run is decided in one module: in
    the package, `readStream` and `format("memory")` each appear in
    exactly one function, and both functions are in streaming/jobs.py."""
    import ast
    import pathlib

    import graph_etl_pipeline_spark as pkg

    hits = set()

    class Calls(ast.NodeVisitor):
        def __init__(self, where):
            self.where, self.scope = where, ["<module>"]

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        def visit_Attribute(self, node):
            if node.attr == "readStream":
                hits.add(("readStream", self.where, self.scope[-1]))
            self.generic_visit(node)

        def visit_Call(self, node):
            fn, args = node.func, node.args
            if (
                isinstance(fn, ast.Attribute)
                and fn.attr == "format"
                and args
                and isinstance(args[0], ast.Constant)
                and args[0].value == "memory"
            ):
                hits.add(("memory", self.where, self.scope[-1]))
            self.generic_visit(node)

    root = pathlib.Path(pkg.__file__).parent
    for path in sorted(root.rglob("*.py")):
        Calls(str(path.relative_to(root))).visit(ast.parse(path.read_text()))
    assert sorted(hits) == [
        ("memory", "streaming/jobs.py", "run_to_memory"),
        ("readStream", "streaming/jobs.py", "fixture_stream"),
    ]


def test_stream_queries_run_at_their_pinned_widths(spark, sf_dir, monkeypatch):
    """The three stream-stream joins run at STREAM_JOIN_SHUFFLE_PARTITIONS
    (4): each of their shuffle partitions carries four join state stores,
    and the full join took 6.4 s at width 8 against 4.0 s at 4 (sf0.1).
    Every other bounded stream runs at STREAM_SHUFFLE_PARTITIONS (8); the
    foreachBatch upserts run at the session width."""
    from graph_etl_pipeline_spark.queries import streaming_queries
    from graph_etl_pipeline_spark.registry import all_queries
    from graph_etl_pipeline_spark.streaming import jobs

    real = jobs.stream_shuffle_partitions
    widths: list[int] = []

    def spy(spark, n=jobs.STREAM_SHUFFLE_PARTITIONS):
        widths.append(n)
        return real(spark, n)

    monkeypatch.setattr(jobs, "stream_shuffle_partitions", spy)
    streams = {
        name: spec.fn
        for name, spec in all_queries().items()
        if spec.fn.__module__ == streaming_queries.__name__
    }
    assert len(streams) == 17
    got = {}
    for name, fn in sorted(streams.items()):
        widths.clear()
        fn(spark, sf_dir)
        got[name] = list(widths)
    joins = {"stream_interval_join", "stream_left_join_timeout", "stream_full_join_timeout"}
    upserts = {"stream_incremental_upsert", "stream_sketch_register_merge", "stream_countmin_topk"}
    assert got == {
        name: [] if name in upserts else [4] if name in joins else [8] for name in streams
    }
