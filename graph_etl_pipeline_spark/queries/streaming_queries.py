"""Streaming-backed contract queries (SURVEY.md §2.9 T1): a REAL
Structured Streaming execution (readStream → watermark → windowed agg →
availableNow trigger → memory sink) whose finished result is returned as
a batch DataFrame — so the DuckDB oracle checks the streaming path
itself, not a batch stand-in."""

from __future__ import annotations

import datetime
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.functions import hll
from graph_etl_pipeline_spark.io import fresh_scratch_dir, scratch_dir, sf_key, table
from graph_etl_pipeline_spark.queries._sql import osum, sdec
from graph_etl_pipeline_spark.registry import register
from graph_etl_pipeline_spark.streaming.jobs import (
    STREAM_JOIN_SHUFFLE_PARTITIONS,
    events_stream,
    fixture_stream,
    incremental_upsert,
    partitioned_incremental_merge,
    run_to_memory,
    session_aggregate,
    stage_batch_files,
    stage_three_batch_fixture,
    staged_events_single_file,
    tumbling_aggregate,
)


@register(
    "stream_tumbling_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {osum(sdec('value'), "sum_value")}
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming",),
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 executed through the streaming engine. The single-file source
    arrives as one micro-batch, so the 2-hour watermark drops nothing and
    the complete-mode result must equal the batch oracle exactly. (With
    multi-file arrival the watermark starts evicting finalized windows —
    covered in tests/test_streaming.py.)"""
    stream = events_stream(spark, sf_dir)
    return run_to_memory(
        tumbling_aggregate(stream, window="1 hour", watermark="2 hours"),
        "stream_tumbling",
    )


@register(
    "stream_incremental_upsert",
    oracle="""
    WITH latest AS (
        SELECT user_id, event_id AS last_event_id, ts AS last_ts,
               value AS last_value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn FROM events
        ) WHERE rn = 1
    )
    SELECT c.c_custkey AS user_id, c.c_name,
           l.last_event_id, l.last_ts, l.last_value
    FROM customer c LEFT JOIN latest l ON l.user_id = c.c_custkey
    """,
    tags=("streaming", "sink"),
)
def stream_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 executed through the streaming engine: readStream
    over events → foreachBatch merge into a customer-keyed state table via
    the SAME set-oriented merge_upsert the batch sinks use
    (sinks/upsert.py; reference re-run contract, waste_items.py:366-373).
    Each micro-batch is reduced to its latest event per user
    (deterministic tiebreak: ts DESC, event_id DESC) before merging;
    matched users take the incoming state, users with no events keep
    their NULL state — the keep-unmatched-existing leg of MERGE.

    State precedence is RECENCY, not batch-arrival order: each batch is
    reduced to its latest event per user, and the cross-batch merge
    (_newer_wins) only overwrites when the incoming (ts, event_id) is
    strictly newer — a late-arriving micro-batch carrying older events
    can never regress a user's state, so the final table equals the
    global latest-per-user oracle under ANY batch split. Multi-batch
    out-of-order arrival is exercised in tests/test_streaming.py."""
    existing = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        "c_name",
        F.lit(None).cast("long").alias("last_event_id"),
        F.lit(None).cast("timestamp").alias("last_ts"),
        F.lit(None).cast("double").alias("last_value"),
    )

    ckpt = fresh_scratch_dir("stream_upsert_ckpt")
    return incremental_upsert(
        events_stream(spark, sf_dir),
        existing,
        keys=["user_id"],
        checkpoint_dir=ckpt,
        table_name=f"stream_upsert_{uuid.uuid4().hex[:8]}",
        prepare=latest_per_user_batch,
        merge=newer_wins_user_state,
    )


def latest_per_user_batch(batch_df: DataFrame) -> DataFrame:
    """Reduce one micro-batch to its newest event per user (deterministic
    tiebreak ts DESC, event_id DESC) in the state-table column shape."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        batch_df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


def newer_wins_user_state(current: DataFrame, incoming: DataFrame) -> DataFrame:
    """Recency-aware MERGE for the per-user state table: the incoming row
    wins only when its (last_ts, last_event_id) is strictly newer than
    the held state (NULL state always loses to a real event). The state
    table is CUSTOMER-KEYED: the seed defines the key universe, so the
    merge is a LEFT join from held state to the incoming batch and events
    for users outside the seed are dropped — matching the oracle's
    ``customer LEFT JOIN latest`` exactly (the previous full-outer
    inserted orphan-event users the oracle never emits; it only passed
    because the testdata is referentially intact). One shuffle per side,
    same cost shape as merge_upsert."""
    e, i = current.alias("e"), incoming.alias("i")
    j = e.join(i, F.col("e.user_id") == F.col("i.user_id"), "left")
    inc_newer = F.col("i.last_ts").isNotNull() & (
        F.col("e.last_ts").isNull()
        | (F.col("i.last_ts") > F.col("e.last_ts"))
        | (
            (F.col("i.last_ts") == F.col("e.last_ts"))
            & (F.col("i.last_event_id") > F.col("e.last_event_id"))
        )
    )
    pick = lambda c: (  # noqa: E731
        F.when(inc_newer, F.col(f"i.{c}")).otherwise(F.col(f"e.{c}")).alias(c)
    )
    return j.select(
        F.col("e.user_id").alias("user_id"),
        F.col("e.c_name").alias("c_name"),
        pick("last_event_id"),
        pick("last_ts"),
        pick("last_value"),
    )


@register(
    "stream_stateful_running",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator executed through the streaming engine:
    applyInPandasWithState keeps a persistent (n_events, total_cents)
    tuple per user in Spark's checkpointed state store
    (streaming/stateful.py — the mechanism for per-entity lifetime
    aggregates that windowed aggregation can't express). Each micro-batch
    emits the updated cumulative row per touched user; the final answer
    is the last (= MAX, cumulative rows are monotone) row per user, which
    must equal the batch groupBy oracle exactly — integer-cents
    accumulation makes the equality exact under ANY batch split
    (multi-batch and restart behavior: tests/test_streaming.py)."""
    from graph_etl_pipeline_spark.streaming.stateful import running_user_totals

    stream = events_stream(spark, sf_dir)
    totals = run_to_memory(
        running_user_totals(stream),
        "stream_stateful",
        output_mode="update",
    )
    return totals.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_cents").alias("total_cents"),
    )


@register(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication executed through the real streaming engine:
    readStream → dropDuplicates on the key columns → append-mode memory
    sink, run to completion with availableNow. Emitting ONLY the key
    columns makes the result deterministic (which physical row
    "arrives first" per key is racy; the key set is not), so the DuckDB
    DISTINCT oracle hash-checks the streaming path exactly. State note
    for a 24/7 stream: plain dropDuplicates keeps every seen key in the
    state store forever; production uses dropDuplicatesWithinWatermark
    so keys age out with the event-time watermark — same plan shape,
    bounded state (covered in tests/test_streaming.py for the
    watermarked aggregate path)."""
    stream = events_stream(spark, sf_dir)
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_to_memory(deduped, "stream_dedup", output_mode="append")


SESSION_GAP_US = 30 * 60 * 1_000_000  # mirrors win_session_batch's gap


@register(
    "stream_session_window",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {SESSION_GAP_US}
                    OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT MIN(ts) AS session_start,
           user_id,
           COUNT(*) AS n_events,
           {osum(sdec('value'), "session_value")}
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("streaming", "window"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 executed through the streaming engine: native session_window
    sessionization (streaming/jobs.py session_aggregate) run availableNow
    → memory sink, so the driver's hash row checks Spark's streaming
    session-state machinery itself, not the batch gaps-and-islands twin.

    Gap boundary semantics differ between the two formulations and the
    oracle encodes the STREAMING one: session_window merges an event into
    a session only when its [ts, ts+gap) window OVERLAPS the session's
    [start, last+gap) — strict inequality, so a gap of exactly 30:00.000000
    STARTS a new session (>= in the oracle's new_session flag), whereas
    the batch twin win_session_batch keeps it (> in its flag), matching
    its own lag-based definition. Both are exact integer-microsecond
    comparisons."""
    stream = events_stream(spark, sf_dir)
    return run_to_memory(
        session_aggregate(stream, gap="30 minutes", watermark="2 hours"),
        "stream_sessions",
    )


@register(
    "stream_sliding_hourly",
    oracle=f"""
    WITH e AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // 900 AS e900,
               event_type, value
        FROM events
    ),
    x AS (
        SELECT make_timestamp(((e900 - k) * 900) * 1000000) AS window_start,
               event_type, value
        FROM e, generate_series(0, 3) AS g(k)
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           {osum(sdec('value'), "sum_value")}
    FROM x
    GROUP BY window_start, event_type
    """,
    tags=("streaming", "window"),
)
def stream_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows executed through the streaming engine —
    the last T-family combination (tumbling/session both have streaming
    twins; this is win_sliding_hourly's). Each event holds state in 4
    overlapping windows; the watermark bounds how many stay open. The
    single availableNow batch means complete mode must equal the batch
    oracle exactly, same contract as stream_tumbling_hourly."""
    stream = events_stream(spark, sf_dir)
    agg = tumbling_aggregate(stream, "1 hour", "2 hours", slide="15 minutes")
    return run_to_memory(agg, "stream_sliding")


@register(
    "stream_watermark_late",
    oracle=f"""
    WITH m AS (SELECT max(ts) AS tmax FROM events),
    g AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n, SUM({sdec('value')}) AS s
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type,
           CASE WHEN window_start + INTERVAL 1 HOUR > tmax - INTERVAL 2 HOUR
                THEN 2 * n ELSE n END AS n_events,
           CAST(CAST(CASE WHEN window_start + INTERVAL 1 HOUR > tmax - INTERVAL 2 HOUR
                          THEN 2 * s ELSE s END AS VARCHAR) AS DOUBLE) AS sum_value
    FROM g, m
    WHERE window_start + INTERVAL 1 HOUR <= tmax - INTERVAL 1 HOUR
    """,
    tags=("streaming", "watermark"),
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 late data / watermark semantics, HASH-CHECKED. A
    three-micro-batch file stream drives Spark's real watermark state
    machine through every observable behavior, and a closed-form oracle
    reproduces the result exactly:

      batch 0  a-events   the whole events table (one file = one batch)
      batch 1  b-advance  ONE synthetic row at tmax + 1h (advances the
                          watermark; its own window is never emitted)
      batch 2  c-replay   byte-identical REPLAY of batch 0 — every row
                          arrives a second time, late

    Spark's cross-batch watermark contract (verified against the engine,
    and monotone, so the filter-lag and state-evicted formulations
    coincide): a row in batch N merges iff its window end > wm(N-1), the
    watermark reported for the previous batch (wm(N) = max event time
    through batch N-1, minus the 2h delay); in append mode a window is
    emitted iff window end <= the final watermark. Here wm at the replay
    batch is tmax - 2h and the final watermark is (tmax + 1h) - 2h =
    tmax - 1h, so the output is:

      - windows ending in (tmax-2h, tmax-1h]: replay MERGED -> counts and
        sums exactly DOUBLE (late-but-within-watermark rows accepted);
      - windows ending <= tmax-2h: replay DROPPED -> single counts (the
        actual late-data eviction, the part a batch twin cannot show);
      - windows ending > tmax-1h: never emitted (append-mode cut).

    All three regimes are hash-checked in one result. Fixture files are
    built once per (sf_dir, pid) under the reaped scratch root; batch 0
    is coalesced to a single file so the watermark cannot advance inside
    it — the fixture-build path is test-scale by design, while the
    streaming plan itself (watermark + windowed agg) is the exact shape
    that runs unbounded at 100 TB/day."""
    src = _replay_fixture(spark, sf_dir)
    return run_to_memory(
        tumbling_aggregate(fixture_stream(spark, src)), "stream_wmlate", "append"
    )


def _replay_fixture(spark: SparkSession, sf_dir: str) -> str:
    """The 3-batch replay fixture shared by stream_watermark_late and
    stream_dedup_within_watermark: the whole events table, ONE synthetic
    row at tmax + 1h that advances the watermark, then a byte-identical
    replay of the table."""
    row = lambda t: (-1, t + datetime.timedelta(hours=1), -1, "wm_advance", 0.0)  # noqa: E731
    return stage_three_batch_fixture(
        spark,
        sf_dir,
        scratch_dir("wmreplay", sf_key(sf_dir)),
        [("b-advance", [row])],
        replay_events=True,
    )


@register(
    "stream_interval_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS conv_id, a.user_id,
           a.ts AS click_ts, b.ts AS conv_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join through the streaming engine — the one
    T-family combination the engine had not yet executed as a REAL
    streaming query (tumbling/sliding/session windows, stateful totals,
    dedup, and the foreachBatch upsert all have streaming twins; joins
    did not). Two event streams (even event_ids as 'clicks', odd as
    'conversions') join on user within a [0, 30 min] event-time range —
    the attribution-join shape.

    Both sides carry watermarks and the join condition bounds event time
    on both ends, which is exactly what lets Spark evict buffered rows:
    a click older than (conversion watermark - 30 min) can never match
    again and its state is dropped — O(watermark horizon) state at
    unbounded ingest, the property that makes this runnable at 100 TB/day.
    Under availableNow's single batch nothing is evicted mid-run, so the
    emitted set must equal the batch interval join exactly — the same
    complete-vs-oracle contract stream_tumbling_hourly pins."""
    return _click_conv_join(lambda: events_stream(spark, sf_dir), "inner", "stream_ivjoin")


def _click_conv_join(source, how: str, prefix: str) -> DataFrame:
    """The attribution join shared by the three stream-stream joins:
    clicks (even event_id) join conversions (odd) of the same user within
    [0, 30 min] of event time, both sides watermarked 1 hour, run into a
    memory sink at the join width. ``source`` is a zero-argument factory:
    each side reads its own stream. Conversions are ``% 2 != 0`` because
    Spark's ``-1 % 2`` is -1 — the synthetic conversion row at event_id
    -1 must stay a conversion. user_id is coalesced across sides so a
    full join's conversion-only rows name their user; on inner and left
    joins the coalesce returns the click side's user_id unchanged."""
    clicks = (
        source()
        .filter(F.col("event_id") % 2 == 0)
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    convs = (
        source()
        .filter(F.col("event_id") % 2 != 0)
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("conv_id"),
            F.col("user_id").alias("vu"),
            F.col("ts").alias("conv_ts"),
        )
    )
    joined = clicks.join(
        convs,
        (F.col("user_id") == F.col("vu"))
        & (F.col("conv_ts") >= F.col("click_ts"))
        & (F.col("conv_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        how,
    ).select(
        "click_id",
        "conv_id",
        F.coalesce("user_id", "vu").alias("user_id"),
        "click_ts",
        "conv_ts",
    )
    return run_to_memory(joined, prefix, "append", STREAM_JOIN_SHUFFLE_PARTITIONS)


def _timeout_fixture(spark: SparkSession, sf_dir: str):
    """Source factory for the outer-join timeout fixture shared by the
    left and full joins (one staged copy serves both): the whole events
    table, then one batch holding an even (click-side) and an odd
    (conversion-side) row at tmax + 1h, which raises BOTH per-input
    watermarks — the global watermark is their MIN, so one side alone
    moves nothing. Each synthetic row has its own user (-100 + id), so
    the two can never match each other. The engine's trailing no-data
    micro-batch then runs with the advanced watermark and does the
    eviction; no third data batch is needed."""
    rows = [
        lambda t, i=i: (i, t + datetime.timedelta(hours=1), -100 + i, "wm_advance", 0.0)
        for i in (-2, -1)
    ]
    src = stage_three_batch_fixture(
        spark, sf_dir, scratch_dir("lojto", sf_key(sf_dir)), [("b-advance", rows)]
    )
    return lambda: fixture_stream(spark, src).select("event_id", "user_id", "ts")


@register(
    "stream_left_join_timeout",
    oracle="""
    WITH m AS (SELECT max(ts) AS tmax FROM events),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
          FROM events WHERE event_id % 2 = 0),
    v AS (SELECT event_id AS conv_id, user_id AS vu, ts AS conv_ts
          FROM events WHERE event_id % 2 = 1),
    matched AS (
        SELECT c.click_id, v.conv_id, c.user_id, c.click_ts, v.conv_ts
        FROM c JOIN v ON v.vu = c.user_id
           AND v.conv_ts >= c.click_ts
           AND v.conv_ts <= c.click_ts + INTERVAL 30 MINUTE
    ),
    expired AS (
        SELECT c.click_id, CAST(NULL AS BIGINT) AS conv_id, c.user_id,
               c.click_ts, CAST(NULL AS TIMESTAMP) AS conv_ts
        FROM c, m
        WHERE NOT EXISTS (
            SELECT 1 FROM v WHERE v.vu = c.user_id
              AND v.conv_ts >= c.click_ts
              AND v.conv_ts <= c.click_ts + INTERVAL 30 MINUTE
        )
        AND c.click_ts + INTERVAL 30 MINUTE <= m.tmax
    )
    SELECT * FROM matched UNION ALL SELECT * FROM expired
    """,
    tags=("streaming", "join", "watermark"),
)
def stream_left_join_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark-driven timeout
    emission — the abandonment/no-conversion shape: a click with no
    conversion within 30 minutes is emitted with NULLs once the
    watermark proves no match can still arrive. This is the part of the
    outer-join state machine the inner interval join never touches:
    unmatched left state is held until the GLOBAL watermark (the MIN
    over both inputs — verified against the engine) passes the click's
    match horizon, then emitted exactly once.

    Determinism uses the stream_watermark_late fixture discipline:
    batch 0 is the whole events table (matched pairs emit immediately);
    batch 1 plants one synthetic row per side at tmax + 1h, raising BOTH
    inputs' watermarks (min semantics — one side alone moves nothing);
    the engine's trailing NO-DATA micro-batch then runs with the
    advanced watermark (wm = tmax after the 1h delay) and evicts
    expired clicks (a third marker file would force the same eviction
    through a full data batch; the no-data batch is cheaper). The
    synthetic rows themselves can never be emitted: their match horizon
    ends past the final watermark. Oracle: matched pairs plus
    no-match clicks whose horizon closed by tmax — every emitted row
    hash-checked.

    The production plan is the same join running unbounded: per-side
    state is bounded by the 30-minute horizon plus watermark delay, so
    state size tracks ingest RATE, not history."""
    return _click_conv_join(
        _timeout_fixture(spark, sf_dir), "left_outer", "stream_lojto"
    )


def _run_session_fixture(spark, sf_dir, root_prefix, sink_prefix, operator):
    """Shared 2-data-batch determinism fixture for the stateful
    sessionizers (per-user and bucketed): the whole events table, then
    one advance row at tmax + 2h (its own session parks with a deadline
    past the final watermark, never emitted), pushing the final
    watermark to tmax + 1h — past every real session's deadline; the
    availableNow trailing no-data batch then runs the timeout sweep so
    EVERY session is emitted and the output must equal the batch
    gaps-and-islands sessionization. One copy so the two operators'
    pinned output-equality contract cannot drift on fixture details."""
    row = lambda t: (-1, t + datetime.timedelta(hours=2), -1, "sess_advance", 0.0)  # noqa: E731
    src = stage_three_batch_fixture(
        spark, sf_dir, scratch_dir(root_prefix, sf_key(sf_dir)), [("b-advance", [row])]
    )
    stream = fixture_stream(spark, src).select("event_id", "user_id", "ts", "value")
    # the synthetic advance user's session can never be emitted (its
    # deadline sits past the final watermark); the filter is a backstop
    return run_to_memory(operator(stream), sink_prefix, "append").filter(
        F.col("user_id") >= 0
    )


# Shared by the per-user and bucketed stateful sessionizers: both must
# equal the batch gaps-and-islands sessionization exactly.
_SESSION_TOTALS_ORACLE = f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {SESSION_GAP_US}
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, cents,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS session_cents
    FROM sess GROUP BY user_id, sid
    """


@register(
    "stream_stateful_session_timeout",
    oracle=_SESSION_TOTALS_ORACLE,
    tags=("streaming", "stateful", "watermark"),
)
def stream_stateful_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful sessionization with EVENT-TIME TIMEOUT
    (applyInPandasWithState + GroupStateTimeout.EventTimeTimeout) — the
    one state-machine feature the stateful family had not exercised:
    state that Spark itself expires when the watermark passes a
    per-group deadline, re-invoking the operator with hasTimedOut so the
    trailing open session is emitted closed and cleared. In-batch gaps
    close sessions immediately; only the watermark can close the last
    one — exactly how a hand-rolled sessionizer must work at unbounded
    ingest, where 'no more events' is a watermark fact, not an
    end-of-file.

    Determinism uses the established watermark fixture: the whole events
    table, then one advance row at tmax + 2h (its own session parks with
    a deadline past the final watermark, so it is never emitted),
    pushing the final watermark to tmax + 1h — past
    every real session's deadline, so EVERY session is timeout-emitted
    and the output must equal the full batch sessionization (streaming
    >= gap split semantics, integer-cents sums). Oracle: the
    gaps-and-islands twin."""
    from graph_etl_pipeline_spark.streaming.stateful import (
        session_totals_with_timeout,
    )

    return _run_session_fixture(
        spark, sf_dir, "sessto", "stream_sessto", session_totals_with_timeout
    )


@register(
    "stream_session_bucketed_state",
    oracle=_SESSION_TOTALS_ORACLE,
    tags=("streaming", "stateful", "watermark", "scale"),
)
def stream_session_bucketed_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED-STATE sessionization — the scale path for the
    per-user operator above. stream_stateful_session_timeout pays the
    engine's per-GROUP fixed cost (state Arrow round trip, GroupState
    construction, one output frame) once per user per micro-batch —
    ~1.9 ms × 3,002 invocations at sf0.1, and at 100 TB/day (100M+
    users) hundreds of millions of per-batch state
    round trips. Here the state key is pmod(user_id, SESSION_BUCKETS):
    one group per BUCKET holds every open session in packed int64
    arrays, the fold is one vectorized pass over the bucket's
    (user, ts)-sorted events, and eviction is a watermark SWEEP over the
    packed arrays (the bucket's event-time timeout re-arms at the MIN
    open deadline). Output is identical to the per-user operator —
    same >= gap splits, same integer cents, same timeout-driven closes —
    with ~users/B fewer group invocations per batch; B is the
    state-volume sizing knob (streaming/stateful.py).

    Same 3-batch determinism fixture and the SAME gaps-and-islands
    oracle as the per-user row (one shared staging/run helper, so the
    fixture cannot drift between the two); tests additionally pin
    operator-level output equality between the two plans."""
    from graph_etl_pipeline_spark.streaming.stateful import session_totals_bucketed

    return _run_session_fixture(
        spark, sf_dir, "sessbk", "stream_sessbk", session_totals_bucketed
    )


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_id, event_type, ts FROM events       -- batch 0: every key, once
    UNION ALL                                          -- batch 1: the advance row
    SELECT -1, 'wm_advance', MAX(ts) + INTERVAL 1 HOUR FROM events
    -- batch 2 (byte-identical replay): contributes NOTHING — see docstring
    """,
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark, HASH-CHECKED — the BOUNDED-state
    streaming dedup stream_dedup_keys' docstring defers to: plain
    dropDuplicates keeps every key forever, the watermark variant evicts
    a key once the watermark passes its event time + delay, trading
    "exactly once ever" for "exactly once within the late-data horizon"
    with O(horizon) state. The same three-micro-batch fixture as
    stream_watermark_late (full table → watermark-advance row →
    byte-identical replay) drives the full state machine, and the replay
    batch must contribute ZERO rows — for two different reasons the
    operator composes (verified against the engine; a naive
    state-eviction model predicts re-emissions and is WRONG):

      - replayed rows with ts ≥ the batch watermark (tmax - 1h): key
        still in state (its expiry ts + 2h exceeds the watermark) →
        deduplicated;
      - replayed rows with ts < tmax - 1h: discarded by the stateful
        operator's LATE-INPUT filter before dedup is even consulted —
        this is how bounded state stays sound: a duplicate can only be
        re-admitted once it is too late to be accepted at all.

    So the hash row certifies "exactly one output per key under replay"
    plus the late-filter cut, end to end through real streaming state.
    Emitting full row content is safe (replays are byte-identical).
    State note at 100 TB/day: one entry per key seen within the
    watermark horizon, independent of stream age."""
    stream = fixture_stream(spark, _replay_fixture(spark, sf_dir))
    deduped = (
        stream.select("event_id", "event_type", "ts")
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return run_to_memory(deduped, "stream_wmdedup", "append")


@register(
    "stream_full_join_timeout",
    oracle="""
    WITH m AS (SELECT max(ts) AS tmax FROM events),
    c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
          FROM events WHERE event_id % 2 = 0),
    v AS (SELECT event_id AS conv_id, user_id AS vu, ts AS conv_ts
          FROM events WHERE event_id % 2 = 1),
    matched AS (
        SELECT c.click_id, v.conv_id, c.user_id, c.click_ts, v.conv_ts
        FROM c JOIN v ON v.vu = c.user_id
           AND v.conv_ts >= c.click_ts
           AND v.conv_ts <= c.click_ts + INTERVAL 30 MINUTE
    ),
    expired_clicks AS (
        SELECT c.click_id, CAST(NULL AS BIGINT) AS conv_id, c.user_id,
               c.click_ts, CAST(NULL AS TIMESTAMP) AS conv_ts
        FROM c, m
        WHERE NOT EXISTS (
            SELECT 1 FROM v WHERE v.vu = c.user_id
              AND v.conv_ts >= c.click_ts
              AND v.conv_ts <= c.click_ts + INTERVAL 30 MINUTE
        )
        AND c.click_ts + INTERVAL 30 MINUTE <= m.tmax
    ),
    expired_convs AS (
        SELECT CAST(NULL AS BIGINT) AS click_id, v.conv_id, v.vu AS user_id,
               CAST(NULL AS TIMESTAMP) AS click_ts, v.conv_ts
        FROM v, m
        WHERE NOT EXISTS (
            SELECT 1 FROM c WHERE c.user_id = v.vu
              AND v.conv_ts >= c.click_ts
              AND v.conv_ts <= c.click_ts + INTERVAL 30 MINUTE
        )
        AND v.conv_ts < m.tmax
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM expired_clicks
    UNION ALL SELECT * FROM expired_convs
    """,
    tags=("streaming", "join", "watermark"),
)
def stream_full_join_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join with watermark-driven timeout
    emission on BOTH sides — completing the outer-join state machine
    stream_left_join_timeout covers for one side: clicks with no
    conversion in their 30-minute horizon emit null-padded once the
    watermark passes click_ts + 30min, and conversions with no matching
    click emit null-padded once the watermark passes conv_ts STRICTLY
    (a click able to match must carry click_ts ≤ conv_ts; at
    wm == conv_ts such a click is not yet late input, so the engine
    provably holds the conv one more advance — verified against the
    engine, and the boundary the oracle's `<` encodes). The two expiry
    horizons are
    asymmetric — exactly the part a left-outer test can never exercise —
    and both are hash-checked against the closed-form oracle on the
    shared watermark fixture (same staged files as the left join:
    batch 0 = the whole table, then one advance batch whose synthetic
    rows' horizons end past the final watermark, so the engine can
    never emit them; the trailing no-data batch runs both sides'
    expiry sweeps).

    user_id is COALESCEd across sides so every output row names its
    entity. Scale notes match the left variant: per-side state is
    bounded by the 30-minute horizon plus the watermark delay — state
    tracks ingest rate, not stream age."""
    return _click_conv_join(
        _timeout_fixture(spark, sf_dir), "full_outer", "stream_fojto"
    )


# --- Streaming HLL register maintenance ---------------------------------------


def ehll_batch_registers(batch_df: DataFrame) -> DataFrame:
    """Reduce one micro-batch to per-user packed register MAXes, each
    event hashed by its id under the 'ehll:' seed (functions/hll.py)."""
    return hll.register_max(hll.words(batch_df, "user_id", "event_id", "ehll:"), "user_id")


def ehll_register_merge(current: DataFrame, incoming: DataFrame) -> DataFrame:
    """Cross-batch register-wise MAX merge for the per-user HLL state
    table. MAX is associative, commutative and idempotent, so the final
    state is independent of how the engine split the stream into
    micro-batches AND of replays. The merge is FULL OUTER, so an incoming
    user absent from the state table creates its row; both sides already
    shuffle on user_id, so it plans the same SortMergeJoin exchange pair
    as a LEFT join would."""
    return hll.merge(current, incoming, "user_id")


_EHLL_J, _EHLL_RHO = hll.rank_sql("event_id", "ehll:")


@register(
    "stream_sketch_register_merge",
    oracle=f"""
    WITH eh AS (
        SELECT user_id, {_EHLL_J} AS j, {_EHLL_RHO} AS rho FROM events
    ),
    regs AS (SELECT user_id, j, MAX(rho) AS m FROM eh GROUP BY user_id, j),
    packed AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN j < 8 THEN m << (j * 6) ELSE 0 END) AS BIGINT) AS r0,
               CAST(SUM(CASE WHEN j >= 8 THEN m << ((j - 8) * 6) ELSE 0 END) AS BIGINT) AS r1,
               {hll.DENOMINATOR_SQL} AS d
        FROM regs GROUP BY user_id
    )
    SELECT c.c_custkey AS user_id,
           COALESCE(p.r0, 0) AS r0,
           COALESCE(p.r1, 0) AS r1,
           COALESCE(p.d, {hll.M * hll.SCALE}) AS d
    FROM customer c LEFT JOIN packed p ON p.user_id = c.c_custkey
    """,
    tags=("streaming", "sketch", "sink"),
)
def stream_sketch_register_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SKETCH MAINTENANCE: foreachBatch
    register-MAX merge into a persisted per-user HLL state table —
    T2's versioned-parquet merge discipline (streaming/jobs.py
    incremental_upsert: checkpoint + idempotent versioned rewrite =
    effectively-exactly-once) applied to the packed-register sketch
    layout (two BIGINT words of 16 × 6-bit registers per key).

    Each micro-batch reduces to per-user register MAXes (map-combinable
    slice-max aggregation, the HyperANF hop's plan); the cross-batch merge is an
    expression-level register-wise MAX against the held state. Because
    register MAX is associative, commutative, and IDEMPOTENT, the final
    state is invariant to micro-batch boundaries, arrival order, and
    replays — the strongest form of the T2 contract, and exactly how a
    production pipeline maintains per-entity cardinality sketches over an
    event stream (state is m·6 bits per key forever, reads are O(1)).
    The emitted denominator d = Σ_j 2^(33−M_j) is the exact-BIGINT
    serving form the HyperANF family standardizes on — estimates derive
    from it with one division, and state tables from disjoint shards
    union under the same slice-max aggregation."""
    existing = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.lit(0).cast("long").alias("r0"),
        F.lit(0).cast("long").alias("r1"),
    )
    ckpt = fresh_scratch_dir("stream_ehll_ckpt")
    state = incremental_upsert(
        events_stream(spark, sf_dir),
        existing,
        keys=["user_id"],
        checkpoint_dir=ckpt,
        table_name=f"stream_ehll_{uuid.uuid4().hex[:8]}",
        prepare=ehll_batch_registers,
        merge=ehll_register_merge,
    )
    return state.select("user_id", "r0", "r1", hll.denominator().alias("d"))


# --- Streaming merge into a hive-partitioned sink ----------------------------


def _psm_sources(spark: SparkSession, sf_dir: str) -> str:
    """3-file split of the events table for the partitioned-sink fixture,
    staged driver-side with pyarrow off the shared single-file image:
    non-purchase events split by event_id parity (files a/b — so four
    partitions receive rows from TWO different micro-batches, exercising
    the cross-batch merge), all purchase events in file c (so the final
    batch touches EXACTLY ONE partition, exercising the pruned rewrite —
    v2 must not rewrite the other four). Pinned mtimes fix the file
    source's batch order."""
    import pyarrow.compute as pc

    events_file, _ = staged_events_single_file(spark, sf_dir)
    purch = lambda t: pc.equal(t["event_type"], "purchase")  # noqa: E731
    even = lambda t: pc.equal(pc.bit_wise_and(t["event_id"], 1), 0)  # noqa: E731
    masks = [
        ("a-even.parquet", lambda t: pc.and_not(even(t), purch(t))),
        ("b-odd.parquet", lambda t: pc.invert(pc.or_(even(t), purch(t)))),
        ("c-purchase.parquet", purch),
    ]
    files = [(name, _rows_where(events_file, keep)) for name, keep in masks]
    return stage_batch_files(scratch_dir("psm", sf_key(sf_dir)), files)


def _rows_where(source: str, keep):
    """A stage_batch_files writer: the rows of the parquet file ``source``
    where the mask ``keep(table)`` is true."""

    def write(path: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(source)
        pq.write_table(t.filter(keep(t)), path)

    return write


def psm_prepare(batch_df: DataFrame) -> DataFrame:
    """Reduce one micro-batch to per-(partition, user) integer-cent
    aggregates — the mergeable delta shape."""
    return batch_df.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )


def psm_merge(prev: DataFrame, prepared: DataFrame) -> DataFrame:
    """Additive MERGE of a batch delta into held partition state —
    integer counts merge by SUM, so the result is batch-split-invariant
    (the exactly-once scheme is what makes additivity safe: a replayed
    batch overwrites its version instead of adding twice)."""
    return (
        prev.unionByName(prepared)
        .groupBy("event_type", "user_id")
        .agg(F.sum("n_events").alias("n_events"), F.sum("cents").alias("cents"))
    )


@register(
    "stream_partitioned_sink_merge",
    oracle="""
    SELECT event_type, user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY event_type, user_id
    """,
    tags=("streaming", "sink", "layout", "transaction"),
)
def stream_partitioned_sink_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EXACTLY-ONCE MERGE INTO A PARTITIONED SINK — the
    composition of the two sink contracts:
    stream_incremental_upsert proves foreachBatch MERGE with versioned
    exactly-once state; sink_dynamic_partition_overwrite proves
    partition-granular publish; this runs BOTH at once through
    streaming.jobs.partitioned_incremental_merge — foreachBatch merges
    each micro-batch's per-(event_type, user) cent deltas into a
    hive-partitioned versioned target where a batch rewrites ONLY the
    partitions it touches (the purchase-only batch 2 leaves the other
    four partitions' bytes in place — pinned by the restart test in
    tests/test_streaming.py).

    The final resolved table must equal the batch groupBy oracle under
    ANY batch split: integer-cent addition is associative and the
    versioned rewrite makes replays idempotent, so exactly-once +
    additivity ⇒ split-invariance. Restart recovery (new files, same
    checkpoint, state resumed from storage) is test-pinned alongside."""
    src = _psm_sources(spark, sf_dir)
    ev = fixture_stream(spark, src).select("event_type", "user_id", "value")
    ckpt = fresh_scratch_dir("psm_ckpt")
    final = partitioned_incremental_merge(
        ev, "event_type", ckpt, psm_prepare, psm_merge
    )
    if final is None:
        return spark.createDataFrame(
            [], "event_type string, user_id long, n_events long, cents long"
        )
    return final.select("event_type", "user_id", "n_events", "cents")


def _staged_documents_three_files(spark: SparkSession, sf_dir: str) -> str:
    """Documents split into three parquet files by doc_id % 3, one
    micro-batch each (driver-side pyarrow I/O, staged once per corpus and
    process)."""
    import os

    import pyarrow.compute as pc

    docs = os.path.join(sf_dir, "documents.parquet")
    # pyarrow has no mod kernel in this build: a - 3*floor_div(a, 3)
    # (doc_id >= 0, so truncating and flooring division agree)
    residue = lambda t: pc.subtract(  # noqa: E731
        t["doc_id"], pc.multiply(pc.divide(t["doc_id"], 3), 3)
    )
    files = [
        (f"{name}.parquet", _rows_where(docs, lambda t, i=i: pc.equal(residue(t), i)))
        for i, name in enumerate(("a-docs0", "b-docs1", "c-docs2"))
    ]
    return stage_batch_files(scratch_dir("docstream", sf_key(sf_dir)), files)


from graph_etl_pipeline_spark.functions.text import SQL_TOKS as _SQL_TOKS_D, sql_shingles as _sql_shingles_d
from graph_etl_pipeline_spark.queries.textops import DECONTAM_BENCH_DOCS as _DBD, DECONTAM_K as _DK


def bench_shingle_probe_table(d: DataFrame) -> tuple[DataFrame, int]:
    """ONE-row frame holding the benchmark shingle set as a dense EXACT
    hash table — ``(_one, btab)`` where ``btab`` is array<array<string>>
    of B buckets, bucket index = pmod(xxhash64(s), B) — plus B itself.

    It is not a plan-embedded ``F.array(*[F.lit(s) ...])`` literal on
    purpose: a literal ships inside the serialized plan of EVERY task
    and arrays_overlap re-scans it per row (it hashes the
    smaller side per invocation — O(|bench|) per document). The probe
    table instead travels ONCE per executor as a broadcast relation, and
    the per-document check is O(|doc shingles|): element_at into the
    bucket (O(1) ordinal access on ArrayData) + array_contains over the
    ~1 expected entry. Exact — unlike a Bloom filter there are no false
    positives, so the survivor set matches the NOT-IN oracle
    bit-for-bit. B is sized to the measured distinct-shingle count
    (load factor ≤ 1), so a real eval suite (10⁵–10⁶ shingles) costs a
    few MB of broadcast and the same O(1) probes."""
    spark = d.sparkSession
    n = d.count()
    b = 64
    while b < n:
        b <<= 1
    buckets = d.groupBy(
        F.pmod(F.xxhash64("s"), F.lit(b)).cast("int").alias("bk")
    ).agg(F.collect_list("s").alias("arr"))
    dense = (
        spark.range(b)
        .select(F.col("id").cast("int").alias("bk"))
        .join(buckets, "bk", "left")
        .select(
            "bk",
            F.coalesce("arr", F.array().cast("array<string>")).alias("arr"),
        )
    )
    table_row = dense.agg(
        F.array_sort(F.collect_list(F.struct("bk", "arr"))).alias("ps")
    ).select(
        F.lit(1).alias("_one"),
        F.transform("ps", lambda p: p.getField("arr")).alias("btab"),
    )
    return table_row, b


def decontam_hit_expr(sh: F.Column, n_buckets: int) -> F.Column:
    """True iff any shingle in `sh` is present in the broadcast probe
    table's `btab` column — NULL for a NULL shingle array (callers
    coalesce to false, matching the oracle's NOT-IN pass-through for
    null-text docs)."""
    return F.exists(
        sh,
        lambda s: F.array_contains(
            F.element_at(
                F.col("btab"),
                F.pmod(F.xxhash64(s), F.lit(n_buckets)).cast("int") + F.lit(1),
            ),
            s,
        ),
    )


@register(
    "stream_ingest_decontaminate",
    oracle=f"""
    WITH ds AS (
        SELECT doc_id, {_sql_shingles_d('t', k=_DK)} AS shingles
        FROM (SELECT doc_id, {_SQL_TOKS_D.format(col='text')} AS t FROM documents)
    ),
    bench AS (
        SELECT DISTINCT unnest(shingles) AS s FROM ds
        WHERE doc_id < {_DBD}
    ),
    hits AS (
        SELECT DISTINCT e.doc_id
        FROM (SELECT doc_id, unnest(shingles) AS s FROM ds) e
        JOIN bench USING (s)
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM hits)
    """,
    tags=("streaming", "text", "llm"),
)
def stream_ingest_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST-TIME contamination firewall — benchmark decontamination as
    a STREAMING filter: documents arrive in micro-batches (3 staged
    files) and every batch is screened against the held-out eval set's
    8-gram shingles via a stream-static BROADCAST probe: the bench set
    is packed once into a dense exact hash table
    (bench_shingle_probe_table) and attached by a broadcast-hash join on
    a constant key — one build row, shipped once per executor, never
    re-serialized per task the way a plan-embedded literal array
    would be. The per-document check is O(|doc shingles|) bucket
    probes. Zero streaming state, zero shuffles on the stream side: the
    exact shape an ingest firewall needs at 100 TB/day — every core
    screens its own Arrow batch and the filter's throughput IS scan
    throughput, now with a bench set that can be eval-suite-sized
    (10⁵–10⁶ shingles) without bloating codegen. (The batch twin,
    text_decontaminate, uses the broadcast semi-join form that also
    reports WHICH docs were dropped; the firewall only forwards
    survivors.)

    null/short-doc contract: a document shorter than one 8-gram shingles
    to its whole text (the shared shingles() short-doc rule, so an exact
    copy of a short eval doc is still caught); the probe's NULL (null
    text) is coalesced to false so such rows pass rather than vanish —
    both match the oracle's NOT IN semantics."""
    from graph_etl_pipeline_spark.functions.text import norm_tokens, shingles
    from graph_etl_pipeline_spark.queries.textops import (
        DECONTAM_BENCH_DOCS, DECONTAM_K,
    )

    src = _staged_documents_three_files(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    bench = (
        d.filter(F.col("doc_id") < DECONTAM_BENCH_DOCS)
        .select(
            F.explode(
                shingles(norm_tokens(F.col("text")), k=DECONTAM_K)
            ).alias("s")
        )
        .distinct()
    )
    # Stream-static gotcha: the STATIC side of a stream-static join is
    # re-executed on every micro-batch — unpinned, the whole probe-table
    # derivation (eval-doc scan → shingle explode → distinct → pack)
    # would run once per batch (measured 4.1 s → 12+ s). Persist +
    # force the ONE packed row before the stream starts; each batch's
    # broadcast build then reads one cached row. The bench shingle frame
    # is itself cached across the builder's sizing count and the pack
    # (two consumers), then released once the packed row is live.
    # Unpersisted after the run (repeat-run hygiene); at production this
    # row is the once-per-eval-suite artifact a long-lived stream holds
    # for its lifetime.
    bench = bench.persist()
    probe_tab, n_buckets = bench_shingle_probe_table(bench)
    probe_tab = probe_tab.persist()
    probe_tab.count()
    bench.unpersist()

    hit = decontam_hit_expr(
        shingles(norm_tokens(F.col("text")), k=DECONTAM_K), n_buckets
    )
    clean = (
        fixture_stream(spark, src)
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(probe_tab), "_one")
        .filter(~F.coalesce(hit, F.lit(False)))
        .select("doc_id", "source", "n_chars")
    )
    try:
        return run_to_memory(clean, "stream_decontam", "append")
    finally:
        probe_tab.unpersist()


def cms_batch_cells(batch_df: DataFrame) -> DataFrame:
    """Reduce one micro-batch to its count-min cell counts — d (row,
    position) pairs per event map-side, then a map-combinable count per
    cell (the shuffle carries ≤ d·w rows post-combine regardless of
    batch size)."""
    from graph_etl_pipeline_spark.queries.aggregates import CMS_MULTS, _cms_pos

    return (
        batch_df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            _cms_pos(F.col("user_id"), m).alias("pos"),
                        )
                        for i, m in enumerate(CMS_MULTS)
                    ]
                )
            ).alias("ip")
        )
        .groupBy(F.col("ip.i").alias("i"), F.col("ip.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_cell_add_merge(current: DataFrame, incoming: DataFrame) -> DataFrame:
    """Cross-batch ADDITIVE merge for count-min cell state: full outer on
    (i, pos) with both sides coalesced to the merge-neutral 0. Addition
    is associative and commutative but — unlike the HLL register MAX —
    NOT idempotent: a replayed batch would double-count, so this merge
    is only correct under incremental_upsert's effectively-exactly-once
    versioned-rewrite discipline (checkpoint + deterministic v{batch_id}
    overwrite). That is the interesting half of the contract this query
    pins: idempotent-merge sketches tolerate at-least-once delivery;
    additive sketches require the stronger sink."""
    e, i = current.alias("e"), incoming.alias("i")
    j = e.join(
        i,
        (F.col("e.i") == F.col("i.i")) & (F.col("e.pos") == F.col("i.pos")),
        "full_outer",
    )
    return j.select(
        F.coalesce(F.col("e.i"), F.col("i.i")).alias("i"),
        F.coalesce(F.col("e.pos"), F.col("i.pos")).alias("pos"),
        (
            F.coalesce(F.col("e.c"), F.lit(0).cast("long"))
            + F.coalesce(F.col("i.c"), F.lit(0).cast("long"))
        ).alias("c"),
    )


from graph_etl_pipeline_spark.queries.aggregates import _cms_contract_sql as _cms_sql


@register(
    "stream_countmin_topk",
    oracle=_cms_sql(),
    tags=("streaming", "sketch", "approx"),
)
def stream_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING COUNT-MIN maintenance — the ADDITIVE-merge twin of
    stream_sketch_register_merge: every micro-batch reduces to its d×w
    cell counts and foreachBatch ADDS them into a persisted cell state
    table (versioned parquet, effectively-exactly-once). Because cell
    addition is exactly how CMS merges, the streamed state is
    bit-identical to the batch sketch regardless of how the engine cut
    the stream into micro-batches — graded by running the SAME
    closed-form oracle as agg_countmin_contract against the streamed
    cells: the top-K true-frequency keys probe the state and every
    estimate must carry the one-sided overcount guarantee.

    Contract difference from the HLL stream (docstring of
    cms_cell_add_merge): addition is not idempotent, so this query is
    the registry's proof that the versioned-rewrite sink upgrades
    at-least-once replay to exactly-once STATE — the property every
    production streaming-sketch deployment (per-minute frequency
    tables, DDoS heavy-hitter monitors) depends on.

    Scale: state is a CONSTANT d·w = 1,536 rows forever; each batch's
    shuffle carries at most that after map-side combine; the probe join
    broadcasts the top-K keys against the cell table."""
    from graph_etl_pipeline_spark.queries.aggregates import (
        CMS_MULTS, CMS_PROBE_K, CMS_W, _cms_pos,
    )

    seed = spark.range(len(CMS_MULTS) * CMS_W).select(
        (F.col("id") / CMS_W).cast("int").alias("i"),
        F.pmod(F.col("id"), F.lit(CMS_W)).cast("int").alias("pos"),
        F.lit(0).cast("long").alias("c"),
    )
    ckpt = fresh_scratch_dir("stream_cms_ckpt")
    cells = incremental_upsert(
        events_stream(spark, sf_dir).select("user_id"),
        seed,
        keys=["i", "pos"],
        checkpoint_dir=ckpt,
        table_name=f"stream_cms_{uuid.uuid4().hex[:8]}",
        prepare=cms_batch_cells,
        merge=cms_cell_add_merge,
    )

    ev = table(spark, sf_dir, "events").select("user_id")
    probes = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "user_id")
        .limit(CMS_PROBE_K)
    )
    pp = probes.select(
        "user_id",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _cms_pos(F.col("user_id"), m).alias("pos"),
                    )
                    for i, m in enumerate(CMS_MULTS)
                ]
            )
        ).alias("ip"),
    ).select(
        "user_id", "n", F.col("ip.i").alias("i"), F.col("ip.pos").alias("pos")
    )
    est = (
        F.broadcast(pp)
        .join(cells, ["i", "pos"])
        .groupBy("user_id", "n")
        .agg(F.min("c").alias("est_n"))
    )
    return est.select(
        "user_id",
        F.col("n").alias("true_n"),
        "est_n",
        (F.col("est_n") >= F.col("n")).alias("overcount_ok"),
    )
