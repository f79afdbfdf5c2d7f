"""Upsert-sink operators as oracle-checkable queries (SURVEY.md §2.1
S4-S6). Each applies the engine's set-oriented merge TWICE with the same
incoming batch inside one plan — so the oracle comparison itself proves
idempotency (the reference's core correctness property, CLAUDE.md:80)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.io import read_parquet, scratch_dir, sf_key, table
from graph_etl_pipeline_spark.registry import register
from graph_etl_pipeline_spark.sinks.upsert import merge_upsert, upsert_edges

_INCOMING_SQL = """
        SELECT c_custkey, c_name, c_nationkey,
               c_acctbal + 1000 AS c_acctbal,
               'UPDATED' AS c_mktsegment
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000,
               'Customer#new' || CAST(c_custkey AS VARCHAR),
               c_nationkey, 0.0, 'NEW'
        FROM customer WHERE c_custkey % 17 = 0
"""


def _incoming_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic update batch derived from the data itself:
    every 10th customer gets updated, every 17th spawns a new row."""
    c = table(spark, sf_dir, "customer")
    updates = c.filter(c.c_custkey % 10 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (c.c_acctbal + 1000).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    inserts = c.filter(c.c_custkey % 17 == 0).select(
        (c.c_custkey + 1000000).alias("c_custkey"),
        F.concat(F.lit("Customer#new"), c.c_custkey.cast("string")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    return updates.unionByName(inserts)


@register(
    "sink_upsert_node",
    oracle=f"""
    WITH incoming AS ({_INCOMING_SQL})
    SELECT COALESCE(i.c_custkey, e.c_custkey) AS c_custkey,
           COALESCE(i.c_name, e.c_name) AS c_name,
           COALESCE(i.c_nationkey, e.c_nationkey) AS c_nationkey,
           COALESCE(i.c_acctbal, e.c_acctbal) AS c_acctbal,
           COALESCE(i.c_mktsegment, e.c_mktsegment) AS c_mktsegment
    FROM customer e FULL OUTER JOIN incoming i ON e.c_custkey = i.c_custkey
    """,
    tags=("sink", "upsert"),
)
def sink_upsert_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: idempotent node upsert (reference: src/etl/waste_items.py:366-373
    — MERGE node ON CREATE/ON MATCH). Applied twice with the same batch;
    matching the single-application oracle proves MERGE idempotency
    set-orientedly."""
    existing = table(spark, sf_dir, "customer")
    incoming = _incoming_customers(spark, sf_dir)
    once = merge_upsert(existing, incoming, keys=["c_custkey"])
    twice = merge_upsert(once, incoming, keys=["c_custkey"])
    return twice


@register(
    "sink_merge_prefer_nonempty",
    oracle="""
    WITH incoming AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN '' ELSE 'updated:' || source END AS source,
               lang
        FROM documents WHERE doc_id % 3 IN (0, 1)
    )
    SELECT e.doc_id,
           e.lang,
           CASE WHEN i.doc_id IS NOT NULL AND i.source <> '' THEN i.source
                ELSE e.source END AS source,
           e.n_chars
    FROM documents e LEFT JOIN incoming i ON e.doc_id = i.doc_id
    """,
    tags=("sink", "upsert"),
)
def sink_merge_prefer_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: conditional-overwrite upsert (reference: src/etl/facilities.py:119-125
    — ``ON MATCH SET f.address = CASE WHEN $address <> '' THEN $address
    ELSE f.address END``). Incoming empty strings must NOT clobber existing
    values: doc_id%3==0 rows carry source='' (preserved), %3==1 rows carry
    a real update (applied)."""
    d = table(spark, sf_dir, "documents")
    incoming = d.filter(d.doc_id % 3 < 2).select(
        "doc_id",
        F.when(d.doc_id % 3 == 0, "")
        .otherwise(F.concat(F.lit("updated:"), d.source))
        .alias("source"),
        "lang",
    )
    merged = merge_upsert(
        d.select("doc_id", "lang", "source", "n_chars"),
        incoming,
        keys=["doc_id"],
        prefer_nonempty_cols=["source"],
    )
    return merge_upsert(merged, incoming, keys=["doc_id"], prefer_nonempty_cols=["source"])


@register(
    "sink_upsert_edge",
    oracle="""
    SELECT rel_type, COUNT(*) AS n_edges,
           COUNT(DISTINCT src_uid) AS n_src,
           COUNT(DISTINCT dst_uid) AS n_dst
    FROM (
        SELECT DISTINCT 'PLACED' AS rel_type,
               CAST(o_custkey AS VARCHAR) AS src_uid,
               CAST(o_orderkey AS VARCHAR) AS dst_uid
        FROM orders
        UNION ALL
        SELECT DISTINCT 'CONTAINS' AS rel_type,
               CAST(l_orderkey AS VARCHAR) AS src_uid,
               CAST(l_partkey AS VARCHAR) AS dst_uid
        FROM lineitem
    )
    GROUP BY rel_type
    """,
    tags=("sink", "upsert", "graph"),
)
def sink_upsert_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: idempotent edge upsert (reference: src/etl/waste_items.py:383-396
    — MERGE relationship). Feeds the same edge batch in twice (plus
    genuine duplicates from lineitem's multi-row orders); the dedup on
    (src, dst, rel_type) makes re-runs no-ops."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    placed = o.select(
        F.lit("PLACED").alias("rel_type"),
        o.o_custkey.cast("string").alias("src_uid"),
        o.o_orderkey.cast("string").alias("dst_uid"),
    )
    contains = li.select(
        F.lit("CONTAINS").alias("rel_type"),
        li.l_orderkey.cast("string").alias("src_uid"),
        li.l_partkey.cast("string").alias("dst_uid"),
    )
    edges = upsert_edges(placed, contains)
    edges = upsert_edges(edges, placed)  # re-run: must be a no-op
    return edges.groupBy("rel_type").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.countDistinct("src_uid").alias("n_src"),
        F.countDistinct("dst_uid").alias("n_dst"),
    )


@register(
    "sink_partitioned_prune",
    oracle="""
    SELECT event_id, user_id, value
    FROM events WHERE event_type = 'purchase'
    """,
    tags=("sink", "source", "partitioning"),
)
def sink_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + partition-PRUNED read — the storage-layout
    half of the scale story the other sinks don't cover: a 100 TB event
    table partitioned by a low-cardinality column turns a one-domain
    query from a full scan into a directory lookup. The plan is asserted
    (tests/test_plans.py) to carry the event_type predicate as a
    PartitionFilter — i.e. pruning happens in FILE LISTING, before any
    bytes are read — and the values must survive the layout round trip
    exactly (the oracle reads the original unpartitioned parquet).

    Partition-column cardinality discipline: event_type has 5 values —
    partitioning by a high-cardinality key (user_id) would instead create
    the canonical small-files pathology. The write keeps the upstream
    task parallelism per partition directory."""
    import os

    ev = table(spark, sf_dir, "events")
    dest = scratch_dir("part_events", sf_key(sf_dir))
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        ev.select("event_id", "user_id", "value", "event_type").write.mode(
            "overwrite"
        ).partitionBy("event_type").parquet(dest)
    return (
        read_parquet(spark, dest)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )


ZORDER_BITS = 16  # bits per dimension interleaved into the Z (Morton) key


def morton_code(a, b, bits: int = ZORDER_BITS):
    """Bit-interleaved (Morton / Z-order) key of two non-negative int
    columns — built-in bitwise expressions only (shiftleft/shiftright/
    bitwise AND stay inside whole-stage codegen; no UDF)."""
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a.cast("long"), i).bitwiseAND(one), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b.cast("long"), i).bitwiseAND(one), 2 * i + 1)
        )
    return z


@register(
    "sink_zorder_write",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM (
        SELECT value FROM events
        WHERE user_id BETWEEN 2 AND 7
          AND CAST(floor(epoch(ts)) AS BIGINT) // 3600
              BETWEEN (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) // 3600 + 240 FROM events)
              AND     (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) // 3600 + 287 FROM events)
    )
    """,
    tags=("sink", "layout"),
)
def sink_zorder_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustered write + 2-D box read — the multi-dimensional
    data-layout half of the storage story (sink_partitioned_prune covers
    the 1-D hive-partition half; Delta calls this OPTIMIZE ZORDER BY).
    Events are written range-partitioned AND sorted by the Morton
    interleave of (user_id, hour), so rows close in BOTH dimensions land
    in the same files and a user-range × time-range query touches a
    small fraction of them via parquet min/max row-group stats —
    tests/test_plans.py asserts the skipping is REAL by reading the
    written footers: the box below must intersect strictly fewer files
    than a row-order layout of the same data.

    The registered result is the box aggregate (count + exact decimal
    sum), which must survive the layout round trip bit-exactly — the
    oracle computes the same box on the original parquet. Layout cost
    model at 100 TB: one range exchange + in-task sort per rewrite,
    amortized over every 2-D query that follows; the Z key is pure
    bitwise codegen, no UDF."""
    import os

    ev = table(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts")) / 3600).cast("long")
    dest = scratch_dir("zorder_events", sf_key(sf_dir))
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        clustered = (
            ev.select(
                "event_id",
                "user_id",
                "value",
                hour.alias("hour"),
                morton_code(F.col("user_id"), hour % (1 << ZORDER_BITS)).alias("z"),
            )
            .repartitionByRange(8, "z")
            .sortWithinPartitions("z")
        )
        clustered.write.mode("overwrite").parquet(dest)
    base_hour = ev.agg((F.floor(F.unix_timestamp(F.min("ts"))) / 3600).cast("long")).head()[0]
    box = (
        read_parquet(spark, dest)
        .filter(
            F.col("user_id").between(2, 7)
            & F.col("hour").between(base_hour + 240, base_hour + 287)
        )
    )
    return box.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


# --- Time-travel read over the versioned MERGE target -----------------------
TT_V1_BUMP_CENTS = 10_000   # +100.00 applied to custkey % 7 == 0 at version 1
TT_V2_BUMP_CENTS = 25_000   # +250.00 applied to custkey % 11 == 0 at version 2


@register(
    "sink_time_travel_read",
    oracle=f"""
    WITH v1 AS (
        SELECT c_custkey,
               CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
               + CASE WHEN c_custkey % 7 = 0 THEN {TT_V1_BUMP_CENTS} ELSE 0 END
                   AS bal_cents
        FROM customer
    ),
    latest AS (
        SELECT c_custkey,
               bal_cents
               + CASE WHEN c_custkey % 11 = 0 THEN {TT_V2_BUMP_CENTS} ELSE 0 END
                   AS bal_cents
        FROM v1
    )
    SELECT v1.c_custkey,
           v1.bal_cents AS bal_v1_cents,
           latest.bal_cents AS bal_latest_cents,
           latest.bal_cents - v1.bal_cents AS drift_cents
    FROM v1 JOIN latest USING (c_custkey)
    WHERE latest.bal_cents <> v1.bal_cents
    """,
    tags=("sink", "versioning"),
)
def sink_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL read over the versioned-parquet MERGE target — the
    Delta `VERSION AS OF` capability for this engine's plain-parquet
    state tables (the same layout streaming/jobs.incremental_upsert
    maintains: one `_SUCCESS`-marked directory per committed version,
    newest-wins). Three versions are materialized through the REAL
    merge_upsert path (v0 = customer snapshot, v1 = +100.00 to every
    7th account, v2 = +250.00 to every 11th), then the query reads AS
    OF VERSION 1 — explicitly not the newest — and diffs it against the
    latest version: the audit question time travel exists to answer
    ("which balances changed since the snapshot we reported from?").

    All balances are exact integer cents, so the diff is engine-stable;
    the oracle replays the two changefeeds closed-form. Writes are
    content-addressed per (sf_dir, pid) and reused across runs — the
    versions are a durable table, not per-query scratch.

    Scale notes: each version write is one MERGE (one key shuffle); the
    time-travel read is a plain parquet scan of the chosen version dir —
    O(version size), no log replay — and the v1⋈latest diff shuffles on
    the key once. Version retention/compaction is the state-table story
    (size-derived write width, streaming/jobs.py)."""
    import os

    # floor(x·100 + 0.5): the SAME IEEE expression in both engines — a bare
    # cast would TRUNCATE here and ROUND in DuckDB, drifting 1 cent on
    # values like 9764.97.
    base = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias(
            "bal_cents"
        ),
    )
    root = scratch_dir("ttravel_customer", sf_key(sf_dir))

    def version_dir(v: int) -> str:
        return os.path.join(root, f"v{v}")

    if not os.path.exists(os.path.join(version_dir(2), "_SUCCESS")):
        base.write.mode("overwrite").parquet(version_dir(0))
        v0 = read_parquet(spark, version_dir(0))
        chg1 = v0.filter(F.col("c_custkey") % 7 == 0).select(
            "c_custkey",
            (F.col("bal_cents") + TT_V1_BUMP_CENTS).alias("bal_cents"),
        )
        merge_upsert(v0, chg1, ["c_custkey"]).write.mode("overwrite").parquet(
            version_dir(1)
        )
        v1 = read_parquet(spark, version_dir(1))
        chg2 = v1.filter(F.col("c_custkey") % 11 == 0).select(
            "c_custkey",
            (F.col("bal_cents") + TT_V2_BUMP_CENTS).alias("bal_cents"),
        )
        merge_upsert(v1, chg2, ["c_custkey"]).write.mode("overwrite").parquet(
            version_dir(2)
        )

    as_of_v1 = read_parquet(spark, version_dir(1)).select(
        "c_custkey", F.col("bal_cents").alias("bal_v1_cents")
    )
    latest = read_parquet(spark, version_dir(2)).select(
        "c_custkey", F.col("bal_cents").alias("bal_latest_cents")
    )
    return (
        as_of_v1.join(latest, "c_custkey")
        .filter(F.col("bal_latest_cents") != F.col("bal_v1_cents"))
        .select(
            "c_custkey",
            "bal_v1_cents",
            "bal_latest_cents",
            (F.col("bal_latest_cents") - F.col("bal_v1_cents")).alias(
                "drift_cents"
            ),
        )
    )


# --- Small-file compaction ---------------------------------------------------
COMPACT_FRAG_FILES = 64    # fragmented layout under test: 64 round-robin files
COMPACT_TARGET_ROWS = 2048  # compaction sizing target (row proxy for bytes)


@register(
    "sink_compact_small_files",
    oracle=f"""
    SELECT CAST({COMPACT_FRAG_FILES} AS BIGINT) AS files_before,
           CAST((COUNT(*) + {COMPACT_TARGET_ROWS} - 1) // {COMPACT_TARGET_ROWS}
                AS BIGINT) AS files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS checksum_cents
    FROM events
    """,
    tags=("sink", "layout"),
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lakehouse maintenance job (Delta
    OPTIMIZE / Iceberg rewrite_data_files) that keeps a 100 TB table
    readable: streaming and incremental upserts fragment a table into
    thousands of KB-sized files, and every subsequent scan then pays
    per-file open/footer/task overhead that dwarfs the data itself.
    The job rewrites the fragmented layout into ceil(rows / target)
    right-sized files while preserving content EXACTLY.

    The registered contract row is measured from the physical layout,
    not assumed: file counts come from distinct ``_metadata.file_path``
    over the actually-written directories, and the content checksum
    (exact cents sum) is computed from the compacted files — so a
    compaction that loses rows, duplicates a partition, or mis-sizes
    the output turns the hash row red. The oracle predicts all four
    values from the logical input alone.

    Scale: the rewrite is ONE round-robin exchange sized to
    ceil(n/target) — no sort, no key skew possible (round-robin is
    uniform by construction). In production the sizing constant comes
    from table statistics (target bytes / avg row width) and compaction
    runs per-partition-predicate so only fragmented partitions rewrite;
    both reduce to this same exchange shape."""
    import os

    ev = table(spark, sf_dir, "events").select("event_id", "value")
    frag = scratch_dir("compact_frag", sf_key(sf_dir))
    packed = scratch_dir("compact_out", sf_key(sf_dir))
    if not os.path.exists(os.path.join(frag, "_SUCCESS")):
        ev.repartition(COMPACT_FRAG_FILES).write.mode("overwrite").parquet(frag)
    if not os.path.exists(os.path.join(packed, "_SUCCESS")):
        n = read_parquet(spark, frag).count()
        n_out = (n + COMPACT_TARGET_ROWS - 1) // COMPACT_TARGET_ROWS
        (
            read_parquet(spark, frag)
            .repartition(n_out)
            .write.mode("overwrite")
            .parquet(packed)
        )

    def _tagged(path: str, stage: int) -> DataFrame:
        return read_parquet(spark, path).select(
            F.col("_metadata.file_path").alias("fp"),
            F.lit(stage).alias("stage"),
            "value",
        )

    u = _tagged(frag, 0).unionByName(_tagged(packed, 1))
    one = F.lit(1)
    return u.agg(
        F.count_distinct(F.when(F.col("stage") == 0, F.col("fp"))).alias(
            "files_before"
        ),
        F.count_distinct(F.when(F.col("stage") == 1, F.col("fp"))).alias(
            "files_after"
        ),
        F.sum(F.when(F.col("stage") == 1, one).otherwise(0)).alias("n_rows"),
        F.sum(
            F.when(
                F.col("stage") == 1,
                F.floor(F.col("value") * 100 + 0.5).cast("long"),
            ).otherwise(0)
        ).alias("checksum_cents"),
    )


# --- Version retention (VACUUM) ----------------------------------------------
VACUUM_VERSIONS = 3   # versions materialized before the vacuum runs
VACUUM_RETAIN = 2     # newest versions the retention policy keeps


@register(
    "sink_vacuum_retention",
    oracle=f"""
    SELECT CAST({VACUUM_RETAIN} AS BIGINT) AS versions_retained,
           CAST({VACUUM_VERSIONS - VACUUM_RETAIN} AS BIGINT)
               AS oldest_retained_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows_latest,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                    + {VACUUM_VERSIONS - 1}) AS BIGINT) AS checksum_cents
    FROM customer
    """,
    tags=("sink", "versioning"),
)
def sink_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM — the retention half of the versioned-state story that
    ``sink_time_travel_read`` opens: a versioned parquet table grows one
    `_SUCCESS`-marked directory per commit forever unless old versions
    are reclaimed, and at 100 TB the reclaim IS the cost control (every
    stale version is a full table copy). The policy here keeps the
    newest {VACUUM_RETAIN} of {VACUUM_VERSIONS} committed versions and
    deletes the rest — never the newest, never a half-written dir (only
    `_SUCCESS`-marked version dirs are vacuum candidates, so a crashed
    writer's partial output is invisible to both readers and the
    reaper).

    The contract row is MEASURED from the post-vacuum physical layout:
    retained-version count and the oldest surviving version index come
    from the directory listing, and the row count + exact cents
    checksum are read from the retained LATEST version's parquet — a
    vacuum that deletes the wrong version, or loses latest-version
    rows, turns the row red. The oracle predicts all four from the
    logical input (version i bumps every balance by i cents).
    Idempotent: a re-run finds nothing older than the retention window
    and measures the identical row. Scale: vacuum is a metadata
    operation (list + delete) — zero data movement, zero shuffles; the
    version writes it reclaims were each one MERGE exchange."""
    import os
    import shutil

    root = scratch_dir("vacuum_tbl", sf_key(sf_dir))

    def vdir(i: int) -> str:
        return os.path.join(root, f"v{i}")

    newest = vdir(VACUUM_VERSIONS - 1)
    if not os.path.exists(os.path.join(newest, "_SUCCESS")):
        base = table(spark, sf_dir, "customer").select(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("long")
            .alias("bal_cents"),
        )
        for i in range(VACUUM_VERSIONS):
            base.select(
                "c_custkey", (F.col("bal_cents") + i).alias("bal_cents")
            ).write.mode("overwrite").parquet(vdir(i))

    committed = sorted(
        int(d[1:])
        for d in os.listdir(root)
        if d.startswith("v") and os.path.exists(os.path.join(root, d, "_SUCCESS"))
    )
    for i in committed[: max(0, len(committed) - VACUUM_RETAIN)]:
        shutil.rmtree(vdir(i), ignore_errors=True)
    retained = sorted(
        int(d[1:])
        for d in os.listdir(root)
        if d.startswith("v") and os.path.exists(os.path.join(root, d, "_SUCCESS"))
    )

    latest = read_parquet(spark, vdir(retained[-1]))
    return latest.agg(
        F.lit(len(retained)).cast("long").alias("versions_retained"),
        F.lit(retained[0]).cast("long").alias("oldest_retained_version"),
        F.count(F.lit(1)).alias("n_rows_latest"),
        F.sum("bal_cents").alias("checksum_cents"),
    )


# --- Schema evolution across snapshots ----------------------------------------


@register(
    "sink_schema_evolution_merge",
    oracle="""
    SELECT 1 AS v, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_ranked,
           CAST(0 AS BIGINT) AS sum_rank,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT 2 AS v, CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(substr(o_orderpriority, 1, 1) AS BIGINT)) AS BIGINT),
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    tags=("sink", "layout", "schema"),
)
def sink_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION across table snapshots — the decade-of-data
    reality a 100 TB lake faces: an old writer produced (key, cents),
    a later deploy added a `priority_rank` column, and readers must see
    ONE table where pre-evolution rows carry NULL for the new column
    (never a failed scan, never silently dropped files). The job writes
    both snapshot generations as real parquet directories, reads them
    back through `mergeSchema` (Spark's parquet schema-union path), and
    certifies per generation: row count, how many rows carry the evolved
    column, its sum, and the content checksum — all measured off the
    merged scan, so a reader that drops old files or mis-aligns columns
    turns the driver row red. The oracle predicts every value from the
    logical input alone.

    Scale notes: schema-union is footer-only work per file (no data
    rewrite — the whole point vs. a backfill); production tables pin
    the union in the metastore/Delta log instead of per-query footer
    inference, but the read semantics certified here are identical.
    The aggregation is one map-combined pass over the merged scan."""
    import os

    od = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents")
    v1 = scratch_dir("schevo_v1", sf_key(sf_dir))
    v2 = scratch_dir("schevo_v2", sf_key(sf_dir))
    if not os.path.exists(os.path.join(v1, "_SUCCESS")):
        (
            od.filter(F.col("o_orderkey") % 2 == 0)
            .select(F.lit(1).alias("v"), F.col("o_orderkey").alias("okey"), cents)
            .write.mode("overwrite")
            .parquet(v1)
        )
    if not os.path.exists(os.path.join(v2, "_SUCCESS")):
        (
            od.filter(F.col("o_orderkey") % 2 == 1)
            .select(
                F.lit(2).alias("v"),
                F.col("o_orderkey").alias("okey"),
                cents,
                F.substring("o_orderpriority", 1, 1)
                .cast("long")
                .alias("priority_rank"),
            )
            .write.mode("overwrite")
            .parquet(v2)
        )
    merged = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    return merged.groupBy("v").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("priority_rank").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_ranked"),
        F.coalesce(F.sum("priority_rank"), F.lit(0).cast("long")).alias("sum_rank"),
        F.sum("cents").alias("sum_cents"),
    )


# --- Atomic manifest-swap publish ---------------------------------------------
MANIFEST_BUMP_CENTS = 500  # v2 bumps every 5th customer by this
MANIFEST_DATA_FILES = 4    # snapshot written as this many part files
MANIFEST_STRAY_CENTS = 10**12  # sentinel rows in the planted in-flight file


def manifest_swap_root(sf_dir: str) -> str:
    """Scratch root for the manifest-swap table (shared with the
    planted-fixture tests)."""
    return scratch_dir("manifest_swap", sf_key(sf_dir))


@register(
    "sink_manifest_atomic_swap",
    oracle=f"""
    SELECT c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                    + CASE WHEN c_custkey % 5 = 0
                           THEN {MANIFEST_BUMP_CENTS} ELSE 0 END)
                AS BIGINT) AS sum_cents
    FROM customer GROUP BY c_nationkey
    """,
    tags=("sink", "transaction"),
)
def sink_manifest_atomic_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATOMIC SNAPSHOT PUBLISH via manifest swap — the commit protocol
    Iceberg/Delta formalize, reduced to its plain-parquet core: readers
    NEVER list the data directory (directory listings see half-written
    files, torn commits, and compaction leftovers); they read ONE
    pointer file -> the manifest it names -> exactly the data files the
    manifest lists. Publishing a new snapshot is (1) write data files,
    (2) write the new manifest beside the old one, (3) swap the pointer
    with an atomic rename — a crashed writer leaves the pointer intact
    on the prior snapshot, and a concurrent reader sees wholly-old or
    wholly-new, never a mix.

    The query builds the table twice (v1 = customer balance cents; v2 =
    every 5th customer bumped {MANIFEST_BUMP_CENTS} cents), PLANTS an
    in-flight stray part file full of sentinel rows in the same data
    directory, publishes v2, and reads back through the pointer: the
    per-nation counts/sums go red if the reader ever globs the
    directory (sentinel rows surface) or drops a listed file. All
    arithmetic is exact integer cents.

    Scale notes: the pointer/manifest hop is O(1) + O(#files) driver
    metadata — no data-path cost at any corpus size; the data scan is
    an explicit file list, so partition pruning and split planning work
    exactly as for a directory scan. Rewritten snapshots share unchanged
    files by listing them in both manifests (the v1/v2 manifests here
    deliberately share nothing so the isolation check is strict)."""
    import json
    import os

    root = manifest_swap_root(sf_dir)
    data_dir = os.path.join(root, "data")
    pointer = os.path.join(root, "_CURRENT")

    base = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nationkey"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias(
            "bal_cents"
        ),
    )

    def write_snapshot(df, version: int) -> str:
        """Write one snapshot's files + manifest; return manifest path."""
        snap_dir = os.path.join(data_dir, f"snap-{version}")
        df.repartition(MANIFEST_DATA_FILES).write.mode("overwrite").parquet(
            snap_dir
        )
        files = sorted(
            os.path.join(snap_dir, f)
            for f in os.listdir(snap_dir)
            if f.endswith(".parquet")
        )
        manifest = os.path.join(root, f"_MANIFEST-{version}.json")
        tmp = manifest + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": version, "files": files}, fh)
        os.replace(tmp, manifest)
        return manifest

    def swap_pointer(manifest: str) -> None:
        tmp = pointer + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(manifest)
        os.replace(tmp, pointer)  # POSIX-atomic: readers see old XOR new

    done = os.path.join(root, "_PUBLISHED-2")
    if not os.path.exists(done):
        os.makedirs(root, exist_ok=True)
        swap_pointer(write_snapshot(base, 1))
        v2 = base.withColumn(
            "bal_cents",
            F.col("bal_cents")
            + F.when(F.col("c_custkey") % 5 == 0, MANIFEST_BUMP_CENTS).otherwise(0),
        )
        manifest2 = write_snapshot(v2, 2)
        # In-flight stray PART FILE dropped into the v2 data directory:
        # schema-valid, sentinel values, a plain part-*.parquet name (not
        # an _-prefixed path Spark's globber would skip anyway) — a
        # directory-globbing reader absorbs it silently.
        stray = base.limit(7).withColumn("bal_cents", F.lit(MANIFEST_STRAY_CENTS))
        stray_tmp = os.path.join(root, "stray_tmp")
        stray.coalesce(1).write.mode("overwrite").parquet(stray_tmp)
        stray_part = next(
            (f for f in os.listdir(stray_tmp) if f.endswith(".parquet")), None
        )
        if stray_part is not None:  # empty input -> nothing in flight
            os.replace(
                os.path.join(stray_tmp, stray_part),
                os.path.join(
                    data_dir, "snap-2", "part-99999-inflight-stray.snappy.parquet"
                ),
            )
        swap_pointer(manifest2)
        with open(done, "w") as fh:
            fh.write("ok")

    with open(pointer) as fh:
        manifest_path = fh.read().strip()
    with open(manifest_path) as fh:
        listed = json.load(fh)["files"]
    if not listed:  # an empty snapshot legally publishes an empty manifest
        snap = spark.createDataFrame(
            [], "c_custkey long, nationkey long, bal_cents long"
        )
    else:
        snap = read_parquet(spark, *listed)
    return snap.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("bal_cents").alias("sum_cents"),
    )


# --- Dynamic partition overwrite ----------------------------------------------
DPO_BUMP_CENTS = 700  # the v2 'O'-partition batch bumps every row by this


def dpo_root(sf_dir: str) -> str:
    """Scratch root for the dynamic-partition-overwrite table (shared
    with the planted-fixture tests)."""
    return scratch_dir("dpo", sf_key(sf_dir))


@register(
    "sink_dynamic_partition_overwrite",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                    + CASE WHEN o_orderstatus = 'O'
                           THEN {DPO_BUMP_CENTS} ELSE 0 END)
                AS BIGINT) AS sum_cents
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("sink", "layout", "transaction"),
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION OVERWRITE — the partition-granular publish
    primitive behind daily re-stated feeds (Hive's INSERT OVERWRITE ...
    PARTITION, Delta's replaceWhere): a restatement batch that touches
    only partition 'O' must replace exactly that partition's files and
    leave every untouched partition's bytes in place. Spark's STATIC
    overwrite mode (the default) would instead TRUNCATE THE WHOLE TABLE
    to the incoming batch — the classic silent-data-loss misconfig this
    operator's contract pins down: after publishing a v2 batch holding
    only bumped 'O' rows over the v1 full snapshot under
    ``partitionOverwriteMode=dynamic``, the read-back must show 'O' rows
    restated and 'F'/'P' partitions byte-identical to v1.

    Scale: partition-overwrite cost is O(restated partition) — the 'F'
    and 'P' data is never read, rewritten, or shuffled; commit is a
    per-partition directory swap, concurrent readers of other partitions
    are untouched, and partition pruning serves them from unchanged
    files. The session conf is saved and restored around the write
    (conf is session-global — leaking `dynamic` into unrelated writes
    changes THEIR overwrite semantics, the reverse hazard).

    Reference parity: the reference re-imports whole CSV drops per
    facility batch (etl_implementation.md:74-96); this is that reload
    made partition-scoped and loss-proof."""
    import os

    root = dpo_root(sf_dir)
    tbl = os.path.join(root, "orders_by_status")

    base = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias(
            "cents"
        ),
    )

    done = os.path.join(root, "_PUBLISHED-2")
    if not os.path.exists(done):
        os.makedirs(root, exist_ok=True)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        try:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            base.write.mode("overwrite").partitionBy("status").parquet(tbl)
            v2 = (
                base.filter(F.col("status") == "O")
                .withColumn("cents", F.col("cents") + F.lit(DPO_BUMP_CENTS))
            )
            # dynamic mode: only partitions PRESENT IN THE BATCH are replaced
            v2.write.mode("overwrite").partitionBy("status").parquet(tbl)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        with open(done, "w") as fh:
            fh.write("ok")

    # explicit schema: an all-empty publish leaves no files to infer from
    out = spark.read.schema("o_orderkey long, cents long, status string").parquet(
        tbl
    )
    return out.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
    )
