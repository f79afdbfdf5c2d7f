"""Join operators (SURVEY.md §2.5, J1-J7).

The reference expresses joins as Cypher MATCH patterns executed by Neo4j
(e.g. item->facility edge creation, src/etl/waste_items.py:404-413) and as
Python set-membership tests (src/etl/waste_items.py:294-305). Here every
join is a declarative DataFrame join: Catalyst + AQE pick broadcast vs
sort-merge; constant-size dimensions (region=5, nation=25 rows at every SF)
get explicit broadcast() hints so the plan stays shuffle-free on those axes
even at 100 TB fact scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.functions.numeric import dec
from graph_etl_pipeline_spark.io import scratch_dir, sf_key, table
from graph_etl_pipeline_spark.registry import register

from graph_etl_pipeline_spark.queries._sql import REVENUE as _REVENUE_SQL, osum as _osum


def _revenue(li: DataFrame) -> F.Column:
    """Exact (decimal) per-row revenue — order-independent when summed."""
    return dec(li.l_extendedprice) * (F.lit(1) - dec(li.l_discount))


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query: revenue per region via the 4-hop chain
    lineitem→orders→customer→nation→region (J5) + group-agg (A3).

    Direct analogue of the reference's "items per WasteStream" validation
    query (reference: etl_implementation.md:249-251) — count/measure per
    hub node reached over a fixed-length edge chain.
    """
    return join_four_hop_chain(spark, sf_dir)


@register(
    "join_four_hop_chain",
    oracle=f"""
    SELECT r_name,
           {_osum(_REVENUE_SQL, "revenue")},
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    tags=("join", "agg", "flagship"),
)
def join_four_hop_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: 3-hop hierarchy traversal (reference: schema.cql:137-140
    Container→Room→Building; Schema_Doku.pdf §7.2 decision-flow chains),
    expressed as a chained equi-join over the star schema.

    Scale design: the two big tables (lineitem⋈orders) sort-merge/shuffle
    on orderkey; nation/region (constant-size at every SF) are broadcast
    explicitly; customer grows with SF so its join strategy is left to
    Catalyst/AQE — broadcast at test scale, shuffle at cluster scale.
    Aggregation is partial (map-side) then final on the 5 region keys.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = table(spark, sf_dir, "region")
    return (
        li.select("l_orderkey", _revenue_col(li))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _revenue_col(li: DataFrame):
    return _revenue(li).alias("rev")


@register(
    "join_broadcast_inner",
    oracle=f"""
    SELECT p_brand,
           COUNT(*) AS n_items,
           {_osum("CAST(l_quantity AS DECIMAL(18,6))", "sum_qty")}
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    tags=("join",),
)
def join_broadcast_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: key-equi inner join with an explicitly broadcast dimension
    (reference: src/etl/waste_items.py:404-413 — item⋈facility on name,
    facility side is 38 rows → broadcast, never shuffled)."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


@register(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join",),
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: missing-match detection (reference: src/etl/waste_items.py:414-419
    — facility MATCH returning no row logs a warning; anti-join semantics).
    Customers that never placed an order."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = table(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti")


@register(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join",),
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: membership test (reference: src/etl/waste_items.py:294-305 —
    `target_name in existing_facilities` set). Left-semi join keeps the
    probe side unchanged and never duplicates rows."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    o = table(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi")


@register(
    "join_two_hop",
    oracle=f"""
    SELECT c_mktsegment,
           {_osum(_REVENUE_SQL, "revenue")},
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    tags=("join", "agg"),
)
def join_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: 1-hop-each-way pattern join (reference: etl_implementation.md:243-246
    — `MATCH (w)-[r]->(target)` / reversed facility traversal): revenue by
    market segment over lineitem→orders→customer."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        li.select("l_orderkey", _revenue_col(li))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "join_consistency_antijoin",
    oracle="""
    SELECT n.n_nationkey, n.n_name, COUNT(c.c_custkey) AS n_customers
    FROM nation n
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_nationkey = n.n_nationkey)
    GROUP BY n.n_nationkey, n.n_name
    """,
    tags=("join", "audit"),
)
def join_consistency_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: graph-consistency audit (reference: Schema_Doku.pdf §4.10 — "no
    ALLOWS_AVV path ⇒ validation error"): nations that have customers but
    no supplier coverage — a required-edge-missing anti-join."""
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_nationkey")
    return (
        n.join(s, n.n_nationkey == s.s_nationkey, "left_anti")
        .join(c, F.col("n_nationkey") == c.c_nationkey)
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


# --- Interval (range) join ---------------------------------------------

RANGE_W_SEC = 3600  # window width == bucket width (each anchor spans 2 buckets)


@register(
    "join_time_range",
    # The oracle is the DECLARATIVE form — a plain theta join. Quadratic
    # is fine at oracle scale; the Spark side must produce identical
    # results from the bucketed equi-join plan.
    oracle=f"""
    SELECT a.event_id AS anchor_id,
           COUNT(*) AS n_in_window
    FROM events a
    JOIN events e
      ON e.ts >= a.ts AND e.ts < a.ts + INTERVAL {RANGE_W_SEC} SECOND
    WHERE a.event_type = 'error'
    GROUP BY a.event_id
    """,
    tags=("join", "range"),
)
def join_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: for every error event, count ALL events (any user)
    inside the hour starting at it — the "activity around an incident"
    shape. Spark has no native range-join optimization, and the naive
    formulation (`e.ts BETWEEN a.ts AND a.ts + W`) plans a
    BroadcastNestedLoopJoin: every probe row tested against every anchor,
    O(n·m) at any scale.

    The scale-correct plan is BUCKETED: both sides are keyed by
    floor(epoch / W); an anchor's [t, t+W) interval spans exactly two
    buckets (W == bucket width), so anchors are exploded into those two
    bucket keys and the join becomes a pure EQUI-join on the bucket,
    with the exact range predicate applied as a post-join filter. Each
    side shuffles once on the bucket key; per-task work is bounded by
    event density × window, not by table size. Hot buckets (traffic
    spikes) split under AQE skew handling; a wider window at constant
    bucket width explodes to ceil(W/bucket)+1 keys — fanout grows with
    the RATIO, never with the data. (tests/test_plans.py asserts no
    nested-loop join survives in the physical plan.)"""
    ev = table(spark, sf_dir, "events")
    bucket = (F.unix_timestamp("ts") / F.lit(RANGE_W_SEC)).cast("long")
    anchors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("anchor_id"),
            F.col("ts").alias("a_ts"),
            bucket.alias("b0"),
        )
        .select(
            "anchor_id",
            "a_ts",
            F.explode(F.array(F.col("b0"), F.col("b0") + 1)).alias("bucket"),
        )
    )
    probes = ev.select(F.col("ts").alias("e_ts"), bucket.alias("bucket"))
    return (
        anchors.join(probes, "bucket")
        .filter(
            (F.col("e_ts") >= F.col("a_ts"))
            & (F.col("e_ts") < F.col("a_ts") + F.expr(f"INTERVAL {RANGE_W_SEC} SECOND"))
        )
        .groupBy("anchor_id")
        .agg(F.count(F.lit(1)).alias("n_in_window"))
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH od AS (
        SELECT o_custkey AS user_id, o_orderdate AS odate,
               MIN(o_orderkey) AS okey
        FROM orders GROUP BY 1, 2
    ),
    cand AS (
        SELECT e.event_id, e.user_id, e.ts, o.okey, o.odate,
               abs(epoch_us(e.ts) - epoch_us(o.odate)) AS diff_us,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY abs(epoch_us(e.ts) - epoch_us(o.odate)),
                            CASE WHEN epoch_us(o.odate) <= epoch_us(e.ts)
                                 THEN 0 ELSE 1 END,
                            o.okey
               ) AS rn
        FROM events e JOIN od o ON o.user_id = e.user_id
    )
    SELECT event_id, user_id, ts,
           okey AS nearest_order, odate AS nearest_date, diff_us
    FROM cand WHERE rn = 1
    """,
    tags=("join", "asof", "window"),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-key as-of join: each event matches the user's order closest
    in time on EITHER side (win_asof_last_click is the backward-only
    variant) — the sensor/trade alignment operator kdb/DuckDB call ASOF
    ... NEAREST. Ties at equal distance prefer the earlier (backward)
    order; order dates are deduped to one row per (user, date) with the
    smallest orderkey so the tiebreak is total.

    Scale shape — SORT-MERGE, NOT ALL-PAIRS: orders and events union into
    one stream sorted per user (one exchange); the previous order arrives
    via last(ignoreNulls) over the preceding frame and the next order via
    first(ignoreNulls) over the following frame — both windows share the
    same sort, so the whole join is one shuffle + one sort regardless of
    how many orders a user has. The ORACLE is the brute-force per-user
    cross join — fine at sf0.01, and exactly the quadratic shape this
    plan avoids. All comparisons are integer microseconds."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), F.col("o_orderdate").alias("odate"))
        .agg(F.min("o_orderkey").alias("okey"))
    )
    from pyspark.sql import Window

    # kind 0 = order, 1 = event: an order at exactly the event's timestamp
    # sorts first and is therefore seen as the backward candidate (diff 0)
    merged = od.select(
        "user_id",
        F.col("odate").alias("t"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.struct(F.col("odate"), F.col("okey")).alias("ord"),
    ).unionByName(
        ev.select(
            "user_id",
            F.col("ts").alias("t"),
            F.lit(1).alias("kind"),
            "event_id",
            F.lit(None).cast("struct<odate:timestamp,okey:bigint>").alias("ord"),
        )
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    with_cands = merged.select(
        "user_id",
        "t",
        "kind",
        "event_id",
        F.last("ord", ignorenulls=True).over(w_back).alias("prev"),
        F.first("ord", ignorenulls=True).over(w_fwd).alias("nxt"),
    ).filter(F.col("kind") == 1)
    dp = F.unix_micros(F.col("t")) - F.unix_micros(F.col("prev.odate"))
    dn = F.unix_micros(F.col("nxt.odate")) - F.unix_micros(F.col("t"))
    take_prev = F.col("prev").isNotNull() & (F.col("nxt").isNull() | (dp <= dn))
    best = F.when(take_prev, F.col("prev")).otherwise(F.col("nxt"))
    return (
        with_cands.filter(F.col("prev").isNotNull() | F.col("nxt").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("ts"),
            best.getField("okey").alias("nearest_order"),
            best.getField("odate").alias("nearest_date"),
            F.abs(F.unix_micros(F.col("t")) - F.unix_micros(best.getField("odate"))).alias(
                "diff_us"
            ),
        )
    )


SKEW_SALT_R = 8          # replication factor for hot-key dim rows
SKEW_HOT_THRESHOLD = 500  # fact rows per key before a key counts as hot


@register(
    "join_salted_skew",
    oracle=f"""
    WITH fact AS (
        SELECT CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE l_orderkey END AS lk,
               l_extendedprice, l_discount
        FROM lineitem
    )
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {_osum(_REVENUE_SQL, "revenue")}
    FROM fact f JOIN orders o ON o.o_orderkey = f.lk
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "skew"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-aware SPLIT-SALTED join — the join-side twin of
    agg_salted_skew, for the case AQE's skew-join can't always save: a
    sort-merge join where a handful of fact keys own a large share of
    the rows, so one reducer gets the hot partition. Half of lineitem is
    deliberately re-keyed onto order 1 (a planted power-law head; the
    rest stays uniform), then joined to orders.

    The salting is ADAPTIVE and SPLIT (the dedup-family guard
    discipline): an exact per-key count (one map-combined shuffle over
    the key space) finds keys above SKEW_HOT_THRESHOLD; the hot-key list
    — tiny by the power-law shape that causes the problem — broadcasts
    back. HOT fact rows take a deterministic row-derived salt in
    [0, R); hot dim rows replicate R ways; COLD rows join exactly as
    before with salt 0 and no replication, so the technique costs ~zero
    when skew is absent. Exact decimal partials make the salt invisible:
    the oracle is the plain join. A plan test pins the dim replication
    to the hot subset (test_plans.py)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    fact = li.select(
        F.when(F.col("l_linenumber") % 2 == 0, F.lit(1).cast("long"))
        .otherwise(F.col("l_orderkey"))
        .alias("lk"),
        dec("l_extendedprice").alias("price"),
        dec("l_discount").alias("disc"),
        # deterministic per-row salt source (never Math.random: results
        # must be replayable and partition-independent)
        F.pmod(F.col("l_orderkey") * 7 + F.col("l_linenumber"), F.lit(SKEW_SALT_R))
        .cast("int")
        .alias("rowsalt"),
    )
    hot = F.broadcast(
        fact.groupBy("lk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > SKEW_HOT_THRESHOLD)
        .select("lk", F.lit(True).alias("_hot"))
    )
    f_salted = fact.join(hot, "lk", "left").select(
        "lk",
        "price",
        "disc",
        F.when(F.col("_hot").isNotNull(), F.col("rowsalt"))
        .otherwise(F.lit(0))
        .alias("salt"),
    )
    o_rep = (
        o.join(hot.withColumnRenamed("lk", "o_orderkey"), "o_orderkey", "left")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.when(F.col("_hot").isNotNull(), F.lit(SKEW_SALT_R - 1)).otherwise(
                        F.lit(0)
                    ),
                )
            ).alias("salt"),
        )
    )
    joined = f_salted.join(
        o_rep,
        (f_salted.lk == o_rep.o_orderkey) & (f_salted.salt == o_rep.salt),
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("price") * (F.lit(1) - F.col("disc"))).cast("double").alias("revenue"),
    )


BUCKETS = 8  # bucket count for the co-located join pair


@register(
    "join_bucketed_colocated",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           {_osum(_REVENUE_SQL, "revenue")}
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "layout", "bucketing"),
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED co-located big-big join (SURVEY §1.5) — the layout
    technique that removes the per-query shuffle from repeated fact-fact
    joins: both sides are written bucketBy(BUCKETS, join_key) + sortBy,
    so every later join on that key plans as a SortMergeJoin with NO
    Exchange and NO per-query Sort on either side. The shuffle is paid
    ONCE at write time and amortized over every join that follows — at
    100 TB this is the difference between re-moving both tables per
    query and never moving them again. tests/test_bucketing.py asserts
    the no-Exchange plan; this query pins the RESULT through the layout:
    the bucketed join's aggregate must match the plain-parquet oracle
    exactly.

    Auto-broadcast is disabled inside the query (restored after): at
    test scale the dim side would broadcast, which bypasses buckets and
    would leave the technique unexercised; at the scale bucketing is FOR,
    neither side fits a broadcast anyway."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", dec("l_extendedprice").alias("price"), dec("l_discount").alias("disc")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")

    import os

    # External tables: the files live in reaped scratch dirs, never in
    # the CWD's spark-warehouse. The catalog names them after their dirs,
    # with '-' (not legal in an identifier) as '_'.
    li_path = scratch_dir("li_bkt", sf_key(sf_dir))
    o_path = scratch_dir("o_bkt", sf_key(sf_dir))
    li_name, o_name = (
        os.path.basename(p).replace("-", "_") for p in (li_path, o_path)
    )
    cat = spark.catalog
    if not cat.tableExists(li_name):
        li.write.bucketBy(BUCKETS, "l_orderkey").sortBy("l_orderkey").mode(
            "overwrite"
        ).option("path", li_path).saveAsTable(li_name)
    if not cat.tableExists(o_name):
        o.write.bucketBy(BUCKETS, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).option("path", o_path).saveAsTable(o_name)

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lb = spark.table(li_name)
        ob = spark.table(o_name)
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        out = joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("price") * (F.lit(1) - F.col("disc")))
            .cast("double")
            .alias("revenue"),
        )
        # force planning under the no-broadcast conf (lazy plans would
        # otherwise resolve after the finally restores it)
        out = out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    return out


BURST_MIN_EVENTS = 5  # events of one type in an hour to call it a burst


@register(
    "join_interval_overlap",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, MIN(ts) AS s_start, MAX(ts) AS s_last
        FROM (
            SELECT user_id, ts,
                   SUM(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sid
            FROM flagged
        ) GROUP BY user_id, sid
    ),
    bursts AS (
        SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n_burst
        FROM events GROUP BY 1, 2 HAVING COUNT(*) >= {BURST_MIN_EVENTS}
    )
    SELECT s.user_id, s.s_start AS session_start, b.event_type,
           b.h AS burst_hour, b.n_burst
    FROM sess s JOIN bursts b
      ON b.h >= date_trunc('hour', s.s_start)
     AND b.h <= date_trunc('hour', s.s_last)
    """,
    tags=("join", "timeseries"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL × INTERVAL overlap join — the two-sided generalization of
    join_time_range's point-in-interval: which user sessions overlap
    which per-type activity bursts (hot hours)? The classic hazard is a
    nested-loop over |sessions| × |bursts|; the scalable form BUCKETIZES:
    each session explodes into the hour buckets it covers (bounded by
    session length — sessions are gap-bounded, so the fanout is small
    and data-derived), bursts are already hour-keyed, and the overlap
    becomes an EQUI-join on the bucket. Because bursts are exactly
    one bucket wide, bucket equality IS interval overlap here — no
    post-join dedup, no residual predicate; wider probe intervals get
    the dedup step join_time_range documents.

    Both inputs derive from one events scan each (sessions: the
    gaps-and-islands window, one user shuffle; bursts: one hour×type
    aggregation); the oracle computes the same overlap as a direct range
    join, an independent formulation."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)) >= gap_us)
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = (
        flagged.withColumn(
            "sid",
            F.sum("new_s").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_last"))
    )
    bursts = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_burst"))
        .filter(F.col("n_burst") >= BURST_MIN_EVENTS)
    )
    buckets = sess.select(
        "user_id",
        "s_start",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s_start"),
                F.date_trunc("hour", "s_last"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("h"),
    )
    return buckets.join(bursts, "h").select(
        "user_id",
        F.col("s_start").alias("session_start"),
        "event_type",
        F.col("h").alias("burst_hour"),
        "n_burst",
    )


# --- Bloom-prefiltered big-big join -----------------------------------------
# m = 2^20 bits (16 Ki longs, ~128 KiB broadcast payload) holds ~10^5 build
# keys at k=3 with fpp well under 1%; at cluster scale m grows with the
# build-side key count, never with the probe side.
BLOOM_M_BITS = 1 << 20
BLOOM_SEEDS = (0, 1, 2)
BLOOM_PRIORITIES = ("1-URGENT", "2-HIGH")


def _bloom_probe(key: F.Column, seed: int, bf: str = "bf") -> F.Column:
    """True iff `key`'s seeded hash position is set in the DENSE bitmap
    array (1-based element_at — O(1) ordinal access on ArrayData; a
    map<long,long> here would be an O(words) LINEAR scan per probe,
    Spark maps are not hash tables — measured 8 s vs 0.3 s at sf0.1)."""
    pos = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(BLOOM_M_BITS))
    word_idx = (pos / F.lit(64)).cast("int")
    bit = F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.pmod(pos, F.lit(64)).cast("int")
    )
    return F.element_at(F.col(bf), word_idx + F.lit(1)).bitwiseAND(bit) != 0


def bloom_bitmap(keys: DataFrame, key_col: str) -> DataFrame:
    """ONE-row DataFrame holding the dense Bloom bitmap of `keys` as
    array<long> (BLOOM_M_BITS/64 words, ~128 KiB): k seeded positions per
    key, `bit_or` partial-aggregated per word, zero-filled to the full
    domain via a range left-join so probes index by ordinal."""
    spark = keys.sparkSession
    n_words = BLOOM_M_BITS // 64
    pos_cols = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(s)), F.lit(BLOOM_M_BITS))
        for s in BLOOM_SEEDS
    ]
    words = (
        keys.select(F.explode(F.array(*pos_cols)).alias("pos"))
        .select(
            (F.col("pos") / F.lit(64)).cast("long").alias("word_idx"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(F.col("pos"), F.lit(64)).cast("int"),
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )
    dense = (
        spark.range(n_words)
        .select(F.col("id").alias("word_idx"))
        .join(words, "word_idx", "left")
        .select("word_idx", F.coalesce("word", F.lit(0).cast("long")).alias("word"))
    )
    return dense.agg(
        F.array_sort(F.collect_list(F.struct("word_idx", "word"))).alias("ps")
    ).select(F.transform("ps", lambda p: p.getField("word")).alias("bf"))


@register(
    "join_bloom_prefilter",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {_osum(_REVENUE_SQL, "revenue")}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
    tags=("join", "bloom", "scale"),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered shuffle join — the runtime-filter pattern for a
    selective BIG-build join, built from pure DataFrame ops because Spark
    only applies its own bloom runtime filter when statistics justify it
    (`bloom_filter_agg`/`might_contain` are not public SQL surface).

    When the build side (here: urgent/high-priority orders) is too large
    to broadcast as ROWS but its key set fits a BITMAP, shuffling every
    probe row is waste: most lineitems can't match. Build a Bloom filter
    of build keys as a word-indexed bitmap — k=3 seeded xxhash64
    positions per key, `bit_or` partial-aggregated per 64-bit word, the
    words zero-filled into ONE DENSE array<long> row (~128 KiB; see
    _bloom_probe on why a map would be quadratic) — and
    broadcast THAT to prefilter the probe side before its shuffle. False
    positives are removed by the real join, so the result is EXACT and
    the oracle is the plain join; the bloom changes bytes shuffled, not
    answers. The join is pinned to shuffle_hash to model the big-big
    case honestly (AQE would broadcast this build side at test SF,
    making the prefilter invisible).

    Scale notes: the bitmap build is one partial-aggregated exchange over
    the (small) build side; the probe prefilter is map-side (broadcast
    cross join of one row + three bit tests in whole-stage codegen); the
    surviving probe rows pay the one big shuffle. At ~80% probe-side
    selectivity the filter pays for itself; TPC-H priorities cut 3/5 of
    lineitem here."""
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin(*BLOOM_PRIORITIES))
        .select("o_orderkey", "o_orderpriority")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )

    bf = bloom_bitmap(orders.select("o_orderkey"), "o_orderkey")

    survivors = (
        li.join(F.broadcast(bf))
        .filter(
            _bloom_probe(F.col("l_orderkey"), BLOOM_SEEDS[0])
            & _bloom_probe(F.col("l_orderkey"), BLOOM_SEEDS[1])
            & _bloom_probe(F.col("l_orderkey"), BLOOM_SEEDS[2])
        )
        .drop("bf")
    )
    joined = survivors.join(
        orders.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_revenue(joined)).cast("double").alias("revenue"),
    )


# --- Bounded-staleness as-of join ---------------------------------------------
ASOF_TOL_US = 2 * 3600 * 1_000_000  # max feature age: 2 hours, integer micros


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH tagged AS (
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN event_type = 'click' THEN ts END AS click_ts,
               CASE WHEN event_type = 'click' THEN event_id END AS click_id
        FROM events
        WHERE event_type IN ('click', 'purchase')
    ),
    filled AS (
        SELECT event_id, user_id, ts, event_type,
               last_value(click_ts IGNORE NULLS) OVER w AS last_click_ts,
               last_value(click_id IGNORE NULLS) OVER w AS last_click_id
        FROM tagged
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           CASE WHEN epoch_us(ts) - epoch_us(last_click_ts) <= {ASOF_TOL_US}
                THEN last_click_id END AS click_id,
           CASE WHEN epoch_us(ts) - epoch_us(last_click_ts) <= {ASOF_TOL_US}
                THEN epoch_us(ts) - epoch_us(last_click_ts) END AS age_us,
           COALESCE(epoch_us(ts) - epoch_us(last_click_ts) <= {ASOF_TOL_US}, FALSE)
               AS fresh
    FROM filled WHERE event_type = 'purchase'
    """,
    tags=("join", "asof", "window"),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join with a STALENESS BOUND — the feature-store / kdb
    `aj`-with-tolerance contract win_asof_last_click leaves open: a
    purchase may only use the user's last click if that click is at most
    ASOF_TOL_US (2 hours) old; older context is stale and the
    match must come back NULL (serving a 3-day-old feature silently is
    the classic training/serving-skew bug this operator exists to stop).
    Emits the matched click, its exact integer age in microseconds, and
    the `fresh` admit bool per purchase — unmatched purchases survive
    with NULLs, so row count equals the purchase count by construction.

    Scale shape: identical to win_asof_last_click — one union stream,
    one shuffle on user_id, one fill-forward window; the tolerance is a
    map-side CASE after the window, so bounding staleness costs ZERO
    additional exchanges (the naive range-join formulation would pay a
    per-user quadratic candidate scan instead). Integer-microsecond
    arithmetic keeps the hash row engine-stable."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    filled = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
    )
    age = F.unix_micros("ts") - F.unix_micros("last_click_ts")
    within = age <= ASOF_TOL_US
    return filled.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(within, F.col("last_click_id")).alias("click_id"),
        F.when(within, age).alias("age_us"),
        F.coalesce(within, F.lit(False)).alias("fresh"),
    )
