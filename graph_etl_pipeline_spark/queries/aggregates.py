"""Aggregation operators (SURVEY.md §2.6, A1-A6 + scalable extensions).

The reference's aggregations are Neo4j count queries (per-label stats,
src/db/neo4j_db.py:122-149) and Python counter loops
(src/etl/waste_items.py:355-429). Here they are hash aggregations with
map-side partial aggregation — the shuffle carries one row per (group ×
partition), so a 100 TB scan reduces to KBs before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.functions.numeric import davg, dec, dsum
from graph_etl_pipeline_spark.queries.joins import _revenue_col
from graph_etl_pipeline_spark.functions.hashing import md5_lane, md5_lane_sql
from graph_etl_pipeline_spark.io import table
from graph_etl_pipeline_spark.queries._sql import REVENUE, oavg, osum, sdec
from graph_etl_pipeline_spark.registry import register


@register(
    "agg_count_by_label",
    oracle="""
    SELECT event_type AS label, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("agg",),
)
def agg_count_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/S9: per-label node counts (reference: src/db/neo4j_db.py:129-143
    — `CALL db.labels()` + per-label count loop). One hash aggregation
    replaces the reference's 1+N round-trip pattern."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy(ev.event_type.alias("label")).agg(F.count(F.lit(1)).alias("n"))


@register(
    "agg_global_count",
    oracle="SELECT COUNT(*) AS n_rows FROM lineitem",
    tags=("agg",),
)
def agg_global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: global relationship/node count (reference: src/db/neo4j_db.py:142-148
    — `MATCH ()-[r]->() RETURN count(r)`)."""
    return table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "agg_group_topn",
    oracle=f"""
    SELECT n_name,
           {osum(REVENUE, "revenue")},
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    tags=("agg", "join"),
)
def agg_group_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: group-count with ordering (reference: etl_implementation.md:249-251
    — items per WasteStream ORDER BY count DESC): revenue per nation."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.select("l_orderkey", _revenue_col(li))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum("rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"))
    )


@register(
    "agg_topk",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    ORDER BY n_orders DESC, o_custkey
    LIMIT 10
    """,
    tags=("agg",),
)
def agg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: top-K after aggregation (reference: etl_implementation.md:253-257
    — top-10 most-connected facilities). The deterministic tie-break on
    the key makes the result hash-stable; Catalyst plans this as
    TakeOrderedAndProject (no global sort — each partition keeps its local
    top-10, the driver merges)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), F.asc("o_custkey"))
        .limit(10)
    )


@register(
    "agg_multi_counter",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {osum(sdec('l_quantity'), "sum_qty")},
           {osum(sdec('l_extendedprice'), "sum_base_price")},
           {osum(REVENUE, "sum_disc_price")},
           {oavg(sdec('l_quantity'), "avg_qty")},
           COUNT(*) AS count_order,
           CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_big_discount
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def agg_multi_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: multi-counter single-pass statistics (reference:
    src/etl/waste_items.py:355-429 — items_loaded / created / streams /
    relationships counted in one import pass). TPC-H Q1 shape: every
    counter is one conditional aggregate in a single scan."""
    li = table(spark, sf_dir, "lineitem")
    rev = dec(li.l_extendedprice) * (F.lit(1) - dec(li.l_discount))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        F.sum(rev).cast("double").alias("sum_disc_price"),
        davg("l_quantity", "avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
        F.sum(F.when(li.l_discount > 0.05, 1).otherwise(0)).alias("n_big_discount"),
    )


@register(
    "agg_collect_set",
    oracle="""
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
           COUNT(DISTINCT event_type) AS n_distinct_types
    FROM events
    GROUP BY user_id
    """,
    tags=("agg",),
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: distinct-set accumulation (reference: src/etl/waste_items.py:330-345
    — dry-run gathers `streams_needed` / `unmatched_facilities` sets).
    Sorted before serialization so the value is deterministic (collect_set
    order is partition-dependent)."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("event_types"),
        F.countDistinct("event_type").alias("n_distinct_types"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_orderkey) AS exact_orders,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS orders_within_bound,
           TRUE AS parts_within_bound
    FROM lineitem
    """,
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable variant of A6 (SURVEY §2.6 note): approx_count_distinct is
    the 100 TB replacement for exact distinct sets — constant memory per
    group (HLL++ sketch) instead of a shuffle of every distinct value.

    Checkable contract: the query emits the EXACT counts
    plus in-query booleans asserting |approx-exact|/exact ≤ 5×rsd; the
    oracle matches the exact counts and expects TRUE — so the driver's
    hash row goes green iff the sketch meets its accuracy bound. HLL++ is
    deterministic for fixed data, so the booleans are stable."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.col(e) <= F.lit(0.05)
    )
    return agg.select(
        "exact_orders",
        "exact_parts",
        within("approx_orders", "exact_orders").alias("orders_within_bound"),
        within("approx_parts", "exact_parts").alias("parts_within_bound"),
    )


@register(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           {osum(sdec('l_quantity'), "sum_qty")}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (flag → flag+status → grand
    total) — the OLAP reporting shape the per-group aggregates (A1-A5)
    don't cover. Spark expands rollup into grouping sets inside ONE
    hash aggregation over one exchange — same shuffle cost as the plain
    groupBy, with subtotal rows marked by NULL group keys identically
    to the SQL standard (and DuckDB)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           {osum(sdec('l_quantity'), "sum_qty")}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE companion to agg_rollup: all 2^k grouping sets (flag,
    status, each alone, grand total) for cross-tab reporting. Like
    rollup, Spark expands the cube inside ONE hash aggregation over one
    exchange — the shuffle carries (distinct groups × sets) partial rows,
    not 2^k scans of the fact table, so the cost at 100 TB is the same
    single pass as a plain groupBy."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


@register(
    "agg_approx_quantiles",
    oracle="""
    SELECT quantile_cont(l_quantity, 0.5) AS exact_p50,
           quantile_cont(l_quantity, 0.9) AS exact_p90,
           TRUE AS p50_within_bound,
           TRUE AS p90_within_bound
    FROM lineitem
    """,
    tags=("agg", "approx"),
)
def agg_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-family contract #3 (alongside HLL agg_approx_distinct and
    ANN sim_ann_recall_contract): percentile_approx is the 100 TB
    replacement for exact percentiles — bounded-memory quantile sketch
    per group vs a full sort/collect of every value. The query computes
    BOTH, emits the exact quantiles plus in-query booleans asserting the
    sketch lands within 1 quantity unit, and the oracle checks the exact
    values and expects TRUE — green iff the sketch meets its bound.
    Exactness across engines: l_quantity is integer-valued, and Spark
    percentile() and DuckDB quantile_cont() share the same linear
    interpolation, so the exact doubles hash identically."""
    li = table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.percentile("l_quantity", 0.5).alias("exact_p50"),
        F.percentile("l_quantity", 0.9).alias("exact_p90"),
        F.percentile_approx("l_quantity", 0.5, 10000).alias("approx_p50"),
        F.percentile_approx("l_quantity", 0.9, 10000).alias("approx_p90"),
    )
    within = lambda a, e: F.abs(F.col(a) - F.col(e)) <= F.lit(1.0)  # noqa: E731
    return agg.select(
        "exact_p50",
        "exact_p90",
        within("approx_p50", "exact_p50").alias("p50_within_bound"),
        within("approx_p90", "exact_p90").alias("p90_within_bound"),
    )


# --- Heavy hitters via a custom distributed sketch ---------------------

HH_K = 128  # Misra-Gries sketch size (counters per partition)
HH_T = 80   # heavy hitter ⇔ count > n/HH_T

# Skew-bearing key: low-value events collapse into 3 hot band keys
# (~2% of n each — frequency FRACTIONS are scale-invariant), everything
# else keys per-user (cardinality grows with SF: 1.5k keys at sf0.1 vs
# 128 counters, so evictions are real at bench scale). The hitter
# threshold n/80 sits ABOVE the sketch's worst-case undercount n/129,
# which is what makes the contract booleans deterministic: every true
# hitter is GUARANTEED retained regardless of partitioning.
_HH_KEY_SQL = (
    "CASE WHEN value < 3 THEN 'band' || CAST(CAST(FLOOR(value) AS INT) AS VARCHAR) "
    "ELSE 'user' || CAST(user_id AS VARCHAR) END"
)


@register(
    "agg_heavy_hitters",
    oracle=f"""
    WITH keyed AS (SELECT {_HH_KEY_SQL} AS key FROM events),
    exact AS (SELECT key, COUNT(*) AS exact_n FROM keyed GROUP BY key),
    tot AS (SELECT COUNT(*) AS n FROM keyed)
    SELECT key, exact_n,
           TRUE AS in_sketch,
           TRUE AS est_le_exact,
           TRUE AS within_bound
    FROM exact, tot
    WHERE exact_n * {HH_T} > n
    """,
    tags=("agg", "approx", "sketch"),
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-family contract #4: heavy hitters via a CUSTOM distributed
    Misra-Gries sketch (operators/sketch.py — per-partition Arrow-batched
    summaries of fixed size k, merged by one k×P-row hash aggregation).
    The 100 TB story: per-executor memory and merge shuffle are O(k),
    independent of key cardinality — the exact groupBy this query also
    runs (to verify the sketch) is the thing the sketch REPLACES at
    scale.

    Contract: emits the exact hitters (count > n/{HH_T}) plus in-query
    booleans asserting the MG guarantees — every hitter present in the
    merged sketch, estimates never above exact, undercount within
    n/(k+1). All three hold for ANY partitioning because n/{HH_T} >
    n/{HH_K + 1} (threshold above the worst-case bound), so the result —
    unlike the sketch's internal counters — is deterministic. Integer
    arithmetic only (count·T > n, (count-est)·(k+1) ≤ n): no FP ties.

    The explicit repartition mirrors the multi-split scan a real corpus
    gets (the single-row-group test file would otherwise hand the
    sketch ONE partition and make the merge path trivial)."""
    from graph_etl_pipeline_spark.operators.sketch import mg_sketch_partitions

    ev = table(spark, sf_dir, "events")
    key = F.when(
        F.col("value") < 3,
        F.concat(F.lit("band"), F.floor("value").cast("int").cast("string")),
    ).otherwise(F.concat(F.lit("user"), F.col("user_id").cast("string")))
    keyed = ev.select(key.alias("key")).repartition(
        spark.sparkContext.defaultParallelism
    )
    sketch = keyed.mapInPandas(mg_sketch_partitions(HH_K), schema="key string, est long")
    merged = sketch.groupBy("key").agg(F.sum("est").alias("est"))
    exact = keyed.groupBy("key").agg(F.count(F.lit(1)).alias("exact_n"))
    total = keyed.agg(F.count(F.lit(1)).alias("n"))
    return (
        exact.join(F.broadcast(total))
        .filter(F.col("exact_n") * HH_T > F.col("n"))
        .join(merged, "key", "left")
        .select(
            "key",
            "exact_n",
            F.col("est").isNotNull().alias("in_sketch"),
            F.coalesce(F.col("est") <= F.col("exact_n"), F.lit(False)).alias(
                "est_le_exact"
            ),
            F.coalesce(
                (F.col("exact_n") - F.col("est")) * (HH_K + 1) <= F.col("n"),
                F.lit(False),
            ).alias("within_bound"),
        )
    )


@register(
    "agg_event_cooccurrence",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_users
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    """,
    tags=("agg", "analytics"),
)
def agg_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for each unordered pair of event
    types, how many users performed both — the support table under
    association mining / next-action features.

    Scale shape: the per-user self-join runs on DISTINCT (user, type)
    rows, so its fan-out is bounded by the taxonomy size (|types| per
    user), never the raw event count; the distinct pass and the join
    share the user_id shuffle key. For unbounded item vocabularies
    (products, tokens) the same plan needs a per-user fan-out cap (keep
    top-k items per user) exactly like the hot-shingle df-cap in
    queries/dedup.py — with a fixed event taxonomy the cap is a no-op
    and omitted."""
    ut = table(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    a, b = ut.alias("a"), ut.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


EQUIDEPTH_BUCKETS = 10


@register(
    "agg_equidepth_histogram",
    oracle=f"""
    SELECT bucket,
           COUNT(*) AS n,
           MIN(value) AS lo,
           MAX(value) AS hi
    FROM (
        SELECT value,
               NTILE({EQUIDEPTH_BUCKETS}) OVER (ORDER BY value, event_id) AS bucket
        FROM events
    )
    GROUP BY bucket
    """,
    tags=("aggregate", "profile"),
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (ntile): buckets hold equal row counts and the
    boundaries adapt to the distribution — the profile that exposes skew
    a fixed-width histogram (agg_histogram) smooths over, and the stats
    shape query optimizers keep per column. Tie-break (value, event_id)
    makes bucket assignment total, so both engines split equal values
    identically.

    Scale note: ntile over a GLOBAL ordering is a single-partition sort —
    acceptable for profile queries that reduce to {EQUIDEPTH_BUCKETS}
    output rows, but the 100 TB path is the sketch: approx quantile cuts
    (agg_approx_quantiles' datasketches pattern) define boundaries and a
    map-side bucket-assign + groupBy counts rows per cut — that exact
    composition is already covered by agg_approx_quantiles +
    agg_histogram; THIS operator is the exact small-profile form."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.orderBy("value", "event_id")
    return (
        ev.select("value", F.ntile(EQUIDEPTH_BUCKETS).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


HLL_REL_ERR = 0.05  # contract bound for the default lgConfigK=12 sketch


@register(
    "agg_hll_mergeable",
    oracle="""
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS direct_within_bound,
           TRUE AS merged_within_bound,
           TRUE AS merge_consistent
    """ + "FROM events",
    tags=("agg", "sketch"),
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog sketch MERGEABILITY — the property that makes
    approximate distinct-counting work at 100 TB: per-shard sketches
    (here per event_type) union into exactly the sketch a direct global
    pass builds, so distinct counts compose across partitions, days, and
    retention tiers without ever re-scanning raw data. Spark's Datasketches
    HLL (hll_sketch_agg / hll_union_agg / hll_sketch_estimate) is
    register-max merge — deterministic and partitioning-independent.

    The estimates themselves are not SQL-reproducible, so the row carries
    the in-query CONTRACT (the sim_ann_recall_contract discipline): the
    exact distinct count (oracle-checked) plus three booleans the engine
    must prove — direct estimate within ±5%, merged-estimate within ±5%,
    and merged == direct exactly (mergeability). A false anywhere breaks
    the hash."""
    ev = table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_est"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    row = direct.crossJoin(merged)
    bound = F.lit(HLL_REL_ERR)
    within = lambda est: (
        F.abs(est - F.col("exact_users")) <= bound * F.col("exact_users")
    )
    return row.select(
        F.col("exact_users").cast("long").alias("exact_users"),
        within(F.col("direct_est")).alias("direct_within_bound"),
        within(F.col("merged_est")).alias("merged_within_bound"),
        (F.col("merged_est") == F.col("direct_est")).alias("merge_consistent"),
    )


@register(
    "agg_exact_median",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           median(value) AS med,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("agg",),
)
def agg_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median — the robust-statistics gap between
    agg_approx_quantiles (bounded-error sketch, the 100 TB default) and
    agg_mad_outliers (median-based but pre-composed). Spark's
    percentile() is the exact sort-based aggregate; even-count groups
    interpolate (a+b)/2 — one IEEE operation both engines perform
    identically on identical doubles, so the hash holds without decimal
    bridging. Exact medians at scale shuffle each group's values to one
    reducer (this plan's cost model — fine for bounded per-group
    cardinality); unbounded groups use the approx sketch instead."""
    ev = table(spark, sf_dir, "events")
    from graph_etl_pipeline_spark.functions.numeric import dec

    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("value", F.lit(0.5)).alias("med"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
    )


@register(
    "agg_group_mode",
    oracle="""
    SELECT event_type, k_val, n FROM (
        SELECT event_type, k_val, COUNT(*) AS n,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY COUNT(*) DESC, k_val
               ) AS rn
        FROM (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
            FROM events
        )
        GROUP BY event_type, k_val
    ) WHERE rn = 1
    """,
    tags=("agg",),
)
def agg_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE (most frequent value) with a deterministic
    tie-break — Spark's mode() aggregate breaks ties arbitrarily, so the
    engine composes it from a two-level count + max_by over the
    (count DESC, value ASC) struct: exact, engine-stable, and still two
    map-combined exchanges (value-count, then per-group argmax collapses
    partial maxima map-side — no window, no sort). The modal value of a
    parsed JSON attribute per event type is the schema-on-read profiling
    shape (what is this field's dominant value per source?)."""
    ev = table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT").getField("k").alias("k_val")
    counts = ev.select("event_type", k).groupBy("event_type", "k_val").agg(
        F.count(F.lit(1)).alias("n")
    )
    # argmax by (n DESC, k_val ASC): max_by over struct(n, -k_val) would
    # break for negatives at type edges; use min_by over (-n, k_val)
    pick = F.min_by(
        F.struct(F.col("k_val"), F.col("n")),
        F.struct((-F.col("n")).alias("neg"), F.col("k_val")),
    )
    return counts.groupBy("event_type").agg(pick.alias("m")).select(
        "event_type", F.col("m.k_val").alias("k_val"), F.col("m.n").alias("n")
    )


@register(
    "agg_bitmap_exact_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_distinct_orders,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "distinct", "scale"),
)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting by bitmap aggregation — the scalable exact
    twin of agg_approx_distinct's HLL. COUNT(DISTINCT) over a big fact
    either expands rows (Spark's distinct-agg rewrite) or shuffles every
    (group, key) pair; when keys are dense integers (surrogate IDs —
    orderkeys here), a CHUNKED BITMAP does it exactly with bounded state:
    key → (chunk = key div 64, bit = 1 << key mod 64), `bit_or` partial
    aggregation per (group, chunk) word — map-side combine collapses all
    duplicates of a chunk before the exchange — then sum of
    `bit_count(word)` per group. Distinct state per group is |key-range| / 64
    bits spread across chunk keys, never a per-executor giant set, and the
    words are MERGEABLE (bit_or is associative/commutative), so the same
    plan maintains incremental distinct counts across partitions or days —
    the roaring-bitmap pattern (Chambi et al.) with parquet-friendly longs.

    Both exchanges are map-side combined; the second reduces 64-key words
    to the 3 return flags. Oracle is the direct COUNT(DISTINCT)."""
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    words = (
        li.select(
            "l_returnflag",
            (F.col("l_orderkey") / F.lit(64)).cast("long").alias("chunk"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(F.col("l_orderkey"), F.lit(64)).cast("int"),
            ).alias("bit"),
        )
        .groupBy("l_returnflag", "chunk")
        .agg(F.bit_or("bit").alias("word"), F.count(F.lit(1)).alias("n"))
    )
    return words.groupBy("l_returnflag").agg(
        F.sum(F.bit_count("word")).alias("n_distinct_orders"),
        F.sum("n").alias("n_rows"),
    )


# --- Count-min sketch with in-query accuracy contract -----------------------
# d=3 rows × w=512 counters. Row hashes are engine-exact multiplicative
# mixes (xxhash prime multipliers, shift, mod) — Spark's native
# count_min_sketch() emits an opaque binary with no public SQL reader, so
# the sketch is built from first principles, like the bloom filter.
CMS_W = 512
CMS_MULTS = (2654435761, 2246822519, 3266489917)
CMS_PROBE_K = 10

# Position hash: EXACT integer arithmetic end to end. The key is
# pre-masked to 31 bits with a BITWISE AND — sign-safe (`%` has
# engine-divergent sign semantics for negative dividends; `&` agrees in
# DuckDB and Spark for any int64 key) — so (masked_key * mult) ≤
# (2^31-1) · 3.27e9 < 2^63: the product can never wrap int64, and integer
# `DIV`/`//` (never double division, which loses low bits past 2^53) keeps
# every engine's positions bit-identical for ALL int64 keys, negative
# included. For non-negative keys the positions are unchanged from the
# earlier modulo form (x % 2^31 == x & (2^31-1) when x ≥ 0).
CMS_KEY_MASK = (1 << 31) - 1

_CMS_POS_SQL = (
    "(((user_id & " + str(CMS_KEY_MASK) + ") * {m}) // 1024) % " + str(CMS_W)
)


def _cms_pos(key: F.Column, m: int) -> F.Column:
    """Spark twin of ``_CMS_POS_SQL`` — exact int64 arithmetic only.

    ``shiftright(x, 10)`` == ``x // 1024`` for the non-negative product
    (masked key and multiplier are both non-negative), with no float
    round-trip."""
    return F.pmod(
        F.shiftright(key.bitwiseAND(F.lit(CMS_KEY_MASK)) * F.lit(m), 10),
        F.lit(CMS_W),
    )


def _cms_contract_sql() -> str:
    """The CMS estimate-vs-truth contract oracle — shared verbatim by
    agg_countmin_contract and stream_countmin_topk (the streamed
    additive-merge state must reproduce the batch sketch exactly, so
    both queries grade against the SAME closed form)."""
    return f"""
    WITH f AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    cells AS (
        {" UNION ALL ".join(
            f"SELECT {i} AS i, {_CMS_POS_SQL.format(m=m)} AS pos,"
            f" COUNT(*) AS c FROM events GROUP BY pos"
            for i, m in enumerate(CMS_MULTS)
        )}
    ),
    probes AS (
        SELECT user_id, n FROM f ORDER BY n DESC, user_id LIMIT {CMS_PROBE_K}
    ),
    pp AS (
        SELECT user_id, n, i,
               CASE i {" ".join(
                   f"WHEN {i} THEN {_CMS_POS_SQL.format(m=m)}"
                   for i, m in enumerate(CMS_MULTS)
               )} END AS pos
        FROM probes, (SELECT unnest([0, 1, 2]) AS i)
    )
    SELECT pp.user_id, pp.n AS true_n,
           CAST(MIN(c.c) AS BIGINT) AS est_n,
           MIN(c.c) >= pp.n AS overcount_ok
    FROM pp JOIN cells c ON c.i = pp.i AND c.pos = pp.pos
    GROUP BY pp.user_id, pp.n
    """


@register(
    "agg_countmin_contract",
    oracle=_cms_contract_sql(),
    tags=("agg", "sketch", "approx"),
)
def agg_countmin_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH frequency estimation with an in-query accuracy
    contract (Cormode & Muthukrishnan) — the mergeable fixed-size
    answer to "how often did key k occur" when the key space is too
    wide for exact counters: d=3 hash rows × w={CMS_W} counters
    (~12 KiB total), estimate = min over rows, one-sided error
    (NEVER undercounts — asserted per probe in `overcount_ok`).
    Complements the module's other sketches: HLL answers distinct,
    Misra-Gries answers heavy hitters, CMS answers point frequency.

    Built from pure DataFrame ops (the bloom-filter precedent —
    Spark's count_min_sketch() binary has no public SQL reader): each
    event maps to d (row, position) pairs map-side, the cell table is
    one partial-aggregated exchange producing ≤ d·w rows, and the
    top-{CMS_PROBE_K} true-frequency keys (deterministic tie-break)
    are probed back against the broadcast-sized cell table. The cells
    are MERGEABLE by plain addition — per-partition/per-day sketches
    sum into the global one, the property every streaming deployment
    leans on.

    Scale: sketch size is a constant independent of corpus size; the
    one exchange carries ≤ 3 rows per input row pre-combine, and the
    probe join is broadcast. All arithmetic is int64-exact, so the
    estimates (not just the bounds) hash-match across engines."""
    ev = table(spark, sf_dir, "events").select("user_id")

    def pos(m) -> F.Column:
        return _cms_pos(F.col("user_id"), m)

    cells = (
        ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("i"), pos(m).alias("pos"))
                        for i, m in enumerate(CMS_MULTS)
                    ]
                )
            ).alias("ip")
        )
        .groupBy(F.col("ip.i").alias("i"), F.col("ip.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    freqs = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    probes = freqs.orderBy(F.col("n").desc(), "user_id").limit(CMS_PROBE_K)
    pp = probes.select(
        "user_id",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), pos(m).alias("pos"))
                    for i, m in enumerate(CMS_MULTS)
                ]
            )
        ).alias("ip"),
    ).select("user_id", "n", F.col("ip.i").alias("i"), F.col("ip.pos").alias("pos"))
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


# --- KMV (k-minimum-values) distinct + set-intersection sketch --------------
KMV_K = 256
KMV_M = 1 << 60  # hash space: 15 md5 hex chars = 60 uniform bits
KMV_SRC_A, KMV_SRC_B = "src1", "src2"
KMV_SHINGLE_W = 3

# 60-bit engine-equal uniform hash of a shingle: its first 15 md5 hex chars.
_KMV_H_SQL = md5_lane_sql("shingle", "", 1, 15)


def _kmv_shingle_sql(src: str) -> str:
    return f"""
        SELECT DISTINCT {_KMV_H_SQL} AS h FROM (
            SELECT array_to_string(w[i:i + {KMV_SHINGLE_W - 1}], ' ') AS shingle
            FROM (SELECT w, unnest(generate_series(1, len(w) - {KMV_SHINGLE_W - 1})) AS i
                  FROM (SELECT string_split(text, ' ') AS w FROM documents
                        WHERE source = '{src}')
                  WHERE len(w) >= {KMV_SHINGLE_W})
        )
    """


@register(
    "agg_kmv_distinct_intersection",
    oracle=f"""
    WITH wa AS ({_kmv_shingle_sql(KMV_SRC_A)}),
    wb AS ({_kmv_shingle_sql(KMV_SRC_B)}),
    ka AS (SELECT h FROM wa ORDER BY h LIMIT {KMV_K}),
    kb AS (SELECT h FROM wb ORDER BY h LIMIT {KMV_K}),
    ku AS (SELECT h FROM (SELECT h FROM wa UNION SELECT h FROM wb)
           ORDER BY h LIMIT {KMV_K}),
    est AS (
        SELECT
            CAST(FLOOR(({KMV_K} - 1) * CAST({KMV_M} AS DOUBLE)
                 / CAST((SELECT MAX(h) FROM ka) AS DOUBLE)) AS BIGINT) AS est_a,
            CAST(FLOOR(({KMV_K} - 1) * CAST({KMV_M} AS DOUBLE)
                 / CAST((SELECT MAX(h) FROM kb) AS DOUBLE)) AS BIGINT) AS est_b,
            CAST(FLOOR(({KMV_K} - 1) * CAST({KMV_M} AS DOUBLE)
                 / CAST((SELECT MAX(h) FROM ku) AS DOUBLE)) AS BIGINT) AS est_union,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM ku
             WHERE h IN (SELECT h FROM wa) AND h IN (SELECT h FROM wb)) AS matches,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM wa) AS true_a,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM wb) AS true_b,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM wa
             WHERE h IN (SELECT h FROM wb)) AS true_inter
    )
    SELECT {KMV_K} AS k, true_a, est_a, true_b, est_b, true_inter,
           (matches * est_union) // {KMV_K} AS est_inter,
           abs(est_a - true_a) * 2 <= true_a AS bound_a_ok,
           abs(est_b - true_b) * 2 <= true_b AS bound_b_ok
    FROM est
    """,
    tags=("agg", "sketch", "approx"),
)
def agg_kmv_distinct_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) sketch, Bar-Yossef et al. — distinct
    counting AND set intersection from k·8 bytes of state per set, the
    capability gap between the module's other sketches: HLL unions but
    cannot intersect (inclusion-exclusion error explodes), CMS counts
    points, KMV's k smallest hash values support both union (merge +
    re-truncate) and intersection (sample-overlap scaling, the theta-
    sketch trick). Demonstrated on a real curation question: how much
    3-gram shingle vocabulary do two corpus sources share?

    Estimates are (k-1)·M / kth-min for each set and the merged union;
    intersection = (|union sample ∩ A ∩ B| / k) · est_union, computed in
    exact integers except one correctly-rounded double division
    (operands exact or correctly rounded, so bit-stable across engines).
    In-query ±50% bounds assert accuracy (k=256 ⇒ ~6% expected error);
    TRUE cardinalities ride along so the driver hash checks both.

    Scale shape: shingle sets reduce map-side to distinct hashes (one
    exchange each), k-min is TakeOrderedAndProject (never a global
    sort), and everything after the k-row sketches is broadcast-sized.
    Sketch state is O(k) regardless of corpus size — per-day/per-shard
    KMVs merge by concat + re-truncate, same as production theta
    sketches."""
    docs = table(spark, sf_dir, "documents")

    def shingle_hashes(src: str) -> DataFrame:
        # alias the split ONCE; an inline split inside the per-element
        # lambda re-tokenizes the whole document per shingle (the O(n²)
        # text_winnowing_fingerprint bug, same fix)
        w = F.col("w")
        idx = F.when(
            F.size(w) >= KMV_SHINGLE_W,
            F.sequence(F.lit(1), F.size(w) - (KMV_SHINGLE_W - 1)),
        ).otherwise(F.array().cast("array<int>"))
        return (
            docs.filter(F.col("source") == src)
            .select(F.split("text", " ").alias("w"))
            .select(
                F.explode(
                    F.transform(
                        idx,
                        lambda i: F.array_join(F.slice(w, i, KMV_SHINGLE_W), " "),
                    )
                ).alias("shingle")
            )
            .select(md5_lane("shingle", "", 1, 15).alias("h"))
            .distinct()
        )

    # No cache: each reuse below re-derives a one-scan/one-exchange plan;
    # a production deployment materializes the K-ROW SKETCHES (not the
    # full hash sets) and merges them downstream.
    wa = shingle_hashes(KMV_SRC_A)
    wb = shingle_hashes(KMV_SRC_B)
    ka = wa.orderBy("h").limit(KMV_K)
    kb = wb.orderBy("h").limit(KMV_K)
    ku = wa.union(wb).distinct().orderBy("h").limit(KMV_K)

    def est(kmin: DataFrame, name: str) -> DataFrame:
        return kmin.agg(
            F.floor(
                F.lit(float(KMV_K - 1))
                * F.lit(float(KMV_M))
                / F.max("h").cast("double")
            )
            .cast("long")
            .alias(name)
        )

    matches = (
        ku.join(wa, "h", "left_semi")
        .join(wb, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("matches"))
    )
    truths = (
        wa.agg(F.count(F.lit(1)).alias("true_a"))
        .crossJoin(wb.agg(F.count(F.lit(1)).alias("true_b")))
        .crossJoin(
            wa.join(wb, "h", "left_semi").agg(F.count(F.lit(1)).alias("true_inter"))
        )
    )
    row = (
        est(ka, "est_a")
        .crossJoin(est(kb, "est_b"))
        .crossJoin(est(ku, "est_union"))
        .crossJoin(matches)
        .crossJoin(truths)
    )
    return row.select(
        F.lit(KMV_K).alias("k"),
        "true_a",
        "est_a",
        "true_b",
        "est_b",
        "true_inter",
        F.expr(f"matches * est_union DIV {KMV_K}").alias("est_inter"),
        (F.abs(F.col("est_a") - F.col("true_a")) * 2 <= F.col("true_a")).alias(
            "bound_a_ok"
        ),
        (F.abs(F.col("est_b") - F.col("true_b")) * 2 <= F.col("true_b")).alias(
            "bound_b_ok"
        ),
    )


# --- Exact distributed moments ----------------------------------------------
MOMENT_UNIT = 1_000_000  # micro-units: value quantized once, moments exact


@register(
    "agg_exact_moments",
    oracle=f"""
    WITH q AS (
        SELECT event_type,
               CAST(FLOOR(value * {MOMENT_UNIT} + 0.5) AS BIGINT) AS x
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sum_micro,
           CAST(CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
               - CAST(SUM(x) AS HUGEINT) * SUM(x) AS VARCHAR) AS var_numer,
           CAST((CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * x)
                 - CAST(SUM(x) AS HUGEINT) * SUM(x))
                // (CAST(COUNT(*) AS HUGEINT) * COUNT(*)) AS BIGINT)
               AS var_micro2
    FROM q GROUP BY event_type
    """,
    tags=("agg", "profile"),
)
def agg_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed moments — mean and variance with NO float
    accumulation drift: naive Σ(x-μ)² needs two passes, float Σx/Σx² is
    catastrophically cancellation-prone, and Welford's streaming update
    is ORDER-dependent (different partitionings give different low
    bits). The parallel-safe exact form quantizes once to integer
    micro-units, then keeps (n, Σx, Σx²) in int64/decimal(38) — all
    map-side combinable, order-independent, and mergeable across
    partitions/shards/days (Chan et al.'s pairwise update degenerates to
    plain sums on integers). Population variance arrives as the exact
    integer numerator n·Σx² − (Σx)² plus its floor-divided micro²
    value, so the hash row certifies every bit. var_numer exceeds int64
    range, so it ships as the engine-stable int128 STRING form (the
    6e10792 convention — Spark decimal(38,0) and DuckDB HUGEINT render
    the same digits; the raw types hash differently in the driver).

    Headroom: |x| ≤ ~10⁹ micro ⇒ Σx² ≤ 10²³ per group at sf0.1 —
    decimal(38) holds to ~10¹⁵ rows per group; beyond that, shard the
    sums (they merge by addition). One scan, one map-combined exchange
    on the 5 types."""
    x = F.floor(F.col("value") * MOMENT_UNIT + F.lit(0.5)).cast("long")
    q = table(spark, sf_dir, "events").select("event_type", x.alias("x"))
    d38 = "decimal(38,0)"
    agg = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sum_micro"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sum_sq"),
    )
    var_numer = (
        F.col("n").cast(d38) * F.col("sum_sq")
        - F.col("sum_micro").cast(d38) * F.col("sum_micro")
    )
    return agg.select(
        "event_type",
        "n",
        "sum_micro",
        var_numer.cast("string").alias("var_numer"),
        F.expr(
            "CAST((CAST(n AS decimal(38,0)) * sum_sq"
            " - CAST(sum_micro AS decimal(38,0)) * sum_micro)"
            " DIV (CAST(n AS decimal(38,0)) * n) AS BIGINT)"
        ).alias("var_micro2"),
    )


@register(
    "agg_gini_concentration",
    oracle=f"""
    WITH per AS (
        SELECT l_suppkey,
               CAST(FLOOR(SUM({sdec('l_extendedprice')} * (1 - {sdec('l_discount')}))
                          * 100) AS BIGINT) AS cents
        FROM lineitem GROUP BY l_suppkey
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, l_suppkey) AS i,
               COUNT(*) OVER () AS n
        FROM per
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_suppliers,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST((1000 * SUM((2 * i - n - 1) * CAST(cents AS HUGEINT)))
                // (CAST(MAX(n) AS HUGEINT) * SUM(cents)) AS BIGINT)
               AS gini_permille
    FROM ranked
    """,
    tags=("agg", "profile"),
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of supplier revenue concentration — the standard
    inequality/concentration metric (market concentration audits, and in
    corpus curation the same formula reports how skewed token mass is
    across sources). Computed exactly: per-supplier revenue reduces to
    integer cents via the exact decimal sum (FLOOR pinned identically in
    both engines), then G = Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx) over the ascending
    rank — one integer expression, emitted as exact permille with the
    numerator widened to int128/decimal.

    Scale shape: the heavy work is the map-combined per-supplier
    aggregation (|suppliers| ≪ |lineitem|); the global rank then runs
    on the AGGREGATED table — a single-partition window over n_supplier
    rows, the same small-profile trade agg_equidepth_histogram
    documents (sketch-based cut points replace the exact rank when even
    the group table is too wide)."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey").agg(
        F.floor(
            F.sum(dec(li.l_extendedprice) * (F.lit(1) - dec(li.l_discount))) * 100
        )
        .cast("long")
        .alias("cents")
    )
    ranked = per.select(
        "cents",
        F.row_number().over(W.orderBy("cents", "l_suppkey")).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    d38 = "decimal(38,0)"
    return ranked.agg(
        F.max("n").cast("long").alias("n_suppliers"),
        F.sum("cents").alias("total_cents"),
        F.expr(
            "CAST((1000 * SUM((2 * i - n - 1) * CAST(cents AS decimal(38,0))))"
            " DIV (CAST(MAX(n) AS decimal(38,0)) * SUM(cents)) AS BIGINT)"
        ).alias("gini_permille"),
    )


@register(
    "agg_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ),
    t AS (
        SELECT prev AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev IS NOT NULL
        GROUP BY prev, event_type
    ),
    r AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n FROM t GROUP BY from_type)
    SELECT t.from_type, t.to_type, t.n,
           (1000 * t.n) // r.row_n AS p_permille
    FROM t JOIN r USING (from_type)
    """,
    tags=("agg", "sequence"),
)
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order MARKOV transition matrix over per-user event
    sequences — the behavioral model behind next-event prediction,
    anomaly scoring (improbable transitions), and session simulation:
    P(next = b | current = a) estimated as exact integer permille from
    lag pairs. Distinct from agg_event_cooccurrence (unordered same-hour
    pairs): transitions are ORDERED and sequence-adjacent, so the (ts,
    event_id) total order inside each user partition is load-bearing.

    One user-keyed window pass builds the lag pairs, then two
    map-combined aggregations over the 5×5 type space — output is
    |types|², independent of corpus size; the row-normalization join
    moves 5 rows."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    t = seq.groupBy(
        F.col("prev").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    r = t.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return t.join(F.broadcast(r), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.expr("1000 * n DIV row_n").alias("p_permille"),
    )


@register(
    "agg_linear_trend",
    oracle=f"""
    WITH m0 AS (SELECT MIN(ts) AS t0 FROM events),
    q AS (
        SELECT event_type,
               CAST(date_diff('second', m0.t0, ts) AS BIGINT) AS x,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
        FROM events, m0
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM q GROUP BY event_type
    )
    SELECT event_type, n, sx, sy,
           CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS slope_num,
           CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS slope_den,
           CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
           / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
               AS slope_cents_per_sec
    FROM s
    """,
    tags=("agg", "profile", "timeseries"),
)
def agg_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares TREND fit per event type — "is spend
    drifting up?" as a single distributed pass: slope = (nΣxy − ΣxΣy) /
    (nΣx² − (Σx)²) over (seconds-since-corpus-start, integer cents).
    The agg_exact_moments design extended to the cross-moment: all five
    sufficient statistics are exact int64/int128 sums — map-side
    combinable, order-independent, mergeable across shards — and the
    hash row carries the exact integer numerator AND denominator, so
    the regression itself (not a float approximation of it) is
    certified; the double slope is one IEEE division.

    Headroom: x ≤ ~10⁷ s, y ≤ ~10⁹ cents ⇒ Σxy ≤ 10²¹ per group at
    sf0.1 — int128/decimal(38) holds to ~10¹⁷ rows. One scan, one
    5-group exchange; the x-offset (MIN(ts)) is a broadcast scalar
    that keeps the moments small (epoch-absolute x would waste 30 bits
    of headroom on a constant)."""
    ev = table(spark, sf_dir, "events")
    t0 = F.broadcast(ev.agg(F.min("ts").alias("t0")))
    q = ev.crossJoin(t0).select(
        "event_type",
        (F.unix_timestamp("ts") - F.unix_timestamp("t0")).alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    d38 = "decimal(38,0)"
    s = q.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
    )
    num = F.col("n").cast(d38) * F.col("sxy") - F.col("sx").cast(d38) * F.col("sy")
    den = F.col("n").cast(d38) * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx")
    # Exact int128 numerator/denominator exported as strings: decimal
    # value-hash rendering differs across engines (the embed_pca_power
    # lesson), and the integers here exceed int64.
    return s.select(
        "event_type",
        "n",
        "sx",
        "sy",
        num.cast("string").alias("slope_num"),
        den.cast("string").alias("slope_den"),
        (num.cast("double") / den.cast("double")).alias("slope_cents_per_sec"),
    )


# --- exact two-sample Kolmogorov-Smirnov drift statistic --------------------
KS_SIDE_A = "click"
KS_SIDE_B = "purchase"


@register(
    "agg_ks_drift",
    oracle=f"""
    WITH f AS (
        SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN event_type = '{KS_SIDE_A}' THEN 1 ELSE 0 END AS ia,
               CASE WHEN event_type = '{KS_SIDE_B}' THEN 1 ELSE 0 END AS ib
        FROM events WHERE event_type IN ('{KS_SIDE_A}', '{KS_SIDE_B}')
    ),
    per AS (
        SELECT cents, CAST(SUM(ia) AS BIGINT) AS a, CAST(SUM(ib) AS BIGINT) AS b
        FROM f GROUP BY cents
    ),
    cum AS (
        SELECT cents,
               SUM(a) OVER (ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
               SUM(b) OVER (ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        FROM per
    ),
    tot AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM per)
    SELECT CAST(ABS(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)
                AS VARCHAR) AS ks_num,
           CAST(CAST(na AS HUGEINT) * nb AS VARCHAR) AS ks_denom,
           cents AS at_cents
    FROM cum, tot
    ORDER BY ABS(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na) DESC, cents
    LIMIT 1
    """,
    tags=("agg", "profile", "stats"),
)
def agg_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between two event
    populations' value distributions ('{KS_SIDE_A}' vs '{KS_SIDE_B}') —
    the drift check a corpus pipeline runs between snapshots or sources
    before mixing them: D = max |F₁(x) − F₂(x)| over the pooled sample
    points. Everything is exact integers: values quantize to cents
    (the engine's pinned floor(x·100+0.5)), ECDF differences are
    cross-multiplied onto the common denominator n₁·n₂ in
    int128/decimal(38) — no float ECDFs, no engine drift — and the hash
    row carries the exact numerator, denominator, and the cents value
    attaining D (smallest such point as the tie-break). D itself is
    ks_num/ks_denom to any precision the caller wants.

    Scale shape (the gini/equidepth small-profile trade, documented
    there): the heavy input collapses FIRST through a map-combined
    per-cents aggregation — the global cumulative window then runs on
    the value-level table (distinct cents, ~10⁴ at sf0.1), never the
    event table; at true 100 TB the same plan holds because the window
    input is bounded by the value domain, not the row count. Headroom:
    cum·n ≤ n₁·n₂ ⇒ decimal(38) holds past 10¹⁸ rows per side."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(KS_SIDE_A, KS_SIDE_B)
    )
    per = (
        ev.select(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
            F.when(F.col("event_type") == KS_SIDE_A, 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == KS_SIDE_B, 1).otherwise(0).alias("ib"),
        )
        .groupBy("cents")
        .agg(F.sum("ia").alias("a"), F.sum("ib").alias("b"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = per.select(
        "cents", F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
    )
    tot = F.broadcast(per.agg(F.sum("a").alias("na"), F.sum("b").alias("nb")))
    d38 = "decimal(38,0)"
    diff = F.abs(
        F.col("ca").cast(d38) * F.col("nb") - F.col("cb").cast(d38) * F.col("na")
    )
    return (
        cum.crossJoin(tot)
        .select(
            diff.alias("diff"),
            (F.col("na").cast(d38) * F.col("nb")).alias("denom"),
            "cents",
        )
        .orderBy(F.desc("diff"), F.asc("cents"))
        .limit(1)
        .select(
            F.col("diff").cast("string").alias("ks_num"),
            F.col("denom").cast("string").alias("ks_denom"),
            F.col("cents").alias("at_cents"),
        )
    )


@register(
    "agg_chi2_drift",
    oracle="""
    WITH b AS (
        SELECT event_type,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) <
                    (SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT)
                            + (CAST(floor(epoch(MAX(ts))) AS BIGINT)
                               - CAST(floor(epoch(MIN(ts))) AS BIGINT)) // 2
                     FROM events)
                    THEN 1 ELSE 0 END AS ia
        FROM events
    ),
    per AS (
        SELECT event_type,
               CAST(SUM(ia) AS BIGINT) AS o_a,
               CAST(SUM(1 - ia) AS BIGINT) AS o_b
        FROM b GROUP BY event_type
    ),
    tot AS (SELECT SUM(o_a) AS na, SUM(o_b) AS nb FROM per)
    SELECT event_type, o_a, o_b,
           CAST(ABS(CAST(o_a AS HUGEINT) * nb - CAST(o_b AS HUGEINT) * na)
                AS VARCHAR) AS chi2_absdiff,
           CAST((CAST(o_a AS HUGEINT) + o_b) * na * nb AS VARCHAR) AS chi2_den
    FROM per, tot
    """,
    tags=("agg", "profile", "stats"),
)
def agg_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT chi-square homogeneity contributions between the event-type
    MIXES of the first and second half of the time range — the
    categorical companion to ``agg_ks_drift`` (which compares continuous
    VALUE distributions): "did the composition of traffic drift between
    the window's halves?" Per category c, the two-sample chi-square
    contribution is (o_a*n_b - o_b*n_a)^2 / (n_a*n_b*(o_a+o_b)); the
    statistic is the sum of absdiff^2/den over categories, computable to
    any precision by the consumer. ``chi2_absdiff`` carries the UNSQUARED
    |o_a*n_b - o_b*n_a| (<= n_a*n_b < 8.5e37 — exact in decimal(38,0)
    and HUGEINT for ALL int64 counts; the square would NULL silently past
    |diff| >= 1e19 under non-ANSI decimal narrowing) and ``chi2_den`` the
    exact denominator, both rendered to strings (the engine-stable form
    6e10792 established for int128 outputs) so the hash row certifies the
    test statistic itself, not a float echo.

    Plan: the midpoint is one broadcastable min/max scalar (ONE extra
    1-column scan); the heavy input collapses FIRST through a
    map-combined per-category count (categories ~ tens, never
    row-scale), and the totals ride an unpartitioned window over that
    tiny table — the gini/equidepth small-profile trade — instead of a
    derived-aggregate crossJoin, which would RESCAN the event table to
    rebuild the per-category branch. Headroom: |o*n| <= n^2 =>
    decimal(38) exact past 10^9 rows per side; beyond that the same
    plan emits the already-strings via the CMS-style split-word
    arithmetic."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    epoch = F.floor(F.unix_timestamp("ts")).cast("long")
    bounds = F.broadcast(
        ev.agg(
            F.floor(F.unix_timestamp(F.min("ts"))).cast("long").alias("e0"),
            F.floor(F.unix_timestamp(F.max("ts"))).cast("long").alias("e1"),
        )
    )
    b = ev.select("event_type", epoch.alias("e")).crossJoin(bounds)
    mid = F.col("e0") + F.floor((F.col("e1") - F.col("e0")) / 2).cast("long")
    per = (
        b.select(
            "event_type",
            F.when(F.col("e") < mid, 1).otherwise(0).alias("ia"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("ia").alias("o_a"),
            F.sum(1 - F.col("ia")).alias("o_b"),
        )
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    with_tot = per.select(
        "event_type",
        "o_a",
        "o_b",
        F.sum("o_a").over(wall).alias("na"),
        F.sum("o_b").over(wall).alias("nb"),
    )
    d38 = "decimal(38,0)"
    d = F.col("o_a").cast(d38) * F.col("nb") - F.col("o_b").cast(d38) * F.col("na")
    return with_tot.select(
        "event_type",
        "o_a",
        "o_b",
        F.abs(d).cast("string").alias("chi2_absdiff"),
        ((F.col("o_a").cast(d38) + F.col("o_b")) * F.col("na") * F.col("nb"))
        .cast("string")
        .alias("chi2_den"),
    )


# --- KMV shard-merge associativity contract ----------------------------------
KMV_MERGE_K = 256


@register(
    "agg_kmv_shard_merge",
    oracle=f"""
    WITH hs AS (
        SELECT DISTINCT {md5_lane_sql("l_orderkey", "", 1, 15)} AS h,
               l_orderkey % 2 AS shard
        FROM lineitem
    ),
    whole AS (SELECT h FROM hs ORDER BY h LIMIT {KMV_MERGE_K}),
    se AS (SELECT h FROM hs WHERE shard = 0 ORDER BY h LIMIT {KMV_MERGE_K}),
    so AS (SELECT h FROM hs WHERE shard = 1 ORDER BY h LIMIT {KMV_MERGE_K}),
    merged AS (
        SELECT h FROM (SELECT h FROM se UNION SELECT h FROM so)
        ORDER BY h LIMIT {KMV_MERGE_K}
    ),
    est AS (
        SELECT
            (SELECT CAST(FLOOR(({KMV_MERGE_K} - 1) * CAST({KMV_M} AS DOUBLE)
                 / CAST(MAX(h) AS DOUBLE)) AS BIGINT) FROM se)    AS est_even,
            (SELECT CAST(FLOOR(({KMV_MERGE_K} - 1) * CAST({KMV_M} AS DOUBLE)
                 / CAST(MAX(h) AS DOUBLE)) AS BIGINT) FROM so)    AS est_odd,
            (SELECT CAST(FLOOR(({KMV_MERGE_K} - 1) * CAST({KMV_M} AS DOUBLE)
                 / CAST(MAX(h) AS DOUBLE)) AS BIGINT) FROM whole) AS est_whole,
            (SELECT CAST(FLOOR(({KMV_MERGE_K} - 1) * CAST({KMV_M} AS DOUBLE)
                 / CAST(MAX(h) AS DOUBLE)) AS BIGINT) FROM merged) AS est_merged,
            (SELECT md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY h)) FROM whole)
                AS dig_whole,
            (SELECT md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY h)) FROM merged)
                AS dig_merged
    )
    SELECT {KMV_MERGE_K} AS k, est_even, est_odd, est_whole, est_merged,
           dig_whole = dig_merged AS merge_exact
    FROM est
    """,
    tags=("agg", "sketch", "approx"),
)
def agg_kmv_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SHARD-MERGE associativity CONTRACT — the property that makes
    sketch-based distinct counting deployable at 1000-executor scale:
    k-min(k-min(A) ∪ k-min(B)) == k-min(A ∪ B), i.e. per-shard sketches
    merged later are BYTE-IDENTICAL to the sketch of the whole (no decay,
    no merge-order dependence). lineitem's order keys split into two
    shards by parity; the query computes all three sketches and certifies
    equality by md5-digesting each sketch's ascending hash list — a
    driver-hashable bool, not an eyeballed estimate. Per-day / per-shard
    / per-executor sketches composing losslessly is exactly the
    aggregation contract a 100 TB ingest pipeline relies on (sketch once
    at write time, merge at read time).

    Plan: ONE distinct-hash reduction over the fact table (map-combined),
    then three TakeOrderedAndProject k-mins — never a global sort — and
    the digest/estimate arithmetic runs on <= 3k broadcast-sized rows.
    Estimates use the unbiased (k-1)·M/kth-min form shared with
    agg_kmv_distinct_intersection; hashes are the same 60-bit md5 lanes
    so the DuckDB oracle replays every bit."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    hs = (
        li.distinct()
        .select(
            md5_lane("l_orderkey", "", 1, 15).alias("h"),
            (F.col("l_orderkey") % 2).alias("shard"),
        )
    )
    whole = hs.select("h").orderBy("h").limit(KMV_MERGE_K)
    se = hs.filter(F.col("shard") == 0).select("h").orderBy("h").limit(KMV_MERGE_K)
    so = hs.filter(F.col("shard") == 1).select("h").orderBy("h").limit(KMV_MERGE_K)
    merged = se.union(so).distinct().orderBy("h").limit(KMV_MERGE_K)

    def est(kmin: DataFrame, name: str) -> DataFrame:
        return kmin.agg(
            F.floor(
                F.lit(float(KMV_MERGE_K - 1))
                * F.lit(float(KMV_M))
                / F.max("h").cast("double")
            )
            .cast("long")
            .alias(name)
        )

    def digest(kmin: DataFrame, name: str) -> DataFrame:
        ordered = F.sort_array(F.collect_list("h"))
        return kmin.agg(
            F.md5(
                F.array_join(F.transform(ordered, lambda x: x.cast("string")), ",")
            ).alias(name)
        )

    row = (
        est(se, "est_even")
        .crossJoin(est(so, "est_odd"))
        .crossJoin(est(whole, "est_whole"))
        .crossJoin(est(merged, "est_merged"))
        .crossJoin(digest(whole, "dig_whole"))
        .crossJoin(digest(merged, "dig_merged"))
    )
    return row.select(
        F.lit(KMV_MERGE_K).alias("k"),
        "est_even",
        "est_odd",
        "est_whole",
        "est_merged",
        (F.col("dig_whole") == F.col("dig_merged")).alias("merge_exact"),
    )


@register(
    "agg_autocorr_lag1",
    oracle="""
    WITH q AS (
        SELECT event_type, ts, event_id,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
        FROM events
    ),
    pairs AS (
        SELECT event_type,
               lag(y) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS x,
               y
        FROM q
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM pairs WHERE x IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n_pairs,
           CAST(n_pairs * sxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS phi_num,
           CAST(n_pairs * sxx - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS phi_den,
           CAST(n_pairs * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
           / CAST(n_pairs * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
               AS ar1_coeff
    FROM s
    """,
    tags=("agg", "profile", "timeseries"),
)
def agg_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-1 AUTOCORRELATION (the AR(1) coefficient) of each event type's
    value series in time order — the standard "is this metric
    mean-reverting, random, or trending?" diagnostic, and the companion
    to agg_linear_trend (drift) / win_rolling_zscore_outliers (shocks).
    Consecutive (yₜ₋₁, yₜ) pairs come from one lag window ordered by
    (ts, event_id) — the explicit unique tie-break keeping pairing
    identical in both engines — then φ = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²)
    is assembled from exact integer moment sums: cents-quantized values,
    int128 numerator/denominator shipped in the engine-stable STRING
    form (the 6e10792 convention), and the one double division is
    correctly rounded from exact operands.

    Scale shape: the window is one exchange on event_type bounded by the
    same per-partition sort every windowed query pays; the moment sums
    are map-combined after the lag projection. Per-day shards merge by
    adding the five sums — the same mergeability contract as
    agg_exact_moments (only the boundary pair between shards needs a
    one-row stitch, the standard sessionization-merge trick)."""
    from pyspark.sql import Window as W

    q = table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    pairs = q.select(
        "event_type", F.lag("y").over(w).alias("x"), "y"
    ).filter(F.col("x").isNotNull())
    d38 = "decimal(38,0)"
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
    )
    num = F.col("n_pairs").cast(d38) * F.col("sxy") - F.col("sx").cast(d38) * F.col("sy")
    den = F.col("n_pairs").cast(d38) * F.col("sxx") - F.col("sx").cast(d38) * F.col("sx")
    return s.select(
        "event_type",
        "n_pairs",
        num.cast("string").alias("phi_num"),
        den.cast("string").alias("phi_den"),
        (num.cast("double") / den.cast("double")).alias("ar1_coeff"),
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH q AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(round(l_quantity) AS BIGINT) AS w
        FROM lineitem
    ),
    cum AS (
        SELECT flag, cents, w,
               SUM(w) OVER (PARTITION BY flag ORDER BY cents
                            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               SUM(w) OVER (PARTITION BY flag) AS tw
        FROM q
    )
    SELECT flag, CAST(MIN(tw) AS BIGINT) AS total_weight,
           CAST(MIN(cents) AS BIGINT) AS wmedian_cents
    FROM cum WHERE 2 * cw >= tw GROUP BY flag
    """,
    tags=("agg", "quantile", "exact"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT WEIGHTED MEDIAN per group — the quantity-weighted price
    median (smallest x with cumweight(≤x) ≥ W/2), the statistic behind
    token-weighted document-quality cuts and spend-weighted SLAs, where
    the unweighted median (agg_exact_median) answers the wrong question.

    Exactness discipline: prices quantize once to integer cents, weights
    to integer units, and the cumulative weight rides a RANGE frame
    (not ROWS) keyed on the VALUE — all rows of a tied value share one
    cumulative weight, so the selected value is a pure function of the
    value multiset, partitioning-blind with no tie-break rules at all.
    Both windows (running range-sum, group total) share ONE exchange on
    the group key; the threshold row collapses via min-filter — no
    second shuffle, no global sort, no collect.

    At 100 TB the per-group window width is the group's row count; for
    heavy groups the same statistic composes from the equi-depth
    histogram operator's buckets (agg_equidepth_histogram) — this
    operator is the exact form those sketches are validated against."""
    li = table(spark, sf_dir, "lineitem")
    q = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round("l_quantity").cast("long").alias("w"),
    )
    wrange = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("flag")
    cum = q.select(
        "flag",
        "cents",
        F.sum("w").over(wrange).alias("cw"),
        F.sum("w").over(wall).alias("tw"),
    )
    return (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("tw").cast("long").alias("total_weight"),
            F.min("cents").cast("long").alias("wmedian_cents"),
        )
    )


# --- HDR (log-bucketed) latency histogram ------------------------------------
HDR_SUBS = 4  # sub-buckets per power of two (2 mantissa bits)


def _sql_hdr_bucket(v: str) -> tuple[str, str, str]:
    """(e, sub, lower-bound) exprs for the HDR bucket of integer v >= 1."""
    e = f"(length(bin({v})) - 1)"
    sub = f"(({HDR_SUBS} * ({v} - (CAST(1 AS BIGINT) << {e}))) >> {e})"
    lb = f"(((CAST(1 AS BIGINT) << {e}) * ({HDR_SUBS} + {sub})) // {HDR_SUBS})"
    return e, sub, lb


@register(
    "agg_hdr_histogram",
    oracle=f"""
    WITH vals AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) + 1 AS v
        FROM events
        WHERE CAST(round(value * 100) AS BIGINT) + 1 >= 1
    ),
    bucketed AS (
        SELECT event_type,
               {_sql_hdr_bucket("v")[0]} AS e, {_sql_hdr_bucket("v")[1]} AS sub
        FROM vals
    ),
    hist AS (
        SELECT event_type, e, sub, CAST(COUNT(*) AS BIGINT) AS n
        FROM bucketed GROUP BY 1, 2, 3
    ),
    cum AS (
        SELECT event_type, e, sub, n,
               SUM(n) OVER (PARTITION BY event_type ORDER BY e, sub
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               SUM(n) OVER (PARTITION BY event_type) AS tot
        FROM hist
    ),
    q AS (
        SELECT event_type, tot,
               MIN(CASE WHEN 100 * cw >= 50 * tot
                        THEN ((CAST(1 AS BIGINT) << e) * ({HDR_SUBS} + sub)) // {HDR_SUBS}
                   END) AS p50_lb,
               MIN(CASE WHEN 100 * cw >= 95 * tot
                        THEN ((CAST(1 AS BIGINT) << e) * ({HDR_SUBS} + sub)) // {HDR_SUBS}
                   END) AS p95_lb,
               MIN(CASE WHEN 100 * cw >= 99 * tot
                        THEN ((CAST(1 AS BIGINT) << e) * ({HDR_SUBS} + sub)) // {HDR_SUBS}
                   END) AS p99_lb,
               CAST(COUNT(*) AS BIGINT) AS n_buckets
        FROM cum GROUP BY event_type, tot
    )
    SELECT event_type, CAST(tot AS BIGINT) AS n,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(p50_lb AS BIGINT) AS p50_lb,
           CAST(p95_lb AS BIGINT) AS p95_lb,
           CAST(p99_lb AS BIGINT) AS p99_lb
    FROM q
    """,
    tags=("agg", "histogram", "sketch", "dq"),
)
def agg_hdr_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-HISTOGRAM aggregation — the log-bucketed value-distribution
    sketch fleet latency/spend tooling actually stores (hdrhistogram.org
    semantics): bucket = (power-of-two exponent, {HDR_SUBS} linear
    sub-buckets within it), giving bounded relative error at every
    magnitude with O(log(max)·{HDR_SUBS}) buckets, mergeable by simple
    count addition across shards/days — the property percentile arrays
    lack. p50/p95/p99 are then reconstructed from bucket lower bounds.

    Exactness discipline: the exponent comes from the BINARY STRING
    length (length(bin(v))−1) — a bit-length, not floor(log2(double))
    whose last-ulp behavior near powers of two differs between engines;
    sub-bucket and lower bound are pure int64 shifts and divs. Every
    reported number (counts, bucket ids, quantile lower bounds) is an
    exact integer, hash-identical at any partitioning.

    Scale: one scan → map-side (type, e, sub) count (few hundred groups,
    fully map-combinable); quantile reconstruction runs on the BUCKET
    table (O(types·buckets) rows), never re-touching the data — the same
    two-window-one-exchange shape as agg_weighted_median but over the
    sketch, which is why this is the 100 TB path where exact medians are
    not."""
    ev = table(spark, sf_dir, "events")
    v = (F.round(F.col("value") * 100).cast("long") + 1).alias("v")
    vals = ev.select("event_type", v).filter(F.col("v") >= 1)
    e = (F.length(F.bin("v")) - 1).cast("long")
    bucketed = vals.select(
        "event_type",
        e.alias("e"),
        F.expr(
            f"shiftright({HDR_SUBS} * (v - shiftleft(CAST(1 AS BIGINT),"
            f" length(bin(v)) - 1)), length(bin(v)) - 1)"
        ).cast("long").alias("sub"),
    )
    hist = bucketed.groupBy("event_type", "e", "sub").agg(
        F.count(F.lit(1)).alias("n")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("e", "sub")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    lb = F.expr(
        f"(shiftleft(CAST(1 AS BIGINT), CAST(e AS INT)) * ({HDR_SUBS} + sub))"
        f" div {HDR_SUBS}"
    )
    cum = hist.select(
        "event_type",
        "e",
        "sub",
        "n",
        F.sum("n").over(wcum).alias("cw"),
        F.sum("n").over(wall).alias("tot"),
        lb.alias("lb"),
    )
    pick = lambda pct: F.min(  # noqa: E731
        F.when(100 * F.col("cw") >= pct * F.col("tot"), F.col("lb"))
    ).cast("long")
    return cum.groupBy("event_type", "tot").agg(
        pick(50).alias("p50_lb"),
        pick(95).alias("p95_lb"),
        pick(99).alias("p99_lb"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    ).select(
        "event_type",
        F.col("tot").cast("long").alias("n"),
        "n_buckets",
        "p50_lb",
        "p95_lb",
        "p99_lb",
    )


# --- Welch's t drift statistic -----------------------------------------------


@register(
    "agg_welch_t_drift",
    oracle="""
    WITH split AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS x,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) <
                    (SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT)
                            + (CAST(floor(epoch(MAX(ts))) AS BIGINT)
                               - CAST(floor(epoch(MIN(ts))) AS BIGINT)) // 2
                     FROM events)
                    THEN 1 ELSE 0 END AS ia
        FROM events
    ),
    sums AS (
        SELECT
            CAST(SUM(ia) AS BIGINT) AS n1,
            CAST(SUM(1 - ia) AS BIGINT) AS n2,
            CAST(SUM(ia * x) AS BIGINT) AS s1,
            CAST(SUM((1 - ia) * x) AS BIGINT) AS s2,
            SUM(CAST(ia AS HUGEINT) * x * x) AS q1,
            SUM(CAST(1 - ia AS HUGEINT) * x * x) AS q2
        FROM split
    ),
    pieces AS (
        SELECT n1, n2, s1, s2,
               CAST(s1 AS HUGEINT) * n2 - CAST(s2 AS HUGEINT) * n1 AS dnum,
               CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1 AS v1num,
               CAST(n1 AS HUGEINT) * n1 * (n1 - 1) AS v1den,
               CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2 AS v2num,
               CAST(n2 AS HUGEINT) * n2 * (n2 - 1) AS v2den
        FROM sums
    )
    SELECT n1, n2,
           CAST(dnum AS VARCHAR) AS delta_num,
           CAST(CAST(n1 AS HUGEINT) * n2 AS VARCHAR) AS delta_den,
           CAST(v1num AS VARCHAR) AS var1_num,
           CAST(v1den AS VARCHAR) AS var1_den,
           CAST(v2num AS VARCHAR) AS var2_num,
           CAST(v2den AS VARCHAR) AS var2_den,
           (CAST(CAST(dnum AS VARCHAR) AS DOUBLE)
            / CAST(CAST(CAST(n1 AS HUGEINT) * n2 AS VARCHAR) AS DOUBLE))
           * (CAST(CAST(dnum AS VARCHAR) AS DOUBLE)
              / CAST(CAST(CAST(n1 AS HUGEINT) * n2 AS VARCHAR) AS DOUBLE))
           / (CAST(CAST(v1num AS VARCHAR) AS DOUBLE)
              / CAST(CAST(v1den AS VARCHAR) AS DOUBLE)
              + CAST(CAST(v2num AS VARCHAR) AS DOUBLE)
                / CAST(CAST(v2den AS VARCHAR) AS DOUBLE)) AS t2
    FROM pieces
    """,
    tags=("agg", "drift", "stats"),
)
def agg_welch_t_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S T² DRIFT STATISTIC — the mean-shift member of the drift
    family (agg_ks_drift detects distribution-shape drift, agg_chi2_drift
    categorical drift; this one answers "did the MEAN move, allowing
    unequal variances?" — the unequal-variance form matters because a
    drifting pipeline usually moves mean and variance together, where
    pooled-variance Student's t silently miscalibrates). The two samples
    are the early/late halves of event time split at the min/max
    midpoint — the same broadcastable-scalar split discipline as
    agg_chi2_drift, no wall clock.

    Exactness discipline (the agg_exact_moments convention): values
    quantize once to integer cents; each half keeps (n, Σx, Σx²) in
    int64/decimal(38) — map-combinable, order-independent. The statistic
    then ships as EXACT INT128 RATIONAL PIECES rendered as strings —
    Δ = delta_num/delta_den (mean difference) and the two variance terms
    s₁²/n₁ = var1_num/var1_den, s₂²/n₂ = var2_num/var2_den EACH as their own
    pair (named var*_, never the combined-rational se2_num/se2_den, so a
    consumer of the combined form fails on a missing column instead of
    misreading; denominators n_i²(n_i−1), ~n⁴; a COMMON denominator would be
    ~n⁶ and overflow decimal(38)/HUGEINT past ~2M rows per half — the
    split form holds to ~10¹² rows per half at cent quantization) — so
    the hash row certifies every bit of the inference inputs; the
    headline t² double is derived from those exact pieces with the same
    fixed IEEE op sequence in both engines through the string bridge
    (raw decimal(38)→double casts differ by 1 ulp, strings do not).

    Scale: one scan, one 1-row min/max broadcast, one map-combined
    global aggregate — the sums merge by addition across shards/days, so
    the monitor runs incrementally at 100 TB."""
    ev = table(spark, sf_dir, "events")
    mid = F.broadcast(
        ev.agg(
            (
                F.floor(F.unix_timestamp(F.min("ts")))
                + F.expr(
                    "(CAST(floor(unix_timestamp(MAX(ts))) AS BIGINT)"
                    " - CAST(floor(unix_timestamp(MIN(ts))) AS BIGINT)) div 2"
                )
            ).cast("long").alias("mid")
        )
    )
    x = F.round(F.col("value") * 100).cast("long")
    split = ev.crossJoin(mid).select(
        x.alias("x"),
        F.when(
            F.floor(F.unix_timestamp("ts")).cast("long") < F.col("mid"), 1
        ).otherwise(0).alias("ia"),
    )
    d38 = "decimal(38,0)"
    sums = split.agg(
        F.sum("ia").cast("long").alias("n1"),
        F.sum(1 - F.col("ia")).cast("long").alias("n2"),
        F.sum(F.col("ia") * F.col("x")).cast("long").alias("s1"),
        F.sum((1 - F.col("ia")) * F.col("x")).cast("long").alias("s2"),
        F.sum(F.col("ia").cast(d38) * F.col("x") * F.col("x")).alias("q1"),
        F.sum((1 - F.col("ia")).cast(d38) * F.col("x") * F.col("x")).alias("q2"),
    )
    c = lambda col: F.col(col).cast(d38)  # noqa: E731
    dnum = c("s1") * F.col("n2") - c("s2") * F.col("n1")
    # s_i²/n_i ships as its OWN rational pair (num_i = n_i·q_i − s_i²,
    # den_i = n_i²(n_i−1), each ~n⁴) instead of over the common
    # denominator n₁²(n₁−1)·n₂²(n₂−1) (~n⁶), which overflows decimal(38)
    # once either half passes ~2M rows — the split form
    # holds to ~10¹² rows per half at cent quantization.
    pieces = sums.select(
        "n1",
        "n2",
        dnum.cast("string").alias("delta_num"),
        (c("n1") * F.col("n2")).cast("string").alias("delta_den"),
        (c("n1") * F.col("q1") - c("s1") * F.col("s1"))
        .cast("string").alias("var1_num"),
        (c("n1") * F.col("n1") * (F.col("n1") - 1))
        .cast("string").alias("var1_den"),
        (c("n2") * F.col("q2") - c("s2") * F.col("s2"))
        .cast("string").alias("var2_num"),
        (c("n2") * F.col("n2") * (F.col("n2") - 1))
        .cast("string").alias("var2_den"),
    )
    dd = lambda col: F.col(col).cast("double")  # noqa: E731
    delta = dd("delta_num") / dd("delta_den")
    se2 = dd("var1_num") / dd("var1_den") + dd("var2_num") / dd("var2_den")
    return pieces.select(
        "n1",
        "n2",
        "delta_num",
        "delta_den",
        "var1_num",
        "var1_den",
        "var2_num",
        "var2_den",
        (delta * delta / se2).alias("t2"),
    )


# --- HDR shard-merge + accuracy contract ---------------------------------


@register(
    "agg_hdr_shard_merge",
    oracle=f"""
    WITH vals AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) + 1 AS v,
               event_id % 2 AS shard
        FROM events
        WHERE CAST(ROUND(value * 100) AS BIGINT) + 1 >= 1
    ),
    bucketed AS (
        SELECT event_type, shard, v,
               {_sql_hdr_bucket("v")[0]} AS e, {_sql_hdr_bucket("v")[1]} AS sub
        FROM vals
    ),
    shard_hist AS (
        SELECT event_type, shard, e, sub, CAST(COUNT(*) AS BIGINT) AS n
        FROM bucketed GROUP BY 1, 2, 3, 4
    ),
    merged AS (
        SELECT event_type, e, sub, CAST(SUM(n) AS BIGINT) AS n
        FROM shard_hist GROUP BY 1, 2, 3
    ),
    whole AS (
        SELECT event_type, e, sub, CAST(COUNT(*) AS BIGINT) AS n
        FROM bucketed GROUP BY 1, 2, 3
    ),
    dig_w AS (
        SELECT event_type,
               md5(string_agg(e || ':' || sub || ':' || n, ',' ORDER BY e, sub))
                   AS dig_whole
        FROM whole GROUP BY event_type
    ),
    dig_m AS (
        SELECT event_type,
               md5(string_agg(e || ':' || sub || ':' || n, ',' ORDER BY e, sub))
                   AS dig_merged
        FROM merged GROUP BY event_type
    ),
    cum AS (
        SELECT event_type, e, sub, n,
               SUM(n) OVER (PARTITION BY event_type ORDER BY e, sub
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               SUM(n) OVER (PARTITION BY event_type) AS tot
        FROM merged
    ),
    q AS (
        SELECT event_type, tot,
               MIN(CASE WHEN 100 * cw >= 95 * tot
                        THEN ((CAST(1 AS BIGINT) << e) * ({HDR_SUBS} + sub)) // {HDR_SUBS}
                   END) AS p95_lb,
               MIN(CASE WHEN 100 * cw >= 95 * tot
                        THEN ((CAST(1 AS BIGINT) << e) * ({HDR_SUBS} + sub + 1)
                              + {HDR_SUBS} - 1) // {HDR_SUBS} - 1
                   END) AS p95_ub
        FROM cum GROUP BY event_type, tot
    ),
    vcum AS (
        SELECT event_type, v,
               SUM(c) OVER (PARTITION BY event_type ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               SUM(c) OVER (PARTITION BY event_type) AS tot
        FROM (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
              FROM vals GROUP BY 1, 2)
    ),
    exact AS (
        SELECT event_type,
               MIN(CASE WHEN 100 * cw >= 95 * tot THEN v END) AS p95_exact
        FROM vcum GROUP BY event_type
    )
    SELECT q.event_type,
           CAST(q.tot AS BIGINT) AS n,
           CAST(q.p95_lb AS BIGINT) AS p95_lb,
           CAST(x.p95_exact AS BIGINT) AS p95_exact,
           (q.p95_lb <= x.p95_exact AND x.p95_exact <= q.p95_ub) AS bracket_ok,
           (w.dig_whole = m.dig_merged) AS merge_exact
    FROM q
    JOIN exact x ON x.event_type = q.event_type
    JOIN dig_w w ON w.event_type = q.event_type
    JOIN dig_m m ON m.event_type = q.event_type
    """,
    tags=("agg", "histogram", "sketch", "contract"),
)
def agg_hdr_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR SHARD-MERGE + ACCURACY CONTRACT — the two properties that make
    the log-bucketed histogram the 100 TB quantile path, certified
    in-query on real data (the agg_kmv_shard_merge discipline applied to
    agg_hdr_histogram's sketch):

    * MERGEABILITY (`merge_exact`): per-shard bucket tables (events split
      by event_id parity — the per-executor/per-day stand-in) merged by
      plain count addition are md5-digest-IDENTICAL to the whole-corpus
      bucket table — bucket identity is a pure function of the value, so
      shards can never disagree on boundaries and merge order cannot
      matter. This is "sketch at write time, merge at read time".
    * BOUNDED ERROR (`bracket_ok`): the p95 reconstructed from the MERGED
      sketch brackets the EXACT p95 order statistic (from the raw
      per-value counts): p95_lb <= p95_exact <= p95_ub, with ub the
      picked bucket's inclusive integer upper bound (ceil of the next
      lower bound minus one — exact at every exponent, including the
      tiny-e buckets where the plain div collapses lb == next lb) —
      hdrhistogram.org's relative-error promise made falsifiable per
      event_type.

    Exactness: the agg_hdr_histogram integer discipline (bit-length
    exponent, int64 shifts/divs); digests are ordered e:sub:n string md5s
    both engines replay byte-for-byte (struct array_sort on the Spark
    side orders exactly like ORDER BY e, sub — n is unique per bucket).
    Plan: one scan -> map-combined (type, shard, e, sub) counts;
    everything downstream (merge, digests, quantile walks) runs on bucket
    tables orders of magnitude smaller than the data; the exact-p95 check
    adds one per-value count exchange — the certification cost, paid in
    the contract row, never in the serving path."""
    ev = table(spark, sf_dir, "events")
    v = (F.round(F.col("value") * 100).cast("long") + 1).alias("v")
    vals = ev.select(
        "event_type", v, (F.col("event_id") % 2).alias("shard")
    ).filter(F.col("v") >= 1)
    bucketed = vals.select(
        "event_type",
        "shard",
        "v",
        (F.length(F.bin("v")) - 1).cast("long").alias("e"),
        F.expr(
            f"shiftright({HDR_SUBS} * (v - shiftleft(CAST(1 AS BIGINT),"
            f" length(bin(v)) - 1)), length(bin(v)) - 1)"
        ).cast("long").alias("sub"),
    )
    shard_hist = bucketed.groupBy("event_type", "shard", "e", "sub").agg(
        F.count(F.lit(1)).alias("n")
    )
    merged = shard_hist.groupBy("event_type", "e", "sub").agg(
        F.sum("n").cast("long").alias("n")
    )
    whole = bucketed.groupBy("event_type", "e", "sub").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )

    def dig(hist: DataFrame, name: str) -> DataFrame:
        ordered = F.array_sort(F.collect_list(F.struct("e", "sub", "n")))
        return hist.groupBy("event_type").agg(
            F.md5(
                F.array_join(
                    F.transform(
                        ordered,
                        lambda t: F.concat_ws(
                            ":",
                            t.getField("e").cast("string"),
                            t.getField("sub").cast("string"),
                            t.getField("n").cast("string"),
                        ),
                    ),
                    ",",
                )
            ).alias(name)
        )

    wcum = (
        Window.partitionBy("event_type")
        .orderBy("e", "sub")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lb = F.expr(
        f"(shiftleft(CAST(1 AS BIGINT), CAST(e AS INT)) * ({HDR_SUBS} + sub))"
        f" div {HDR_SUBS}"
    )
    ub = F.expr(
        f"(shiftleft(CAST(1 AS BIGINT), CAST(e AS INT)) * ({HDR_SUBS} + sub + 1)"
        f" + {HDR_SUBS} - 1) div {HDR_SUBS} - 1"
    )
    cum = merged.select(
        "event_type",
        "n",
        F.sum("n").over(wcum).alias("cw"),
        F.sum("n").over(Window.partitionBy("event_type")).alias("tot"),
        lb.alias("lb"),
        ub.alias("ub"),
    )
    crossing = 100 * F.col("cw") >= 95 * F.col("tot")
    q = cum.groupBy("event_type", "tot").agg(
        F.min(F.when(crossing, F.col("lb"))).cast("long").alias("p95_lb"),
        F.min(F.when(crossing, F.col("ub"))).cast("long").alias("p95_ub"),
    )

    vc = vals.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
    vw = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vcum = vc.select(
        "event_type",
        "v",
        F.sum("c").over(vw).alias("cw"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("tot"),
    )
    exact = vcum.groupBy("event_type").agg(
        F.min(F.when(100 * F.col("cw") >= 95 * F.col("tot"), F.col("v")))
        .cast("long")
        .alias("p95_exact")
    )

    digs = dig(whole, "dig_whole").join(dig(merged, "dig_merged"), "event_type")
    return (
        q.join(exact, "event_type")
        .join(digs, "event_type")
        .select(
            "event_type",
            F.col("tot").cast("long").alias("n"),
            "p95_lb",
            "p95_exact",
            (
                (F.col("p95_lb") <= F.col("p95_exact"))
                & (F.col("p95_exact") <= F.col("p95_ub"))
            ).alias("bracket_ok"),
            (F.col("dig_whole") == F.col("dig_merged")).alias("merge_exact"),
        )
    )
