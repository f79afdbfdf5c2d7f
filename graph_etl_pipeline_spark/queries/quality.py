"""Data-quality expectation auditing.

The reference's only notion of validation is a post-import query corpus
run by hand (etl_implementation.md:229-258: orphan detection, golden
cardinalities) plus uniqueness constraints delegated to Neo4j
(schema.cql:18-19). This module turns that pattern into a first-class
operator: a declarative expectation set evaluated against a table in a
fixed number of passes, emitting one audit row per rule — the shape a
100 TB ingest gate needs (fail the batch when `violations > 0`, keep
the audit row as lineage).

Scale design: all row-level rules (not-null, range, domain) ride ONE
scan with map-side partial aggregation — adding a rule adds a counter
column, not a pass. Set-level rules cost what they fundamentally cost:
key uniqueness is one map-combined groupBy on the key; referential
integrity is one anti-join (broadcast when the dimension is small,
shuffle otherwise). The audit output is O(#rules) rows regardless of
input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graph_etl_pipeline_spark.functions.hashing import (
    hex_lane,
    hex_lane_sql,
    md5_lane,
    md5_lane_sql,
)
from graph_etl_pipeline_spark.io import table
from graph_etl_pipeline_spark.registry import register


@register(
    "dq_expectations",
    oracle="""
    SELECT 'o_orderkey_not_null' AS rule,
           COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS violations
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_positive',
           COUNT(*) FILTER (WHERE o_totalprice <= 0)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate_in_range',
           COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1992-01-01 00:00:00'
                               OR o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus_in_domain',
           COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
    FROM orders
    UNION ALL
    SELECT 'o_custkey_ri',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'o_orderkey_unique',
           COALESCE(CAST(SUM(n - 1) AS BIGINT), 0)
    FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
    """,
    tags=("quality", "audit"),
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation audit over `orders`: four row-level rules
    (not-null, positive amount, timestamp range, status domain) in ONE
    scan via conditional counters + stack-unpivot, a key-uniqueness rule
    (map-combined groupBy, counts duplicate surplus), and a referential-
    integrity rule (anti-join against `customer` — the set-oriented form
    of the reference's per-row MATCH-miss warning,
    src/etl/waste_items.py:414-419). One audit row per rule; a batch
    gate reads `violations == 0`."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    def violated(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0))

    row_rules = o.agg(
        violated(F.col("o_orderkey").isNull()).alias("o_orderkey_not_null"),
        violated(F.col("o_totalprice") <= 0).alias("o_totalprice_positive"),
        violated(
            (F.col("o_orderdate") < F.lit("1992-01-01 00:00:00").cast("timestamp"))
            | (F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        ).alias("o_orderdate_in_range"),
        violated(~F.col("o_orderstatus").isin("O", "F", "P")).alias(
            "o_orderstatus_in_domain"
        ),
    ).selectExpr(
        """stack(4,
            'o_orderkey_not_null', o_orderkey_not_null,
            'o_totalprice_positive', o_totalprice_positive,
            'o_orderdate_in_range', o_orderdate_in_range,
            'o_orderstatus_in_domain', o_orderstatus_in_domain
        ) AS (rule, violations)"""
    )

    ri = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("o_custkey_ri").alias("rule"), "violations")
    )

    uniq = (
        o.groupBy("o_orderkey")
        .count()
        .filter(F.col("count") > 1)
        .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias("violations"))
        .select(F.lit("o_orderkey_unique").alias("rule"), "violations")
    )

    return row_rules.unionByName(ri).unionByName(uniq)


@register(
    "agg_winsorize",
    oracle="""
    WITH b AS (
        SELECT l_returnflag, l_quantity,
               quantile_cont(l_quantity, 0.05)
                   OVER (PARTITION BY l_returnflag) AS p05,
               quantile_cont(l_quantity, 0.95)
                   OVER (PARTITION BY l_returnflag) AS p95
        FROM lineitem
    )
    SELECT l_returnflag, p05, p95,
           COUNT(*) AS n_rows,
           CAST(CAST(SUM(CAST(GREATEST(p05, LEAST(p95, l_quantity))
                    AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS winsorized_mean
    FROM b
    GROUP BY l_returnflag, p05, p95
    """,
    tags=("quality", "agg", "robust"),
)
def agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group statistics: clamp `l_quantity` to its group's
    [P05, P95] band, then report the winsorized mean — the outlier-proof
    aggregate a quality dashboard wants when raw means are skew-hostage.
    The percentiles ride a window over the SAME l_returnflag partitioning
    the final groupBy uses, so the whole query is one shuffle of
    (flag, quantity) pairs. Percentile exactness across engines: Spark
    `percentile` and DuckDB `quantile_cont` share linear interpolation
    (proven by agg_approx_quantiles), and the clamped mean goes through
    the exact-decimal bridge so the double is correctly rounded on both
    sides. At 100 TB the exact window percentile is the cost driver —
    swap in percentile_approx (agg_approx_quantiles' contract pattern)
    when the per-group value set no longer fits a task."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag")
    b = li.select(
        "l_returnflag",
        "l_quantity",
        F.percentile("l_quantity", 0.05).over(w).alias("p05"),
        F.percentile("l_quantity", 0.95).over(w).alias("p95"),
    )
    clamped = F.greatest(F.col("p05"), F.least(F.col("p95"), F.col("l_quantity")))
    return b.groupBy("l_returnflag", "p05", "p95").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum(clamped.cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("winsorized_mean"),
    )


HIST_WIDTH = 25_000  # o_totalprice bucket width


@register(
    "agg_histogram",
    oracle=f"""
    WITH b AS (
        SELECT CAST(FLOOR(o_totalprice / {HIST_WIDTH}) AS BIGINT) AS bucket
        FROM orders
    ),
    n AS (SELECT COUNT(*) AS total FROM orders)
    SELECT bucket,
           bucket * CAST({HIST_WIDTH} AS DOUBLE) AS bucket_lo,
           COUNT(*) AS n_rows,
           CAST((COUNT(*) * 10000) // n.total AS BIGINT) AS share_bp
    FROM b CROSS JOIN n
    GROUP BY bucket, n.total
    """,
    tags=("quality", "agg", "profile"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram of `o_totalprice` — the distribution
    profile behind skew diagnosis and partition-size planning
    (profile_table_stats gives per-column scalars; this gives the shape).
    Bucketing is floor(x/width): one IEEE divide + floor, identical in
    both engines; the share is integer basis points (n·10000 div total),
    no double ratios to reconcile. ONE map-combined hash aggregation over
    the scan — the shuffle carries one row per bucket per partition, so
    a 100 TB histogram moves KBs. The 1-row total rides a broadcast."""
    o = table(spark, sf_dir, "orders")
    n = o.agg(F.count(F.lit(1)).alias("total"))
    return (
        o.select(
            F.expr(f"CAST(FLOOR(o_totalprice / {HIST_WIDTH}) AS BIGINT)").alias(
                "bucket"
            )
        )
        .crossJoin(F.broadcast(n))
        .groupBy("bucket", "total")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "bucket",
            (F.col("bucket") * F.lit(float(HIST_WIDTH))).alias("bucket_lo"),
            "n_rows",
            F.expr("(n_rows * 10000) div total").alias("share_bp"),
        )
    )


@register(
    "agg_mad_outliers",
    oracle="""
    WITH b AS (
        SELECT l_returnflag, l_quantity,
               quantile_cont(l_quantity, 0.5)
                   OVER (PARTITION BY l_returnflag) AS med
        FROM lineitem
    ),
    c AS (SELECT *, ABS(l_quantity - med) AS dev FROM b),
    d AS (
        SELECT *, quantile_cont(dev, 0.5)
                      OVER (PARTITION BY l_returnflag) AS mad
        FROM c
    )
    SELECT l_returnflag, med, mad,
           COUNT(*) FILTER (WHERE dev > 3 * mad) AS n_outliers,
           COUNT(*) AS n_rows
    FROM d GROUP BY l_returnflag, med, mad
    """,
    tags=("quality", "agg", "robust"),
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier audit per group — the robust
    complement to agg_winsorize (which clamps; this one counts and
    reports the robust location/scale pair). Two stacked window
    percentiles (median, then median of |x−med|) and the final groupBy
    all share the l_returnflag partitioning: ONE shuffle for the whole
    audit. Determinism: l_quantity is integer-valued, so the median and
    every |x−med| deviation are exactly representable doubles; the
    3·MAD threshold is one IEEE multiply — both engines agree on every
    comparison."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag")
    b = li.select(
        "l_returnflag",
        "l_quantity",
        F.percentile("l_quantity", 0.5).over(w).alias("med"),
    )
    c = b.withColumn("dev", F.abs(F.col("l_quantity") - F.col("med")))
    d = c.withColumn("mad", F.percentile("dev", 0.5).over(w))
    return d.groupBy("l_returnflag", "med", "mad").agg(
        F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)).alias(
            "n_outliers"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- Gopher-style document rule battery -------------------------------------
GOPHER_STOPWORDS = ("a", "the", "of", "to", "is")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 40, 100_000
GOPHER_WLEN_LO, GOPHER_WLEN_HI = 3_000, 10_000  # mean word length, permille
GOPHER_MIN_STOP_HITS = 2
GOPHER_MAX_SYM_PERMILLE = 100


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(w) AS n_words,
               (1000 * CAST(list_aggregate(list_transform(w, x -> len(x)),
                                            'sum') AS BIGINT))
                   // GREATEST(len(w), 1) AS mean_wlen_permille,
               len(list_filter(w, x -> list_contains({list(GOPHER_STOPWORDS)}, x)))
                   AS stop_hits,
               (1000 * len(list_filter(w, x -> regexp_matches(x, '[^a-z0-9]'))))
                   // GREATEST(len(w), 1) AS sym_permille
        FROM s
    )
    SELECT doc_id, n_words, mean_wlen_permille, stop_hits, sym_permille,
           n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS r_word_count,
           mean_wlen_permille BETWEEN {GOPHER_WLEN_LO} AND {GOPHER_WLEN_HI} AS r_mean_wlen,
           stop_hits >= {GOPHER_MIN_STOP_HITS} AS r_stopwords,
           sym_permille <= {GOPHER_MAX_SYM_PERMILLE} AS r_symbols,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
           AND (mean_wlen_permille BETWEEN {GOPHER_WLEN_LO} AND {GOPHER_WLEN_HI})
           AND stop_hits >= {GOPHER_MIN_STOP_HITS}
           AND sym_permille <= {GOPHER_MAX_SYM_PERMILLE} AS passed
    FROM m
    """,
    tags=("quality", "text", "curation"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style RULE BATTERY (Rae et al. 2021 §A1.1): where
    text_quality_score blends signals into one ranking score, a
    production filter wants NAMED, individually-auditable rules — word
    count band, mean word length band, minimum stopword evidence,
    symbol-to-word ceiling — each emitted as its own boolean column plus
    the AND verdict, so corpus triage can ask "what fraction failed
    WHICH rule" instead of re-deriving it from a scalar. All metrics are
    exact integers (permille via integer division), so the verdict is
    engine-stable.

    Purely map-side: one split, three higher-order-function reductions
    over the token array, zero exchanges — 100 TB-safe by construction."""
    d = table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    m = d.select(
        "doc_id",
        F.size(w).alias("n_words"),
        F.expr(
            "1000 * aggregate(transform(split(text, ' '), x -> length(x)),"
            " 0L, (acc, x) -> acc + x) DIV GREATEST(size(split(text, ' ')), 1)"
        ).alias("mean_wlen_permille"),
        F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))).alias(
            "stop_hits"
        ),
        (
            F.lit(1000)
            * F.size(F.filter(w, lambda x: x.rlike("[^a-z0-9]")))
        ).alias("sym_hits_k"),
    ).select(
        "doc_id",
        "n_words",
        "mean_wlen_permille",
        "stop_hits",
        F.expr("sym_hits_k DIV GREATEST(n_words, 1)").alias("sym_permille"),
    )
    r_wc = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_wl = F.col("mean_wlen_permille").between(GOPHER_WLEN_LO, GOPHER_WLEN_HI)
    r_st = F.col("stop_hits") >= GOPHER_MIN_STOP_HITS
    r_sy = F.col("sym_permille") <= GOPHER_MAX_SYM_PERMILLE
    return m.select(
        "doc_id",
        "n_words",
        "mean_wlen_permille",
        "stop_hits",
        "sym_permille",
        r_wc.alias("r_word_count"),
        r_wl.alias("r_mean_wlen"),
        r_st.alias("r_stopwords"),
        r_sy.alias("r_symbols"),
        (r_wc & r_wl & r_st & r_sy).alias("passed"),
    )


# --- k-anonymity audit ------------------------------------------------------
KANON_K = 5
KANON_CHAR_BUCKET = 200  # n_chars coarsened to this width as a quasi-identifier


@register(
    "privacy_kanonymity_audit",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, lang, source,
               (n_chars // {KANON_CHAR_BUCKET}) * {KANON_CHAR_BUCKET} AS len_bucket
        FROM documents
    ),
    g AS (
        SELECT lang, source, len_bucket, CAST(COUNT(*) AS BIGINT) AS class_size
        FROM q GROUP BY lang, source, len_bucket
    )
    SELECT q.doc_id, q.lang, q.source, q.len_bucket, g.class_size,
           g.class_size < {KANON_K} AS at_risk
    FROM q JOIN g USING (lang, source, len_bucket)
    """,
    tags=("quality", "privacy"),
)
def privacy_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit (Sweeney) — the re-identification check that
    complements text_pii_scrub's masking: scrubbing direct identifiers
    is not enough when a COMBINATION of quasi-identifiers (language ×
    source × coarsened length here) is rare enough to single a record
    out. Every row joins its equivalence-class size; classes smaller
    than k = {KANON_K} are flagged `at_risk` — the rows a release
    pipeline must generalize further (wider buckets), suppress, or
    hold back. Coarsening n_chars into {KANON_CHAR_BUCKET}-wide buckets
    IS the generalization step of the k-anonymity algorithm, applied
    one level down from raw.

    Plan: one map-combined aggregation over the quasi-identifier tuple
    (equivalence classes ≪ rows), joined back row-level — Spark reuses
    the tuple partitioning for both sides, and at 100 TB the class
    table is orders smaller than the corpus (broadcastable for any
    realistic generalization lattice level)."""
    q = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        (
            (F.col("n_chars") / F.lit(KANON_CHAR_BUCKET)).cast("long")
            * KANON_CHAR_BUCKET
        ).alias("len_bucket"),
    )
    g = q.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return q.join(g, ["lang", "source", "len_bucket"]).select(
        "doc_id",
        "lang",
        "source",
        "len_bucket",
        "class_size",
        (F.col("class_size") < KANON_K).alias("at_risk"),
    )


# --- Differentially-private count release ------------------------------------
DP_EPSILON = 0.5  # privacy budget per release (sensitivity 1 for counts)
DP_TRUNC = 16     # noise support truncated to [-16, 16]


def _dp_noise_table() -> list[tuple[str, int]]:
    """(hex_threshold, noise) rows of the truncated two-sided-geometric
    CDF, scaled onto the 8-hex-char uniform draw: noise k is selected by
    the FIRST threshold exceeding the draw (ascending k). Computed once
    here and embedded as literals in BOTH engine expressions, so the
    mechanism is identical by construction."""
    import math

    alpha = math.exp(-DP_EPSILON)
    ks = list(range(-DP_TRUNC, DP_TRUNC + 1))
    probs = [alpha ** abs(k) for k in ks]
    tot = sum(probs)
    rows: list[tuple[str, int]] = []
    cum = 0.0
    for k, p in zip(ks[:-1], probs[:-1]):
        cum += p / tot
        rows.append((format(min(int(cum * 16**8), 16**8 - 1), "08x"), k))
    return rows  # the final k = DP_TRUNC is the CASE's ELSE branch


_DP_ROWS = _dp_noise_table()
_DP_SQL_CASE = (
    "CASE "
    + " ".join(f"WHEN __u < '{t}' THEN ({k})" for t, k in _DP_ROWS)
    + f" ELSE {DP_TRUNC} END"
)


@register(
    "privacy_dp_counts",
    oracle=f"""
    WITH g AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n,
               substr(md5('dp:' || lang || '|' || source), 1, 8) AS __u
        FROM documents GROUP BY lang, source
    )
    SELECT lang, source,
           GREATEST(n + ({_DP_SQL_CASE}), 0) AS n_released
    FROM g
    """,
    tags=("quality", "privacy"),
)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Dwork's Laplace mechanism,
    discrete form): the per-(lang, source) document counts a data card
    or corpus report publishes, protected by adding two-sided-geometric
    noise with parameter exp(-epsilon) — the discrete Laplace
    distribution that gives epsilon-DP for sensitivity-1 count queries
    — truncated to +/-{DP_TRUNC} and clipped at zero. The noise draw is
    SEEDED BY THE RELEASE CELL (md5 of the group key), which repeated
    releases of the same statistic REQUIRE: fresh noise per run would
    let an observer average it away, while a pinned draw makes re-runs
    byte-identical and spends the budget once.

    The inverse-CDF lookup is a 33-branch constant CASE over the
    8-hex-char uniform draw, compared lexicographically — zero float
    operations at query time, so both engines release the identical
    integers (the threshold table is computed once in Python and
    embedded as literals in both expressions). Plan: one map-combined
    aggregation over the release cells; the noise CASE is constant
    folded branch logic on a table orders smaller than the corpus.
    Truncation technically yields (epsilon, delta)-DP with delta =
    P(|geom| > {DP_TRUNC}) ~ alpha^{DP_TRUNC} — negligible here and
    standard practice for integer release pipelines."""
    from functools import reduce

    g = (
        table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "__u",
            F.substring(
                F.md5(F.concat(F.lit("dp:"), F.col("lang"), F.lit("|"), F.col("source"))),
                1,
                8,
            ),
        )
    )
    noise = reduce(
        lambda acc, row: acc.when(F.col("__u") < row[0], F.lit(row[1])),
        _DP_ROWS[1:],
        F.when(F.col("__u") < _DP_ROWS[0][0], F.lit(_DP_ROWS[0][1])),
    ).otherwise(F.lit(DP_TRUNC))
    return g.select(
        "lang",
        "source",
        F.greatest(F.col("n") + noise.cast("long"), F.lit(0).cast("long")).alias(
            "n_released"
        ),
    )


# --- l-diversity audit --------------------------------------------------------
LDIV_L = 3          # each equivalence class needs >= 3 distinct sensitive values
LDIV_BAL_BUCKET = 1000  # sensitive attribute: account balance, coarsened


@register(
    "privacy_l_diversity_audit",
    oracle=f"""
    SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal / {LDIV_BAL_BUCKET}) AS BIGINT))
                AS BIGINT) AS n_sensitive,
           COUNT(DISTINCT CAST(FLOOR(c_acctbal / {LDIV_BAL_BUCKET}) AS BIGINT))
               >= {LDIV_L} AS diverse
    FROM customer GROUP BY c_nationkey, c_mktsegment
    """,
    tags=("quality", "privacy"),
)
def privacy_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY audit (Machanavajjhala et al.) — the attack model
    k-anonymity misses: a class can hold k rows and still leak if every
    row shares ONE sensitive value (homogeneity attack — the adversary
    learns the secret without singling anyone out). Each equivalence
    class over the quasi-identifiers (nation × market segment) must
    contain >= l = {LDIV_L} DISTINCT sensitive values (account balance
    coarsened to {LDIV_BAL_BUCKET}-wide buckets); classes below the bar
    are the ones a release pipeline must suppress or generalize even
    though they may be k-anonymous. Complements privacy_kanonymity_audit
    (class SIZE) with class VARIETY.

    Plan: one aggregation over the QI tuple with a distinct-count of
    the bucketed sensitive attribute — Spark plans this as a two-phase
    expand/aggregate, still map-combined per QI class. At 100 TB the
    class table is orders smaller than the corpus; swap COUNT(DISTINCT)
    for approx_count_distinct when the sensitive domain per class gets
    wide (the bool contract is a threshold test, where HLL's ±2 % is
    harmless far from the boundary). Bucket boundary floor(x/{LDIV_BAL_BUCKET})
    is IEEE-double division in both engines — bit-identical."""
    c = table(spark, sf_dir, "customer")
    sens = F.floor(F.col("c_acctbal") / F.lit(LDIV_BAL_BUCKET)).cast("long")
    return (
        c.select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            sens.alias("s"),
        )
        .groupBy("nationkey", "mktsegment")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("s").alias("n_sensitive"),
        )
        .select(
            "nationkey",
            "mktsegment",
            "class_size",
            "n_sensitive",
            (F.col("n_sensitive") >= LDIV_L).alias("diverse"),
        )
    )


# --- t-closeness audit --------------------------------------------------------
TCLOSE_BAL_BUCKET = 1000  # sensitive attribute: account balance, coarsened
TCLOSE_T_NUM, TCLOSE_T_DEN = 1, 5  # t = 0.20, the Li et al. running example


@register(
    "privacy_t_closeness_audit",
    oracle=f"""
    WITH b AS (
        SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
               CAST(FLOOR(c_acctbal / {TCLOSE_BAL_BUCKET}) AS BIGINT) AS bucket
        FROM customer
    ),
    gl AS (
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS gcnt FROM b GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(COUNT(DISTINCT bucket) AS BIGINT) AS m
        FROM b
    ),
    cl AS (
        SELECT nationkey, mktsegment, bucket, CAST(COUNT(*) AS BIGINT) AS ccnt
        FROM b GROUP BY nationkey, mktsegment, bucket
    ),
    sizes AS (
        SELECT nationkey, mktsegment, CAST(SUM(ccnt) AS BIGINT) AS class_size
        FROM cl GROUP BY nationkey, mktsegment
    ),
    grid AS (
        SELECT s.nationkey, s.mktsegment, s.class_size,
               g.bucket, g.gcnt, t.n_total, t.m
        FROM sizes s CROSS JOIN gl g CROSS JOIN tot t
    ),
    d AS (
        SELECT grid.*, COALESCE(cl.ccnt, 0) AS ccnt
        FROM grid LEFT JOIN cl USING (nationkey, mktsegment, bucket)
    ),
    cum AS (
        SELECT nationkey, mktsegment, class_size, n_total, m,
               SUM(CAST(ccnt AS HUGEINT) * n_total
                   - CAST(gcnt AS HUGEINT) * class_size)
                   OVER (PARTITION BY nationkey, mktsegment ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM d
    ),
    e AS (
        SELECT nationkey, mktsegment, class_size,
               SUM(ABS(c)) AS emd_num,
               CAST(class_size AS HUGEINT) * ANY_VALUE(n_total)
                   * (ANY_VALUE(m) - 1) AS emd_den
        FROM cum GROUP BY nationkey, mktsegment, class_size
    )
    SELECT nationkey, mktsegment, class_size,
           CAST(emd_num AS VARCHAR) AS emd_num,
           CAST(emd_den AS VARCHAR) AS emd_den,
           {TCLOSE_T_DEN} * emd_num <= {TCLOSE_T_NUM} * emd_den AS within_t
    FROM e
    """,
    tags=("quality", "privacy"),
)
def privacy_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-CLOSENESS audit (Li, Li, Venkatasubramanian) — the attack model
    l-diversity STILL misses: a class can hold l distinct sensitive
    values and leak anyway when its distribution is far from the
    table's (skewness attack — "3 distinct balances, all of them in the
    top bracket" tells the adversary plenty). Each equivalence class
    over the quasi-identifiers (nation x market segment) must keep the
    Earth Mover's Distance between its sensitive-attribute distribution
    and the GLOBAL distribution at or below t = {TCLOSE_T_NUM}/{TCLOSE_T_DEN};
    for an ORDERED attribute (balance coarsened to {TCLOSE_BAL_BUCKET}-wide
    buckets, the l-diversity bucketing) EMD has the closed form
    (1/(m-1)) * sum_i |cumsum_i(p - q)|. Completes the release-audit
    trio: class SIZE (privacy_kanonymity_audit) -> class VARIETY
    (privacy_l_diversity_audit) -> class SHAPE (this).

    Exact integer arithmetic end to end: the cumulative term is
    cumsum(ccnt * N - gcnt * class_size) over the common denominator
    class_size * N, so emd = emd_num / emd_den with both sides integer
    and the t-test a cross-multiplication — zero float operations, and
    the int128-prone products ship in the engine-stable STRING form
    (the agg_exact_moments convention). Plan: one aggregation builds the
    global histogram (m buckets, bounded by the generalization lattice
    — broadcastable at any scale), one the per-class counts (shuffle on
    the QI tuple, map-combined); the class x bucket grid is classes * m
    rows, orders smaller than the corpus, and the cumulative window
    partitions per class with the bucket id as a naturally unique order
    key."""
    b = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.floor(F.col("c_acctbal") / F.lit(TCLOSE_BAL_BUCKET))
        .cast("long")
        .alias("bucket"),
    )
    gl = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("gcnt"))
    tot = b.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("bucket").alias("m"),
    )
    cl = b.groupBy("nationkey", "mktsegment", "bucket").agg(
        F.count(F.lit(1)).alias("ccnt")
    )
    sizes = cl.groupBy("nationkey", "mktsegment").agg(
        F.sum("ccnt").alias("class_size")
    )
    grid = sizes.crossJoin(F.broadcast(gl)).crossJoin(F.broadcast(tot))
    d = grid.join(cl, ["nationkey", "mktsegment", "bucket"], "left").select(
        "nationkey",
        "mktsegment",
        "class_size",
        "bucket",
        "gcnt",
        "n_total",
        "m",
        F.coalesce(F.col("ccnt"), F.lit(0)).alias("ccnt"),
    )
    w_cum = (
        Window.partitionBy("nationkey", "mktsegment")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dec = "decimal(38,0)"
    cum = d.select(
        "nationkey",
        "mktsegment",
        "class_size",
        "n_total",
        "m",
        F.sum(
            F.col("ccnt").cast(dec) * F.col("n_total")
            - F.col("gcnt").cast(dec) * F.col("class_size")
        )
        .over(w_cum)
        .alias("c"),
    )
    e = cum.groupBy("nationkey", "mktsegment", "class_size").agg(
        F.sum(F.abs(F.col("c"))).alias("emd_num"),
        (
            F.first("class_size").cast(dec)
            * F.first("n_total")
            * (F.first("m") - 1)
        ).alias("emd_den"),
    )
    return e.select(
        "nationkey",
        "mktsegment",
        "class_size",
        F.col("emd_num").cast("string").alias("emd_num"),
        F.col("emd_den").cast("string").alias("emd_den"),
        (F.lit(TCLOSE_T_DEN) * F.col("emd_num") <= F.lit(TCLOSE_T_NUM) * F.col("emd_den")).alias(
            "within_t"
        ),
    )


# --- Anti-entropy Merkle-bucket table checksum --------------------------------
# 64 key-hash buckets; each row contributes two independent 32-bit md5
# lanes so a bucket digest is a 64-bit certificate without ever leaving
# exact int64 arithmetic (sum of 32-bit lanes stays < 2^63 up to ~2e9
# rows PER BUCKET — beyond that, widen the sums to decimal(38,0) and ship
# them in the repo's int128 string form).
MERKLE_BUCKETS = 64
_US = "\x1f"  # unit separator between canonical fields


def merkle_rows(o: DataFrame) -> DataFrame:
    """Per-row (bucket, key, digest) for the orders canonical rendering —
    shared by the checksum operator and the repair pipeline."""
    digest = F.md5(
        F.concat_ws(
            _US,
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .cast("string"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
            F.col("o_orderpriority"),
        )
    )
    bucket = F.pmod(md5_lane("o_orderkey", "bk:", 1, 8), F.lit(MERKLE_BUCKETS))
    return o.select(
        bucket.alias("bucket"),
        F.col("o_orderkey").alias("key"),
        digest.alias("digest"),
    )


def merkle_summary(rows: DataFrame) -> DataFrame:
    """Order-insensitive, mergeable per-bucket digest summary."""
    return rows.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(hex_lane("digest", 1, 8)).alias("sum_h1"),
        F.sum(hex_lane("digest", 9, 8)).alias("sum_h2"),
        F.min("digest").alias("min_digest"),
        F.max("digest").alias("max_digest"),
    )


@register(
    "dq_merkle_checksum",
    oracle=f"""
    WITH canon AS (
        SELECT
            {md5_lane_sql("o_orderkey", "bk:", 1, 8)} % {MERKLE_BUCKETS} AS bucket,
            md5(concat_ws(chr(31),
                CAST(o_orderkey AS VARCHAR),
                CAST(o_custkey AS VARCHAR),
                o_orderstatus,
                CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
                strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                o_orderpriority)) AS digest
        FROM orders
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({hex_lane_sql("digest", 1, 8)}) AS BIGINT) AS sum_h1,
           CAST(SUM({hex_lane_sql("digest", 9, 8)}) AS BIGINT) AS sum_h2,
           MIN(digest) AS min_digest,
           MAX(digest) AS max_digest
    FROM canon GROUP BY bucket
    """,
    tags=("quality", "audit", "checksum"),
)
def dq_merkle_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANTI-ENTROPY TABLE CHECKSUM — the Merkle-bucket digest replicas
    exchange to find where they diverge WITHOUT shipping rows (the
    Dynamo/Cassandra repair pattern; same role as pt-table-checksum for
    MySQL). Each row renders to a canonical field string (integers and
    cents as decimal text, timestamps via one fixed strftime — no
    engine-local binary formats), is digested with md5, and lands in a
    KEY-hash bucket. A bucket publishes an order-insensitive summary:
    row count, the exact int64 SUMS of two independent 32-bit digest
    lanes, and the lexicographic MIN/MAX full digest. Two replicas agree
    on a bucket row iff the bucket's contents agree (up to 2^-64 lane
    collision odds); a mismatch localizes repair to that bucket's key
    range — re-bucket the suspect bucket with a different seed to
    recurse, which is exactly a Merkle tree unrolled one level per
    round trip.

    Bucketing by KEY hash (not row hash) is what makes the diff
    actionable: an updated row stays in the same bucket on both
    replicas, so the first divergent level already names the keys to
    re-sync. Commutative sums + min/max make the digest mergeable —
    partial aggregation combines map-side, the exchange carries
    {MERKLE_BUCKETS} rows per partition, and the output is
    O(buckets) regardless of table size: the whole comparison of two
    100 TB replicas is one {MERKLE_BUCKETS}-row metadata exchange.
    Every operation is exact integer or ASCII-lexicographic — the
    digest is bit-identical across engines, partitionings, and reruns
    (DuckDB replays it verbatim, which is this oracle).

    Reference parity: the reference has no cross-store verification at
    all — etl_implementation.md:229-258 re-runs golden-count validation
    queries by hand after each load; this operator is that audit made
    structural.
    """
    o = table(spark, sf_dir, "orders")
    return merkle_summary(merkle_rows(o).drop("key"))


# --- Benford first-digit audit ------------------------------------------------
# Expected leading-digit mass log10(1+1/d), scaled to integer ppm so the
# audit never touches a float: {1: 301030, ..., 9: 45757}.
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM.items()
) + " END"


@register(
    "dq_benford_audit",
    oracle=f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
        WHERE o_totalprice > 0
    ),
    g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT SUM(n) AS total FROM g)
    SELECT digit,
           CAST(n AS BIGINT) AS n,
           CAST((n * 1000000) // total AS BIGINT) AS obs_ppm,
           {_BENFORD_CASE_SQL} AS exp_ppm,
           CAST(abs((n * 1000000) // total - {_BENFORD_CASE_SQL}) AS BIGINT)
               AS dev_ppm
    FROM g, t
    """,
    tags=("quality", "audit"),
)
def dq_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW FIRST-DIGIT AUDIT — the classic forensic screen for
    fabricated or truncated monetary data (Nigrini's fraud test; also a
    fast ingest sanity check for unit mix-ups, e.g. cents-vs-dollars
    double conversion, which flattens the leading-digit curve). Amounts
    are quantized to exact integer cents, the leading digit read off the
    DECIMAL RENDERING (substr of the int-to-string cast — identical in
    both engines, no log10/pow float path), and per-digit observed mass
    is compared in integer PARTS-PER-MILLION against the Benford
    expectation log10(1+1/d) embedded as literal ppm constants — the
    privacy_dp_counts trick: pre-resolving the only irrational numbers
    in the spec into shared literals keeps the whole audit float-free
    and therefore bit-identical across engines.

    Plan: one scan → map-side-combined 9-group count → broadcast of the
    1-row total (Catalyst folds the tiny cross join to a broadcast
    nested loop over ONE row) → pure projection. Output is O(9) rows at
    any table size; the deviation column is the per-digit screen (a
    healthy multi-magnitude amount column sits within a few thousand
    ppm; a flat synthetic distribution deviates by >50k ppm on digit 1,
    which is exactly what this testdata's uniform prices show — the
    audit's point is to SURFACE that)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .cast("string"),
        1,
        1,
    ).cast("long")
    g = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = g.agg(F.sum("n").alias("total"))
    exp_ppm = F.coalesce(
        *[
            F.when(F.col("digit") == d, F.lit(p))
            for d, p in BENFORD_PPM.items()
        ]
    ).cast("long")
    return (
        g.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            ((F.col("n") * 1_000_000) / F.col("total"))
            .cast("long")
            .alias("obs_ppm"),
            exp_ppm.alias("exp_ppm"),
        )
        .withColumn("dev_ppm", F.abs(F.col("obs_ppm") - F.col("exp_ppm")))
    )


# --- Referential-integrity audit -------------------------------------------------
# Every FK edge of the star schema: (fact table, fk col, dim table, pk col).
FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _sql_fk_audit(fact: str, fk: str, dim: str, pk: str) -> str:
    return f"""
    SELECT '{fact}.{fk}' AS fk_edge,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT {fk}) AS BIGINT) AS n_keys,
           CAST(COALESCE(SUM(CASE WHEN d.{pk} IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_orphan_rows,
           CAST(COUNT(DISTINCT CASE WHEN d.{pk} IS NULL THEN {fk} END) AS BIGINT) AS n_orphan_keys,
           CAST(COALESCE(SUM(CASE WHEN d.{pk} IS NULL THEN 1 ELSE 0 END), 0)
                * 1000000 // COUNT(*) AS BIGINT) AS orphan_ppm
    FROM {fact} f LEFT JOIN (SELECT DISTINCT {pk} FROM {dim}) d ON f.{fk} = d.{pk}
    WHERE f.{fk} IS NOT NULL
    """


@register(
    "dq_referential_integrity",
    oracle=" UNION ALL ".join(_sql_fk_audit(*e) for e in FK_EDGES),
    tags=("dq", "audit", "join"),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY AUDIT across every FK edge of the star
    schema in one pass — the fleet-scale "did the upstream publish lose
    a dimension partition?" check that runs before anything joins: for
    each (fact.fk → dim.pk) edge, row/key counts, orphan rows, orphan
    KEYS (distinct missing values — the actionable repair list), and an
    integer-ppm orphan rate. O(#edges) output rows.

    Scale shape per edge: the fact side first collapses to DISTINCT fk
    values with per-value row counts (one shuffle on the key — the
    minimum any referential check pays), then LEFT-joins the dim's pk
    set; dim-sized pk sides broadcast (Catalyst picks it at these
    sizes), fact-sized ones (orders as lineitem's parent) stay a
    key-partitioned join of two ALREADY-AGGREGATED key sets — never a
    row-level fact×fact join. Orphan rows come back from the per-value
    counts, so the audit never rescans the fact after the collapse."""
    rows = []
    for fact, fk, dim, pk in FK_EDGES:
        f = table(spark, sf_dir, fact).filter(F.col(fk).isNotNull())
        keys = f.groupBy(F.col(fk).alias("k")).agg(
            F.count(F.lit(1)).alias("n_per_key")
        )
        d = table(spark, sf_dir, dim).select(F.col(pk).alias("k")).distinct()
        audited = keys.join(d.withColumn("hit", F.lit(1)), "k", "left")
        rows.append(
            audited.agg(
                F.sum("n_per_key").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.coalesce(
                    F.sum(F.when(F.col("hit").isNull(), F.col("n_per_key"))),
                    F.lit(0),
                ).cast("long").alias("n_orphan_rows"),
                F.count(F.when(F.col("hit").isNull(), F.lit(1)))
                .cast("long")
                .alias("n_orphan_keys"),
            ).select(
                F.lit(f"{fact}.{fk}").alias("fk_edge"),
                "n_rows",
                "n_keys",
                "n_orphan_rows",
                "n_orphan_keys",
                F.expr("n_orphan_rows * 1000000 div n_rows").alias("orphan_ppm"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --- Per-column profile drift -----------------------------------------------
_PROFILE_DRIFT_COLS = ("user_id", "event_type", "cents", "props")


@register(
    "dq_profile_drift",
    oracle=f"""
    WITH m AS (
        SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT)
               + (CAST(floor(epoch(MAX(ts))) AS BIGINT)
                  - CAST(floor(epoch(MIN(ts))) AS BIGINT)) // 2 AS mid
        FROM events
    ),
    b AS (
        SELECT user_id, event_type, props,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                         < (SELECT mid FROM m) THEN 1 ELSE 0 END AS ia
        FROM events
    ),
    prof AS (
        SELECT
        {", ".join(
            f'''CAST(COUNT(*) FILTER (ia = {flag}) AS BIGINT) AS n_{side},
            CAST(COUNT({col}) FILTER (ia = {flag}) AS BIGINT) AS nn_{col}_{side},
            CAST(COUNT(DISTINCT CASE WHEN ia = {flag} THEN {col} END) AS BIGINT)
                AS nd_{col}_{side}'''
            for col in _PROFILE_DRIFT_COLS
            for side, flag in (("a", 1), ("b", 0))
        )}
        FROM b
    )
    {" UNION ALL ".join(
        f'''SELECT '{col}' AS column_name, n_a, nn_{col}_a AS nn_a,
               nd_{col}_a AS nd_a, n_b, nn_{col}_b AS nn_b, nd_{col}_b AS nd_b,
               CASE WHEN n_a > 0
                    THEN (n_a - nn_{col}_a) * 1000000 // n_a ELSE 0 END
                   AS null_ppm_a,
               CASE WHEN n_b > 0
                    THEN (n_b - nn_{col}_b) * 1000000 // n_b ELSE 0 END
                   AS null_ppm_b
        FROM prof'''
        for col in _PROFILE_DRIFT_COLS
    )}
    """,
    tags=("dq", "profile", "stats"),
)
def dq_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-COLUMN PROFILE DRIFT between the time range's two halves —
    the COMPLETENESS/CARDINALITY companion to the distribution-drift
    family (ks = values, chi2 = category mix, token = vocabulary):
    "did a column's null rate or distinct cardinality move between the
    window's halves?" is the monitor that catches upstream breakage —
    a producer silently dropping a field, an id column collapsing to a
    constant — before any statistical test would. Per profiled column:
    rows / non-nulls / exact distincts per half, plus exact integer-ppm
    null rates (the dq_benford_audit rendering — no float echo).

    Plan: ONE scan; the midpoint is a broadcastable min/max scalar; all
    per-column per-half counts compute in a single aggregate (Spark
    plans the multiple conditional COUNT(DISTINCT)s via one Expand —
    the profile_table_stats shape, factor-of-(columns×2) rows into a
    map-combined agg whose shuffle carries per-column distinct values,
    bounded by column cardinality, never raw rows); stack() unpivots
    the 1-row result. Incremental at 100 TB: all pieces are counts —
    per-shard profiles merge by addition (distincts via the established
    sketch rows when exactness is relaxed)."""
    ev = table(spark, sf_dir, "events")
    bounds = F.broadcast(
        ev.agg(
            (
                F.floor(F.unix_timestamp(F.min("ts"))).cast("long")
                + F.floor(
                    (
                        F.floor(F.unix_timestamp(F.max("ts"))).cast("long")
                        - F.floor(F.unix_timestamp(F.min("ts"))).cast("long")
                    )
                    / 2
                ).cast("long")
            ).alias("mid")
        )
    )
    b = ev.select(
        "user_id",
        "event_type",
        "props",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        "ts",
    ).crossJoin(bounds).select(
        *_PROFILE_DRIFT_COLS,
        F.when(
            F.floor(F.unix_timestamp("ts")).cast("long") < F.col("mid"), 1
        )
        .otherwise(0)
        .alias("ia"),
    )
    aggs = []
    for side, flag in (("a", 1), ("b", 0)):
        aggs.append(F.count(F.when(F.col("ia") == flag, 1)).alias(f"n_{side}"))
        for col in _PROFILE_DRIFT_COLS:
            cond = F.when(F.col("ia") == flag, F.col(col))
            aggs.append(F.count(cond).alias(f"nn_{col}_{side}"))
            aggs.append(F.count_distinct(cond).alias(f"nd_{col}_{side}"))
    one = b.agg(*aggs)
    rows = []
    for col in _PROFILE_DRIFT_COLS:
        rows.append(
            one.select(
                F.lit(col).alias("column_name"),
                "n_a",
                F.col(f"nn_{col}_a").alias("nn_a"),
                F.col(f"nd_{col}_a").alias("nd_a"),
                "n_b",
                F.col(f"nn_{col}_b").alias("nn_b"),
                F.col(f"nd_{col}_b").alias("nd_b"),
                # exact integer floor-division (Spark's `div`), matching
                # DuckDB's `//` — a double division truncated could land
                # 1 off at exact-ratio boundaries
                F.expr(
                    f"CASE WHEN n_a > 0 THEN ((n_a - nn_{col}_a) * 1000000)"
                    " div n_a ELSE CAST(0 AS BIGINT) END"
                ).alias("null_ppm_a"),
                F.expr(
                    f"CASE WHEN n_b > 0 THEN ((n_b - nn_{col}_b) * 1000000)"
                    " div n_b ELSE CAST(0 AS BIGINT) END"
                ).alias("null_ppm_b"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _eval_overlap_sql() -> str:
    from graph_etl_pipeline_spark.functions.text import SQL_TOKS, sql_shingles
    from graph_etl_pipeline_spark.queries.textops import (
        DECONTAM_BENCH_DOCS, DECONTAM_K,
    )

    return f"""
    WITH ds AS (
        SELECT doc_id, {sql_shingles("t", k=DECONTAM_K)} AS shingles
        FROM (SELECT doc_id, {SQL_TOKS.format(col="text")} AS t FROM documents)
    ),
    bench AS (
        SELECT DISTINCT unnest(shingles) AS s FROM ds
        WHERE doc_id < {DECONTAM_BENCH_DOCS}
    ),
    hits AS (
        SELECT DISTINCT e.doc_id
        FROM (SELECT doc_id, unnest(shingles) AS s FROM ds) e
        JOIN bench USING (s)
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END)
                AS BIGINT) AS contaminated_chars,
           (1000 * CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT)) // COUNT(*) AS contamination_permille
    FROM documents d LEFT JOIN hits h USING (doc_id)
    GROUP BY d.source
    """


@register(
    "dq_eval_overlap_audit",
    oracle=_eval_overlap_sql(),
    tags=("quality", "llm", "text"),
)
def dq_eval_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE benchmark-contamination AUDIT — the report a pipeline
    publishes BEFORE text_decontaminate drops anything: for every
    ingest source, how many documents (and how much text) share an
    8-gram with the held-out eval set, as exact counts plus an integer
    contamination rate in permille. Production triages sources on this
    (a 300‰ source is a crawl-config bug, not a drop list); the 100 TB
    run gates ingest on the audit row the same way dq_expectations
    gates on violations.

    Plan shape: the benchmark shingle set broadcasts (benchmarks are
    small by construction); contaminated doc_ids come from the same
    broadcast semi-join text_decontaminate uses; the audit is one
    map-combined groupBy(source) over the corpus with the hit flag
    joined in — two exchanges total (the hit distinct, the source agg),
    neither carrying document text. The permille is computed by integer
    division (1000·n_c DIV n_docs) so both engines hash identically —
    no float division anywhere.

    Reference scope: beyond the Neo4j client; part of the text-analysis
    family the brief names first-class (SURVEY §2.12)."""
    from graph_etl_pipeline_spark.functions.text import norm_tokens, shingles
    from graph_etl_pipeline_spark.queries.textops import (
        DECONTAM_BENCH_DOCS, DECONTAM_K,
    )

    d = table(spark, sf_dir, "documents")
    ds = d.select(
        "doc_id", shingles(norm_tokens(d.text), k=DECONTAM_K).alias("sh")
    )
    bench = (
        ds.filter(F.col("doc_id") < DECONTAM_BENCH_DOCS)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    hits = (
        ds.select("doc_id", F.explode("sh").alias("s"))
        .join(F.broadcast(bench), "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    flagged = d.select("doc_id", "source", "n_chars").join(
        hits, "doc_id", "left"
    )
    hit1 = F.when(F.col("hit"), F.lit(1)).otherwise(F.lit(0))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(hit1).cast("long").alias("n_contaminated"),
            F.sum(F.when(F.col("hit"), F.col("n_chars")).otherwise(F.lit(0)))
            .cast("long")
            .alias("contaminated_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_contaminated",
            "contaminated_chars",
            F.expr("(1000 * n_contaminated) div n_docs").alias(
                "contamination_permille"
            ),
        )
    )
