"""Deduplication / entity-resolution operators (SURVEY.md §2.4 D1-D2) —
the reference's core competency, re-expressed set-orientedly."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.io import table
from graph_etl_pipeline_spark.registry import register


@register(
    "dedup_exact",
    oracle="""
    SELECT text, MIN(doc_id) AS first_doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: exact dedup (reference: src/etl/waste_items.py:171 —
    list(set(targets))). Formulated as min-per-group instead of
    dropDuplicates so the surviving representative is deterministic —
    dropDuplicates keeps an arbitrary row, which is a hidden
    nondeterminism at any scale."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("first_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "dedup_merge_most_complete",
    oracle="""
    WITH sparse AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 3 = 0 THEN '' ELSE lang END AS lang_s
        FROM documents
    )
    SELECT source,
           min_by(lang_s, doc_id) FILTER (WHERE lang_s <> '') AS first_lang,
           COUNT(*) AS n_records,
           CAST(SUM(CASE WHEN lang_s <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled
    FROM sparse
    GROUP BY source
    """,
    tags=("dedup", "er"),
)
def dedup_merge_most_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: group-dedup keeping the most complete record (reference:
    src/etl/facilities.py:59-76 — first entry wins, later entries fill
    only empty fields). The reference's "first" is implicit file order;
    the engine makes the ordering column explicit (doc_id — SURVEY §7
    risk list) and uses min_by with an emptiness filter: the earliest
    non-empty value per group wins, exactly the prefer-non-empty fill."""
    d = table(spark, sf_dir, "documents")
    sparse = d.select(
        "doc_id",
        "source",
        F.when(d.doc_id % 3 == 0, "").otherwise(d.lang).alias("lang_s"),
    )
    return sparse.groupBy("source").agg(
        F.expr("min_by(lang_s, doc_id) FILTER (WHERE lang_s <> '')").alias("first_lang"),
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.when(F.col("lang_s") != "", 1).otherwise(0)).alias("n_filled"),
    )


@register(
    "dedup_docs_exact",
    oracle=r"""
    WITH fps AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents
    )
    SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM fps
    GROUP BY fp
    """,
    tags=("dedup", "llm"),
)
def dedup_docs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: corpus-scale exact dedup on a normalized fingerprint
    (lowercase, trim, collapse whitespace → md5). At 100 TB the groupBy
    shuffles 16-byte digests, never document bodies — the standard
    first pass of an LLM data pipeline, upstream of MinHash."""
    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.trim(d.text)), r"\s+", " ")).alias("fp")
    return (
        d.select("doc_id", fp)
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


FUZZY_MAX_DIST = 2  # edit-distance threshold for a fuzzy name match


@register(
    "dedup_fuzzy_names",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name AS name FROM part),
    blocked AS (SELECT name, split_part(name, ' ', -1) AS blk FROM names)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS INTEGER) AS edit_dist
    FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DIST}
    """,
    tags=("dedup", "er"),
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution: token-blocked candidate generation +
    Levenshtein verification. The discovery-side complement of the
    reference's FACILITY_NAME_MAP (reference src/etl/waste_items.py:45-58),
    which normalizes only the typo variants someone already found by
    hand — this query FINDS the near-miss name pairs.

    Scale shape: never an all-pairs comparison. Candidates must share a
    blocking key (the LAST token of the name — part names vary most in
    their leading tokens, so the tail token blocks best; both the Spark
    side and the oracle index from the end); the equi-join on the block
    key shuffles names once, and edit distance runs only inside blocks.
    At corpus scale hot blocks get the same treatment as hot shingles in
    dedup_ngram_jaccard (frequency cap + broadcast anti-join — see
    queries/dedup.py MAX_SHINGLE_DF); the test vocabulary's largest block
    is 8 names, so the cap machinery is not engaged here."""
    p = table(spark, sf_dir, "part")
    names = p.select(F.col("p_name").alias("name")).distinct()
    blocked = names.withColumn("blk", F.element_at(F.split("name", " "), -1))
    a, b = blocked.alias("a"), blocked.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
    )


from graph_etl_pipeline_spark.queries._sql import osum, sdec

_osum_retail = osum(sdec("p.p_retailprice"), "total_retail")

# --- end-to-end entity resolution: block → verify → cluster → merge ---------
@register(
    "pipeline_entity_resolution",
    oracle=f"""
    WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part),
    blocked AS (SELECT name, split_part(name, ' ', -1) AS blk FROM names),
    pairs AS (
        SELECT a.name AS na, b.name AS nb
        FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.name < b.name
        WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DIST}
    ),
    undirected AS (
        SELECT na AS a, nb AS b FROM pairs
        UNION ALL SELECT nb AS a, na AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM undirected),
    reach AS (
        SELECT node, node AS anc FROM nodes
        UNION
        SELECT u.b AS node, r.anc FROM reach r JOIN undirected u ON u.a = r.node
    ),
    comp AS (SELECT node, MIN(anc) AS component FROM reach GROUP BY node),
    canon AS (
        SELECT n.name, COALESCE(c.component, n.name) AS entity
        FROM names n LEFT JOIN comp c ON c.node = n.name
    )
    SELECT canon.entity,
           COUNT(DISTINCT p.p_name) AS n_name_variants,
           COUNT(*) AS n_parts,
           CAST(MIN(p.p_partkey) AS BIGINT) AS rep_partkey,
           {_osum_retail}
    FROM part p JOIN canon ON canon.name = p.p_name
    GROUP BY canon.entity
    """,
    tags=("pipeline", "er", "dedup"),
)
def pipeline_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END entity resolution as ONE plan — the reference's core
    competency composed: (1) BLOCK candidate names on the tail token
    (dedup_fuzzy_names' generation — never all-pairs), (2) VERIFY with
    Levenshtein ≤ {FUZZY_MAX_DIST}, (3) CLUSTER the match graph with
    connected components so non-transitive pairwise matches
    resolve to one canonical entity per component (dedup_cluster_keep's
    resolution; singletons stay their own entity via the left join), and
    (4) MERGE every member's records under the canonical id — variant
    count, member count, representative key, and the exact-decimal
    revenue-style total (sum decimals, cast once — the engine's
    order-independent money convention). This is the discovery-side
    automation of the reference's hand-maintained FACILITY_NAME_MAP
    (src/etl/waste_items.py:45-58): find the variants, canonicalize,
    and merge, instead of patching a dict when a typo is noticed.

    Scale shape: the pair join is block-bounded (hot blocks would take
    the dedup_ngram_jaccard df-cap treatment); components run on the
    SPARSE match graph only (≪ entity count — near-miss balls, 2-3
    hash-min rounds); the merge is one map-combined aggregation keyed by
    entity. Nothing touches more than (names + match edges + one pass
    over part)."""
    from graph_etl_pipeline_spark.functions.numeric import dec
    from graph_etl_pipeline_spark.graph.model import PropertyGraph, edge_endpoints

    p = table(spark, sf_dir, "part")
    names = p.select(F.col("p_name").alias("name")).distinct()
    blocked = names.withColumn("blk", F.element_at(F.split("name", " "), -1))
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.name") < F.col("b.name")),
        )
        .filter(F.levenshtein(F.col("a.name"), F.col("b.name")) <= FUZZY_MAX_DIST)
        .select(F.col("a.name").alias("src_uid"), F.col("b.name").alias("dst_uid"))
    )
    comp = PropertyGraph(edge_endpoints(pairs), pairs).connected_components()
    canon = names.join(comp, names.name == comp.uid, "left").select(
        "name", F.coalesce("component", "name").alias("entity")
    )
    return (
        p.join(canon, p.p_name == canon.name)
        .groupBy("entity")
        .agg(
            F.countDistinct("p_name").alias("n_name_variants"),
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_partkey").alias("rep_partkey"),
            F.sum(dec("p_retailprice")).cast("double").alias("total_retail"),
        )
    )
