"""Composite / wide-shape queries: pivot, degree distribution, and the
end-to-end corpus-curation pipeline that chains the LLM operators."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.functions.hashing import md5_lane_sql
from graph_etl_pipeline_spark.functions.text import SQL_TOKS, norm_tokens, shingles, sql_shingles
from graph_etl_pipeline_spark.queries.dedup import (
    MAX_SHINGLE_DF,
    _jaccard_pairs,
    _rare_shingle_index,
)
from graph_etl_pipeline_spark.graph.build import star_graph
from graph_etl_pipeline_spark.io import table
from graph_etl_pipeline_spark.registry import register

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "agg_pivot",
    oracle=f"""
    SELECT user_id,
           {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}" for t in EVENT_TYPES)}
    FROM events
    GROUP BY user_id
    """,
    tags=("agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix. The pivot value list is
    EXPLICIT — without it Spark runs an extra distinct-collection job and
    the output schema depends on the data, both wrong at scale."""
    ev = table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    )


@register(
    "graph_degree_distribution",
    oracle="""
    WITH degrees AS (
        SELECT o_custkey AS uid, COUNT(*) AS degree
        FROM orders GROUP BY o_custkey
    )
    SELECT degree, COUNT(*) AS n_nodes
    FROM degrees
    GROUP BY degree
    """,
    tags=("graph", "agg"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram over the PLACED_BY edges — the first diagnostic on
    any production graph (skew detection: a hot vertex shows up as an
    extreme-degree outlier, which is exactly what the salted-join path
    exists for). Two small aggregations; the shuffle carries one row per
    vertex then one per distinct degree."""
    g = star_graph(spark, sf_dir)
    degrees = (
        g.edges.filter(F.col("rel_type") == "PLACED_BY")
        .groupBy(F.col("dst_uid").alias("uid"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return degrees.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


_TOKS = SQL_TOKS.format(col="text")

_CURATION_SQL = f"""
    WITH fps AS (
        SELECT doc_id, text,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
    ),
    exact_kept AS (  -- exact dedup: first doc per fingerprint survives
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM fps
        ) WHERE rn = 1
    ),
    toks AS (
        SELECT doc_id, {_TOKS} AS t FROM exact_kept
    ),
    sh_all AS (
        SELECT doc_id, unnest({sql_shingles("t", k=5)}) AS s
        FROM toks
    ),
    hot AS (  -- df-capped stop-shingles (see queries.dedup.MAX_SHINGLE_DF)
        SELECT s FROM sh_all GROUP BY s HAVING COUNT(*) > {MAX_SHINGLE_DF}
    ),
    sh AS (
        SELECT doc_id, s FROM sh_all WHERE s NOT IN (SELECT s FROM hot)
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    near_dup_losers AS (  -- later doc of any >=0.5-Jaccard pair drops
        SELECT DISTINCT doc_b AS doc_id
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE) >= 0.5
    ),
    curated AS (
        SELECT k.doc_id, len({SQL_TOKS.format(col="k.text")}) AS n_tokens
        FROM exact_kept k
        WHERE k.doc_id NOT IN (SELECT doc_id FROM near_dup_losers)
          AND len({SQL_TOKS.format(col="k.text")}) >= 20
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM curated
"""


@register("pipeline_corpus_curation", oracle=_CURATION_SQL, tags=("llm", "pipeline"))
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation — the LLM-pipeline operators
    composed the way a real data pipeline chains them:
    exact dedup (normalized fingerprint, earliest doc survives)
    → near-dup removal (5-gram Jaccard ≥ 0.5, later doc of a pair drops)
    → quality floor (≥ 20 tokens)
    → corpus statistics.
    Every stage is shuffle-bounded (16-byte fingerprints, inverted-index
    shingle join, per-doc token counts). The exploded shingle table is
    materialized once (write-then-read, io.materialize) because it feeds
    both join sides plus the size lookup; up to that boundary and after
    it, the chain is lazy and Catalyst prunes columns stage to stage."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.trim(d.text)), r"\s+", " ")).alias("fp")
    w = Window.partitionBy("fp").orderBy("doc_id")
    exact_kept = (
        d.select("doc_id", "text", fp)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text")
    )

    from graph_etl_pipeline_spark.functions.text import shingles

    # df-capped inverted shingle index off a materialized array table;
    # the cap is a broadcast anti-join against the tiny hot-shingle list
    # (see dedup._rare_shingle_index / _jaccard_pairs)
    ds, sizes = _rare_shingle_index(
        exact_kept.select(
            "doc_id", shingles(norm_tokens(F.col("text")), k=5).alias("shingles")
        ),
        "curation_rare",
    )
    losers = (
        _jaccard_pairs(ds, sizes)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )

    curated = (
        exact_kept.join(losers, "doc_id", "left_anti")
        .select("doc_id", F.size(norm_tokens(F.col("text"))).alias("n_tokens"))
        .filter(F.col("n_tokens") >= 20)
    )
    return curated.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _training_dataset_sql() -> str:
    from graph_etl_pipeline_spark.queries.curation import (
        SPLIT_THRESHOLD, _sql_hex_bucket,
    )
    from graph_etl_pipeline_spark.queries.textops import (
        DECONTAM_BENCH_DOCS, DECONTAM_K, EMAIL_RE, PHONE_RE,
    )

    return f"""
    WITH ds AS (
        SELECT doc_id, {sql_shingles("t", k=DECONTAM_K)} AS shingles
        FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
    ),
    bench AS (
        SELECT DISTINCT unnest(shingles) AS s FROM ds
        WHERE doc_id < {DECONTAM_BENCH_DOCS}
    ),
    contaminated AS (
        SELECT DISTINCT e.doc_id
        FROM (SELECT doc_id, unnest(shingles) AS s FROM ds) e
        JOIN bench USING (s)
    ),
    clean AS (
        SELECT d.doc_id,
               regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g') AS ct,
               len(regexp_extract_all(text, '{EMAIL_RE}')) AS ne,
               len(regexp_extract_all(text, '{PHONE_RE}')) AS np
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    scored AS (
        SELECT doc_id, ne, np,
               len({SQL_TOKS.format(col="ct")}) AS n_tokens,
               {_sql_hex_bucket("split", "doc_id")} AS b
        FROM clean
    )
    SELECT CASE WHEN b < '{SPLIT_THRESHOLD}' THEN 'train' ELSE 'holdout' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(ne) AS BIGINT) AS n_emails_scrubbed,
           CAST(SUM(np) AS BIGINT) AS n_phones_scrubbed
    FROM scored
    WHERE n_tokens >= 20
    GROUP BY 1
    """


@register(
    "pipeline_training_dataset",
    oracle=_training_dataset_sql(),
    tags=("llm", "pipeline"),
)
def pipeline_training_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER half of the end-to-end training-data flow
    (pipeline_corpus_curation covers dedup→quality; this picks up
    safety/split): benchmark decontamination (drop any doc sharing an
    8-gram with the held-out set) → PII scrub (typed placeholders)
    → post-scrub quality floor (≥ 20 tokens) → deterministic hash split
    → per-split doc/token totals with a scrub audit.

    Scale shape, stage by stage: the benchmark shingle set broadcasts
    (benchmarks are small by construction) so decontamination is a
    broadcast anti-join — zero corpus shuffles; scrub and token count are
    map-side expressions; the split is a pure per-row hash; the only
    exchange in the whole plan is the final 2-row aggregation's
    map-combined partial. A 100 TB corpus flows through in one pass."""
    from graph_etl_pipeline_spark.functions.text import shingles
    from graph_etl_pipeline_spark.queries.curation import (
        SPLIT_THRESHOLD, _hex_bucket,
    )
    from graph_etl_pipeline_spark.queries.textops import (
        DECONTAM_BENCH_DOCS, DECONTAM_K, EMAIL_RE, PHONE_RE,
    )

    d = table(spark, sf_dir, "documents")
    ds = d.select("doc_id", shingles(norm_tokens(d.text), k=DECONTAM_K).alias("sh"))
    bench = (
        ds.filter(F.col("doc_id") < DECONTAM_BENCH_DOCS)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    contaminated = (
        ds.select("doc_id", F.explode("sh").alias("s"))
        .join(F.broadcast(bench), "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    scrubbed = d.join(contaminated, "doc_id", "left_anti").select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("ct"),
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), 0)).alias("ne"),
        F.size(F.regexp_extract_all("text", F.lit(PHONE_RE), 0)).alias("np"),
    )
    scored = scrubbed.select(
        "doc_id",
        "ne",
        "np",
        F.size(norm_tokens(F.col("ct"))).alias("n_tokens"),
        _hex_bucket("split", "doc_id").alias("b"),
    ).filter(F.col("n_tokens") >= 20)
    return scored.groupBy(
        F.when(F.col("b") < SPLIT_THRESHOLD, "train").otherwise("holdout").alias("split")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("ne").cast("long").alias("n_emails_scrubbed"),
        F.sum("np").cast("long").alias("n_phones_scrubbed"),
    )


MM_SEEDS = 200        # distinct image contents planted across the corpus
MM_MIN_PIXELS = 12    # quality floor: tiny images are dropped


@register(
    "pipeline_multimodal_curation",
    oracle=f"""
    WITH img AS (
        SELECT doc_id, doc_id % {MM_SEEDS} AS seed,
               1 + (doc_id % {MM_SEEDS}) % 7 AS w,
               1 + (doc_id % {MM_SEEDS}) % 5 AS h
        FROM documents
    ),
    q AS (SELECT * FROM img WHERE w * h >= {MM_MIN_PIXELS}),
    px AS (
        SELECT s.seed,
               CAST(SUM((s.seed + 7*x.x + 13*y.y + 101*c.c) % 256) AS BIGINT) AS sum_pixels
        FROM (SELECT DISTINCT seed, w, h FROM q) s,
             generate_series(0, 6) AS x(x),
             generate_series(0, 4) AS y(y),
             generate_series(0, 2) AS c(c)
        WHERE x.x < s.w AND y.y < s.h
        GROUP BY s.seed
    )
    SELECT MIN(q.doc_id) AS rep_doc_id,
           COUNT(*) AS n_copies,
           CAST(q.w AS INTEGER) AS width,
           CAST(q.h AS INTEGER) AS height,
           px.sum_pixels
    FROM q JOIN px ON px.seed = q.seed
    GROUP BY q.seed, q.w, q.h, px.sum_pixels
    """,
    tags=("pipeline", "multimodal", "dedup", "llm"),
)
def pipeline_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MULTIMODAL curation — the image-side twin of
    pipeline_training_dataset's text flow: synthesize/ingest image bytes
    → REAL BMP decode (operators/multimodal.py codec) → quality floor
    (drop images under {MM_MIN_PIXELS} pixels) → exact near-dup
    collapse by CONTENT ADDRESS (sha2 of the decoded pixel matrix — the
    byte-identical-dedup first pass every image corpus runs before
    perceptual hashing) → one representative per content group with its
    copy count. Duplicates are planted by generating each image from
    doc_id mod {MM_SEEDS}, so ~{MM_SEEDS} distinct contents repeat
    across the corpus; the oracle replays generator + filter + grouping
    in closed form.

    Scale shape: decode and hashing are Arrow-batched map-only; the ONE
    exchange is the final content-hash groupBy — identical plan at
    100 TB, where the content-address table is also what feeds
    perceptual (SimHash-over-pixels) near-dup downstream.""".replace(
        "{MM_MIN_PIXELS}", str(MM_MIN_PIXELS)
    ).replace("{MM_SEEDS}", str(MM_SEEDS))
    from collections.abc import Iterator

    import pandas as pd

    from graph_etl_pipeline_spark.operators.multimodal import encode_bmp

    d = table(spark, sf_dir, "documents").select("doc_id")

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one pass: synthesize bytes AND content-address them here, so the
        # blob stream is built once (a second consumer would re-run the
        # whole map stage — Spark shares no subplans)
        import hashlib

        for pdf in batches:
            blobs, keys = [], []
            for doc_id in pdf["doc_id"]:
                seed = int(doc_id) % MM_SEEDS
                w, h = 1 + seed % 7, 1 + seed % 5
                rgb = bytes(
                    (seed + 7 * x + 13 * y + 101 * c) % 256
                    for y in range(h) for x in range(w) for c in range(3)
                )
                blob = encode_bmp(w, h, rgb)
                blobs.append(blob)
                keys.append(hashlib.sha256(blob).hexdigest())
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "blob": blobs, "content_key": keys}
            )

    from graph_etl_pipeline_spark.operators.multimodal import decode_image

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # chained map stage: decode happens in the SAME pipeline as the
        # synthesis — no join back to the blob stream, no second pass
        for pdf in batches:
            rows = {"doc_id": [], "content_key": [], "width": [], "height": [],
                    "n_pixels": [], "sum_pixels": []}
            for doc_id, blob, key in zip(
                pdf["doc_id"], pdf["blob"], pdf["content_key"]
            ):
                img = decode_image(bytes(blob))
                rows["doc_id"].append(doc_id)
                rows["content_key"].append(key)
                rows["width"].append(img.width)
                rows["height"].append(img.height)
                rows["n_pixels"].append(img.width * img.height)
                rows["sum_pixels"].append(sum(img.rgb))
            yield pd.DataFrame(rows)

    blobs = d.mapInPandas(
        _synth, schema="doc_id bigint, blob binary, content_key string"
    )
    stats = blobs.mapInPandas(
        _stats,
        schema="doc_id bigint, content_key string, width int, height int, "
        "n_pixels bigint, sum_pixels bigint",
    )
    kept = stats.filter(F.col("n_pixels") >= MM_MIN_PIXELS)
    return kept.groupBy("content_key").agg(
        F.min("doc_id").alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.first("width").alias("width"),
        F.first("height").alias("height"),
        F.first("sum_pixels").alias("sum_pixels"),
    ).drop("content_key").select("rep_doc_id", "n_copies", "width", "height", "sum_pixels")


# --- Incremental corpus refresh ---------------------------------------------
INGEST_BATCH_MOD = 10     # doc_id % 10 == 0 plays the "new crawl batch"
INGEST_JACCARD_PCT = 50   # near-dup floor vs the existing corpus (percent)
INGEST_MIN_WORDS = 40


@register(
    "pipeline_incremental_ingest",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS.format(col="text")} AS t,
               doc_id % {INGEST_BATCH_MOD} = 0 AS is_batch
        FROM documents
    ),
    sh AS (
        SELECT doc_id, is_batch, {sql_shingles("t", k=5)} AS shingles,
               len(t) AS n_words
        FROM toks
    ),
    md AS (
        SELECT doc_id, is_batch, n_words, md5(array_to_string(shingles, '|')) AS content_key
        FROM sh
    ),
    exact_dup AS (
        SELECT DISTINCT b.doc_id FROM md b
        JOIN md c ON NOT c.is_batch AND b.is_batch
                 AND c.content_key = b.content_key
    ),
    ex AS (
        SELECT doc_id, is_batch, unnest(shingles) AS s FROM sh
    ),
    inter AS (
        SELECT b.doc_id AS b_id, c.doc_id AS c_id, COUNT(*) AS n_inter
        FROM ex b JOIN ex c ON b.is_batch AND NOT c.is_batch AND b.s = c.s
        GROUP BY b.doc_id, c.doc_id
    ),
    sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_sh FROM sh),
    near_dup AS (
        SELECT DISTINCT i.b_id AS doc_id
        FROM inter i
        JOIN sizes sb ON sb.doc_id = i.b_id
        JOIN sizes sc ON sc.doc_id = i.c_id
        WHERE 100 * i.n_inter >= {INGEST_JACCARD_PCT} * (sb.n_sh + sc.n_sh - i.n_inter)
    )
    SELECT m.doc_id,
           CASE WHEN m.doc_id IN (SELECT doc_id FROM exact_dup) THEN 'exact_dup'
                WHEN m.doc_id IN (SELECT doc_id FROM near_dup) THEN 'near_dup'
                WHEN m.n_words < {INGEST_MIN_WORDS} THEN 'low_quality'
                ELSE 'kept' END AS verdict
    FROM md m WHERE m.is_batch
    """,
    tags=("pipeline", "dedup", "llm"),
)
def pipeline_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus refresh — the shape production curation
    actually runs: a new crawl BATCH is admitted against the EXISTING
    corpus, never by re-deduplicating the whole corpus (batch×corpus
    joins, not corpus×corpus). Every 10th doc plays the incoming batch;
    the verdict chain is the standard precedence:

      1. exact_dup  — content key (md5 of the normalized shingle
                      sequence) already in the corpus: one semi-join;
      2. near_dup   — shingle-overlap Jaccard ≥ {INGEST_JACCARD_PCT}%
                      against ANY corpus doc, candidates from the
                      inverted shingle index (batch-side only explodes
                      against matching corpus postings — cost ∝ true
                      collisions);
      3. low_quality — the gopher word-count floor;
      4. kept.

    All thresholds integer-exact (cross-multiplied Jaccard). Scale
    notes: the corpus side of the index is the content-addressed
    shingle table the dedup family already materializes once per
    corpus; the batch side is small by definition, so every join here
    is batch-bounded — the property that makes DAILY refresh
    affordable at 100 TB corpus scale, and the df-cap
    (dedup_ngram_jaccard) bounds hot shingles identically."""
    d = table(spark, sf_dir, "documents")
    toks = norm_tokens(d.text)
    sh = d.select(
        "doc_id",
        (F.col("doc_id") % INGEST_BATCH_MOD == 0).alias("is_batch"),
        shingles(toks, k=5).alias("shingles"),
        F.size(toks).alias("n_words"),
    )
    md = sh.select(
        "doc_id",
        "is_batch",
        "n_words",
        F.md5(F.array_join("shingles", "|")).alias("content_key"),
    )
    batch_md = md.filter("is_batch")
    corpus_md = md.filter("NOT is_batch")
    exact_dup = batch_md.join(
        corpus_md.select("content_key"), "content_key", "left_semi"
    ).select("doc_id")

    ex = sh.select("doc_id", "is_batch", F.explode("shingles").alias("s"))
    b = ex.filter("is_batch").select(F.col("doc_id").alias("b_id"), "s")
    c = ex.filter("NOT is_batch").select(F.col("doc_id").alias("c_id"), "s")
    inter = b.join(c, "s").groupBy("b_id", "c_id").agg(
        F.count(F.lit(1)).alias("n_inter")
    )
    sizes = sh.select("doc_id", F.size("shingles").cast("long").alias("n_sh"))
    near_dup = (
        inter.join(sizes.select(F.col("doc_id").alias("b_id"),
                                F.col("n_sh").alias("nb")), "b_id")
        .join(sizes.select(F.col("doc_id").alias("c_id"),
                           F.col("n_sh").alias("nc")), "c_id")
        .filter(
            F.lit(100) * F.col("n_inter")
            >= F.lit(INGEST_JACCARD_PCT)
            * (F.col("nb") + F.col("nc") - F.col("n_inter"))
        )
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    ed = exact_dup.withColumn("v_exact", F.lit(True))
    nd = near_dup.withColumn("v_near", F.lit(True))
    return (
        batch_md.join(ed, "doc_id", "left")
        .join(nd, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("v_exact").isNotNull(), "exact_dup")
            .when(F.col("v_near").isNotNull(), "near_dup")
            .when(F.col("n_words") < INGEST_MIN_WORDS, "low_quality")
            .otherwise("kept")
            .alias("verdict"),
        )
    )


# --- Anti-entropy repair pipeline ---------------------------------------------
REPAIR_DRIFT_MOD = 97  # replica B drifts on every 97th order key


@register(
    "pipeline_antientropy_repair",
    oracle=f"""
    SELECT {md5_lane_sql("o_orderkey", "bk:", 1, 8)} % 64 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_resync,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey % {REPAIR_DRIFT_MOD} = 0
    GROUP BY bucket
    """,
    tags=("pipeline", "quality", "checksum"),
)
def pipeline_antientropy_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END ANTI-ENTROPY REPAIR — the full replica-reconciliation
    round trip the `dq_merkle_checksum` digest exists for, as one
    pipeline: (1) both replicas summarize into {64}-bucket digests
    (replica B is the base table with a 1-cent drift planted on every
    {REPAIR_DRIFT_MOD}th key — a deterministic stand-in for a torn
    batch); (2) the two O(buckets) summaries join on bucket id and any
    lane mismatch marks the bucket SUSPECT — this stage compares
    64 rows, not two tables; (3) only suspect buckets escalate to
    row-level comparison: each replica's per-row digests are
    LEFT-SEMI-pruned to suspect buckets BEFORE the row join, so the
    expensive stage touches |divergent buckets| / {64} of the
    data — at 100 TB with one torn batch, that is the whole point:
    ~1/64th scanned twice, 63/64ths never read again (with partition
    pruning on a bucket-aligned layout, never read at all); (4) the
    repair manifest groups the mismatched keys per bucket with their
    key range — the exact shipping list a re-sync job consumes.

    The oracle recomputes the manifest from the drift rule alone, so
    the pipeline is wrong if the digest diff misses a divergent bucket
    (false negative), flags a clean one (false positive — the row join
    would emit nothing, shrinking counts), or the semi-join prunes a
    key it should not. The md5 lane arithmetic is the checksum
    operator's (quality.py merkle_rows/merkle_summary — one shared
    implementation, audited by its own python-replica property test)."""
    from graph_etl_pipeline_spark.queries.quality import (
        merkle_rows,
        merkle_summary,
    )

    base = table(spark, sf_dir, "orders")
    drift = F.when(
        F.col("o_orderkey") % REPAIR_DRIFT_MOD == 0, F.lit(0.01)
    ).otherwise(F.lit(0.0))
    replica_b = base.withColumn("o_totalprice", F.col("o_totalprice") + drift)

    rows_a = merkle_rows(base)
    rows_b = merkle_rows(replica_b)
    sum_a = merkle_summary(rows_a.drop("key"))
    sum_b = merkle_summary(rows_b.drop("key"))

    b = sum_b.select(
        "bucket",
        F.col("n_rows").alias("n_rows_b"),
        F.col("sum_h1").alias("sum_h1_b"),
        F.col("sum_h2").alias("sum_h2_b"),
        F.col("min_digest").alias("min_digest_b"),
        F.col("max_digest").alias("max_digest_b"),
    )
    suspect = (
        sum_a.join(b, "bucket", "full_outer")
        .filter(
            (F.col("n_rows") != F.col("n_rows_b"))
            | (F.col("sum_h1") != F.col("sum_h1_b"))
            | (F.col("sum_h2") != F.col("sum_h2_b"))
            | (F.col("min_digest") != F.col("min_digest_b"))
            | (F.col("max_digest") != F.col("max_digest_b"))
            | F.col("n_rows").isNull()
            | F.col("n_rows_b").isNull()
        )
        .select("bucket")
    )

    a_rows = rows_a.join(F.broadcast(suspect), "bucket", "left_semi")
    b_rows = (
        rows_b.join(F.broadcast(suspect), "bucket", "left_semi")
        .select("bucket", "key", F.col("digest").alias("digest_b"))
    )
    mismatched = a_rows.join(b_rows, ["bucket", "key"]).filter(
        F.col("digest") != F.col("digest_b")
    )
    return mismatched.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_resync"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
    )


# --- Filter-funnel attrition report ------------------------------------------
FUNNEL_MIN_CHARS = 200
FUNNEL_MIN_TOKENS = 20
FUNNEL_UNIQUE_PCT = 30  # distinct-token ratio floor, percent


@register(
    "pipeline_filter_funnel",
    oracle=f"""
    WITH flags AS (
        SELECT doc_id,
               length(text) >= {FUNNEL_MIN_CHARS} AS p1,
               len({SQL_TOKS.format(col="text")}) >= {FUNNEL_MIN_TOKENS} AS p2,
               len(list_distinct({SQL_TOKS.format(col="text")})) * 100
                   >= {FUNNEL_UNIQUE_PCT} * len({SQL_TOKS.format(col="text")}) AS p3,
               md5(text) AS h
        FROM documents
    ),
    kept AS (
        SELECT doc_id, p1, p1 AND p2 AS k2, p1 AND p2 AND p3 AS k3,
               row_number() OVER (
                   PARTITION BY h
                   ORDER BY (p1 AND p2 AND p3) DESC, doc_id
               ) AS rn
        FROM flags
    ),
    counts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN k2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN k3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
               CAST(SUM(CASE WHEN k3 AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        FROM kept
    )
    SELECT CAST(1 AS BIGINT) AS stage, 'len_floor' AS filter_name,
           n0 AS n_in, n1 AS n_kept, n0 - n1 AS n_dropped FROM counts
    UNION ALL SELECT 2, 'token_floor', n1, n2, n1 - n2 FROM counts
    UNION ALL SELECT 3, 'repetition_cap', n2, n3, n2 - n3 FROM counts
    UNION ALL SELECT 4, 'exact_dedup', n3, n4, n3 - n4 FROM counts
    """,
    tags=("pipeline", "llm", "curation"),
)
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-FUNNEL ATTRITION REPORT — the per-stage accounting every
    production corpus-curation run publishes next to its output (how
    many documents did each filter kill?): length floor → token floor →
    repetition cap → exact dedup, evaluated SEQUENTIALLY (stage N's
    keep-set is stage N+1's input) with n_in / n_kept / n_dropped per
    stage. A stage whose drop-rate jumps between snapshots is the
    canonical upstream-drift alarm, which is why the report is an
    operator and not a notebook.

    One-plan shape: all three predicate flags are map-side expressions
    in a SINGLE scan (no per-stage rescans); the dedup stage rides ONE
    md5(text) exchange where survivors sort first inside each hash
    group (ORDER BY keep DESC, doc_id) so row_number()=1 picks the
    canonical survivor without a second pass; the funnel then collapses
    to one 4-row stack from a single aggregate — input volume is
    touched exactly twice (scan + dedup exchange) no matter how many
    stages the funnel grows."""
    d = table(spark, sf_dir, "documents")
    toks = norm_tokens(d.text)
    flags = d.select(
        "doc_id",
        (F.length("text") >= FUNNEL_MIN_CHARS).alias("p1"),
        (F.size(toks) >= FUNNEL_MIN_TOKENS).alias("p2"),
        (
            F.size(F.array_distinct(toks)) * 100 >= F.lit(FUNNEL_UNIQUE_PCT) * F.size(toks)
        ).alias("p3"),
        F.md5("text").alias("h"),
    ).select(
        "doc_id",
        "p1",
        (F.col("p1") & F.col("p2")).alias("k2"),
        (F.col("p1") & F.col("p2") & F.col("p3")).alias("k3"),
        "h",
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("h").orderBy(F.col("k3").desc(), "doc_id")
    )
    kept = flags.withColumn("rn", rn)
    counts = kept.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(F.when(F.col("p1"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("k2"), 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("k3"), 1).otherwise(0)).cast("long").alias("n3"),
        F.sum(F.when(F.col("k3") & (F.col("rn") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n4"),
    )
    return counts.selectExpr(
        """stack(4,
            1, 'len_floor', n0, n1,
            2, 'token_floor', n1, n2,
            3, 'repetition_cap', n2, n3,
            4, 'exact_dedup', n3, n4
        ) AS (stage, filter_name, n_in, n_kept)"""
    ).withColumn("n_dropped", F.col("n_in") - F.col("n_kept")).withColumn(
        "stage", F.col("stage").cast("long")
    )


# --- Cross-modal dedup closure ----------------------------------------------


def _sql_retrained_sempairs_ctes() -> str:
    """CTE chain for τ-verified semantic pairs under the FULL-corpus
    (retrained) Lloyd model, ending in CTE ``sempairs`` — shared by
    _crossmodal_oracle and _retrain_reconciliation_oracle."""
    from graph_etl_pipeline_spark.queries.similarity import (
        LLOYD_ROUNDS,
        SEMDEDUP_TAU_SQ_E4,
        _sql_idot,
        _sql_lloyd_ctes,
    )

    return f"""{_sql_lloyd_ctes()},
    semm AS (SELECT vec_id, cid, qe FROM a{LLOYD_ROUNDS - 1}),
    semp AS (
        SELECT b.vec_id AS lo, a.vec_id AS hi,
               {_sql_idot("a.qe", "b.qe")} AS d,
               {_sql_idot("a.qe", "a.qe")} AS na,
               {_sql_idot("b.qe", "b.qe")} AS nb
        FROM semm a JOIN semm b ON a.cid = b.cid AND b.vec_id < a.vec_id
    ),
    sempairs AS (
        SELECT lo, hi FROM semp
        WHERE d > 0
          AND CAST(d AS HUGEINT) * d * 10000
              >= {SEMDEDUP_TAU_SQ_E4} * CAST(na AS HUGEINT) * nb
    )"""


def _crossmodal_oracle() -> str:
    from graph_etl_pipeline_spark.queries.dedup import (
        _SQL_LSH_PAIRS_BODY,
        _SQL_SHINGLE_BODY,
    )

    return f"""
    WITH RECURSIVE {_SQL_SHINGLE_BODY},
    {_SQL_LSH_PAIRS_BODY},
    {_sql_retrained_sempairs_ctes()},
    undirected AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs
        UNION ALL SELECT lo AS a, hi AS b FROM sempairs
        UNION ALL SELECT hi AS a, lo AS b FROM sempairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM undirected),
    reach AS (
        SELECT node, node AS anc FROM nodes
        UNION
        SELECT u.b AS node, r.anc FROM reach r JOIN undirected u ON u.a = r.node
    ),
    flags AS (
        SELECT node AS doc_id,
               MIN(anc) AS canonical_id,
               (node = MIN(anc)) AS kept
        FROM reach GROUP BY node
    )
    SELECT d.doc_id,
           COALESCE(f.canonical_id, d.doc_id) AS canonical_id,
           COALESCE(f.kept, TRUE) AS kept
    FROM documents d LEFT JOIN flags f ON f.doc_id = d.doc_id
    """


@register(
    "pipeline_crossmodal_dedup",
    oracle=_crossmodal_oracle(),
    tags=("pipeline", "dedup", "llm"),
)
def pipeline_crossmodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL DEDUP CLOSURE — the third and strictest member of the
    composite-dedup family (lexical: pipeline_minhash_verified_dedup,
    semantic: pipeline_semdedup_apply): a document is a duplicate if it
    is lexically OR semantically near-duplicate of another, so the two
    VERIFIED pair graphs are UNIONED and connected components run ONCE
    over the combined edge set. This is stronger than intersecting the
    two composites' kept flags: a lexical A↔B edge and a semantic B↔C
    edge merge {{A,B,C}} into one cluster with one keeper, which
    flag-intersection cannot see (it would keep A and C). The fixture
    corpora share one id universe (doc_id ≡ vec_id, the
    document-to-embedding contract a production pipeline maintains by
    construction).

    Cost composition at 100 TB: both pair sets are the SAME verified
    frames their standalone composites build (content-addressed shingle
    table, trained Lloyd member table — each built once per corpus);
    the union adds zero new candidate generation; CC runs on the
    combined SPARSE graph (≤ sum of the two edge sets, ≪ corpus); the
    final application is the same single corpus⋈flags left join. So the
    closure costs ≈ max(lexical, semantic) pipeline + one CC over the
    union — strictly cheaper than running both composites separately
    and reconciling downstream.

    Oracle: recursive-CTE transitive closure over the union of the
    lexical pair CTE (exact-Jaccard-verified LSH candidates) and the
    semantic pair CTE (exact-cosine τ-verified cell pairs)."""
    from graph_etl_pipeline_spark.graph.model import PropertyGraph, edge_endpoints
    from graph_etl_pipeline_spark.queries.dedup import _lsh_pairs_artifact
    from graph_etl_pipeline_spark.queries.similarity import _semdedup_verified_pairs

    lex = _lsh_pairs_artifact(spark, sf_dir).select(
        F.col("doc_a").alias("src_uid"), F.col("doc_b").alias("dst_uid")
    )
    sem = _semdedup_verified_pairs(spark, sf_dir).select(
        F.col("lo_id").alias("src_uid"), F.col("hi_id").alias("dst_uid")
    )
    # pin the unioned pair frame once (both sides carry expensive
    # verification lineage; the union is sparse — see the two composites)
    edges = lex.unionByName(sem).localCheckpoint(eager=True)
    flags = (
        PropertyGraph(edge_endpoints(edges), edges)
        .connected_components()
        .select(
            F.col("uid").alias("doc_id"),
            F.col("component").alias("canonical_id"),
            (F.col("uid") == F.col("component")).alias("kept"),
        )
    )
    d = table(spark, sf_dir, "documents").select("doc_id")
    return d.join(flags, "doc_id", "left").select(
        "doc_id",
        F.coalesce("canonical_id", F.col("doc_id")).alias("canonical_id"),
        F.coalesce("kept", F.lit(True)).alias("kept"),
    )


# --- Incremental cross-modal dedup -------------------------------------------


def _sql_frozen_sempairs_ctes() -> str:
    """CTE chain for τ-verified semantic pairs under the FROZEN
    base-cohort quantizer (``i``-prefixed names: Lloyd trained on
    vec_id % INCR_NEW_MOD != 0 only, ALL vectors assigned to the final
    centroids), ending in CTE ``isempairs`` — shared by
    _incremental_crossmodal_oracle and _retrain_reconciliation_oracle."""
    from graph_etl_pipeline_spark.queries.dedup import INCR_NEW_MOD
    from graph_etl_pipeline_spark.queries.similarity import (
        DIM,
        FIXED_SCALE,
        K_CLUSTERS,
        LLOYD_ROUNDS,
        SEMDEDUP_TAU_SQ_E4,
        _sql_idot,
    )

    ctes = [
        f"""iq AS (
        SELECT vec_id,
               [CAST(FLOOR(CAST(x AS DOUBLE) * {FIXED_SCALE} + 0.5) AS BIGINT)
                for x in embedding] AS qe
        FROM embeddings
    )""",
        f"iqb AS (SELECT vec_id, qe FROM iq WHERE vec_id % {INCR_NEW_MOD} <> 0)",
        f"""ic0 AS (SELECT vec_id AS cid, qe AS ce FROM iqb
                    WHERE vec_id < {K_CLUSTERS})""",
    ]
    for r in range(LLOYD_ROUNDS - 1):
        ctes.append(f"""isc{r} AS (
        SELECT q.vec_id, q.qe, c.cid,
               {_sql_idot("c.ce", "c.ce")} - 2 * {_sql_idot("q.qe", "c.ce")} AS score
        FROM iqb q, ic{r} c
    )""")
        ctes.append(f"""ia{r} AS (
        SELECT vec_id, qe, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
            FROM isc{r}
        ) WHERE rn = 1
    )""")
        ctes.append(f"""ic{r + 1} AS (
        SELECT cid, list(cx ORDER BY i) AS ce FROM (
            SELECT cid, g.i,
                   CAST(FLOOR(CAST(SUM(qe[g.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
            FROM ia{r}, (SELECT unnest(generate_series(1, {DIM})) AS i) g
            GROUP BY cid, g.i
        ) GROUP BY cid
    )""")
    last = LLOYD_ROUNDS - 1
    ctes.append(f"""isf AS (
        SELECT q.vec_id, q.qe, c.cid,
               {_sql_idot("c.ce", "c.ce")} - 2 * {_sql_idot("q.qe", "c.ce")} AS score
        FROM iq q, ic{last} c
    )""")
    ctes.append("""im AS (
        SELECT vec_id, qe, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
            FROM isf
        ) WHERE rn = 1
    )""")
    lloyd = ",\n    ".join(ctes)
    return f"""{lloyd},
    isemp AS (
        SELECT b.vec_id AS lo, a.vec_id AS hi,
               {_sql_idot("a.qe", "b.qe")} AS d,
               {_sql_idot("a.qe", "a.qe")} AS na,
               {_sql_idot("b.qe", "b.qe")} AS nb
        FROM im a JOIN im b ON a.cid = b.cid AND b.vec_id < a.vec_id
    ),
    isempairs AS (
        SELECT lo, hi FROM isemp
        WHERE d > 0
          AND CAST(d AS HUGEINT) * d * 10000
              >= {SEMDEDUP_TAU_SQ_E4} * CAST(na AS HUGEINT) * nb
    )"""


def _incremental_crossmodal_oracle() -> str:
    """Full-recompute oracle for the incremental cross-modal closure:
    lexical pairs over the whole corpus (the pair set decomposes exactly
    across the ingest boundary — per-doc signatures, per-pair verify),
    semantic pairs under the FROZEN quantizer (Lloyd trained on the
    standing cohort only, all vectors assigned to the final centroids),
    one transitive closure over the union. The incremental Spark plan
    must converge to exactly this from yesterday's persisted artifacts
    plus today's delta work."""
    from graph_etl_pipeline_spark.queries.dedup import (
        _SQL_LSH_PAIRS_BODY,
        _SQL_SHINGLE_BODY,
    )

    return f"""
    WITH RECURSIVE {_SQL_SHINGLE_BODY},
    {_SQL_LSH_PAIRS_BODY},
    {_sql_frozen_sempairs_ctes()},
    undirected AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs
        UNION ALL SELECT lo AS a, hi AS b FROM isempairs
        UNION ALL SELECT hi AS a, lo AS b FROM isempairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM undirected),
    reach AS (
        SELECT node, node AS anc FROM nodes
        UNION
        SELECT u.b AS node, r.anc FROM reach r JOIN undirected u ON u.a = r.node
    ),
    flags AS (
        SELECT node AS doc_id,
               MIN(anc) AS canonical_id,
               (node = MIN(anc)) AS kept
        FROM reach GROUP BY node
    )
    SELECT d.doc_id,
           COALESCE(f.canonical_id, d.doc_id) AS canonical_id,
           COALESCE(f.kept, TRUE) AS kept
    FROM documents d LEFT JOIN flags f ON f.doc_id = d.doc_id
    """


@register(
    "pipeline_incremental_crossmodal",
    oracle=_incremental_crossmodal_oracle(),
    tags=("pipeline", "dedup", "incremental", "llm"),
)
def pipeline_incremental_crossmodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL cross-modal dedup closure — the daily-refresh shape:
    the three verified composites rebuild their pair graphs per corpus;
    this query takes yesterday's PERSISTED state (base pair artifacts +
    base component labels, all content-addressed) and folds in a new
    day's batch
    (doc_id % INCR_NEW_MOD == 0, the dedup_incremental_lsh cohort)
    touching only delta-sized work:

      1. delta pair generation, both modalities — the batch's band
         signatures against the full signature set (lexical) and the
         batch's frozen-cell members against the full member set
         (semantic, batch side broadcast); never corpus × corpus;
      2. CONTRACTED component update: each new edge's endpoints are
         mapped through yesterday's labels (a base label is its
         component's min id), then connected components run over the
         contracted graph — supernodes are base labels, newly-paired
         singleton base docs, and delta ids, so the CC input is
         new-edge-sized, not history-sized;
      3. label routing: base docs route through their (possibly merged)
         base label; supernodes outside yesterday's label table take
         their contracted component directly.

    min-label correctness: a base label is the min of its old component,
    so the contracted min equals the min over the merged vertex set —
    the closure converges to EXACTLY the full recompute (the oracle),
    which is the invariant that makes incremental maintenance safe to
    ship. The semantic model is FROZEN (Lloyd trained on the standing
    cohort — similarity._lloyd_frozen_base): production retrains on a
    schedule, not per batch, because retraining invalidates every
    persisted cell assignment and pair artifact.

    Cost at 100 TB: steady-state runs scan three sparse artifacts and
    pay delta-bounded joins plus a CC over the contracted graph — the
    full pair generation and corpus-wide CC never re-run."""
    from graph_etl_pipeline_spark.graph.model import PropertyGraph, edge_endpoints
    from graph_etl_pipeline_spark.io import materialize, memo
    from graph_etl_pipeline_spark.queries.dedup import _incr_lexical_pairs
    from graph_etl_pipeline_spark.queries.similarity import _incr_semantic_pairs

    lex_b, lex_d = _incr_lexical_pairs(spark, sf_dir)
    sem_b, sem_d = _incr_semantic_pairs(spark, sf_dir)

    def as_edges(lex: DataFrame, sem: DataFrame) -> DataFrame:
        return lex.select(
            F.col("doc_a").alias("src_uid"), F.col("doc_b").alias("dst_uid")
        ).unionByName(
            sem.select(
                F.col("lo_id").alias("src_uid"), F.col("hi_id").alias("dst_uid")
            )
        )

    # Yesterday's labels: CC over the base pair union, persisted once per
    # base corpus. The CC rounds execute EAGERLY while the CC output plan
    # is being BUILT (each round localCheckpoints), so even a
    # content-addressed materialize would re-pay the rounds per call just
    # to compute the digest; memoizing on the two base pair artifacts'
    # files (themselves content-addressed per corpus) is what makes
    # "read yesterday's labels from storage" true.
    def base_cc_labels() -> DataFrame:
        base_edges = as_edges(lex_b, sem_b)
        return materialize(
            PropertyGraph(edge_endpoints(base_edges), base_edges)
            .connected_components()
            .select(F.col("uid").alias("doc_id"), F.col("component").alias("base_label")),
            "incr_base_cc_labels",
        )

    base_labels = memo("incr_base_cc_labels", [lex_b, sem_b], base_cc_labels)

    # Today: contract new-edge endpoints through yesterday's labels. The
    # delta edge set is pinned once (its lineage carries the band join +
    # Jaccard verify + τ dots); at scale these joins broadcast the DELTA
    # side — the label table scales with history, the batch does not.
    mapped = (
        as_edges(lex_d, sem_d)
        .join(
            base_labels.select(F.col("doc_id").alias("src_uid"), F.col("base_label").alias("sl")),
            "src_uid",
            "left",
        )
        .join(
            base_labels.select(F.col("doc_id").alias("dst_uid"), F.col("base_label").alias("dl")),
            "dst_uid",
            "left",
        )
        .select(
            F.coalesce("sl", F.col("src_uid")).alias("src_uid"),
            F.coalesce("dl", F.col("dst_uid")).alias("dst_uid"),
        )
        .filter(F.col("src_uid") != F.col("dst_uid"))
        .localCheckpoint(eager=True)
    )
    cc2 = PropertyGraph(edge_endpoints(mapped), mapped).connected_components()

    new_lab = cc2.select(
        F.col("uid").alias("base_label"), F.col("component").alias("new_label")
    )
    base_final = base_labels.join(new_lab, "base_label", "left").select(
        "doc_id", F.coalesce("new_label", F.col("base_label")).alias("canonical_id")
    )
    extra_final = cc2.join(
        base_labels.select(F.col("doc_id").alias("uid")), "uid", "left_anti"
    ).select(F.col("uid").alias("doc_id"), F.col("component").alias("canonical_id"))
    flags = base_final.unionByName(extra_final)

    d = table(spark, sf_dir, "documents").select("doc_id")
    canon = F.coalesce("canonical_id", F.col("doc_id"))
    return d.join(flags, "doc_id", "left").select(
        "doc_id",
        canon.alias("canonical_id"),
        (canon == F.col("doc_id")).alias("kept"),
    )


# --- Retrain boundary of the incremental family ------------------------------


def _retrain_reconciliation_oracle() -> str:
    """Both closures, full-recompute, side by side: the FROZEN one
    (base-cohort-trained quantizer — pipeline_incremental_crossmodal's
    model) and the RETRAINED one (full-corpus-trained — the crossmodal
    composite's model), reconciled per document. The lexical pair CTEs
    are shared verbatim: shingles and Jaccard verification do not depend
    on the quantizer, which is exactly why the lexical artifacts survive
    a retrain while every semantic cell/pair artifact is invalidated."""
    from graph_etl_pipeline_spark.queries.dedup import (
        _SQL_LSH_PAIRS_BODY,
        _SQL_SHINGLE_BODY,
    )

    def closure(sfx: str, sem_pairs: str) -> str:
        return f"""undirected{sfx} AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs
        UNION ALL SELECT lo AS a, hi AS b FROM {sem_pairs}
        UNION ALL SELECT hi AS a, lo AS b FROM {sem_pairs}
    ),
    nodes{sfx} AS (SELECT DISTINCT a AS node FROM undirected{sfx}),
    reach{sfx} AS (
        SELECT node, node AS anc FROM nodes{sfx}
        UNION
        SELECT u.b AS node, r.anc
        FROM reach{sfx} r JOIN undirected{sfx} u ON u.a = r.node
    ),
    flags{sfx} AS (
        SELECT node AS doc_id,
               MIN(anc) AS canonical_id,
               (node = MIN(anc)) AS kept
        FROM reach{sfx} GROUP BY node
    )"""

    return f"""
    WITH RECURSIVE {_SQL_SHINGLE_BODY},
    {_SQL_LSH_PAIRS_BODY},
    {_sql_frozen_sempairs_ctes()},
    {_sql_retrained_sempairs_ctes()},
    {closure("_f", "isempairs")},
    {closure("_r", "sempairs")}
    SELECT d.doc_id,
           COALESCE(ff.kept, TRUE) AS kept_frozen,
           COALESCE(fr.kept, TRUE) AS kept_retrained,
           COALESCE(ff.canonical_id, d.doc_id) AS canonical_frozen,
           COALESCE(fr.canonical_id, d.doc_id) AS canonical_retrained,
           (COALESCE(ff.kept, TRUE) <> COALESCE(fr.kept, TRUE)
            OR COALESCE(ff.canonical_id, d.doc_id)
               <> COALESCE(fr.canonical_id, d.doc_id)) AS changed
    FROM documents d
    LEFT JOIN flags_f ff ON ff.doc_id = d.doc_id
    LEFT JOIN flags_r fr ON fr.doc_id = d.doc_id
    """


@register(
    "pipeline_crossmodal_retrain",
    oracle=_retrain_reconciliation_oracle(),
    tags=("pipeline", "dedup", "incremental", "llm"),
)
def pipeline_crossmodal_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRAIN-BOUNDARY RECONCILIATION — the scheduled edge
    pipeline_incremental_crossmodal's frozen-quantizer contract defers
    to: production retrains Lloyd on base+batch on a schedule,
    and at that boundary every semantic cell/pair artifact is
    INVALIDATED while the lexical artifacts survive (shingles and
    Jaccard verification never see the quantizer). This operator runs
    the boundary itself and emits the per-document audit a retrain
    ships with: keep/canonical under yesterday's frozen model vs under
    the retrained model, plus the changed flag reviewers diff.

    Mechanics — invalidation is STRUCTURAL, not bookkeeping: artifacts
    are content-addressed (io.materialize digests the producing plan),
    so the retrained model's member/pair tables land at NEW addresses
    the moment the centroid literals change, and yesterday's frozen
    artifacts remain on disk untouched for the frozen closure to scan.
    The lexical pair artifacts (full set for the retrained closure,
    base/delta split for the frozen one) never see the quantizer, so
    their addresses are IDENTICAL across the boundary — nothing lexical
    rebuilds (tests/test_r15_operators.py pins disjoint semantic
    artifact file sets between the two models and unchanged lexical
    artifact addresses after the retrained model is built).

    Cost at 100 TB: the frozen side is the incremental family's
    storage-served state (no recompute); the retrained side pays one
    full semantic rebuild — exactly the once-per-schedule price the
    docstring contract declares — and REUSES the corpus's lexical pair
    artifact byte-for-byte; the reconciliation itself is two sparse CC
    closures plus one corpus-wide join on doc_id.

    Oracle: both full-recompute closure stacks (frozen i-CTEs, the
    incremental oracle's twin; retrained CTEs, the crossmodal oracle's)
    over the SHARED lexical pair CTE, reconciled per document."""
    frozen = pipeline_incremental_crossmodal(spark, sf_dir).select(
        "doc_id",
        F.col("kept").alias("kept_frozen"),
        F.col("canonical_id").alias("canonical_frozen"),
    )
    retrained = pipeline_crossmodal_dedup(spark, sf_dir).select(
        "doc_id",
        F.col("kept").alias("kept_retrained"),
        F.col("canonical_id").alias("canonical_retrained"),
    )
    return frozen.join(retrained, "doc_id").select(
        "doc_id",
        "kept_frozen",
        "kept_retrained",
        "canonical_frozen",
        "canonical_retrained",
        (
            (F.col("kept_frozen") != F.col("kept_retrained"))
            | (F.col("canonical_frozen") != F.col("canonical_retrained"))
        ).alias("changed"),
    )


def _dpo_dataset_sql() -> str:
    from graph_etl_pipeline_spark.queries.curation import (
        SPLIT_THRESHOLD, _pref_pairs_decontam_sql, _sql_hex_bucket,
    )

    return f"""
    WITH base AS ({_pref_pairs_decontam_sql()}),
    bucketed AS (
        SELECT *, {_sql_hex_bucket("dpo", "user_id")} AS b FROM base
    )
    SELECT CASE WHEN b < '{SPLIT_THRESHOLD}' THEN 'train' ELSE 'holdout' END
               AS split,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT user_id) AS n_prompts,
           CAST(SUM(margin_cents) AS BIGINT) AS total_margin_cents,
           CAST(MIN(margin_cents) AS BIGINT) AS min_margin_cents
    FROM bucketed
    GROUP BY 1
    """


@register(
    "pipeline_dpo_dataset",
    oracle=_dpo_dataset_sql(),
    tags=("llm", "pipeline", "curation"),
)
def pipeline_dpo_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END DPO dataset construction — the preference-data twin of
    pipeline_training_dataset's decontam-first flow: decontaminated
    preference pairs (sample_preference_pairs_decontaminated: rank-
    aligned best/worst pairing, positive margin, prompt-document 8-gram
    benchmark check) → deterministic PROMPT-LEVEL hash split (seeded on
    user_id, NOT the pair, so a prompt's pairs can never straddle
    train/holdout — pair-level splitting leaks the prompt across the
    boundary) → per-split audit: pair and prompt counts, total and
    minimum reward margin (a non-positive minimum would mean the
    positive-margin filter regressed; the margin totals are exact
    integer cents, so both engines hash identically).

    Scale shape: everything after the pair constructor is map-side (the
    split is a pure per-row hash) plus ONE 2-row aggregation with
    map-combined partials; the constructor itself keeps its
    single-exchange window plan and broadcast decontamination. A 100 TB
    preference corpus flows through in one pass after the pair build."""
    from graph_etl_pipeline_spark.queries.curation import (
        SPLIT_THRESHOLD, _hex_bucket,
        sample_preference_pairs_decontaminated,
    )

    pairs = sample_preference_pairs_decontaminated(spark, sf_dir)
    bucketed = pairs.withColumn("b", _hex_bucket("dpo", "user_id"))
    return bucketed.groupBy(
        F.when(F.col("b") < SPLIT_THRESHOLD, "train")
        .otherwise("holdout")
        .alias("split")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("user_id").alias("n_prompts"),
        F.sum("margin_cents").cast("long").alias("total_margin_cents"),
        F.min("margin_cents").cast("long").alias("min_margin_cents"),
    )
