"""Text-analysis operators (driver north-star: language-ID, quality
scoring, token counting, document fingerprinting over `documents`).

Reference analogue: the per-record string heuristics of
src/etl/waste_items.py (validity scoring :72-120, pattern extraction
:174-237) — generalized to corpus-scale text statistics. Everything is
built-in expressions (codegen); ratios divide exact integers so doubles
are reproducible bit-for-bit across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_etl_pipeline_spark.functions.text import SQL_TOKS, norm_tokens, sql_shingles
from graph_etl_pipeline_spark.functions.hashing import md5_lane, md5_lane_sql
from graph_etl_pipeline_spark.io import table
from graph_etl_pipeline_spark.registry import register

# Tiny per-language stopword profiles (n-gram heuristic stand-in; a real
# deployment swaps in fastText/CLD3 via the multimodal pandas-UDF path).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht"),
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "los", "y", "que"),
    "fr": ("le", "les", "et", "une", "est"),
}
MOD = 2_147_483_647  # 2^31-1, keeps the rolling hash in exact int64 range


def _score(toks, words: tuple[str, ...]):
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def _sql_score(toks: str, words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, t -> t IN ({inlist})))"


@register(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang AS lang_declared,
               {", ".join(f"{_sql_score(SQL_TOKS.format(col='text'), ws)} AS s_{lang}" for lang, ws in LANG_PROFILES.items())}
        FROM documents
    )
    SELECT doc_id, lang_declared,
           CASE WHEN s_de + s_en + s_es + s_fr = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred,
           s_en AS score_en
    FROM scored
    """,
    tags=("text", "llm"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via stopword-profile scoring: count hits per
    language profile, argmax with a fixed alphabetical preference order so
    ties are deterministic. Scores are exact integers — no fp in the
    decision path."""
    d = table(spark, sf_dir, "documents")
    toks = norm_tokens(d.text)
    scores = {lang: _score(toks, ws) for lang, ws in LANG_PROFILES.items()}
    s = {lang: F.col(f"s_{lang}") for lang in LANG_PROFILES}
    pred = (
        F.when(sum(s.values()) == 0, "und")
        .when((s["de"] >= s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return (
        d.select(
            "doc_id",
            d.lang.alias("lang_declared"),
            *[scores[lang].alias(f"s_{lang}") for lang in LANG_PROFILES],
        )
        .select(
            "doc_id",
            "lang_declared",
            pred.alias("lang_pred"),
            F.col("s_en").alias("score_en"),
        )
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH stats AS (
        SELECT doc_id,
               len({SQL_TOKS.format(col="text")}) AS n_tokens,
               length(text) AS n_chars_actual,
               {_sql_score(SQL_TOKS.format(col="text"), LANG_PROFILES["en"])} AS n_stop,
               len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(n_chars_actual AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
           CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
           CAST(n_punct AS DOUBLE) / CAST(n_chars_actual AS DOUBLE) AS punct_ratio,
           0.5 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             + 0.3 * (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END)
             + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars_actual AS DOUBLE))
             AS quality
    FROM stats
    """,
    tags=("text", "llm"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length band, stopword density, punctuation
    ratio — the classic pretraining-corpus filters, cf. C4/Gopher rules).
    The score combines integer-derived doubles with one fixed expression
    tree, so both engines produce identical bits."""
    d = table(spark, sf_dir, "documents")
    toks = norm_tokens(d.text)
    stats = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length(d.text).alias("n_chars_actual"),
        _score(toks, LANG_PROFILES["en"]).alias("n_stop"),
        F.size(F.regexp_extract_all(d.text, F.lit("[^a-z0-9 ]"), 0)).alias("n_punct"),
    )
    tokd = F.col("n_tokens").cast("double")
    chard = F.col("n_chars_actual").cast("double")
    stopr = F.col("n_stop").cast("double") / tokd
    punctr = F.col("n_punct").cast("double") / chard
    in_band = F.when(F.col("n_tokens").between(20, 1000), 1.0).otherwise(0.0)
    return stats.select(
        "doc_id",
        "n_tokens",
        (chard / tokd).alias("avg_token_len"),
        stopr.alias("stopword_ratio"),
        punctr.alias("punct_ratio"),
        (0.5 * stopr + 0.3 * in_band + 0.2 * (1.0 - punctr)).alias("quality"),
    )


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len({SQL_TOKS.format(col="text")}) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_ish,
           n_chars
    FROM documents
    """,
    tags=("text", "llm"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish lexer regex
    (letter runs | digit runs | single symbols) — the cheap proxy used to
    budget LLM training tokens before running a real tokenizer."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(norm_tokens(d.text)).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.lower(d.text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("n_bpe_ish"),
        "n_chars",
    )


_SQL_TOKHASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))), "
    f"(a, b) -> (a * 31 + b) % {MOD})"
)


@register(
    "text_fingerprint",
    oracle=f"""
    WITH tokhashes AS (
        SELECT doc_id, {_SQL_TOKHASH} AS th
        FROM (
            SELECT doc_id, unnest({SQL_TOKS.format(col="text")}) AS tok
            FROM documents
        )
    ),
    hashlists AS (
        SELECT doc_id, list(th ORDER BY th) AS ths FROM tokhashes GROUP BY doc_id
    )
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), ths),
                       (a, b) -> (a * 131 + b) % {MOD}) AS fingerprint
    FROM hashlists
    """,
    tags=("text", "llm"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: per-token polynomial hash over
    character codes, then an order-independent doc hash (tokens sorted
    before the outer roll, so shingle order/partitioning can't change the
    fingerprint). Pure int64 modular arithmetic — exact everywhere."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(norm_tokens(d.text)).alias("tok"))
    codes = F.transform(F.split(F.col("tok"), ""), lambda c: F.ascii(c).cast("long"))
    th = F.aggregate(
        codes, F.lit(0).cast("long"), lambda a, b: (a * 31 + b) % MOD
    ).alias("th")
    hashlists = (
        tok.select("doc_id", th)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("th")).alias("ths"))
    )
    fp = F.aggregate(
        F.col("ths"), F.lit(0).cast("long"), lambda a, b: (a * 131 + b) % MOD
    )
    return hashlists.select("doc_id", fp.alias("fingerprint"))


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS.format(col="text")} AS t FROM documents
    ),
    top AS (
        SELECT doc_id, MAX(c) AS top_token_freq FROM (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
            GROUP BY doc_id, tok
        ) GROUP BY doc_id
    )
    SELECT t.doc_id,
           len(t.t) AS n_tokens,
           len(list_distinct(t.t)) AS n_distinct,
           CAST(len(list_distinct(t.t)) AS DOUBLE) / CAST(len(t.t) AS DOUBLE)
               AS distinct_ratio,
           top.top_token_freq,
           CAST(top.top_token_freq AS DOUBLE) / CAST(len(t.t) AS DOUBLE)
               AS top_ratio
    FROM toks t LEFT JOIN top USING (doc_id)
    """,
    # LEFT join: a NULL-text doc has no unnested rows (so no `top` entry)
    # but the Spark side still emits its row with NULL stats — the joins
    # must agree on row count.
    tags=("text", "llm"),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signal (the Gopher-rules family): the
    distinct-token ratio and the most-frequent-token share expose
    boilerplate and degenerate/repetitive generations that length or
    stopword ratios miss.

    Entirely map-side, no shuffle: the top-token frequency is the longest
    equal-run in the SORTED token array, computed as one structural fold
    (array_sort + aggregate with (prev, run, best) state) — O(n log n)
    per document. The tempting transform(distinct, count-in-array)
    formulation is O(distinct × tokens) per doc, quadratic exactly on
    long high-entropy documents. The oracle states the same value as the
    naive per-token GROUP BY — simpler SQL, identical integers (DuckDB
    1.0's list_reduce mutates the accumulator between struct_pack field
    evaluations, so the fold formulation is Spark-side only). Ratios
    divide exact integers, so the doubles hash identically across
    engines."""
    d = table(spark, sf_dir, "documents")
    toks = norm_tokens(d.text)
    distinct = F.array_distinct(toks)
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def _step(acc, x):
        run = (
            F.when(x.eqNullSafe(acc.getField("prev")), acc.getField("run") + 1)
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"),
        )

    top_freq = F.aggregate(
        F.array_sort(toks), zero, _step, lambda acc: acc.getField("best")
    )
    n = F.size(toks)
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(distinct).alias("n_distinct"),
        (F.size(distinct).cast("double") / n.cast("double")).alias("distinct_ratio"),
        top_freq.alias("top_token_freq"),
        (top_freq.cast("double") / n.cast("double")).alias("top_ratio"),
    )


# Benchmark decontamination: docs 0-2 stand in for a held-out eval set.
DECONTAM_K = 8
DECONTAM_BENCH_DOCS = 3


@register(
    "text_decontaminate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKS.format(col="text")} AS t FROM documents
    ),
    ds AS (
        SELECT doc_id, {sql_shingles("t", k=DECONTAM_K)} AS shingles FROM toks
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
    SELECT d.doc_id, d.doc_id IN (SELECT doc_id FROM hits) AS contaminated
    FROM documents d
    """,
    tags=("text", "llm", "dedup"),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag every training document sharing an
    8-gram (DECONTAM_K) with the held-out eval set (here: docs 0-2, a deterministic
    stand-in; production swaps in the real benchmark corpus). The eval
    shingle set is SMALL by construction (benchmarks are thousands of
    documents, not billions), so it broadcasts: the check is a broadcast
    left-semi join against each doc's exploded shingles — one pass over
    the corpus, zero shuffles of corpus data, the canonical
    contamination-check shape at 100 TB."""
    from graph_etl_pipeline_spark.functions.text import shingles

    d = table(spark, sf_dir, "documents")
    ds = d.select("doc_id", shingles(norm_tokens(d.text), k=DECONTAM_K).alias("sh"))
    bench = (
        ds.filter(F.col("doc_id") < DECONTAM_BENCH_DOCS)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    ex = ds.select("doc_id", F.explode("sh").alias("s"))
    hits = (
        ex.join(F.broadcast(bench), "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return d.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated")
    )


# Sequence packing: training-sequence capacity and offset-bucket width.
PACK_SEQ_LEN = 2048
PACK_BUCKET = 256  # docs per offset bucket (two-level prefix sum)


@register(
    "text_pack_sequences",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, len({SQL_TOKS.format(col="text")}) AS n_tokens
        FROM documents
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS global_offset,
           CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) // {PACK_SEQ_LEN} AS BIGINT) AS seq_id
    FROM tok
    """,
    tags=("text", "llm", "pack"),
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents are laid out
    in doc_id order, each doc gets its global token offset, and seq_id =
    offset DIV {seq} assigns it to a fixed-capacity training sequence.

    The naive formulation is a running sum over ONE global window — a
    single-partition sort of the whole corpus, the canonical scale
    bottleneck. This plan is the scalable TWO-LEVEL prefix sum instead:
      1. per-row counts bucket by doc_id DIV {b} (deterministic key,
         not spark_partition_id — results are partitioning-independent);
      2. per-bucket subtotals get their exclusive prefix via a window
         over the BUCKET table (corpus/{b} rows — at 100 TB pick {b} so
         bucket count stays one comfortable task);
      3. each row's offset = its bucket's prefix (broadcast join) + the
         exclusive running sum INSIDE its bounded bucket partition.
    No unbounded window partition ever exceeds {b} rows, and every
    number is exact integer arithmetic (hash-identical across engines
    and cluster sizes). The prefix-sum machinery is shared
    (operators/prefix.py) with the weighted corpus sampler."""
    from graph_etl_pipeline_spark.operators.prefix import exclusive_prefix_sum

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.size(norm_tokens(d.text)).cast("long").alias("n_tokens"),
    )
    out = exclusive_prefix_sum(tok, "n_tokens", "doc_id", PACK_BUCKET)
    return out.select(
        "doc_id",
        "n_tokens",
        "global_offset",
        # int64 div, not floor(double /): offsets are non-negative so
        # div == floor, and exactness survives past 2^53
        F.expr(f"global_offset div {PACK_SEQ_LEN}").alias("seq_id"),
    )


# --- PII scrubbing ------------------------------------------------------

# Java regex (Spark) and RE2 (DuckDB) agree on these constructs: plain
# character classes, bounded repetition, no lookaround/backrefs.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d[\d .()/-]{7,}\d"


@register(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_phones
    FROM documents
    """,
    tags=("text", "llm"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction for training corpora: replace emails then phone-like
    digit runs with typed placeholder tokens and count the redactions
    (audit columns — pipelines alert when a source's PII density jumps).
    Pure map-side expression work, no shuffle, scales linearly; the
    redaction ORDER (emails first) is part of the contract since email
    local parts can contain digit runs. DuckDB needs the 'g' flag where
    Spark's regexp_replace is global by default — both engines run RE2/
    Java-compatible patterns (no lookaround) so redactions align
    byte-for-byte. Planted-corpus behavior is unit-tested; the driver
    corpus is PII-free so counts there are legitimately zero."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("clean_text"),
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(PHONE_RE), 0)).cast("long").alias("n_phones"),
    )


# Fixed-point rarity scale for TF-IDF-style scoring (see graph_pagerank
# for the pattern rationale): score_fp = tf·N·1e6 div df is pure int64 —
# no log() or double division whose last-ulp behavior differs between
# engines. Monotonic in tf·N/df, so rankings match classic tf·idf
# whenever idf is the plain inverse-frequency ratio. Headroom: tf·N·1e6
# needs tf·N < 9.2e12 — fine to ~1e9 docs with tf ≤ 1e3; past that,
# drop the 1e6 sub-unit scale or widen to DECIMAL(38,0).
TFIDF_SCALE = 1_000_000
TFIDF_TOPK = 3


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({SQL_TOKS.format(col="text")}) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(tf.tf AS BIGINT) AS tf,
               CAST(df.df AS BIGINT) AS df,
               CAST((tf.tf * n.n * {TFIDF_SCALE}) // df.df AS BIGINT) AS score_fp
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score_fp DESC, term ASC
        ) AS rk
        FROM scored
    )
    SELECT doc_id, term, tf, df, score_fp, rk
    FROM ranked WHERE rk <= {TFIDF_TOPK}
    """,
    tags=("text", "llm", "tfidf"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} characteristic terms per document by fixed-point
    tf·N/df rarity score (TFIDF_SCALE) — keyword extraction for corpus
    exploration and topic labeling. Dataflow: ONE shuffle of the
    exploded tokens keyed (doc_id, term) with map-side combine builds
    the tf table; the document-frequency table aggregates the ALREADY
    per-doc-unique tf rows (vocabulary-sized, far smaller than the token
    stream); N rides in as a 1-row broadcast; the final per-doc top-k is
    a ranking window partitioned by doc_id with an explicit (score,
    term) total order so ties are hash-deterministic. The df join is
    vocabulary×corpus — broadcast when the vocabulary fits, shuffle
    otherwise; a stopword-style df cap (dedup_ngram_jaccard's
    MAX_SHINGLE_DF guard) applies unchanged if a 100 TB vocabulary
    skews.""".replace("{k}", str(TFIDF_TOPK))
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(norm_tokens(d.text)).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.expr(f"(tf * n * {TFIDF_SCALE}) div df").alias("score_fp"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_fp"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", "score_fp", "rk")
    )


# RAG-style chunking geometry: 64-token chunks every 48 tokens → 16-token
# overlap so retrieval never loses context at a chunk boundary.
CHUNK_SIZE = 64
CHUNK_STRIDE = 48


@register(
    "text_chunk_overlap",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {SQL_TOKS.format(col="text")} AS toks,
               len({SQL_TOKS.format(col="text")}) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(s // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS chunk_start,
           CAST(len(toks[s + 1 : s + {CHUNK_SIZE}]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(toks[s + 1 : s + {CHUNK_SIZE}], ' ') AS chunk_text
    FROM tok, UNNEST(range(0, n, {CHUNK_STRIDE})) AS u(s)
    """,
    tags=("text", "llm", "chunk"),
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking ({size}-token chunks, stride
    {stride}) — the document→retrieval-unit expansion every RAG/embedding
    pipeline runs before vectorizing. Entirely map-side: tokenize once,
    generate start offsets with `sequence`, explode, and `slice` each
    chunk out of the SAME token array (no re-tokenization per chunk, no
    shuffle, no join). Output size is input tokens × size/stride — the
    ~1.33× blowup is the overlap cost, visible and bounded. Chunk ids
    are pure integer arithmetic; chunk text re-joins normalized tokens,
    so both engines emit byte-identical strings.""".replace(
        "{size}", str(CHUNK_SIZE)
    ).replace("{stride}", str(CHUNK_STRIDE))
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        norm_tokens(d.text).alias("toks"),
        F.size(norm_tokens(d.text)).alias("n"),
    )
    chunks = tok.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
        ).alias("s"),
    )
    piece = F.slice(F.col("toks"), F.col("s") + 1, F.lit(CHUNK_SIZE))
    return chunks.select(
        "doc_id",
        F.expr(f"s div {CHUNK_STRIDE}").cast("long").alias("chunk_idx"),
        F.col("s").cast("long").alias("chunk_start"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


LINE_WORDS = 4      # words per pseudo-line for line-level dedup
LINE_HOT_DOCS = 2   # a line present in >= this many docs is boilerplate


@register(
    "text_line_dedup",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    lines AS (
        SELECT doc_id, i AS line_no,
               array_to_string(ws[(i-1)*{LINE_WORDS}+1 : least(i*{LINE_WORDS}, len(ws))], ' ') AS line
        FROM w, unnest(generate_series(1, (len(ws)+{LINE_WORDS - 1})//{LINE_WORDS})) AS t(i)
    ),
    hot AS (
        SELECT line FROM (
            SELECT line, COUNT(DISTINCT doc_id) AS ndocs FROM lines GROUP BY line
        ) WHERE ndocs >= {LINE_HOT_DOCS}
    ),
    kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM hot)),
    agg AS (
        SELECT doc_id,
               array_to_string(list(line ORDER BY line_no), ' ') AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(a.clean_text, '') AS clean_text,
           t.n_lines - COALESCE(a.n_kept, 0) AS n_removed
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """,
    tags=("text", "dedup", "llm"),
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal — the CCNet/RefinedWeb corpus-
    cleaning pass that strips lines repeated across documents (headers,
    nav chrome, license banners) while keeping each document's unique
    prose. The flat test corpus has no newlines, so 'lines' are
    {LINE_WORDS}-word chunks; a line occurring in >= {LINE_HOT_DOCS}
    distinct documents is boilerplate.

    Scale shape (the dedup family's adaptive-guard discipline): the
    line-frequency table shuffles ONCE (map-combined count-distinct by
    line); the hot set — boilerplate is a tiny fraction of distinct
    lines (~5% here, and web-scale boilerplate vocabularies are small) —
    comes back as a BROADCAST anti-join, so the corpus-sized side is
    touched map-only; the rebuild is one shuffle by doc_id. Nothing is
    ever pairwise. At 100 TB the hot set is the only driver-resident
    artifact and it is bounded by the frequency floor, not corpus
    size.""".replace("{LINE_WORDS}", str(LINE_WORDS)).replace(
        "{LINE_HOT_DOCS}", str(LINE_HOT_DOCS)
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    n_lines = F.ceil(F.size("ws") / LINE_WORDS).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(1), n_lines),
        lambda i: F.array_join(
            F.slice(F.col("ws"), (i - F.lit(1)) * LINE_WORDS + 1, LINE_WORDS), " "
        ),
    )
    lines = docs.select(
        "doc_id", n_lines.alias("n_lines"), F.posexplode(chunks).alias("pos", "line")
    )
    freq = lines.groupBy("line").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    hot = F.broadcast(freq.filter(F.col("ndocs") >= LINE_HOT_DOCS).select("line"))
    kept = lines.join(hot, "line", "left_anti")
    agg = kept.groupBy("doc_id", "n_lines").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.getField("line"),
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = docs.select("doc_id", n_lines.alias("n_lines"))
    return totals.join(agg, ["doc_id", "n_lines"], "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
    )


RARE_BIGRAM_MAX = 2  # corpus frequency at or below which a bigram is "rare"


@register(
    "text_bigram_lm_score",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    bg AS (
        SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
    ),
    cnt AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2)
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(c.c) AS BIGINT) AS support,
           COUNT(*) FILTER (WHERE c.c <= {RARE_BIGRAM_MAX}) AS n_rare,
           CAST(SUM(c.c) AS DOUBLE) / COUNT(*) AS lm_score
    FROM bg b JOIN cnt c ON c.w1 = b.w1 AND c.w2 = b.w2
    GROUP BY b.doc_id
    """,
    tags=("text", "quality", "llm"),
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram language-model scoring — the deterministic core
    of perplexity filtering (CCNet trains a 5-gram LM and buckets docs by
    perplexity; the KenLM dependency is not in this container, and float
    log-probs are not bit-stable across engines anyway). The corpus IS
    the training set: every document's bigrams are counted globally, and
    each document is scored by its average bigram corpus-support
    (high = phrasing shared with the corpus, low = outlier text) plus a
    rare-bigram count (frequency <= {RARE_BIGRAM_MAX}) — the junk signal
    a curation pipeline thresholds on. Integer sums only; the one double
    (support / n_bigrams) is a single correctly-rounded division of
    exact int64s, so the hash is stable across engines.

    Scale shape: the count table is one map-combined shuffle over the
    exploded bigram stream; scoring re-joins bigrams to counts BY KEY
    (shuffle join — the bigram vocabulary grows with the corpus, so no
    broadcast), then one map-combined re-aggregation by doc. Three
    |tokens|-bounded exchanges total, nothing pairwise, no driver
    state.""".replace("{RARE_BIGRAM_MAX}", str(RARE_BIGRAM_MAX))
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    n = F.size("ws")
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ws", 1, n - 1).alias("w1"),
                F.slice(F.col("ws"), 2, n - 1).alias("w2"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    cnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    scored = pairs.join(cnt, ["w1", "w2"])
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("c").alias("support"),
        F.count_if(F.col("c") <= RARE_BIGRAM_MAX).alias("n_rare"),
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias("lm_score"),
    )


NOVELTY_NGRAM = 3  # n-gram order for the novelty signal


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(ws[i : i + {NOVELTY_NGRAM - 1}], ' ') AS g
        FROM w, unnest(generate_series(1, len(ws) - {NOVELTY_NGRAM - 1})) AS t(i)
    ),
    firstseen AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
    SELECT grams.doc_id,
           COUNT(*) AS n_grams,
           COUNT(*) FILTER (WHERE f.first_doc = grams.doc_id) AS n_novel,
           CAST(COUNT(*) FILTER (WHERE f.first_doc = grams.doc_id) AS DOUBLE)
               / COUNT(*) AS novelty
    FROM grams JOIN firstseen f ON f.g = grams.g
    GROUP BY grams.doc_id
    """,
    tags=("text", "quality", "llm"),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring — the incremental-crawl curation signal:
    what fraction of a document's distinct {NOVELTY_NGRAM}-grams appear
    for the FIRST time in corpus order (first = minimum doc_id, the
    ingestion sequence)? Re-crawled boilerplate and templated spam score
    near zero; genuinely new prose scores high. This is the set-oriented
    form of the streaming 'have I seen this shingle' bloom check — exact,
    order-defined, and replayable.

    Scale shape: distinct per-doc grams (map-side explode + distinct —
    one shuffle on the gram), a min-aggregation per gram (map-combined,
    same key — AQE reuses the partitioning), one key-partitioned join
    back, and a final doc re-aggregation. Everything is |grams|-bounded;
    the double division is one correctly-rounded op over exact
    int64s.""".replace("{NOVELTY_NGRAM}", str(NOVELTY_NGRAM))
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    n = F.size("ws")
    gram = F.transform(
        F.sequence(F.lit(0), n - NOVELTY_NGRAM),
        lambda i: F.array_join(F.slice(F.col("ws"), i + 1, NOVELTY_NGRAM), " "),
    )
    grams = docs.select("doc_id", F.explode(gram).alias("g")).distinct()
    firstseen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    joined = grams.join(firstseen, "g")
    novel = F.count_if(F.col("first_doc") == F.col("doc_id"))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        novel.alias("n_novel"),
        (novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
    )


# --- Markup stripping -------------------------------------------------------
# Deterministic wrapper: the documents table carries clean text, so the
# operator manufactures its own HTML shell (title/h1/p/footer + entities)
# from (doc_id, source, text) and then strips it — both engines replay the
# wrap AND the strip, so the hash checks the strip logic end to end.
_HTML_WRAP_SQL = (
    "'<html><head><title>' || source || '</title></head><body><h1>Doc ' || "
    "CAST(doc_id AS VARCHAR) || '</h1><p class=\"body\">' || text || "
    "'</p><footer>&copy; corpus &amp; mirrors&nbsp;archive</footer></body></html>'"
)


@register(
    "text_html_strip",
    oracle=f"""
    SELECT doc_id,
           trim(regexp_replace(
               replace(replace(replace(replace(
                   regexp_replace(html, '<[^>]*>', ' ', 'g'),
                   '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
               ' {{2,}}', ' ', 'g')) AS clean_text,
           length(html) - length(trim(regexp_replace(
               replace(replace(replace(replace(
                   regexp_replace(html, '<[^>]*>', ' ', 'g'),
                   '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
               ' {{2,}}', ' ', 'g'))) AS n_removed
    FROM (SELECT doc_id, {_HTML_WRAP_SQL} AS html FROM documents)
    """,
    tags=("text", "cleaning"),
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping — the first transform every web-scraped
    training corpus applies (CCNet/trafilatura's core loop): drop markup,
    decode entities, collapse the whitespace the tags leave behind.
    Tag removal is one `<[^>]*>` pass (replacing with a SPACE so
    `</h1><p>` doesn't weld adjacent words); entities decode in the
    fixed order nbsp/lt/gt THEN amp — decoding `&amp;` first would
    re-decode `&amp;nbsp;` into a live entity, the classic double-decode
    bug, which the hash would catch; a final `' {{2,}}' → ' '` collapse +
    trim normalizes spacing. Emits the cleaned text and the per-doc
    byte shed (markup overhead audit).

    Purely map-side: three regexp/replace passes in whole-stage codegen,
    zero exchanges, trivially 100 TB-safe."""
    docs = table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><title>'),
        F.col("source"),
        F.lit('</title></head><body><h1>Doc '),
        F.col("doc_id").cast("string"),
        F.lit('</h1><p class="body">'),
        F.col("text"),
        F.lit('</p><footer>&copy; corpus &amp; mirrors&nbsp;archive</footer></body></html>'),
    )
    stripped = F.regexp_replace(html, "<[^>]*>", " ")
    for ent, ch in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&amp;", "&")):
        stripped = F.replace(stripped, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(stripped, " {2,}", " "))
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        (F.length(html) - F.length(clean)).alias("n_removed"),
    )


# --- Winnowing fingerprint selection ----------------------------------------
WINNOW_K = 4      # words per k-gram
WINNOW_W = 5      # consecutive k-grams per selection window
# Selection key: (h mod 2^48)·4096 + (4095 − pos). Minimizing it picks the
# smallest hash and, on (vanishingly rare but engine-identical) hash ties,
# the RIGHTMOST position — the winnowing paper's tie rule — as one integer
# min both engines order identically.
_WINNOW_KEY_SQL = (
    f"({md5_lane_sql('gram', '', 1, 15)} % {1 << 48}) * 4096 + (4095 - pos % 4096)"
)


@register(
    "text_winnowing_fingerprint",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, i AS pos,
               array_to_string(t[i:i + {WINNOW_K - 1}], ' ') AS gram,
               len(t) - {WINNOW_K - 1} AS n_kgrams
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {WINNOW_K - 1})) AS i
              FROM toks WHERE len(t) >= {WINNOW_K})
    ),
    keyed AS (
        SELECT doc_id, pos, n_kgrams, {_WINNOW_KEY_SQL} AS key
        FROM grams
    ),
    sel AS (
        SELECT doc_id, n_kgrams,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp,
               pos
        FROM keyed
    ),
    fps AS (
        SELECT DISTINCT doc_id, n_kgrams, fp FROM sel
        WHERE pos <= n_kgrams - {WINNOW_W - 1}
    )
    SELECT doc_id,
           CAST(MAX(n_kgrams) AS BIGINT) AS n_kgrams,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           (1000 * COUNT(*)) // MAX(n_kgrams) AS density_permille,
           CAST(MIN(fp) AS BIGINT) AS fp_min,
           CAST(MAX(fp) AS BIGINT) AS fp_max
    FROM fps GROUP BY doc_id
    """,
    tags=("text", "dedup", "fingerprint"),
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING fingerprint selection (Schleimer et al. 2003 — the MOSS
    algorithm): from every window of {WINNOW_W} consecutive
    {WINNOW_K}-gram hashes keep the minimum (rightmost on ties), which
    GUARANTEES any shared substring of ≥ w+k−1 words yields at least one
    shared fingerprint — the positional-coverage property
    text_fingerprint's whole-document rolling hash and dedup_minhash's
    set sketches both lack, and what plagiarism/clone detectors actually
    index. Hash and tie-break are fused into one engine-identical
    integer key (see _WINNOW_KEY_SQL), so selection is deterministic
    even under hash collisions.

    Emits the per-document fingerprint-set profile (count, density —
    theory says ≈ 2/(w+1) ≈ {1000 * 2 // (WINNOW_W + 1)}‰ — and exact
    extremes). Plan: map-side gram explode, ONE doc-keyed window pass
    for all selections, one distinct + aggregation; the fingerprint
    table this builds is what a corpus-scale clone index joins on."""
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    # The token array is ALIASED in its own projection and referenced by
    # name below. Inlining `F.split(...)` into the transform lambda would
    # make Catalyst re-split the whole document PER GRAM — O(n²) per doc,
    # 278 s for one 50k-word document vs 0.6 s aliased
    # (tests/test_giant_document.py pins the fast path).
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    t = F.col("t")
    idx = F.when(
        F.size(t) >= WINNOW_K, F.sequence(F.lit(1), F.size(t) - (WINNOW_K - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        "doc_id",
        (F.size(t) - (WINNOW_K - 1)).alias("n_kgrams"),
        F.posexplode(
            F.transform(idx, lambda i: F.array_join(F.slice(t, i, WINNOW_K), " "))
        ).alias("p0", "gram"),
    ).select(
        "doc_id", "n_kgrams", (F.col("p0") + 1).alias("pos"), "gram"
    )
    h48 = F.pmod(md5_lane("gram", "", 1, 15), F.lit(1 << 48))
    keyed = grams.select(
        "doc_id",
        "n_kgrams",
        "pos",
        (h48 * F.lit(4096) + (F.lit(4095) - F.pmod("pos", F.lit(4096)))).alias(
            "key"
        ),
    )
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    sel = keyed.select(
        "doc_id", "n_kgrams", "pos", F.min("key").over(win).alias("fp")
    ).filter(F.col("pos") <= F.col("n_kgrams") - (WINNOW_W - 1))
    fps = sel.select("doc_id", "n_kgrams", "fp").distinct()
    return fps.groupBy("doc_id").agg(
        F.max("n_kgrams").alias("n_kgrams"),
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.expr("1000 * count(1) DIV max(n_kgrams)").alias("density_permille"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
    )


# Tokenizer-aware packing: BPE-ish lexer counts + per-doc truncation cap.
PACK_TOK_MAXLEN = 512  # max tokens contributed per doc (truncation cap)
_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@register(
    "text_pack_tokenized",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
                   AS n_bpe,
        FROM documents
    ),
    capped AS (
        SELECT doc_id, CAST(n_bpe AS BIGINT) AS n_bpe,
               CAST(LEAST(n_bpe, {PACK_TOK_MAXLEN}) AS BIGINT) AS n_tok
        FROM tok
    ),
    laid AS (
        SELECT doc_id, n_bpe, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS global_offset
        FROM capped
    )
    SELECT doc_id, n_bpe, n_tok, global_offset,
           global_offset // {PACK_SEQ_LEN} AS seq_id,
           CASE WHEN n_tok > 0
                THEN (global_offset + n_tok - 1) // {PACK_SEQ_LEN}
                ELSE global_offset // {PACK_SEQ_LEN} END AS end_seq_id,
           n_tok > 0 AND (global_offset + n_tok - 1) // {PACK_SEQ_LEN}
                        > global_offset // {PACK_SEQ_LEN} AS straddles
    FROM laid
    """,
    tags=("text", "llm", "pack"),
)
def text_pack_tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER-AWARE sequence packing — the companion
    to text_pack_sequences that budgets by the BPE-ish LEXER token count
    (letter runs | digit runs | single symbols — the text_token_count
    proxy whose cross-engine parity is already proven) instead of
    whitespace words, and applies the trainer's PER-DOCUMENT TRUNCATION
    cap ({PACK_TOK_MAXLEN} tokens) before layout — the two places where
    whitespace packing misestimates real tokenizer consumption (code
    and non-space scripts lex to far more tokens than words; megadocs
    get cut, not packed whole).

    Layout is the same scalable TWO-LEVEL exclusive prefix sum over the
    capped counts (operators/prefix.py — no global single-partition
    window at any corpus size), and each doc additionally reports its
    END sequence and a `straddles` flag (does the doc cross a
    {PACK_SEQ_LEN}-token boundary?) — the signal an attention-masking
    packer needs to decide splits. All arithmetic is exact int64, so
    offsets and flags hash-identically in both engines at any
    partitioning."""
    from graph_etl_pipeline_spark.operators.prefix import exclusive_prefix_sum

    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower(d.text), F.lit(_BPE_RE), 0)
        ).cast("long").alias("n_bpe"),
    ).select(
        "doc_id",
        "n_bpe",
        F.least(F.col("n_bpe"), F.lit(PACK_TOK_MAXLEN)).alias("n_tok"),
    )
    out = exclusive_prefix_sum(tok, "n_tok", "doc_id", PACK_BUCKET)
    end_seq = F.when(
        F.col("n_tok") > 0,
        F.expr(f"(global_offset + n_tok - 1) div {PACK_SEQ_LEN}"),
    ).otherwise(F.expr(f"global_offset div {PACK_SEQ_LEN}"))
    return out.select(
        "doc_id",
        "n_bpe",
        "n_tok",
        "global_offset",
        F.expr(f"global_offset div {PACK_SEQ_LEN}").alias("seq_id"),
        end_seq.alias("end_seq_id"),
        (
            (F.col("n_tok") > 0)
            & (end_seq > F.expr(f"global_offset div {PACK_SEQ_LEN}"))
        ).alias("straddles"),
    )


# --- Token-histogram drift monitor --------------------------------------------
TOKEN_DRIFT_BUCKETS = 64  # fixed-width hashed-vocabulary histogram


@register(
    "text_token_drift",
    oracle=f"""
    WITH m AS (
        SELECT MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) // 2 AS mid
        FROM documents
    ),
    tok AS (
        SELECT doc_id, unnest({SQL_TOKS.format(col="text")}) AS tok
        FROM documents
    ),
    b AS (
        SELECT {md5_lane_sql("tok", "tokdrift:", 1, 8)} % {TOKEN_DRIFT_BUCKETS} AS bucket,
               CASE WHEN doc_id < (SELECT mid FROM m) THEN 1 ELSE 0 END AS ia
        FROM tok
    ),
    per AS (
        SELECT bucket,
               CAST(SUM(ia) AS BIGINT) AS o_a,
               CAST(SUM(1 - ia) AS BIGINT) AS o_b
        FROM b GROUP BY bucket
    ),
    tot AS (SELECT SUM(o_a) AS na, SUM(o_b) AS nb FROM per)
    SELECT bucket, o_a, o_b,
           CAST(ABS(CAST(o_a AS HUGEINT) * nb - CAST(o_b AS HUGEINT) * na)
                AS VARCHAR) AS chi2_absdiff,
           CAST((CAST(o_a AS HUGEINT) + o_b) * na * nb AS VARCHAR) AS chi2_den
    FROM per, tot
    """,
    tags=("text", "profile", "stats", "llm"),
)
def text_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-HISTOGRAM drift between two corpus snapshots — the TEXT
    member of the drift-monitor family, closing the
    modality row: scalar shape → agg_ks_drift, categorical mix →
    agg_chi2_drift, mean shift → agg_welch_t_drift, embedding space →
    embed_centroid_drift, token distribution → here. "Did the vocabulary
    mix drift between the first and second half of the corpus?" is the
    canonical pre-training guard against a crawler/source change
    silently shifting token statistics mid-ingest.

    The vocabulary is UNBOUNDED, so the histogram is a FIXED-WIDTH
    hashed projection: every token lands in one of
    {TOKEN_DRIFT_BUCKETS} buckets via md5 (seeded 'tokdrift:', the
    sketch-family convention) — the standard sketched vocabulary monitor
    whose state is B counters per cohort regardless of corpus size, and
    a drift in any token's mass perturbs exactly one bucket's χ²
    contribution. Per bucket the two-sample χ² contribution
    (o_a·n_b − o_b·n_a)² / (n_a·n_b·(o_a+o_b)) is certified by its
    EXACT pieces: ``chi2_absdiff`` = |o_a·n_b − o_b·n_a| — the UNSQUARED
    numerator root, ≤ n_a·n_b < 8.5e37, so it is exact in decimal(38,0)
    and HUGEINT for ALL int64 counts (the square would silently NULL
    past |diff| ≥ 1e19 under Spark's non-ANSI decimal narrowing while
    DuckDB's HUGEINT stays exact to 1.3e19; the square is the consumer's
    one multiply) — and
    ``chi2_den`` = (o_a+o_b)·n_a·n_b, exact while it fits int128
    (cohorts ≤ ~2.6e12 tokens); past that the consumer recomputes it
    from the (o_a, o_b) columns, which the output carries in full.

    Plan at 100 TB: the doc_id midpoint is one broadcastable min/max
    scalar; the exploded token stream collapses FIRST through a
    map-combined (bucket → o_a, o_b) partial aggregate — the shuffle
    carries at most {TOKEN_DRIFT_BUCKETS} rows per map partition — and
    the cohort totals ride one unpartitioned window over the
    {TOKEN_DRIFT_BUCKETS}-row table. Incremental maintenance is
    addition: per-shard bucket counts merge by SUM, so the monitor runs
    on arriving shards without corpus rescans (the embed_centroid_drift
    discipline)."""
    d = table(spark, sf_dir, "documents")
    bounds = F.broadcast(
        d.agg(
            (
                F.min("doc_id")
                + F.floor((F.max("doc_id") - F.min("doc_id")) / 2).cast("long")
            ).alias("mid")
        )
    )
    tok = d.select("doc_id", F.explode(norm_tokens(d.text)).alias("tok")).crossJoin(
        bounds
    )
    bucket = md5_lane("tok", "tokdrift:", 1, 8) % TOKEN_DRIFT_BUCKETS
    per = (
        tok.select(
            bucket.alias("bucket"),
            F.when(F.col("doc_id") < F.col("mid"), 1).otherwise(0).alias("ia"),
        )
        .groupBy("bucket")
        .agg(F.sum("ia").alias("o_a"), F.sum(1 - F.col("ia")).alias("o_b"))
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    with_tot = per.select(
        "bucket",
        "o_a",
        "o_b",
        F.sum("o_a").over(wall).alias("na"),
        F.sum("o_b").over(wall).alias("nb"),
    )
    d38 = "decimal(38,0)"
    diff = F.col("o_a").cast(d38) * F.col("nb") - F.col("o_b").cast(d38) * F.col("na")
    return with_tot.select(
        "bucket",
        "o_a",
        "o_b",
        F.abs(diff).cast("string").alias("chi2_absdiff"),
        ((F.col("o_a").cast(d38) + F.col("o_b")) * F.col("na") * F.col("nb"))
        .cast("string")
        .alias("chi2_den"),
    )
