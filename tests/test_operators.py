"""Unit tests for the skew and multimodal operator libraries."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from graph_etl_pipeline_spark.io import table
from graph_etl_pipeline_spark.operators.multimodal import (
    _HAS_PIL,
    decode_image,
    sample_frames,
)


def test_decode_stub_gated():
    if _HAS_PIL:
        pytest.skip("PIL available — decode is real here")
    with pytest.raises(NotImplementedError, match="PIL"):
        decode_image(b"\x89PNG...")


def test_sample_frames_edges():
    assert sample_frames(b"", 4, 8) == []
    frames = sample_frames(b"abcdefgh", 4, 2)
    assert frames == [b"ab", b"cd", b"ef", b"gh"]
    # blob shorter than n_frames*stride: stride clamps to 1
    frames = sample_frames(b"ab", 4, 2)
    assert frames[0] == b"ab" and len(frames) == 2


def test_hot_shingle_df_cap_kills_quadratic_pairs(spark, tmp_path):
    """VERDICT r2 #5: a shingle shared by more docs than MAX_SHINGLE_DF is
    corpus boilerplate — it must be dropped BEFORE the inverted-index
    self-join so one hot shingle can't create a quadratic candidate set.
    Planted corpus: 60 docs share one 5-gram (df=60 > cap=50) and are
    otherwise unique → without the cap the join would emit C(60,2)=1770
    intersecting pairs; with it, zero. A genuine near-dup pair built from
    RARE shingles must still be detected (the cap is signal-neutral)."""
    from graph_etl_pipeline_spark.queries.dedup import MAX_SHINGLE_DF, dedup_ngram_jaccard

    n_hot = MAX_SHINGLE_DF + 10
    rows = [
        # "common boiler plate legal footer" is the single shared 5-gram;
        # every other 5-gram window contains a doc-unique token.
        (i, f"common boiler plate legal footer u{i} v{i} w{i} x{i} y{i}")
        for i in range(n_hot)
    ]
    # positive control: 8-token base (4 rare shingles) + 1 extra token in
    # doc 101 (5 shingles) → jaccard 4/5 = 0.8 ≥ 0.5
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows += [(100_000, base), (100_001, base + " iota")]
    sf = str(tmp_path / "planted")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )

    out = dedup_ngram_jaccard(spark, sf)
    pairs = out.collect()
    assert len(pairs) == 1, f"expected only the rare-shingle pair, got {pairs}"
    (p,) = pairs
    assert (p.doc_a, p.doc_b) == (100_000, 100_001)
    assert abs(p.jaccard - 0.8) < 1e-12
    # engaged-guard plan shape: the cap must be a broadcast anti-join,
    # never a window over the exploded index (r3 regression shape)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "LeftAnti" in plan and "Broadcast" in plan


def test_repetition_fold_matches_counter(spark):
    """Property check for the sorted-run fold: for random token lists the
    max equal-run in the sorted array must equal the max token frequency
    (python Counter ground truth). One Spark job over 200 generated docs."""
    import random
    from collections import Counter

    rng = random.Random(42)
    vocab = ["a", "b", "c", "aa", "zz", ""]
    docs = [
        [rng.choice(vocab) for _ in range(rng.randint(1, 40))] for _ in range(200)
    ]
    expected = [max(Counter(d).values()) for d in docs]

    from graph_etl_pipeline_spark.queries import textops  # noqa: F401  (fold lives inline)

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "i long, toks array<string>"
    )
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = (
            F.when(x.eqNullSafe(acc.getField("prev")), acc.getField("run") + 1)
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"),
        )

    got = {
        r.i: r.top
        for r in df.select(
            "i",
            F.aggregate(
                F.array_sort("toks"), zero, step, lambda a: a.getField("best")
            ).alias("top"),
        ).collect()
    }
    assert got == {i: e for i, e in enumerate(expected)}


def test_materialize_content_addressing(spark, tmp_path):
    """materialize() reuses a completed scratch dir for the SAME plan over
    the SAME inputs, but must NOT collide across different input files:
    the analyzed-plan string renders parquet relations without their
    paths, so the digest keys the input file list explicitly (regression:
    sf0.001 results were served for a sf0.01 query)."""
    import os

    from graph_etl_pipeline_spark.io import SCRATCH_DIR, materialize

    p1, p2 = str(tmp_path / "in1"), str(tmp_path / "in2")
    spark.createDataFrame([(1,)], "x long").write.parquet(p1)
    spark.createDataFrame([(2,)], "x long").write.parquet(p2)

    before = {d for d in os.listdir(SCRATCH_DIR)} if os.path.isdir(SCRATCH_DIR) else set()
    m1 = materialize(spark.read.parquet(p1).select(F.col("x") * 10), "ca_test")
    m2 = materialize(spark.read.parquet(p2).select(F.col("x") * 10), "ca_test")
    assert [r[0] for r in m1.collect()] == [10]
    assert [r[0] for r in m2.collect()] == [20]  # no cross-input reuse
    created = {d for d in os.listdir(SCRATCH_DIR) if d.startswith("ca_test")} - before
    assert len(created) == 2  # distinct digests

    # identical plan + input a second time: no third dir (reuse hit)
    materialize(spark.read.parquet(p1).select(F.col("x") * 10), "ca_test")
    again = {d for d in os.listdir(SCRATCH_DIR) if d.startswith("ca_test")} - before
    assert again == created


def test_materialize_canonicalizes_lambdas_not_columns(spark, tmp_path):
    """Digest canonicalization must renumber HOF lambda variables (so an
    identical plan built twice — fresh exprIds/lambda ids each analysis —
    reuses its artifact) while leaving REAL columns whose names merely
    look like lambda vars (`mh_0`) untouched: two plans differing only in
    such a column must get DISTINCT digests (ADVICE r13 #2 — the r13
    positional regex would alias them and serve the wrong artifact)."""
    import os

    from graph_etl_pipeline_spark.io import SCRATCH_DIR, materialize

    p = str(tmp_path / "in")
    spark.createDataFrame(
        [([1, 2], [30, 4])], "mh_0 array<long>, mh_1 array<long>"
    ).write.parquet(p)

    before = {d for d in os.listdir(SCRATCH_DIR)} if os.path.isdir(SCRATCH_DIR) else set()

    def hof(col):
        return (
            spark.read.parquet(p)
            .select(F.transform(F.col(col), lambda x: x + 1).alias("t"))
            .select(F.aggregate("t", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("s"))
        )

    # same column, built twice: lambda ids differ per analysis, digest must not
    a1 = materialize(hof("mh_0"), "lam_test")
    a2 = materialize(hof("mh_0"), "lam_test")
    assert [r[0] for r in a1.collect()] == [5] == [r[0] for r in a2.collect()]
    dirs = {d for d in os.listdir(SCRATCH_DIR) if d.startswith("lam_test")} - before
    assert len(dirs) == 1  # lambda renumbering makes the digests collide (reuse)

    # different REAL column of lambda-var shape: must NOT collide
    b = materialize(hof("mh_1"), "lam_test")
    assert [r[0] for r in b.collect()] == [36]
    dirs = {d for d in os.listdir(SCRATCH_DIR) if d.startswith("lam_test")} - before
    assert len(dirs) == 2


def test_simhash_hamming_exact_dup_distance_zero(spark, tmp_path):
    """Planted corpus: two byte-identical docs must surface as a
    Hamming-0 pair via the band join; an unrelated doc must not pair
    with them within distance 2 (48 random-ish bits apart)."""
    from graph_etl_pipeline_spark.queries.dedup import dedup_simhash_hamming

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "completely different subject matter about parquet row groups and shuffles"),
    ]
    sf = str(tmp_path / "planted")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup_simhash_hamming(spark, sf).collect()}
    assert pairs.get((1, 2)) == 0
    assert all(k == (1, 2) for k in pairs), pairs


def test_pii_scrub_planted_corpus(spark, tmp_path):
    """Redaction must replace every email/phone occurrence with its typed
    placeholder, count them, and leave clean text untouched. Email pass
    runs FIRST (contract): digit-bearing email local parts must come out
    as <EMAIL>, never <PHONE>."""
    from graph_etl_pipeline_spark.queries.textops import text_pii_scrub

    rows = [
        (1, "contact jane.doe99@example.org or call +49 (0)30 1234-5678 now"),
        (2, "two mails: a@b.io c@d.museum"),
        (3, "no pii here at all"),
    ]
    sf = str(tmp_path / "pii")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    out = {r.doc_id: r for r in text_pii_scrub(spark, sf).collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1
    assert "<EMAIL>" in out[1].clean_text and "<PHONE>" in out[1].clean_text
    assert "jane" not in out[1].clean_text and "5678" not in out[1].clean_text
    assert out[2].n_emails == 2 and out[2].clean_text == "two mails: <EMAIL> <EMAIL>"
    assert out[3].clean_text == "no pii here at all"
    assert (out[3].n_emails, out[3].n_phones) == (0, 0)


def test_xlsx_roundtrip_and_multisheet(tmp_path):
    """Writer→parser round trip: types (str/int/float/bool), None gaps
    that skip cells, embedded newlines and XML-special characters, and
    multi-sheet workbooks."""
    from graph_etl_pipeline_spark.operators.xlsx import parse_xlsx, write_xlsx

    path = str(tmp_path / "wb.xlsx")
    rows = [
        (1, "plain", 1.5, True),
        (2, "a<b&\"c\">\nnext line", -7, False),
        (3, None, None, None),  # gapped cells must keep column alignment
    ]
    write_xlsx(
        path,
        {
            "items": (["id", "name", "x", "flag"], rows),
            "second": (["k"], [("v1",), ("v2",)]),
        },
    )
    sheets = parse_xlsx(open(path, "rb").read())
    assert list(sheets) == ["items", "second"]
    items = sheets["items"]
    assert items[0] == ["id", "name", "x", "flag"]
    assert items[1] == [1, "plain", 1.5, True]
    assert items[2] == [2, 'a<b&"c">\nnext line', -7, False]
    assert items[3] == [3]  # trailing gaps: row simply ends
    assert sheets["second"] == [["k"], ["v1"], ["v2"]]


def test_xlsx_shared_strings_parsed(tmp_path):
    """Workbooks from real producers use a sharedStrings table (t="s")
    rather than inline strings; the parser must resolve indices, including
    multi-run <si> entries (rich text split across <r><t> runs)."""
    import zipfile

    ct = (
        '<?xml version="1.0"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pns = "http://schemas.openxmlformats.org/package/2006/relationships"
    wb = (
        f'<workbook xmlns="{ns}" xmlns:r="{rns}"><sheets>'
        '<sheet name="s1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        f'<Relationships xmlns="{pns}">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    root_rels = (
        f'<Relationships xmlns="{pns}">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    sst = (
        f'<sst xmlns="{ns}" count="2" uniqueCount="2">'
        "<si><t>hello</t></si>"
        "<si><r><t>rich </t></r><r><t>text</t></r></si></sst>"
    )
    sheet = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1" t="s"><v>1</v></c>'
        '<c r="D1" t="str"><v>cached</v></c></row>'
        "</sheetData></worksheet>"
    )
    path = tmp_path / "shared.xlsx"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)

    from graph_etl_pipeline_spark.operators.xlsx import parse_xlsx

    rows = parse_xlsx(path.read_bytes())["s1"]
    assert rows == [["hello", None, "rich text", "cached"]]


def test_read_xlsx_header_mapped_out_of_order(spark, tmp_path):
    """read_xlsx maps by header NAME: a sheet whose column order differs
    from the requested schema must still land values correctly, and
    missing schema fields yield nulls."""
    from graph_etl_pipeline_spark.operators.xlsx import read_xlsx, write_xlsx

    path = str(tmp_path / "oo.xlsx")
    write_xlsx(
        path,
        {"s": (["name", "id"], [("a", 1), ("b", 2)])},
    )
    out = read_xlsx(
        spark, path, sheet="s", schema="id bigint, name string, extra string"
    ).collect()
    got = {(r.id, r.name, r.extra) for r in out}
    assert got == {(1, "a", None), (2, "b", None)}


def test_rule_extractor_edges(spark, tmp_path):
    """doc_rule_extract edge cases: consecutive condition words each match
    (with the following word as action, even when that word is itself a
    condition); a trailing condition word has no action and is dropped;
    docs without conditions emit nothing."""
    from graph_etl_pipeline_spark.queries.extraction import doc_rule_extract

    rows = [
        (1, "sort scan data"),          # sort->scan AND scan->data
        (2, "the data ends with join"),  # trailing condition: no row
        (3, "nothing matches here"),
    ]
    sf = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' AS lang", "'src' AS source",
        "length(text) AS n_chars",
    ).write.parquet(f"{sf}/documents.parquet")
    got = {(r.doc_id, r.pos, r.condition, r.action)
           for r in doc_rule_extract(spark, sf).collect()}
    assert got == {(1, 1, "sort", "scan"), (1, 2, "scan", "data")}


def test_apply_changefeed_insert_update_delete(spark):
    """Library CDC apply with ALL THREE op kinds on a planted fixture —
    the registered query's feed (derived from referentially-intact
    orders) can never fire the INSERT leg, so it is proven here."""
    from graph_etl_pipeline_spark.queries.cdc import apply_changefeed

    snap = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "carol")], "c_custkey long, c_name string"
    )
    feed = spark.createDataFrame(
        [(2, "U", 9.5), (3, "D", None), (7, "I", 4.25)],
        "key long, op string, payload double",
    )
    got = {
        r.c_custkey: (r.c_name, r.last_price)
        for r in apply_changefeed(snap, feed, "c_custkey").collect()
    }
    assert got == {
        1: ("alice", None),   # untouched
        2: ("bob", 9.5),      # updated
        7: (None, 4.25),      # inserted (no snapshot attrs to carry)
    }
    # closed-universe mode drops the orphan insert instead
    closed = {
        r.c_custkey
        for r in apply_changefeed(snap, feed, "c_custkey", insert=False).collect()
    }
    assert closed == {1, 2}


def test_apply_changefeed_generic_snapshot_schema(spark):
    """ADVICE r5: apply_changefeed must carry ANY snapshot schema, not
    just (c_custkey, c_name) — multiple attribute columns, no c_name,
    caller-named payload column."""
    from graph_etl_pipeline_spark.queries.cdc import apply_changefeed

    snap = spark.createDataFrame(
        [(10, "x", 1.0, True), (20, "y", 2.0, False)],
        "pk long, code string, score double, active boolean",
    )
    feed = spark.createDataFrame(
        [(20, "U", 7.5), (30, "I", 3.25), (10, "D", None)],
        "key long, op string, payload double",
    )
    rows = {
        r.pk: r
        for r in apply_changefeed(
            snap, feed, "pk", payload_col="new_score"
        ).collect()
    }
    assert set(rows) == {20, 30}
    assert rows[20].code == "y" and rows[20].active is False
    assert rows[20].new_score == 7.5
    assert rows[30].code is None and rows[30].new_score == 3.25


def test_salted_skew_join_engages_only_hot_keys(spark, sf_dir):
    """join_salted_skew's guard must fire on the planted hot key and ONLY
    there: with half of lineitem re-keyed to order 1, the hot list is
    exactly {1}, so the replicated dim carries |orders| + (R-1) rows —
    cold keys pay nothing."""
    from pyspark.sql import functions as F

    from graph_etl_pipeline_spark.io import table
    from graph_etl_pipeline_spark.queries.joins import (
        SKEW_HOT_THRESHOLD,
        SKEW_SALT_R,
    )

    li = table(spark, sf_dir, "lineitem")
    fact_keys = li.select(
        F.when(F.col("l_linenumber") % 2 == 0, F.lit(1).cast("long"))
        .otherwise(F.col("l_orderkey"))
        .alias("lk")
    )
    counts = fact_keys.groupBy("lk").count()
    hot = [r.lk for r in counts.filter(F.col("count") > SKEW_HOT_THRESHOLD).collect()]
    assert hot == [1], hot  # planted head is hot; uniform tail is not
    # hot share is big enough that one reducer would own >40% of the join
    total = fact_keys.count()
    hot_rows = counts.filter(F.col("lk") == 1).head()["count"]
    assert hot_rows / total > 0.4
    assert SKEW_SALT_R > 1


def test_merge_upsert_schema_evolution(spark):
    """evolve_schema=True appends incoming-only columns (Delta's
    mergeSchema for the plain-Spark MERGE): matched/inserted rows carry
    the new value, keep-existing rows carry NULL; with the default
    evolve_schema=False the target schema stays closed."""
    from graph_etl_pipeline_spark.sinks.upsert import merge_upsert

    existing = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, name string"
    )
    incoming = spark.createDataFrame(
        [(2, "b2", 9.5), (3, "c", 1.25)], "k long, name string, score double"
    )
    closed = merge_upsert(existing, incoming, keys=["k"])
    assert closed.columns == ["k", "name"]

    evolved = merge_upsert(existing, incoming, keys=["k"], evolve_schema=True)
    assert evolved.columns == ["k", "name", "score"]
    rows = {r.k: r for r in evolved.collect()}
    assert rows[1].score is None          # keep-existing: new column NULL
    assert rows[2].score == 9.5           # matched: incoming value
    assert rows[3].score == 1.25          # inserted: incoming value
    assert rows[2].name == "b2" and rows[1].name == "a"


def test_bounded_self_pairs_equivalence_hot_cold_mix(spark):
    """operators/pairs.py pair-set contract (VERDICT r7 "what's wrong"
    #1): on a hot+cold key mix the tiled plan must emit EXACTLY the
    naive per-key self-join's pair set, and the hot branch must actually
    engage (tile columns in the plan). On an all-cold frame the fast
    path must keep the plan tile-free."""
    from graph_etl_pipeline_spark.operators.pairs import bounded_self_pairs

    rows = [("hot", i) for i in range(40)] + [("cold%d" % k, i) for k in range(3) for i in range(4)]
    df = spark.createDataFrame(rows, "k string, o long")
    sel = lambda j: j.select(  # noqa: E731
        F.col("a.o").alias("lo"), F.col("b.o").alias("hi"), F.col("a.k").alias("k")
    )
    out = bounded_self_pairs(df, "k", "o", 8, sel)
    assert "__tile_i" in out._jdf.queryExecution().analyzed().toString()
    got = {(r.k, r.lo, r.hi) for r in out.collect()}
    want = {
        (k, a, b)
        for k, n in (("hot", 40), ("cold0", 4), ("cold1", 4), ("cold2", 4))
        for a in range(n)
        for b in range(a + 1, n)
    }
    assert got == want

    cold_only = bounded_self_pairs(df.filter(F.col("k") != "hot"), "k", "o", 8, sel)
    assert "__tile_i" not in cold_only._jdf.queryExecution().analyzed().toString()


def test_semdedup_hot_cell_tiling_equivalent(spark, sf_dir):
    """dedup_semdedup_clusters' oversized-cell fallback (VERDICT r7
    "what's wrong" #2): with a cap far below the Lloyd cell sizes the
    tiled branch must engage AND score the identical pair multiset as
    the certified-broadcast branch — so the registered query's output is
    invariant to which branch the probe picks."""
    from collections import Counter

    from graph_etl_pipeline_spark.queries.similarity import (
        _int_dot, _lloyd, _semdedup_cell_pairs,
    )

    e = table(spark, sf_dir, "embeddings")
    assigned, _ = _lloyd(e)
    m = assigned.select(
        "vec_id", "cid", "qe", _int_dot("qe", "qe").alias("nn")
    ).localCheckpoint()
    tiled = _semdedup_cell_pairs(m, 16)
    assert "__tile_i" in tiled._jdf.queryExecution().analyzed().toString()
    huge = _semdedup_cell_pairs(m, 10**9)  # every cell bounded -> broadcast path
    assert "__tile_i" not in huge._jdf.queryExecution().analyzed().toString()
    key = lambda r: (r.a_id, r.d, r.na, r.nb)  # noqa: E731
    assert Counter(map(key, tiled.collect())) == Counter(map(key, huge.collect()))


def test_cms_positions_engine_identical_for_negative_keys(spark):
    """ADVICE r7: the CMS position hash must agree between the Spark twin
    (_cms_pos) and the DuckDB oracle expression (_CMS_POS_SQL) for
    NEGATIVE int64 keys too — the bitwise-AND pre-mask is sign-safe where
    the earlier `%` form diverged (dividend-sign vs pmod semantics)."""
    import duckdb

    from graph_etl_pipeline_spark.queries.aggregates import (
        CMS_MULTS, _CMS_POS_SQL, _cms_pos,
    )

    keys = [-(2**63), -(2**31) - 1, -(2**31), -12345, -1, 0, 1, 2**31, 2**63 - 1]
    df = spark.createDataFrame([(k,) for k in keys], "user_id long")
    con = duckdb.connect()
    for m in CMS_MULTS:
        got = {
            r.user_id: r.pos
            for r in df.select("user_id", _cms_pos(F.col("user_id"), m).alias("pos")).collect()
        }
        expr = _CMS_POS_SQL.format(m=m)
        want = dict(
            con.execute(
                "SELECT user_id, " + expr + " AS pos FROM (SELECT unnest(?::BIGINT[]) AS user_id)",
                [keys],
            ).fetchall()
        )
        assert got == want, (m, got, want)
        assert all(0 <= p < 512 for p in got.values())


def test_bounded_self_pairs_property_random_group_mix(spark):
    """Property guard for operators/pairs.py: for RANDOM group-size mixes
    and caps, the adaptive plan's pair set must equal the naive per-key
    self-join's, and within the tiled branch no (key, chunk) run may
    exceed the cap. Complements the fixed hot+cold fixture with the
    shapes a power-law corpus actually produces."""
    import random

    from graph_etl_pipeline_spark.operators.pairs import bounded_self_pairs

    rng = random.Random(20240814)
    for trial in range(3):
        cap = rng.choice([3, 5, 8])
        sizes = [rng.choice([1, 2, cap, cap + 1, 3 * cap + 2]) for _ in range(6)]
        rows = [(f"k{g}", i) for g, n in enumerate(sizes) for i in range(n)]
        df = spark.createDataFrame(rows, "k string, o long")
        got = {
            (r.k, r.lo, r.hi)
            for r in bounded_self_pairs(
                df, "k", "o", cap,
                lambda j: j.select(
                    F.col("a.k").alias("k"),
                    F.col("a.o").alias("lo"),
                    F.col("b.o").alias("hi"),
                ),
            ).collect()
        }
        want = {
            (f"k{g}", a, b)
            for g, n in enumerate(sizes)
            for a in range(n)
            for b in range(a + 1, n)
        }
        assert got == want, (trial, cap, sizes)


def test_url_canonicalize_prunes_text_and_merges_variants(spark, sf_dir):
    """The URL dedup must never read the text column (its ReadSchema is
    id/source/lang/n_chars only), and every canonical key must be free of
    the noise the canonicalizer strips: no uppercase scheme/host, no
    default port, no fragment, no tracking params, no trailing slash,
    params in sorted order."""
    from graph_etl_pipeline_spark.registry import all_queries

    df = all_queries()["dedup_url_canonicalize"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "text" not in scan, scan

    rows = df.collect()
    assert sum(r["n_dups"] for r in rows) == spark.read.parquet(
        f"{sf_dir}/documents.parquet"
    ).count()
    import re

    for r in rows:
        u = r["canonical_url"]
        assert u == u.lower()
        assert ":443" not in u and "#" not in u
        assert "utm_" not in u and "fbclid" not in u
        assert not u.rstrip("?").endswith("/")
        if "?" in u:
            params = u.split("?", 1)[1].split("&")
            assert params == sorted(params) and "" not in params
        assert re.match(r"^https://[a-z0-9.]+/article/\d+(\?|$)", u), u


def test_compaction_preserves_content_and_is_idempotent(spark, sf_dir):
    """The compacted directory must hold EXACTLY the fragmented rows
    (same event_id multiset), and a second invocation must reuse the
    staged layout (same file paths — no rewrite churn)."""
    import os

    from graph_etl_pipeline_spark.io import scratch_dir, sf_key
    from graph_etl_pipeline_spark.registry import all_queries

    fn = all_queries()["sink_compact_small_files"].fn
    fn(spark, sf_dir).collect()
    frag = scratch_dir("compact_frag", sf_key(sf_dir))
    packed = scratch_dir("compact_out", sf_key(sf_dir))
    a = spark.read.parquet(frag).groupBy("event_id").count()
    b = spark.read.parquet(packed).groupBy("event_id").count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    before = {
        p: os.path.getmtime(os.path.join(packed, p)) for p in os.listdir(packed)
    }
    fn(spark, sf_dir).collect()  # second run: staging guard must skip the write
    after = {
        p: os.path.getmtime(os.path.join(packed, p)) for p in os.listdir(packed)
    }
    assert before == after


def test_dp_counts_noise_bounded_and_pinned(spark, sf_dir):
    """DP release: every released count within DP_TRUNC of truth, never
    negative, and the seeded draw makes reruns byte-identical. The
    embedded threshold table must be strictly increasing 8-hex rows."""
    from graph_etl_pipeline_spark.queries.quality import _DP_ROWS, DP_TRUNC
    from graph_etl_pipeline_spark.registry import all_queries

    hexes = [t for t, _ in _DP_ROWS]
    assert hexes == sorted(hexes) and len(set(hexes)) == len(hexes)
    assert all(len(t) == 8 for t in hexes)
    assert [k for _, k in _DP_ROWS] == list(range(-DP_TRUNC, DP_TRUNC))

    fn = all_queries()["privacy_dp_counts"].fn
    rel = {(r["lang"], r["source"]): r["n_released"] for r in fn(spark, sf_dir).collect()}
    truth = {
        (r["lang"], r["source"]): r["n"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(rel) == set(truth)
    for cell, n_rel in rel.items():
        assert n_rel >= 0
        assert abs(n_rel - truth[cell]) <= DP_TRUNC
    again = {(r["lang"], r["source"]): r["n_released"] for r in fn(spark, sf_dir).collect()}
    assert again == rel


def test_chi2_drift_exact_integers(spark, sf_dir):
    """Every chi-square contribution must reproduce from the emitted
    integer counts alone: absdiff = |o_a*nb - o_b*na|, den =
    (o_a+o_b)*na*nb in exact Python ints, and the category counts must
    partition the event table."""
    from graph_etl_pipeline_spark.registry import all_queries

    rows = all_queries()["agg_chi2_drift"].fn(spark, sf_dir).collect()
    na = sum(r["o_a"] for r in rows)
    nb = sum(r["o_b"] for r in rows)
    assert na + nb == spark.read.parquet(f"{sf_dir}/events.parquet").count()
    for r in rows:
        d = r["o_a"] * nb - r["o_b"] * na
        assert int(r["chi2_absdiff"]) == abs(d)
        assert int(r["chi2_den"]) == (r["o_a"] + r["o_b"]) * na * nb


def test_vacuum_reaps_oldest_and_ignores_uncommitted(spark, sf_dir):
    """After the vacuum: the oldest version dir is gone, the newest two
    survive, and a half-written (no _SUCCESS) version dir is neither a
    vacuum candidate nor a retained version — crashed writers are
    invisible to both readers and the reaper."""
    import os

    from graph_etl_pipeline_spark.io import scratch_dir, sf_key
    from graph_etl_pipeline_spark.queries.sinks import VACUUM_RETAIN, VACUUM_VERSIONS
    from graph_etl_pipeline_spark.registry import all_queries

    fn = all_queries()["sink_vacuum_retention"].fn
    fn(spark, sf_dir).collect()
    root = scratch_dir("vacuum_tbl", sf_key(sf_dir))
    assert not os.path.exists(os.path.join(root, "v0"))
    for i in range(VACUUM_VERSIONS - VACUUM_RETAIN, VACUUM_VERSIONS):
        assert os.path.exists(os.path.join(root, f"v{i}", "_SUCCESS"))

    # plant a half-written newer version: ignored, not deleted, not counted
    partial = os.path.join(root, f"v{VACUUM_VERSIONS + 2}")
    os.makedirs(partial, exist_ok=True)
    with open(os.path.join(partial, "part-00000.parquet.tmp"), "w") as f:
        f.write("torn write")
    row = fn(spark, sf_dir).collect()[0]
    assert row["versions_retained"] == VACUUM_RETAIN
    assert row["oldest_retained_version"] == VACUUM_VERSIONS - VACUUM_RETAIN
    assert os.path.exists(partial)  # never a vacuum candidate


def test_span_rewrite_fixed_point_and_keeper_preserved(spark, sf_dir, tmp_path):
    """Re-running the span rewrite on its own output must cut nothing
    (fixed point on this corpus), every duplicated span's keeper doc
    must keep its text untouched, and removals must match n_words -
    len(cleaned words)."""
    from graph_etl_pipeline_spark.registry import all_queries

    fn = all_queries()["text_dedup_span_rewrite"].fn
    out = fn(spark, sf_dir)
    rows = out.collect()
    for r in rows:
        kept = len(r["cleaned_text"].split(" ")) if r["cleaned_text"] else 0
        assert r["n_words"] - r["n_removed"] == kept, r["doc_id"]
    assert any(r["n_removed"] > 0 for r in rows)

    # second pass over the rewritten corpus: nothing further to cut
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rewritten = (
        out.select("doc_id", F.col("cleaned_text").alias("text"))
        .join(docs.select("doc_id", "lang", "source", "n_chars"), "doc_id")
    )
    dest = str(tmp_path / "rw")
    rewritten.write.parquet(f"{dest}/documents.parquet")
    again = fn(spark, dest)
    assert again.filter(F.col("n_removed") > 0).count() == 0


def test_incremental_lsh_planted_new_vs_corpus_only(spark, tmp_path):
    """Planted split: a new doc identical to a CORPUS doc must flag
    is_dup; a unique new doc must come back clean with zero candidates;
    two identical docs that are both NEW must NOT pair with each other
    (the operator never compares the batch to itself). Output carries
    exactly the new-batch ids."""
    from graph_etl_pipeline_spark.queries.dedup import dedup_incremental_lsh

    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    new_twin = "identical new twins share every shingle of this sentence body"
    rows = [
        (0, dup_text),                    # new (0 % 5 == 0), dup of corpus 1
        (1, dup_text),                    # corpus
        (2, "corpus filler about shuffle partitions and parquet footers"),
        (5, "a unique incoming document with entirely novel vocabulary"),  # new, clean
        (10, new_twin),                   # new
        (15, new_twin),                   # new — identical to 10, must NOT pair
    ]
    sf = str(tmp_path / "incr")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    out = {r.doc_id: r for r in dedup_incremental_lsh(spark, sf).collect()}
    assert set(out) == {0, 5, 10, 15}
    assert out[0].is_dup and out[0].n_verified >= 1
    assert not out[5].is_dup and out[5].n_candidates == 0
    assert not out[10].is_dup and not out[15].is_dup  # new×new never compared


def test_asof_tolerance_staleness_bound(spark, tmp_path):
    """A purchase 1 h after the click matches (fresh, exact integer age);
    a purchase 3 h after is beyond the 2 h tolerance → NULL match,
    fresh=False; a user with no click at all also survives with NULLs."""
    import datetime

    from graph_etl_pipeline_spark.queries.joins import join_asof_tolerance

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def at(h):
        return t0 + datetime.timedelta(hours=h)

    rows = [
        (1, 1, "click", at(0), 1.0, None),
        (2, 1, "purchase", at(1), 1.0, None),   # 1 h later: fresh
        (3, 1, "purchase", at(3), 1.0, None),   # 3 h later: stale
        (4, 2, "purchase", at(1), 1.0, None),   # user 2 never clicked
    ]
    sf = str(tmp_path / "asoftol")
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double, props string",
    ).write.parquet(f"{sf}/events.parquet")
    out = {r.purchase_id: r for r in join_asof_tolerance(spark, sf).collect()}
    assert set(out) == {2, 3, 4}
    assert out[2].fresh and out[2].click_id == 1
    assert out[2].age_us == 3_600_000_000
    assert not out[3].fresh and out[3].click_id is None and out[3].age_us is None
    assert not out[4].fresh and out[4].click_id is None


def test_kmv_shard_merge_is_lossless(spark, sf_dir):
    """The merged shard sketches must be BYTE-identical to the whole-table
    sketch (merge_exact) — hence identical estimates."""
    from graph_etl_pipeline_spark.queries.aggregates import agg_kmv_shard_merge

    row = agg_kmv_shard_merge(spark, sf_dir).collect()[0]
    assert row.merge_exact is True
    assert row.est_merged == row.est_whole
    assert row.est_even > 0 and row.est_odd > 0


def test_schema_evolution_old_rows_read_null(spark, sf_dir):
    """mergeSchema read: generation-1 rows carry NULL for the evolved
    column (n_ranked = 0), generation-2 rows all carry it, and the two
    generations partition the source row count exactly."""
    import duckdb

    from graph_etl_pipeline_spark.queries.sinks import sink_schema_evolution_merge

    out = {r.v: r for r in sink_schema_evolution_merge(spark, sf_dir).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_ranked == 0 and out[1].sum_rank == 0
    assert out[2].n_ranked == out[2].n_rows
    total = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/orders.parquet'"
    ).fetchone()[0]
    assert out[1].n_rows + out[2].n_rows == total


def test_band_bucket_stats_accounting(spark, sf_dir):
    """Per band: every doc lands in exactly one bucket (n_docs == corpus
    size), singletons generate no candidate pairs, and the pair bill is
    the exact sum over bucket sizes."""
    import duckdb

    from graph_etl_pipeline_spark.queries.dedup import N_BANDS, dedup_band_bucket_stats

    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    rows = dedup_band_bucket_stats(spark, sf_dir).collect()
    assert len(rows) == N_BANDS
    for r in rows:
        assert r.n_docs == n_docs
        assert r.n_singletons <= r.n_buckets <= r.n_docs
        assert r.cand_pairs >= 0
        if r.n_buckets == r.n_docs:
            assert r.cand_pairs == 0


def test_interval_union_overlap_tie_and_gap(spark, tmp_path):
    """Planted coverage: two overlapping holds merge (one island, 15 min
    covered — double-booked minutes count once), a third event past the
    hold window opens a second island, and two events at the SAME
    timestamp (the tie case that island numbering must survive) cover
    exactly one hold."""
    import datetime

    from graph_etl_pipeline_spark.queries.windows import (
        COVER_HOLD_US, win_interval_union_length,
    )

    t0 = datetime.datetime(2024, 3, 1, 9, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        (1, 1, "click", at(0), 0.0, None),    # island 1: [0, 10)
        (2, 1, "click", at(5), 0.0, None),    # overlaps → island 1 ends 15
        (3, 1, "click", at(30), 0.0, None),   # gap → island 2: [30, 40)
        (4, 2, "click", at(0), 0.0, None),    # tie pair: same ts …
        (5, 2, "click", at(0), 0.0, None),    # … must stay ONE island
    ]
    sf = str(tmp_path / "cover")
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double, props string",
    ).write.parquet(f"{sf}/events.parquet")
    out = {r.user_id: r for r in win_interval_union_length(spark, sf).collect()}
    assert out[1].n_islands == 2
    assert out[1].covered_us == 15 * 60 * 1_000_000 + COVER_HOLD_US
    assert out[2].n_islands == 1
    assert out[2].covered_us == COVER_HOLD_US


def test_t_closeness_skewed_class_flagged(spark, tmp_path):
    """Planted skewness attack: globally balances split 50/50 across two
    buckets; one class mirrors that shape exactly (EMD = 0 -> within t),
    two classes sit entirely in ONE bucket (EMD = 0.5 > t = 0.2 ->
    flagged even though each is 4-anonymous and 1-diverse-per-bucket,
    the leak k-anonymity and l-diversity both miss)."""
    from graph_etl_pipeline_spark.queries.quality import (
        privacy_t_closeness_audit,
    )

    def cust(key, nation, bal):
        return (key, nation, "A", bal)

    rows = (
        # class (0,'A'): 2 low + 2 high -- the exact global mirror
        [cust(i, 0, b) for i, b in enumerate([100.0, 900.0, 4100.0, 4900.0])]
        # class (1,'A'): all 4 in the low bucket
        + [cust(10 + i, 1, 100.0 * (i + 1)) for i in range(4)]
        # class (2,'A'): all 4 in the high bucket
        + [cust(20 + i, 2, 4100.0 + 100.0 * i) for i in range(4)]
    )
    sf = str(tmp_path / "tclose")
    spark.createDataFrame(
        rows, "c_custkey long, c_nationkey long, c_mktsegment string, c_acctbal double"
    ).write.parquet(f"{sf}/customer.parquet")
    out = {
        (r.nationkey, r.mktsegment): r
        for r in privacy_t_closeness_audit(spark, sf).collect()
    }
    # global: bucket 0 holds 6, bucket 4 holds 6; N = 12, m = 2;
    # every class: emd_den = 4 * 12 * (2-1) = 48.
    mirror, low, high = out[(0, "A")], out[(1, "A")], out[(2, "A")]
    assert (mirror.emd_num, mirror.emd_den, mirror.within_t) == ("0", "48", True)
    # all-in-one-bucket: |cum| = 4*12 - 6*4 = 24 -> EMD = 24/48 = 0.5 > 0.2
    assert (low.emd_num, low.within_t) == ("24", False)
    assert (high.emd_num, high.within_t) == ("24", False)


def test_rolling_median_lower_middle_semantics(spark, tmp_path):
    """Planted frame: the even-sized window must yield the LOWER middle
    order statistic (an occurred value, not a midpoint average), and a
    spike entering the frame must leave the median untouched."""
    import datetime

    from graph_etl_pipeline_spark.queries.windows import (
        win_rolling_median_exact,
    )

    t0 = datetime.datetime(2024, 3, 1, 9, 0, 0)
    rows = [
        (1, 1, "click", t0, 3.00, None),
        (2, 1, "click", t0 + datetime.timedelta(minutes=1), 1.00, None),
        (3, 1, "click", t0 + datetime.timedelta(minutes=2), 2.00, None),
        (4, 1, "click", t0 + datetime.timedelta(minutes=3), 999.99, None),
    ]
    sf = str(tmp_path / "rollmed")
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double, props string",
    ).write.parquet(f"{sf}/events.parquet")
    out = {r.event_id: r for r in win_rolling_median_exact(spark, sf).collect()}
    assert out[1].med_cents == 300                   # singleton frame
    assert (out[2].n_in_window, out[2].med_cents) == (2, 100)  # lower of {100,300}
    assert out[3].med_cents == 200                   # odd frame, true median
    assert (out[4].n_in_window, out[4].med_cents) == (4, 200)  # spike ignored


def test_poisson_bootstrap_deterministic_weights(spark, tmp_path):
    """Planted single-order corpus: each replicate's n_eff must equal the
    Poisson weight recomputed independently in Python from the same
    md5-seeded inverse-CDF table — the mechanism-identical-by-construction
    contract — and weighted sums must follow exactly."""
    import hashlib

    from graph_etl_pipeline_spark.queries.curation import (
        _BOOT_ROWS, BOOT_REPLICATES, BOOT_TRUNC, sample_poisson_bootstrap,
    )

    sf = str(tmp_path / "boot")
    spark.createDataFrame(
        [(7, 123.45)], "o_orderkey long, o_totalprice double"
    ).write.parquet(f"{sf}/orders.parquet")

    def expected_w(replicate):
        grp, sub = divmod(replicate, 4)
        dig = hashlib.md5(f"boot{grp}:7".encode()).hexdigest()
        u = dig[8 * sub: 8 * sub + 8]
        for t, k in _BOOT_ROWS:
            if u < t:
                return k
        return BOOT_TRUNC

    out = {r.replicate: r for r in sample_poisson_bootstrap(spark, sf).collect()}
    assert len(out) == BOOT_REPLICATES
    cents = 12345
    weights = [expected_w(r) for r in range(BOOT_REPLICATES)]
    assert any(w == 0 for w in weights) or any(w > 1 for w in weights)
    for r in range(BOOT_REPLICATES):
        assert out[r].n_eff == weights[r]
        assert out[r].sum_cents == weights[r] * cents


def test_manifest_swap_isolation_and_rollback(spark, tmp_path):
    """Planted snapshot-isolation contract: the manifest reader must not
    see the in-flight stray part file a directory glob absorbs, and
    swapping the pointer back to manifest-1 must roll the whole read
    atomically to v1 (no mixed snapshots)."""
    import json
    import os

    from graph_etl_pipeline_spark.queries.sinks import (
        MANIFEST_BUMP_CENTS, MANIFEST_STRAY_CENTS,
        manifest_swap_root, sink_manifest_atomic_swap,
    )

    rows = [(k, 0, "A", float(k)) for k in range(1, 11)]  # custkeys 1..10
    sf = str(tmp_path / "mswap")
    spark.createDataFrame(
        rows, "c_custkey long, c_nationkey long, c_mktsegment string, c_acctbal double"
    ).write.parquet(f"{sf}/customer.parquet")

    out = sink_manifest_atomic_swap(spark, sf).collect()
    assert len(out) == 1
    base_cents = sum(k * 100 for k in range(1, 11))
    bumped = 2 * MANIFEST_BUMP_CENTS  # custkeys 5 and 10
    assert out[0].n_rows == 10
    assert out[0].sum_cents == base_cents + bumped

    root = manifest_swap_root(sf)
    snap2 = os.path.join(root, "data", "snap-2")
    globbed = spark.read.parquet(snap2)
    assert globbed.filter(globbed.bal_cents == MANIFEST_STRAY_CENTS).count() == 7

    # atomic rollback: point back at manifest-1, re-read through the op
    pointer = os.path.join(root, "_CURRENT")
    tmp = pointer + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(os.path.join(root, "_MANIFEST-1.json"))
    os.replace(tmp, pointer)
    rolled = sink_manifest_atomic_swap(spark, sf).collect()
    assert rolled[0].sum_cents == base_cents  # wholly v1, no bump, no stray
    # manifest-1 must not reference any snap-2 file
    listed = json.load(open(os.path.join(root, "_MANIFEST-1.json")))["files"]
    assert all("snap-1" in f for f in listed)


def test_merkle_checksum_localizes_divergence(spark, tmp_path):
    """Anti-entropy contract: two replicas differing in ONE row's value
    must agree on every bucket's row count and on every bucket digest
    EXCEPT the bucket owning that row's key — the mismatch localizes
    repair without shipping rows."""
    import hashlib

    from graph_etl_pipeline_spark.queries.quality import (
        MERKLE_BUCKETS, dq_merkle_checksum,
    )

    def write_orders(path, bump_key=None):
        rows = [
            (
                k,
                100 + k,
                "O" if k % 2 else "F",
                10.0 * k + (0.01 if k == bump_key else 0.0),
                "1995-03-0%d 00:00:00" % (1 + k % 9),
                "1-URGENT",
            )
            for k in range(1, 21)
        ]
        spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderstatus string,"
            " o_totalprice double, o_orderdate string, o_orderpriority string",
        ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.parquet(
            f"{path}/orders.parquet"
        )

    a, b = str(tmp_path / "ra"), str(tmp_path / "rb")
    write_orders(a)
    write_orders(b, bump_key=7)

    da = {r.bucket: r for r in dq_merkle_checksum(spark, a).collect()}
    db = {r.bucket: r for r in dq_merkle_checksum(spark, b).collect()}
    assert set(da) == set(db)
    target = (
        int(hashlib.md5(b"bk:7").hexdigest()[:8], 16) % MERKLE_BUCKETS
    )
    for bk in da:
        assert da[bk].n_rows == db[bk].n_rows  # counts agree everywhere
        same = tuple(da[bk]) == tuple(db[bk])
        assert same == (bk != target), f"bucket {bk}: same={same}"
    # and the divergent bucket differs in the value lanes, not the count
    assert (da[target].sum_h1, da[target].sum_h2) != (
        db[target].sum_h1,
        db[target].sum_h2,
    )


def test_weighted_priority_exact_ticket_draws(spark, tmp_path):
    """The integer A-ES discretization is bit-predictable: each doc's
    priority must equal the min of its w seeded md5 ticket draws
    (computed independently in Python), weights must follow the
    length schedule, and the plan must be a TakeOrderedAndProject heap,
    not a global sort."""
    import hashlib

    from graph_etl_pipeline_spark.queries.curation import (
        WPRI_CHARS_PER_TICKET, WPRI_MAX_W, sample_weighted_priority,
    )

    rows = [
        (i, "x" * n, "en", "web", n)
        for i, n in enumerate([0, 499, 500, 1234, 4000, 9999])
    ]
    sf = str(tmp_path / "wpri")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")

    df = sample_weighted_priority(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    out = {r.doc_id: r for r in df.collect()}
    assert len(out) == len(rows)  # corpus smaller than K: everything selected
    for i, n in enumerate([0, 499, 500, 1234, 4000, 9999]):
        w = 1 + min(WPRI_MAX_W - 1, n // WPRI_CHARS_PER_TICKET)
        expect = min(
            hashlib.md5(f"wpri:{i}:{t}".encode()).hexdigest() for t in range(w)
        )
        assert out[i].weight == w
        assert out[i].priority == expect


def test_geo_grid_nn_one_ring_guarantee(spark, tmp_path):
    """Brute-force differential: wherever the true nearest neighbor is
    within one cell edge, the grid join must return exactly that
    supplier; and the plan must never degrade to a cartesian product."""
    import hashlib

    from graph_etl_pipeline_spark.queries.geo import (
        GEO_CELL, GEO_UNITS, geo_grid_nn_join,
    )

    def coord(seed, k):
        return int(hashlib.md5(f"{seed}:{k}".encode()).hexdigest()[:6], 16) % GEO_UNITS

    sf = str(tmp_path / "geo")
    custs, supps = list(range(1, 41)), list(range(1, 13))
    spark.createDataFrame(
        [(k, f"c{k}", 0, 0.0, "A") for k in custs],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    ).write.parquet(f"{sf}/customer.parquet")
    spark.createDataFrame(
        [(k, f"s{k}", 0, 0.0) for k in supps],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.parquet(f"{sf}/supplier.parquet")

    df = geo_grid_nn_join(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    got = {r.c_custkey: (r.nn_suppkey, r.d2) for r in df.collect()}

    checked = 0
    for c in custs:
        cx, cy = coord("gx", c), coord("gy", c)
        best = min(
            ((coord("sx", s) - cx) ** 2 + (coord("sy", s) - cy) ** 2, s)
            for s in supps
        )
        if best[0] <= GEO_CELL * GEO_CELL:  # true NN within one cell edge
            assert c in got, f"customer {c} missing despite in-ring NN"
            assert got[c] == (best[1], best[0]), f"customer {c}: {got[c]} != {best}"
            checked += 1
    assert checked >= 10  # the fixture must actually exercise the guarantee


def test_benford_audit_known_distribution(spark, tmp_path):
    """Planted amounts with known leading digits: 6 ones, 3 twos, 1 nine
    (cents rendering decides the digit, so 0.10 leads with 1 and 95.0
    leads with 9); zero/negative amounts are excluded before counting."""
    from graph_etl_pipeline_spark.queries.quality import (
        BENFORD_PPM, dq_benford_audit,
    )

    amounts = [1.23, 10.0, 199.99, 0.10, 12.5, 1543.21,  # cents lead with 1
               2.22, 25.0, 0.25,                          # cents lead with 2
               95.0,                                      # cents lead with 9
               0.0, -5.0]                                 # excluded
    rows = [
        (i, i, "O", a, "1995-01-01 00:00:00", "1-URGENT")
        for i, a in enumerate(amounts)
    ]
    sf = str(tmp_path / "benford")
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.parquet(
        f"{sf}/orders.parquet"
    )

    out = {r.digit: r for r in dq_benford_audit(spark, sf).collect()}
    assert set(out) == {1, 2, 9}
    assert (out[1].n, out[2].n, out[9].n) == (6, 3, 1)
    assert out[1].obs_ppm == 600_000 and out[2].obs_ppm == 300_000
    for d, r in out.items():
        assert r.exp_ppm == BENFORD_PPM[d]
        assert r.dev_ppm == abs(r.obs_ppm - r.exp_ppm)


def test_dynamic_partition_overwrite_survival(spark, tmp_path):
    """Partition-replace contract: the v2 'O'-only batch must restate
    partition O and leave F and P byte-identical to v1 — and the conf
    flip must be restored after the write."""
    import os

    from graph_etl_pipeline_spark.queries.sinks import (
        DPO_BUMP_CENTS, dpo_root, sink_dynamic_partition_overwrite,
    )

    rows = [
        (k, 100 + k, ["O", "F", "P"][k % 3], 10.0 * k,
         "1995-03-01 00:00:00", "1-URGENT")
        for k in range(1, 16)
    ]
    sf = str(tmp_path / "dpo")
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.parquet(
        f"{sf}/orders.parquet"
    )

    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    out = {r.status: r for r in sink_dynamic_partition_overwrite(spark, sf).collect()}
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        == before
    )

    expect = {"O": [], "F": [], "P": []}
    for k in range(1, 16):
        st = ["O", "F", "P"][k % 3]
        cents = k * 1000 + (DPO_BUMP_CENTS if st == "O" else 0)
        expect[st].append(cents)
    for st in ("O", "F", "P"):
        assert out[st].n_rows == len(expect[st])
        assert out[st].sum_cents == sum(expect[st])

    # F-partition files are the v1 originals — the v2 write never touched them
    tbl = os.path.join(dpo_root(sf), "orders_by_status")
    f_dir = os.path.join(tbl, "status=F")
    o_dir = os.path.join(tbl, "status=O")
    f_mtime = max(
        os.path.getmtime(os.path.join(f_dir, p))
        for p in os.listdir(f_dir) if p.endswith(".parquet")
    )
    o_mtime = min(
        os.path.getmtime(os.path.join(o_dir, p))
        for p in os.listdir(o_dir) if p.endswith(".parquet")
    )
    assert f_mtime <= o_mtime  # O was rewritten after F last changed


def test_multiline_log_stitches_frames(spark, tmp_path):
    """Planted events: continuation frames must stitch to their header
    (no frame line becomes its own record), frame counts must follow
    the deterministic schedule, and error events map to ERROR level."""
    from graph_etl_pipeline_spark.queries.sources import src_multiline_log_scan

    rows = [
        (i, "2024-01-01 00:00:%02d" % i, 100 + i,
         "error" if i % 2 else "click", 1.0, "{}")
        for i in range(6)
    ]
    sf = str(tmp_path / "mlog")
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
        f"{sf}/events.parquet"
    )

    out = {r.event_id: r for r in src_multiline_log_scan(spark, sf).collect()}
    assert len(out) == 6  # every record stitched, none split by its frames
    for i in range(6):
        assert out[i].n_frames == i % 3
        assert out[i].user_id == 100 + i
        assert out[i].level == ("ERROR" if i % 2 else "INFO")
        assert out[i].etype == ("error" if i % 2 else "click")


def test_antientropy_repair_manifest(spark, tmp_path):
    """Planted drift on keys 97 and 194: the repair manifest must name
    exactly those keys' buckets, with per-bucket counts and key ranges,
    and nothing else."""
    import hashlib
    from collections import defaultdict

    from graph_etl_pipeline_spark.queries.composite import (
        REPAIR_DRIFT_MOD, pipeline_antientropy_repair,
    )
    from graph_etl_pipeline_spark.queries.quality import MERKLE_BUCKETS

    rows = [
        (k, 100 + k, "O", 10.0 * k, "1995-03-01 00:00:00", "1-URGENT")
        for k in range(1, 200)
    ]
    sf = str(tmp_path / "repair")
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp")).write.parquet(
        f"{sf}/orders.parquet"
    )

    drifted = [k for k in range(1, 200) if k % REPAIR_DRIFT_MOD == 0]
    assert drifted == [97, 194]
    expect = defaultdict(list)
    for k in drifted:
        b = int(hashlib.md5(f"bk:{k}".encode()).hexdigest()[:8], 16) % MERKLE_BUCKETS
        expect[b].append(k)

    out = {r.bucket: r for r in pipeline_antientropy_repair(spark, sf).collect()}
    assert set(out) == set(expect)
    for b, keys in expect.items():
        assert out[b].n_resync == len(keys)
        assert (out[b].min_key, out[b].max_key) == (min(keys), max(keys))


def test_attribution_u_shape_and_conservation(spark, tmp_path):
    """Planted journeys: 4-touch U-shape (ends heavy, exact telescoped
    remainders), 1-touch (full credit), 2-touch odd-value 50/50 with the
    deterministic extra micro on the LAST touch, and a trailing orphan
    touch after the final purchase that must be dropped."""
    from graph_etl_pipeline_spark.queries.windows import (
        win_attribution_multitouch,
    )

    t0 = 1_700_000_000
    rows = []
    # user 1: click,view,click,view -> purchase 10.01; then orphan click
    for i, et in enumerate(["click", "view", "click", "view"]):
        rows.append((10 + i, t0 + 60 * i, 1, et, 0.0))
    rows.append((14, t0 + 600, 1, "purchase", 10.01))
    rows.append((15, t0 + 700, 1, "click", 0.0))
    # user 2: one view -> purchase 7.25
    rows.append((20, t0 + 5, 2, "view", 0.0))
    rows.append((21, t0 + 6, 2, "purchase", 7.25))
    # user 3: click, view -> purchase 3.330001 (odd micro remainder)
    rows.append((30, t0 + 1, 3, "click", 0.0))
    rows.append((31, t0 + 2, 3, "view", 0.0))
    rows.append((32, t0 + 3, 3, "purchase", 3.330001))
    sf = str(tmp_path / "attr")
    spark.createDataFrame(
        [(i, __import__("datetime").datetime.utcfromtimestamp(ts), u, et, v, "{}")
         for (i, ts, u, et, v) in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{sf}/events.parquet")

    out = win_attribution_multitouch(spark, sf).collect()
    by_purchase = {}
    for r in out:
        by_purchase.setdefault(r.purchase_id, []).append(r)
    assert set(by_purchase) == {14, 21, 32}  # orphan click 15 dropped

    u1 = sorted(by_purchase[14], key=lambda r: r.pos)
    v1 = 10_010_000
    assert [r.touch_id for r in u1] == [10, 11, 12, 13]
    credits = [r.credit_micro for r in u1]
    assert credits == [
        v1 * 2 // 6,
        v1 * 3 // 6 - v1 * 2 // 6,
        v1 * 4 // 6 - v1 * 3 // 6,
        v1 - v1 * 4 // 6,
    ]
    assert sum(credits) == v1  # exact conservation
    assert credits[0] > credits[1] and credits[-1] > credits[-2]  # U ends heavy

    (u2,) = by_purchase[21]
    assert (u2.n_touches, u2.credit_micro) == (1, 7_250_000)

    u3 = sorted(by_purchase[32], key=lambda r: r.pos)
    assert [r.credit_micro for r in u3] == [1_665_000, 1_665_001]
    assert sum(r.credit_micro for r in u3) == 3_330_001


def test_harmonic_centrality_path_graph(spark, tmp_path):
    """Path 1-2-3-4-5 (one hour, chained by first_ts): hand-computed
    3-hop harmonic sixths — middle node 18, inner pair 17, ends 11 —
    with the per-ring counts that sum them."""
    import datetime

    from graph_etl_pipeline_spark.queries.graph_queries import (
        graph_harmonic_centrality,
    )

    base = datetime.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        (u, base + datetime.timedelta(minutes=u), u, "click", 1.0, "{}")
        for u in range(1, 6)
    ]
    sf = str(tmp_path / "harm")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(f"{sf}/events.parquet")

    got = {
        r.node: (r.n_d1, r.n_d2, r.n_d3, r.harmonic6)
        for r in graph_harmonic_centrality(spark, sf).collect()
    }
    assert got == {
        1: (1, 1, 1, 11),
        2: (2, 1, 1, 17),
        3: (2, 2, 0, 18),
        4: (2, 1, 1, 17),
        5: (1, 1, 1, 11),
    }
