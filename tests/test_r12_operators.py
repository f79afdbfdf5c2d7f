"""Round-12 operator tests: the end-to-end minhash dedup composite and
the bounded_self_pairs hot-probe memo semantics."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from graph_etl_pipeline_spark.registry import all_queries


def test_minhash_verified_dedup_keeper_invariants(spark, sf_dir):
    """End-to-end keeper-count contract: the composite emits exactly one
    row per input document; every duplicate cluster keeps exactly its
    canonical member; documents in no verified pair are their own
    canonical and always kept — so kept-count equals
    |corpus| − (|pair-graph nodes| − |clusters|)."""
    specs = all_queries()
    out = specs["pipeline_minhash_verified_dedup"].fn(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    n_docs = docs.count()
    assert out.count() == n_docs  # one row per input document, no drops

    rows = out.collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.canonical_id, []).append(r)
    for canon, members in by_cluster.items():
        kept = [m for m in members if m.kept]
        assert len(kept) == 1, f"cluster {canon} keeps {len(kept)} rows"
        assert kept[0].doc_id == canon  # the canonical member is the keeper
        assert canon == min(m.doc_id for m in members)  # CC minimum rule

    # Singleton documents (no verified near-dup) are their own canonical.
    pair_nodes = {
        r.doc_id
        for r in specs["dedup_cluster_keep"].fn(spark, sf_dir).collect()
    }
    for r in rows:
        if r.doc_id not in pair_nodes:
            assert r.kept and r.canonical_id == r.doc_id

    n_clusters = len(by_cluster)
    n_kept = sum(1 for r in rows if r.kept)
    assert n_kept == n_clusters  # one keeper per cluster, singletons included
    assert n_kept == n_docs - (len(pair_nodes) - len({
        r.canonical_id for r in rows if r.doc_id in pair_nodes
    }))


def test_hot_probe_memo_is_strategy_only(spark):
    """The hot-probe memo can only change the physical strategy, never
    the rows: force both verdicts for the same frame and assert an
    identical pair set either way."""
    from graph_etl_pipeline_spark import io
    from graph_etl_pipeline_spark.operators import pairs as P

    df = spark.createDataFrame(
        [(g, i) for g in ("a", "b") for i in range(6)], "k string, o int"
    )
    sel = lambda j: j.select(  # noqa: E731
        F.col("a.k").alias("k"), F.col("a.o").alias("oa"), F.col("b.o").alias("ob")
    )
    # io.memo key layout: (name, appId, input files, semanticHash, key,
    # cap) — the input files are empty for this in-memory frame
    key = (
        "hot_probe",
        df.sparkSession.sparkContext.applicationId,
        (),
        df.semanticHash(),
        "k",
        4,
    )
    io._MEMO.pop(key, None)
    tiled = {tuple(r) for r in P.bounded_self_pairs(df, "k", "o", 4, sel).collect()}
    assert io._MEMO[key] is True  # groups of 6 > cap 4 → hot
    io._MEMO[key] = False  # force the plain branch on the same frame
    plain = {tuple(r) for r in P.bounded_self_pairs(df, "k", "o", 4, sel).collect()}
    io._MEMO.pop(key, None)
    assert tiled == plain and len(plain) == 2 * (6 * 5 // 2)


@pytest.mark.slow
def test_ehll_register_merge_batch_split_invariance(spark, sf_dir):
    """The streaming sketch state must be invariant to how the engine
    splits the stream into micro-batches: fold the same events through
    1-batch, 2-batch, and per-row splits with ehll_batch_registers +
    ehll_register_merge and assert identical final state — the register
    MAX algebra (associative, commutative, idempotent) made executable."""
    from graph_etl_pipeline_spark.queries.streaming_queries import (
        ehll_batch_registers,
        ehll_register_merge,
    )

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_id")
        .limit(40)
        .collect()
    )
    assert len(ev) >= 10
    users = sorted({r.user_id for r in ev})
    seed = spark.createDataFrame(
        [(u, 0, 0) for u in users], "user_id bigint, r0 bigint, r1 bigint"
    )

    def fold(splits):
        state = seed
        for rows in splits:
            if not rows:
                continue
            batch = spark.createDataFrame(rows, "user_id bigint, event_id bigint")
            state = ehll_register_merge(state, ehll_batch_registers(batch))
        return {(r.user_id): (r.r0, r.r1) for r in state.collect()}

    rows = [(r.user_id, r.event_id) for r in ev]
    one = fold([rows])
    two = fold([rows[: len(rows) // 2], rows[len(rows) // 2:]])
    per3 = fold([rows[i : i + 3] for i in range(0, len(rows), 3)])
    replay = fold([rows, rows[:7]])  # replayed prefix must be a no-op
    assert one == two == per3 == replay
    # and a duplicated-event batch is idempotent within a batch too
    dup = fold([rows + rows])
    assert dup == one


@pytest.mark.slow
def test_effective_diameter_known_graph(spark, tmp_path):
    """Path graph 1-2-3-4-5 (the r11 replay fixture): the readout must
    pick the smallest hop whose N(t) ppm fraction clears the 900000
    threshold, agreeing row-for-row with graph_neighborhood_function."""
    import datetime

    from graph_etl_pipeline_spark.queries.graph_queries import (
        EFF_DIAMETER_PPM,
        graph_effective_diameter,
        graph_neighborhood_function,
    )
    from tests.test_r11_operators import _write_events

    base = datetime.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        (u, base + datetime.timedelta(minutes=u), u, "click", 1.0, "{}")
        for u in range(1, 6)
    ]
    sf = str(tmp_path / "diam")
    _write_events(spark, sf, rows)

    nf = {
        r.hop: r.frac_of_h3_ppm
        for r in graph_neighborhood_function(spark, sf).collect()
    }
    out = graph_effective_diameter(spark, sf).collect()
    expect = min(h for h, frac in nf.items() if frac >= EFF_DIAMETER_PPM)
    assert len(out) == 1
    assert out[0].eff_diameter_hops == expect
    assert out[0].frac_at_diameter_ppm == nf[expect]
    assert out[0].threshold_ppm == EFF_DIAMETER_PPM


def test_embed_centroid_drift_fraction_replay(spark, sf_dir):
    """Python Fraction replay of the exact rational pieces: quantize the
    vectors with the same FLOOR fixed-point rule, build each label's
    half-centroid difference exactly, and require bit-identical
    num/den strings plus the same fixed-op-sequence double."""
    from fractions import Fraction

    from graph_etl_pipeline_spark.queries.similarity import (
        FIXED_SCALE,
        embed_centroid_drift,
    )

    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    import math

    per = {}
    for r in rows:
        ia = r.vec_id % 2
        st = per.setdefault(r.label, {"n": [0, 0], "s": {}})
        key = 0 if ia == 1 else 1  # index 0 = the ia half, 1 = the other
        st["n"][key] += 1
        for i, x in enumerate(r.embedding):
            q = math.floor(float(x) * FIXED_SCALE + 0.5)
            s = st["s"].setdefault(i, [0, 0])
            s[key] += q

    got = {r.label: r for r in embed_centroid_drift(spark, sf_dir).collect()}
    assert set(got) == {
        lbl for lbl, st in per.items() if st["n"][0] > 0 and st["n"][1] > 0
    }
    for lbl, st in per.items():
        if st["n"][0] == 0 or st["n"][1] == 0:
            continue
        n1, n2 = st["n"]
        num = sum(
            (s[0] * n2 - s[1] * n1) ** 2 for s in st["s"].values()
        )
        den = n1 * n1 * n2 * n2
        r = got[lbl]
        assert (r.n1, r.n2) == (n1, n2), lbl
        assert int(r.shift2_num) == num and int(r.shift2_den) == den, lbl
        assert r.shift2 == float(num) / float(den) / float(1 << 48), lbl
        # sanity: the exact rational is within 1 ulp of the double
        exact = Fraction(num, den) / (1 << 48)
        assert abs(r.shift2 - float(exact)) <= abs(float(exact)) * 1e-12
