"""Round-16 operator tests beyond oracle parity: planted-geometry greedy
selection, prompt-level split discipline, planted contamination, and the
zero-state streaming-firewall shape."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _write_line_embeddings(spark, root: str, positions: list[int]) -> None:
    """64-dim embeddings at integer positions along the first axis —
    exact under the 2^24 fixed-point quantization, so greedy k-center
    distances are hand-computable."""
    rows = [
        (i, [float(v)] + [0.0] * 63, 0)
        for i, v in enumerate(positions)
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(root, "embeddings.parquet")
    )


def test_kcenter_planted_geometry(spark, tmp_path):
    """Eight points on a line at 0,1,3,7,15,31,63,100: greedy
    farthest-point from the lowest vec_id must select them in the
    classic halving order with exactly the hand-computed min-distances²
    (scaled by 2^48 — positions are integers, so quantization is exact
    and every distance is a perfect square times the scale)."""
    from graph_etl_pipeline_spark.queries.similarity import (
        sample_kcenter_coreset,
    )

    positions = [0, 1, 3, 7, 15, 31, 63, 100]
    _write_line_embeddings(spark, str(tmp_path), positions)
    got = [
        (r["rank"], r["vec_id"], r["d2"])
        for r in sample_kcenter_coreset(spark, str(tmp_path))
        .orderBy("rank")
        .collect()
    ]
    S = 1 << 48  # (2^24)^2
    want = [
        (1, 0, 0),
        (2, 7, 100**2 * S),        # farthest from 0
        (3, 6, 37**2 * S),         # 63: min(63², 37²)
        (4, 5, 31**2 * S),         # 31: min(31², 32², 69²)
        (5, 4, 15**2 * S),         # 15: min(15², 16², 48², 85²)
        (6, 3, 7**2 * S),          # 7:  min(7², 8², ...)
        (7, 2, 3**2 * S),          # 3:  min(3², 4², ...)
        (8, 1, 1**2 * S),          # 1:  min(1², 2², ...)
    ]
    assert got == want, got


def test_kcenter_batched_certificate_recollect_path(spark, tmp_path, monkeypatch):
    """r18: the batched argmax collects KCENTER_CAND_BATCH candidates and
    proves later picks exact via the floor certificate. Force the batch
    down to 2 so the pool is never complete and nearly every round fails
    the certificate (on the planted line the two farthest points are
    adjacent, so picking one collapses the other's mind below the floor)
    — the re-collect fallback must reproduce the identical hand-computed
    selection the one-probe-per-round r16 loop produced."""
    from graph_etl_pipeline_spark.queries import similarity

    monkeypatch.setattr(similarity, "KCENTER_CAND_BATCH", 2)
    positions = [0, 1, 3, 7, 15, 31, 63, 100]
    _write_line_embeddings(spark, str(tmp_path), positions)
    got = [
        (r["rank"], r["vec_id"], r["d2"])
        for r in similarity.sample_kcenter_coreset(spark, str(tmp_path))
        .orderBy("rank")
        .collect()
    ]
    S = 1 << 48
    want = [
        (1, 0, 0),
        (2, 7, 100**2 * S),
        (3, 6, 37**2 * S),
        (4, 5, 31**2 * S),
        (5, 4, 15**2 * S),
        (6, 3, 7**2 * S),
        (7, 2, 3**2 * S),
        (8, 1, 1**2 * S),
    ]
    assert got == want, got


def test_kcenter_corpus_smaller_than_k(spark, tmp_path):
    """A corpus with fewer than K vectors must yield exactly the corpus
    (in greedy order), matching the oracle's empty trailing s{r} CTEs —
    not crash on an exhausted candidate set."""
    from graph_etl_pipeline_spark.queries.similarity import (
        sample_kcenter_coreset,
    )

    _write_line_embeddings(spark, str(tmp_path), [0, 5, 9])
    got = [
        (r["rank"], r["vec_id"], r["d2"])
        for r in sample_kcenter_coreset(spark, str(tmp_path))
        .orderBy("rank")
        .collect()
    ]
    S = 1 << 48
    assert got == [(1, 0, 0), (2, 2, 81 * S), (3, 1, 16 * S)]


def test_kcenter_output_contract(spark, sf_dir):
    """On the real corpus: K distinct selections, d2 monotonically
    non-increasing from rank 2 on (the greedy invariant a consumer reads
    coverage radius off), seed = the lowest vec_id with d2 = 0."""
    from graph_etl_pipeline_spark.queries.similarity import (
        K_CENTERS, sample_kcenter_coreset,
    )

    rows = sample_kcenter_coreset(spark, sf_dir).orderBy("rank").collect()
    assert len(rows) == K_CENTERS
    assert len({r["vec_id"] for r in rows}) == K_CENTERS
    assert rows[0]["rank"] == 1 and rows[0]["d2"] == 0
    d2s = [r["d2"] for r in rows[1:]]
    assert all(a >= b for a, b in zip(d2s, d2s[1:])), d2s
    assert d2s[-1] > 0  # real corpus: no exact duplicates in the coreset


def test_dpo_split_is_prompt_level(spark, sf_dir):
    """No prompt may straddle train/holdout: the split hashes user_id
    (not the pair), so the pair-level bucket assignment must be constant
    per user — and the audit's prompt counts must tally with the
    pair-level recomputation."""
    from graph_etl_pipeline_spark.queries.composite import pipeline_dpo_dataset
    from graph_etl_pipeline_spark.queries.curation import (
        SPLIT_THRESHOLD, _hex_bucket,
        sample_preference_pairs_decontaminated,
    )

    pairs = sample_preference_pairs_decontaminated(spark, sf_dir).withColumn(
        "split",
        F.when(_hex_bucket("dpo", "user_id") < SPLIT_THRESHOLD, "train")
        .otherwise("holdout"),
    )
    straddlers = (
        pairs.groupBy("user_id")
        .agg(F.countDistinct("split").alias("n"))
        .filter("n > 1")
        .count()
    )
    assert straddlers == 0
    audit = {
        r["split"]: (r["n_pairs"], r["n_prompts"], r["min_margin_cents"])
        for r in pipeline_dpo_dataset(spark, sf_dir).collect()
    }
    recount = {
        r["split"]: (r["np"], r["nu"])
        for r in pairs.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("np"),
            F.countDistinct("user_id").alias("nu"),
        )
        .collect()
    }
    for split, (np_, nu) in recount.items():
        assert audit[split][0] == np_ and audit[split][1] == nu
        assert audit[split][2] > 0  # positive-margin filter held


def test_overlap_audit_planted_contamination(spark, tmp_path):
    """Plant an exact copy of an eval document's text into one source's
    corpus slot: that source's audit row must count exactly the planted
    doc (plus any pre-existing hits), with contaminated_chars taken from
    the STORED n_chars and the permille from integer division."""
    from graph_etl_pipeline_spark.io import table
    from graph_etl_pipeline_spark.queries.quality import dq_eval_overlap_audit

    base_sf = "/root/testdata/sf0.001"
    d = table(spark, base_sf, "documents")
    eval_text = d.filter("doc_id = 0").select("text").collect()[0]["text"]
    # choose a victim doc in a source with zero base contamination
    base_audit = {
        r["source"]: r["n_contaminated"]
        for r in dq_eval_overlap_audit(spark, base_sf).collect()
    }
    victim_src = sorted(s for s, n in base_audit.items() if n == 0)[0]
    victim = (
        d.filter(F.col("source") == victim_src)
        .orderBy(F.desc("doc_id"))
        .limit(1)
        .collect()[0]
    )
    planted = d.withColumn(
        "text",
        F.when(F.col("doc_id") == victim["doc_id"], F.lit(eval_text)).otherwise(
            F.col("text")
        ),
    )
    planted.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet")
    )
    audit = {
        r["source"]: r for r in dq_eval_overlap_audit(spark, str(tmp_path)).collect()
    }
    row = audit[victim_src]
    assert row["n_contaminated"] == 1
    assert row["contaminated_chars"] == victim["n_chars"]
    assert row["contamination_permille"] == (1000 * 1) // row["n_docs"]
    # eval docs flag their own sources (they trivially share their own
    # shingles) — the audit must report them, not special-case them
    eval_srcs = {
        r["source"] for r in d.filter("doc_id < 3").select("source").collect()
    }
    for s in eval_srcs:
        assert audit[s]["n_contaminated"] >= 1


def test_stream_firewall_is_stateless(spark, sf_dir):
    """The streaming decontaminate must run with ZERO streaming state
    (its scale claim): 3 micro-batches, empty stateOperators in every
    progress record, the survivor set equal to the batch NOT-IN filter,
    and (r17) the bench set delivered as a BROADCAST probe table — never
    as a plan-embedded literal array of shingles (VERDICT r16 #2)."""
    from graph_etl_pipeline_spark.functions.text import norm_tokens, shingles
    from graph_etl_pipeline_spark.queries.streaming_queries import (
        _staged_documents_three_files, bench_shingle_probe_table, decontam_hit_expr,
    )
    from graph_etl_pipeline_spark.queries.textops import (
        DECONTAM_BENCH_DOCS, DECONTAM_K,
    )
    from graph_etl_pipeline_spark.io import table
    from graph_etl_pipeline_spark.streaming.jobs import (
        fixture_stream, fresh_memory_sink_name,
    )

    src = _staged_documents_three_files(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    bench = (
        d.filter(F.col("doc_id") < DECONTAM_BENCH_DOCS)
        .select(
            F.explode(shingles(norm_tokens(F.col("text")), k=DECONTAM_K)).alias("s")
        )
        .distinct()
    )
    probe_tab, n_buckets = bench_shingle_probe_table(bench)
    stream = fixture_stream(spark, src)
    hit = decontam_hit_expr(
        shingles(norm_tokens(F.col("text")), k=DECONTAM_K), n_buckets
    )
    clean = (
        stream.withColumn("_one", F.lit(1))
        .join(F.broadcast(probe_tab), "_one")
        .filter(~F.coalesce(hit, F.lit(False)))
        .select("doc_id")
    )
    # plan shape: broadcast probe, no shingle literal. The analyzed plan
    # of the streaming frame must not embed string literals for bench
    # shingles (spot-check one known bench shingle), and the join must
    # be a broadcast.
    plan_str = clean._jdf.queryExecution().analyzed().toString()
    one_shingle = bench.limit(1).collect()
    if one_shingle:
        assert one_shingle[0]["s"] not in plan_str, (
            "bench shingles leaked into the streaming plan as literals"
        )
    name = fresh_memory_sink_name(spark, "fw_shape")
    q = (
        clean.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == 3, [p["batchId"] for p in q.recentProgress]
    assert all(not p.get("stateOperators") for p in q.recentProgress), (
        "streaming firewall acquired state operators"
    )
    got = {r["doc_id"] for r in spark.table(name).collect()}
    contaminated = (
        d.select("doc_id", F.explode(shingles(norm_tokens(F.col("text")), k=DECONTAM_K)).alias("s"))
        .join(F.broadcast(bench), "s", "left_semi")
        .select("doc_id")
        .distinct()
    )
    want = {
        r["doc_id"]
        for r in d.select("doc_id").join(contaminated, "doc_id", "left_anti").collect()
    }
    assert got == want


def test_cms_stream_state_multi_batch_and_stray_overwrite(spark, tmp_path):
    """The additive CMS state's exactly-once story, driven over a REAL
    3-batch stream: (a) the summed cell state equals the batch sketch of
    all events regardless of micro-batch boundaries; (b) a poisoned
    COMPLETE stray v{b} (the crash-between-write-and-commit artifact)
    is deterministically overwritten on replay — the property that makes
    a NON-idempotent merge safe (cms_cell_add_merge's contract)."""
    import datetime as dt
    import os

    from graph_etl_pipeline_spark.queries.streaming_queries import (
        cms_batch_cells, cms_cell_add_merge,
    )
    from graph_etl_pipeline_spark.queries.aggregates import CMS_MULTS, CMS_W
    from graph_etl_pipeline_spark.streaming.jobs import incremental_upsert

    schema = "event_id long, ts timestamp, user_id long, value double"
    src = tmp_path / "cms_src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 9, 0)
    batches = [
        [(1, t0, 7, 1.0), (2, t0, 7, 1.0), (3, t0, 9, 1.0)],
        [(4, t0, 7, 1.0), (5, t0, 11, 1.0)],
        [(6, t0, 9, 1.0)],
    ]
    seed = spark.range(len(CMS_MULTS) * CMS_W).selectExpr(
        f"CAST(id div {CMS_W} AS INT) AS i",
        f"CAST(pmod(id, {CMS_W}) AS INT) AS pos",
        "CAST(0 AS BIGINT) AS c",
    )
    target = str(tmp_path / "state")

    def _run(name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src / "*"))
            .select("user_id")
        )
        return incremental_upsert(
            stream,
            seed,
            keys=["i", "pos"],
            checkpoint_dir=str(tmp_path / "ckpt"),
            table_name=name,
            prepare=cms_batch_cells,
            merge=cms_cell_add_merge,
            target_dir=target,
        )

    # run batch 0 alone, then crash-inject: a poisoned COMPLETE stray v1
    # (written, never checkpoint-committed) must be deterministically
    # overwritten when the real batch 1 replays from v0
    spark.createDataFrame(batches[0], schema).coalesce(1).write.parquet(
        str(src / "f0")
    )
    _run("cms_replay_a")
    spark.createDataFrame(
        [(0, 0, 999_999)], "i int, pos int, c long"
    ).coalesce(1).write.parquet(os.path.join(target, "v1"))
    for b in (1, 2):
        spark.createDataFrame(batches[b], schema).coalesce(1).write.parquet(
            str(src / f"f{b}")
        )
    got = {
        (r["i"], r["pos"]): r["c"]
        for r in _run("cms_replay_b").collect()
        if r["c"] > 0
    }
    all_events = spark.createDataFrame(
        [r for rows in batches for r in rows], schema
    ).select("user_id")
    want = {
        (r["i"], r["pos"]): r["c"] for r in cms_batch_cells(all_events).collect()
    }
    assert got == want, (got, want)
    assert 999_999 not in got.values()
