"""Plan-quality regression tests: assert the physical plans keep the
properties the 100 TB design depends on (broadcasts on dims, column
pruning into the scan, no cartesian products, whole-stage codegen)."""

from __future__ import annotations

import pytest

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from graph_etl_pipeline_spark.registry import all_queries


def _plan(spark, name, sf_dir) -> str:
    df = all_queries()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_broadcasts_dims_and_prunes_columns(spark, sf_dir):
    plan = _plan(spark, "join_four_hop_chain", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never sort-merge at this SF
    # lineitem scan must read only the 3 needed columns
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, "flt_compound_predicate", sf_dir)
    assert "PushedFilters" in plan
    # source non-emptiness can't push, but the scan must prune to the
    # 4 projected columns + text-free schema
    assert "text" not in plan.split("ReadSchema")[1][:200]


def test_range_join_is_bucketed_equi_join(spark, sf_dir):
    """The interval join must plan as an equi-join on the time bucket —
    a nested-loop/cartesian plan here is the exact scale bug the
    bucketing exists to prevent."""
    plan = _plan(spark, "join_time_range", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "bucket" in plan  # the equi-join key is the derived bucket


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = _plan(spark, "agg_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan  # no global sort for top-K


def test_codegen_covers_relational_core(spark, sf_dir):
    """The relational core must compile to whole-stage codegen stages
    (explain('codegen') reports 'Found N WholeStageCodegen subtrees')."""
    import contextlib
    import io

    # Under AQE the codegen subtrees only appear per-stage at runtime;
    # disable it for the static compilation check.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ["agg_multi_counter", "join_two_hop", "win_row_number_dedup"]:
            df = all_queries()[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("codegen")
            out = buf.getvalue()
            assert "WholeStageCodegen subtrees" in out and "Found 0" not in out, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_asof_is_one_window_no_join(spark, sf_dir):
    """The as-of operator must stay a single-window fill-forward — any
    Join in the plan means it regressed to a range-join formulation."""
    plan = _plan(spark, "win_asof_last_click", sf_dir)
    assert "Join" not in plan
    assert plan.count("Exchange") == 1  # the one user_id window shuffle


def test_decontaminate_broadcasts_benchmark_set(spark, sf_dir):
    """The benchmark shingle set must broadcast (semi-join) — a shuffled
    join here would move the corpus for a KB-sized blocklist."""
    plan = _plan(spark, "text_decontaminate", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_repetition_ratio_no_join_no_agg_exchange(spark, sf_dir):
    """Repetition stats are per-row array math: no joins; the only
    exchange allowed is io.table's parallelism-floor repartition."""
    plan = _plan(spark, "text_repetition_ratio", sf_dir)
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_rollup_single_aggregation_exchange(spark, sf_dir):
    """ROLLUP must expand grouping sets inside one aggregation pipeline:
    exactly one hash-partitioned exchange, with an Expand node."""
    plan = _plan(spark, "agg_rollup", sf_dir)
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_jaccard_common_case_has_no_window(spark, sf_dir):
    """r4 regression guard: the df-cap must never reintroduce WindowExec
    over the exploded index (the r3 2.6x regression shape). With no hot
    shingles (all test SFs) the adaptive guard also drops the anti-join,
    so the plan is scan -> explode -> self-join -> aggregations only."""
    plan = _plan(spark, "dedup_ngram_jaccard", sf_dir)
    assert "Window" not in plan
    assert "LeftAnti" not in plan  # hot list empty => guard not engaged


def test_embedding_cosine_common_case_has_no_window(spark, sf_dir):
    """r4 regression guard: with every label block under CHUNK_CAP the
    pair join must be the plain per-label self-join — zero WindowExecs,
    zero tile replication (the r3 3.1x regression paid both always)."""
    plan = _plan(spark, "dedup_embedding_cosine", sf_dir)
    assert "Window" not in plan


def test_profile_single_scan_single_expand(spark, sf_dir):
    """Column profiling must stay one pass: one Expand for the grouped
    COUNT(DISTINCT)s, exactly one scan of the profiled table."""
    plan = _plan(spark, "profile_table_stats", sf_dir)
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_scd2_single_exchange(spark, sf_dir):
    """Change-detection lag and validity lead share the (user_id; ts,
    event_id) window spec, so the whole SCD2 build must reuse one
    shuffle and one sort."""
    plan = _plan(spark, "scd2_history", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort [") == 1


def test_funnel_single_exchange(spark, sf_dir):
    """Three chained prefix windows + the final per-user aggregate all
    ride the user_id partitioning — the funnel is one shuffle, never
    one join per stage."""
    plan = _plan(spark, "win_funnel_conversion", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort [") == 1
    assert "Join" not in plan


def test_cube_single_aggregation_exchange(spark, sf_dir):
    """CUBE must expand inside one hash aggregation, not one scan per
    grouping set."""
    plan = _plan(spark, "agg_cube", sf_dir)
    assert plan.count("Exchange") <= 2  # partial→final agg exchange only
    assert plan.count("Scan parquet") == 1


def test_partitioned_write_prunes_partitions(spark, sf_dir):
    """sink_partitioned_prune's read must carry the event_type predicate
    as a PartitionFilter (pruning at file-listing time) and must NOT
    retain it as a post-scan data filter on a partition column."""
    df = all_queries()["sink_partitioned_prune"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:200]
    assert "event_type" in seg, seg
    # negative half (ADVICE r5): the partition-column predicate must not
    # ALSO survive as a pushed data filter or a post-scan Filter node —
    # outside the PartitionFilters segment, event_type appears only in
    # schema/output lists, never inside a filter clause
    rest = plan.replace("PartitionFilters" + seg, "")
    pushed = [
        part[:200]
        for part in rest.split("PushedFilters")[1:]
    ]
    assert not any("event_type" in p for p in pushed), pushed
    filter_lines = [
        ln for ln in rest.splitlines() if ln.lstrip().startswith(("Filter", "+- Filter", ": +- Filter"))
    ]
    assert not any("event_type" in ln for ln in filter_lines), filter_lines


def test_ann_trained_single_training_pass(spark, sf_dir):
    """sim_ann_ivf_trained must carry ONE Lloyd training pass (VERDICT r5
    next-round #2): inter-round centroids are collected to the driver and
    re-enter the plan as K literal rows (LocalTableScan), so the final
    plan's embeddings scan count is a small constant — independent of
    LLOYD_ROUNDS — instead of embedding every training round's corpus
    pass twice (once under the assignment, once re-derived for the probe
    ranking)."""
    plan = _plan(spark, "sim_ann_ivf_trained", sf_dir)
    assert "Scan ExistingRDD" in plan  # literal trained centroids
    # assignment scan + qvec + candidates + query-vec broadcast + the
    # exact-topk contract's own two scans — never rounds-dependent
    assert plan.count("Scan parquet") <= 7, plan.count("Scan parquet")


def test_kmeans_iterate_rounds_collapse_to_literal_centroids(spark, sf_dir):
    """sim_kmeans_iterate's final assignment must score against literal
    (driver-collected) centroids: exactly one corpus-scanning assignment
    pass in the returned plan, with earlier rounds truncated behind
    the literal centroid rows (Scan ExistingRDD)."""
    plan = _plan(spark, "sim_kmeans_iterate", sf_dir)
    assert "Scan ExistingRDD" in plan
    assert plan.count("Scan parquet") <= 2  # quantized corpus (+ seed filter)


def test_zorder_layout_skips_files(spark, sf_dir, tmp_path):
    """sink_zorder_write's clustering must be REAL: for the 2-D box the
    query reads, strictly fewer z-ordered files intersect (by parquet
    footer min/max of user_id and hour) than row-order files of the same
    data — the min/max-stats skipping a 100 TB engine relies on."""
    import glob
    import os

    import pyarrow.parquet as pq

    from graph_etl_pipeline_spark.queries.sinks import morton_code
    from pyspark.sql import functions as F

    from graph_etl_pipeline_spark.io import table as t

    ev = t(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts")) / 3600).cast("long")
    base = ev.agg((F.floor(F.unix_timestamp(F.min("ts"))) / 3600).cast("long")).head()[0]
    lo_h, hi_h = base + 240, base + 287

    cols = ev.select(
        "event_id", "user_id", "value", hour.alias("hour"),
        morton_code(F.col("user_id"), hour % (1 << 16)).alias("z"),
    )
    zdest, rdest = str(tmp_path / "z"), str(tmp_path / "r")
    cols.repartitionByRange(8, "z").sortWithinPartitions("z").write.mode(
        "overwrite"
    ).parquet(zdest)
    cols.repartition(8).write.mode("overwrite").parquet(rdest)

    def files_touched(dest):
        n = 0
        for f in glob.glob(os.path.join(dest, "part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            umin = uhmin = None
            for rg in range(md.num_row_groups):
                cu = md.row_group(rg).column(names["user_id"]).statistics
                ch = md.row_group(rg).column(names["hour"]).statistics
                umin = cu.min if umin is None else min(umin, cu.min)
                uhmin = ch.min if uhmin is None else min(uhmin, ch.min)
                umax = cu.max if rg == 0 else max(umax, cu.max)
                hmax = ch.max if rg == 0 else max(hmax, ch.max)
            if umax >= 2 and umin <= 7 and hmax >= lo_h and uhmin <= hi_h:
                n += 1
        return n

    z_files, r_files = files_touched(zdest), files_touched(rdest)
    assert z_files < r_files, (z_files, r_files)


def test_line_dedup_hot_set_broadcasts(spark, sf_dir):
    """text_line_dedup's boilerplate set must come back as a BROADCAST
    anti-join — a shuffled anti-join would move the corpus-sized line
    stream for a frequency-bounded hot list."""
    plan = _plan(spark, "text_line_dedup", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_ohlc_single_exchange_no_window(spark, sf_dir):
    """OHLC bars are one aggregation with map-side partials and a single
    hash exchange — no window function. (min_by/max_by are typed
    imperative aggregates, so Spark plans SortAggregate: the grouping
    sorts inside each side of the exchange are the aggregation's own,
    not an extra global sort.)"""
    plan = _plan(spark, "win_ohlc_resample", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "partial_min_by" in plan  # map-side combine proven


def test_salted_skew_join_broadcasts_hot_list(spark, sf_dir):
    """join_salted_skew's hot-key list must broadcast onto BOTH sides;
    the salted equi-join itself must not be a nested-loop."""
    plan = _plan(spark, "join_salted_skew", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2  # hot list onto fact + dim
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mode_two_exchanges_no_window(spark, sf_dir):
    """agg_group_mode composes two map-combined aggregations — the
    row_number-over-counts formulation (the oracle's) would add a window
    + sort; the engine side must not."""
    plan = _plan(spark, "agg_group_mode", sf_dir)
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_morton_code_interleave_roundtrip(spark):
    """morton_code must be an exact bit interleave: decoding the even and
    odd bit positions recovers the inputs for the full 16-bit range edge
    cases and a pseudorandom sample."""
    from graph_etl_pipeline_spark.queries.sinks import ZORDER_BITS, morton_code
    from pyspark.sql import functions as F

    cases = [(0, 0), (1, 0), (0, 1), (65535, 65535), (43690, 21845),
             (12345, 54321), (65535, 0), (0, 65535)]
    cases += [((i * 2654435761) % 65536, (i * 40503) % 65536) for i in range(50)]
    df = spark.createDataFrame(cases, "a long, b long").withColumn(
        "z", morton_code(F.col("a"), F.col("b"))
    )
    for r in df.collect():
        a = b = 0
        for i in range(ZORDER_BITS):
            a |= ((r.z >> (2 * i)) & 1) << i
            b |= ((r.z >> (2 * i + 1)) & 1) << i
        assert (a, b) == (r.a, r.b), (r.a, r.b, r.z)


def test_running_distinct_single_exchange(spark, sf_dir):
    """win_running_distinct must run both windows off ONE user_id
    shuffle — the explicit repartition satisfies the (user, type)
    clustering too, so no second Exchange may appear."""
    plan = _plan(spark, "win_running_distinct", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_kmv_shard_merge_kmins_take_ordered(spark, sf_dir):
    """All three sketch k-mins (whole / shards / merged) must plan as
    TakeOrderedAndProject — a global sort on the hash table would be the
    exact anti-pattern the KMV design avoids."""
    plan = _plan(spark, "agg_kmv_shard_merge", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Sort ") <= plan.count("TakeOrderedAndProject")


def test_grid_nn_join_broadcasts_ring_no_cartesian(spark, sf_dir):
    """geo_grid_nn_join's docstring claims the 3x3 ring candidates meet
    in a plain equi-join (broadcast under threshold) and never a cross
    join — pin both (VERDICT r9 #6)."""
    plan = _plan(spark, "geo_grid_nn_join", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # supplier build side is dim-sized


def test_weighted_priority_take_ordered_heap(spark, sf_dir):
    """sample_weighted_priority's docstring claims the bottom-K selection
    compiles to TakeOrderedAndProject (per-task heaps, zero corpus
    shuffle) — pin it (VERDICT r9 #6)."""
    plan = _plan(spark, "sample_weighted_priority", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_weighted_median_single_exchange(spark, sf_dir):
    """agg_weighted_median's docstring: both windows (running range-sum,
    group total) and the final group-agg share ONE exchange on the group
    key — pin it."""
    plan = _plan(spark, "agg_weighted_median", sf_dir)
    assert plan.count("Exchange") == 1, plan


def test_matryoshka_dual_take_ordered_no_shuffle(spark, sf_dir):
    """embed_matryoshka_prefix's docstring: two TakeOrderedAndProject
    heaps over one scan, no hash-partitioned shuffle anywhere (the only
    exchanges are the probe/top-K broadcasts)."""
    plan = _plan(spark, "embed_matryoshka_prefix", sf_dir)
    assert plan.count("TakeOrderedAndProject") == 2, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_hdr_histogram_two_exchanges(spark, sf_dir):
    """agg_hdr_histogram's docstring: one map-combined bucket count, then
    the quantile walk on the bucket table — exactly two hash exchanges,
    the data touched once."""
    plan = _plan(spark, "agg_hdr_histogram", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_hyperanf_fixed_width_state_no_explode(spark, sf_dir):
    """graph_hyperanf_sketch's 100 TB contract: per-hop state stays TWO
    packed bigint words per vertex — the hop plan must contain NO Expand/
    Explode (a per-register row blowup would shuffle 16x the rows) and
    the register-max aggregation must be a partial (map-combinable)
    HashAggregate pair, never sort-based. A one-hop _fold_hops plan with
    the query's register-max merge is inspected directly, because the
    full query localCheckpoints each hop, hiding the aggregation behind a
    Scan ExistingRDD in the final plan; the end-to-end plan is still
    checked for cross products."""
    from pyspark.sql import functions as F

    from graph_etl_pipeline_spark.functions import hll
    from graph_etl_pipeline_spark.queries.graph_queries import (
        _fold_hops, interaction_edges,
    )

    edges = interaction_edges(spark, sf_dir)
    bi = edges.select(F.col("u").alias("s"), F.col("v").alias("t")).unionAll(
        edges.select(F.col("v").alias("s"), F.col("u").alias("t"))
    )
    state = bi.select(F.col("s").alias("node")).distinct().select(
        "node", F.lit(1).cast("long").alias("r0"), F.lit(2).cast("long").alias("r1")
    )
    (hop,) = _fold_hops(bi, state, 1, lambda df: hll.register_max(df, "node"))
    hop = hop._jdf.queryExecution().executedPlan().toString()
    assert "Generate explode" not in hop and "Expand" not in hop
    # the register max must have a MAP-SIDE partial (combine before the
    # node exchange); the distinct() in this fixture contributes the
    # other HashAggregate pair, so match the partial_max slice expr
    assert "partial_max((shiftright(" in hop
    assert "SortAggregate" not in hop
    full = _plan(spark, "graph_hyperanf_sketch", sf_dir)
    assert "CartesianProduct" not in full
    assert "BroadcastNestedLoopJoin" not in full
    assert "Generate explode" not in full and "Expand" not in full


def test_group_topn_one_agg_exchange_dims_broadcast(spark, sf_dir):
    """agg_group_topn (VERDICT r10 #4): one partial+final hash agg pair
    over ONE hashpartitioning exchange, dims broadcast (never
    sort-merge), lineitem scan pruned to its 3 needed columns; the only
    other exchange is the final rangepartitioning for the ORDER BY."""
    plan = _plan(spark, "agg_group_topn", sf_dir)
    assert plan.count("HashAggregate") == 2  # partial + final, one agg
    assert "SortAggregate" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange rangepartitioning") == 1
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_session_batch_two_windows_one_sort_one_exchange(spark, sf_dir):
    """win_session_batch (VERDICT r10 #4): the gaps-and-islands plan is
    two Window operators sharing ONE sort over ONE user_id exchange, and
    the per-session aggregation rides the same partitioning (user_id is
    a prefix of the grouping key, so no second exchange)."""
    plan = _plan(spark, "win_session_batch", sf_dir)
    assert plan.count("Window") == 2  # lag pass + running-sum pass
    assert plan.count("Exchange") == 1  # hashpartitioning(user_id) only
    assert plan.count("Sort ") == 1  # both windows share the one sort
    assert plan.count("HashAggregate") == 2  # partial + final, co-located


def test_sink_upsert_plan_shape(spark, sf_dir):
    """sink_upsert_node is two chained full-outer MERGEs on c_custkey —
    the r11/r12 drift investigations concluded host band, so pin the
    plan shape they verified: full-outer joins present, no cartesian
    fallback, and the double merge must not multiply exchanges beyond
    one per join side per level (4 total at this width)."""
    plan = _plan(spark, "sink_upsert_node", sf_dir)
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 4


def test_mm_binary_features_single_arrow_pass(spark, sf_dir):
    """mm_binary_features must stay ONE mapInPandas pass over the scan —
    a second Arrow boundary (or a shuffle before it) would double the
    serialization cost the r11 drift was suspected of (it was host band;
    plan confirmed unchanged)."""
    plan = _plan(spark, "mm_binary_features", sf_dir)
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan.split("MapInPandas")[0]  # map-side, pre-shuffle


def test_minhash_verified_dedup_single_corpus_join(spark, sf_dir):
    """The end-to-end dedup composite's final corpus application must be
    ONE join of the corpus against the flags table (broadcast or
    shuffled — Catalyst's choice by size), never a cartesian, and the
    corpus side must scan only doc_id for it (column pruning: the text
    column feeds the shingle pipeline, not the final apply)."""
    plan = _plan(spark, "pipeline_minhash_verified_dedup", sf_dir)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the final left join reads the corpus as doc_id alone
    assert "struct<doc_id:bigint>" in plan


def test_effective_diameter_is_tiny_rollup(spark, sf_dir):
    """The diameter readout adds ONE aggregate over the 3-row N(t)
    output — it must not re-trigger the hop iteration's wide shuffles
    (the sketch state is memoized; the readout's own plan is a
    min_by over a filter)."""
    plan = _plan(spark, "graph_effective_diameter", sf_dir)
    assert "min_by" in plan or "MinBy" in plan


def test_poisson_bootstrap_fanout_collapses_before_exchange(spark, sf_dir):
    """sample_poisson_bootstrap (VERDICT r12 #2): the replicate fan-out
    must stay MAP-SIDE — two constant-array explodes collapsing into a
    partial HashAggregate, then exactly ONE exchange that carries
    replicate rows (never the fanned per-order rows), and never a
    sort-based aggregate. The r12 artifact's 2.45x drift was re-measured
    clean at r13 (2.59-3.03 s quiet-host vs r11's 1.99 on a different
    host generation, tracking the same-session unchanged-code controls
    dq_referential_integrity/pipeline_antientropy_repair at 1.2-1.4x
    their r11 rows) — host band, not plan drift; this pin is what makes
    that attribution falsifiable."""
    plan = _plan(spark, "sample_poisson_bootstrap", sf_dir)
    assert plan.count("Generate explode") == 2  # digest groups, 4 slices
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2  # partial (map-side) + final
    assert "SortAggregate" not in plan
    # the partial agg must sit BELOW the exchange (map-side collapse):
    # everything after the one Exchange is the final agg, no Generate
    post = plan.split("Exchange")[0]
    assert "Generate" not in post  # fan-out never crosses the shuffle


def test_harmonic_centrality_hop_exchanges_bounded(spark, sf_dir):
    """graph_harmonic_centrality (VERDICT r12 #2): the dense bitset plan
    is one map-combined bit_or aggregation per hop — 3 exchanges total,
    partial+final HashAggregate pairs, no pair-set Generate/explode and
    no sort aggregates. Same host-band attribution protocol as the
    bootstrap pin above (r13 quiet-host 3.86-3.91 s vs r11's 2.51,
    in line with the session's unchanged-code controls)."""
    plan = _plan(spark, "graph_harmonic_centrality", sf_dir)
    # one shuffle per hop (broadcasts of the tiny vertex index are free).
    # r17: the FINAL hop's bit_or aggregation is no longer hidden behind
    # an eager checkpoint job — it inlines into this plan, so the visible
    # final plan carries ITS exchange too (4 = 3 popcount aggs + the
    # inlined hop-3 union-OR agg; hops 1-2 still materialize behind
    # their checkpoints, read ≥2× each). Total exchanges ACROSS jobs are
    # unchanged — one per hop — with one fewer driver job.
    assert plan.count("Exchange hashpartitioning") == 4
    assert plan.count("HashAggregate") == 8  # partial+final x (3 pops + inlined hop 3)
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_incremental_crossmodal_state_served_from_storage(spark, sf_dir):
    """pipeline_incremental_crossmodal's steady-state contract: after the
    first call builds the per-corpus artifacts, a SECOND call must serve
    yesterday's state (both pair-frame sets + the base CC labels) as
    parquet scans — no shingle/band/verify re-derivation, no star rounds
    at plan-build time. The memos are what make this true (the star
    rounds execute eagerly while the CC output plan is BUILT, so even a
    content-addressed materialize would re-pay them per call); this pins
    that the memoized frames really are storage scans."""
    from graph_etl_pipeline_spark import io
    from graph_etl_pipeline_spark.queries import dedup, similarity

    # first call populates artifacts + memos
    all_queries()["pipeline_incremental_crossmodal"].fn(spark, sf_dir).collect()

    def assert_is_scan(df, label):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan parquet" in plan, f"{label} not a parquet scan"
        for op in ("Join", "HashAggregate", "Generate"):
            assert op not in plan, f"{label} re-derives ({op} in plan)"

    lex_b, lex_d = dedup._incr_lexical_pairs(spark, sf_dir)
    sem_b, sem_d = similarity._incr_semantic_pairs(spark, sf_dir)
    assert_is_scan(lex_b, "lexical base pairs")
    assert_is_scan(lex_d, "lexical delta pairs")
    assert_is_scan(sem_b, "semantic base pairs")
    assert_is_scan(sem_d, "semantic delta pairs")
    ((_, base_labels),) = [
        (k, v)
        for k, v in io._MEMO.items()
        if k[0] == "incr_base_cc_labels" and set(lex_b.inputFiles()) <= set(k[2])
    ]
    assert_is_scan(base_labels, "base CC labels")


def test_incremental_crossmodal_single_corpus_scan(spark, sf_dir):
    """The incremental composite's final apply must touch the documents
    corpus EXACTLY ONCE (one left join of flags onto one scan) — the
    pipeline_minhash_verified_dedup discipline: however many artifacts
    and CC rounds feed the flags, the corpus-sized table is never
    rescanned per stage."""
    plan = _plan(spark, "pipeline_incremental_crossmodal", sf_dir)
    assert plan.count("documents.parquet") == 1


def test_bench_host_sample_shape():
    """bench.py's host-load evidence (VERDICT r13 #5) must keep its
    machine-checkable shape: a loadavg float and monotone jiffy counters
    a second sample can difference into a busy fraction."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    la0, idle0, total0 = bench._host_sample()
    la1, idle1, total1 = bench._host_sample()
    assert isinstance(la0, float)
    assert total0 > idle0 > 0  # jiffies exist and idle < total
    assert idle1 >= idle0 and total1 >= total0  # monotone counters


# (build jobs, total jobs, Exchange nodes, rows) of the interaction-graph
# queries at the default test SF, on the second call: the first call pays
# materialize's writes. The calls read the data through a fresh path, so
# they write their own materialized tables (with AQE off) instead of
# reusing ones that earlier tests wrote with AQE on: those have another
# partition layout, and the counts depend on it.
GRAPH_PINS = {
    "triangle_count": (0, 5, 19, 1),
    "sssp_bounded": (1, 6, 28, 15),
    "kcore_bounded": (1, 2, 1, 15),
    "label_propagation": (1, 5, 13, 15),
    "jaccard_similarity": (2, 6, 6, 105),
    "random_walks": (1, 5, 3, 15),
    "assortativity": (0, 3, 6, 1),
    "modularity": (2, 7, 8, 1),
    "harmonic_centrality": (6, 8, 4, 15),
    "closeness_sampled": (10, 12, 4, 15),
    "betweenness_stress_sampled": (13, 16, 8, 0),
    "hyperanf_sketch": (8, 9, 0, 15),
    "neighborhood_function": (0, 1, 3, 3),
    "clustering_coefficient": (0, 4, 17, 15),
    "copurchase_project": (0, 2, 5, 2324),
}


@pytest.mark.parametrize("name", sorted(GRAPH_PINS))
def test_graph_query_job_and_exchange_pins(spark, sf_dir, name, tmp_path):
    from conftest import job_group

    fn = all_queries()[f"graph_{name}"].fn
    fresh = tmp_path / "sf"
    fresh.symlink_to(os.path.abspath(sf_dir))
    with job_group(spark):
        fn(spark, str(fresh)).collect()
    with job_group(spark) as jobs:
        df = fn(spark, str(fresh))
        build = jobs()
        rows = len(df.collect())
        total = jobs()
        exchanges = df._jdf.queryExecution().executedPlan().toString().count("Exchange")
    assert (build, total, exchanges, rows) == GRAPH_PINS[name]


def test_materialized_tables_follow_the_layout_confs(spark, sf_dir):
    """materialize keys its tables on the confs that shape their layout.
    After an AQE-on call on the same data root (no fresh path), the
    AQE-off pinned call writes and reads its own tables and keeps its
    pin, instead of planning on the AQE-coalesced ones."""
    from conftest import job_group

    fn = all_queries()["graph_label_propagation"].fn
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        fn(spark, sf_dir).collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    with job_group(spark):
        fn(spark, sf_dir).collect()
    with job_group(spark) as jobs:
        df = fn(spark, sf_dir)
        build = jobs()
        df.collect()
        total = jobs()
        exchanges = df._jdf.queryExecution().executedPlan().toString().count("Exchange")
    assert (build, total, exchanges) == GRAPH_PINS["label_propagation"][:3]


def test_headline_queries_build_with_zero_jobs(spark, sf_dir):
    """Building each of bench.py's 14 headline queries a second time
    fires no Spark job: parquet schemas come from io.read_parquet's memo,
    the hot-shingle verdict from io.memo, and the traversal is lazy. Both
    calls run with the pin's AQE-off confs, so the second one reuses the
    first one's materialized tables."""
    from bench import HEADLINE
    from conftest import job_group

    build_jobs = {}
    for name in HEADLINE:
        fn = all_queries()[name].fn
        with job_group(spark):
            fn(spark, sf_dir)
        with job_group(spark) as jobs:
            fn(spark, sf_dir)
            build_jobs[name] = jobs()
    assert build_jobs == dict.fromkeys(HEADLINE, 0)
