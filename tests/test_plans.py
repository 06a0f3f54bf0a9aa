"""Physical-plan audits: the optimizations the engine claims must be
visible in explain output — filter pushdown to the parquet scan, broadcast
joins for dims, TakeOrderedAndProject for top-k, column pruning
(ReadSchema), and whole-stage codegen coverage (SURVEY §4)."""

from __future__ import annotations

import pytest

from nyc_tlc_analytics_pipeline_spark.plans.catalog import QUERIES
from nyc_tlc_analytics_pipeline_spark.sources.testdata import load_table

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q01_broadcasts_dims_and_takeordered(spark):
    df = QUERIES["q01_top_nations_by_revenue"].build(spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # supplier + nation
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").filter("l_quantity > 30").select(
        "l_orderkey", "l_quantity"
    )
    plan = _plan(li)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan


def test_column_pruning_in_read_schema(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_returnflag")
    plan = _plan(li)
    # scan reads only the projected column
    assert "ReadSchema: struct<l_returnflag:string>" in plan


def test_q09_semi_join_is_broadcast(spark):
    plan = _plan(QUERIES["q09_semi_join_suppliers"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_q10_anti_join_present(spark):
    plan = _plan(QUERIES["q10_orders_without_items"].build(spark, SF_SMOKE))
    assert "LeftAnti" in plan


def test_q26_topk_has_no_full_sort_shuffle(spark):
    plan = _plan(QUERIES["q26_cosine_topk"].build(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_everywhere_hot(spark):
    for name in ("q01_top_nations_by_revenue", "q04_price_percentiles", "q22_doc_token_stats"):
        df = QUERIES[name].build(spark, SF_SMOKE)
        df.collect()  # finalize the AQE plan
        plan = _plan(df)
        assert "isFinalPlan=true" in plan, name
        # '*(n)' prefixes mark WholeStageCodegen stages in the tree string
        assert "*(" in plan, name


def test_no_cartesian_products_in_catalog(catalog_plans):
    # intentional 1-row broadcast cross joins (scalar-aggregate folding):
    # q14 global quartiles, q63 PageRank dangling-mass term — both sides
    # provably 1 row, so the "cross" join is a broadcast of one scalar.
    # (q69: two 1-row aggregates folded into the single report row)
    # (q71: funnel-top user count folded onto the 3 stage rows)
    # (q56: 1-row N/V corpus-constant aggregate broadcast onto counts —
    #  the scale-safe replacement for the empty-partition window)
    # (q62/q64: the k×dim centroid matrix rides a broadcast 1-ROW frame
    #  instead of k·dim plan literals — Catalyst analysis stays O(1) in k)
    # (q80: 1-row c^alpha normalizer + two 1-row share denominators)
    # (q89: 1-row stats frame × 1-row TakeOrdered top-key frame)
    # (q91: 1-row bloom bits_set/est_fpp frame onto the per-source report)
    scalar_cross_ok = {
        "q14_nation_share_vs_global",
        "q56_unigram_lm_scoring",
        "q62_kmeans_clusters",
        "q63_nation_pagerank",
        "q64_semdedup_pairs",
        "q69_zipf_fit",
        "q71_event_funnel",
        "q80_temperature_mixture",
        "q89_skew_diagnostics",
        "q91_bloom_prefilter",
        "q102_event_pmi",  # 1-row context-count frame onto the k^2 matrix
        "q111_dsir_selection",  # 1-row N_T/N_R/V totals onto the vocab table
        "q112_gapfill_forward",  # 1-row min/max day bounds onto distinct keys
        "q117_bigram_perplexity",  # 1-row vocab-size V onto the bigram stats
        "q121_epoch_allocation",  # 1-row fill-rate s* onto the domains frame
        "q122_curation_funnel_v3",  # q117's 1-row vocab-size V (funnel stage)
        "q124_hill_tail_index",  # 1-row f_(k+1) reference onto the top-k frame
        "q127_vocab_coverage",  # 1-row total-occurrences onto the freq histogram
        "q132_funnel_attribution",  # q117's 1-row vocab-size V (funnel stage)
        "q138_heldout_perplexity",  # 1-row model vocab-size V broadcast onto scoring
        "q139_funnel_attribution_minhash",  # q132's funnel stage (1-row V)
        "q148_kneser_ney_perplexity",  # 1-row T/V continuation constants onto scoring
        "q157_kneser_ney_vocab_capped",  # q148's 1-row T/V constants (capped model)
        "q158_semantic_decontamination",  # bounded bench matrix onto the corpus scan (gated brute verify)
        "q153_cms_join_cardinality",  # 1-row truth × 1-row sketch estimate
        "q154_hll_key_overlap",  # 1-row estimates × 1-row truth
        "q160_lsh_recall_audit",  # bounded audit panel onto the corpus scan (brute truth pass)
        "q161_near_dup_gate_audit",  # three 1-row audit aggregates crossed
        "q162_ivf_recall_audit",  # bounded audit panel onto the corpus scan (brute truth pass)
        "q164_recall_remediation",  # bounded audit panels / K-centroid frames onto corpus scans (8 audit configs)
        "q165_ivf_staleness",  # K-cosine array against literal centroids; no join at all (union agg)
        "q168_truncation_recall_ladder",  # bounded audit panel onto the corpus scan (per-rung brute pass)
        "q169_padding_efficiency_curve",  # 1-row total-count broadcast onto the ranked frame
        "q170_contamination_union_gate",  # bounded bench matrix onto the corpus scan (q158's gated verify)
        "q171_adaptive_ivf_probe",  # bounded audit panel / K-centroid frames onto corpus scans (q162 posture)
        "q175_curriculum_schedule",  # 1-row corpus-count broadcast onto the ranked frame (q169 posture)
        "q177_shuffle_order_audit",  # 1-row corpus-count broadcast onto the |sources| frame
        "q178_shard_balance_audit",  # 1-row id-bounds broadcast onto the scan + S-row spine x 3-strategy VALUES
        "q179_ingestion_control_chart",  # 1-row reference-window stats onto the |days| frame
    }
    for name, (_, plan) in catalog_plans.items():
        if name in scalar_cross_ok:
            continue
        assert "Join Cross" not in plan, name


def test_fact_scan_prunes_partitions(spark, tmp_path):
    from nyc_tlc_analytics_pipeline_spark.core.config import PipelineConfig
    from nyc_tlc_analytics_pipeline_spark.operators.standardize import build_fact_trips
    from nyc_tlc_analytics_pipeline_spark.pipeline import TlcPipeline

    from .tlc_synth import synth_yellow

    fact = build_fact_trips(yellow=spark.createDataFrame(synth_yellow(300)))
    p = TlcPipeline(spark, PipelineConfig(warehouse_dir=str(tmp_path / "wh")))
    p.rebuild("fact_trips", fact)
    rb = p.tables()["fact_trips"].filter(
        "service_type = 'yellow' AND pickup_date = DATE'2025-01-10'"
    )
    plan = _plan(rb)
    # partition filters handled at planning: no data-filter on the two
    # partition columns remains in the scan
    assert "PartitionFilters: [" in plan
    assert "isnotnull(service_type" in plan or "service_type#" in plan.split("PartitionFilters")[1][:300]


def test_q49_rules_single_aggregation_exchange(spark):
    """The rule battery must fuse into the scan: exactly one shuffle
    (the per-language aggregate), nothing before it."""
    plan = _optimized(QUERIES["q49_quality_rule_battery"].build(spark, SF_SMOKE))
    # optimized logical plan: one Aggregate over a Project over the scan
    assert plan.count("Aggregate") == 1
    assert "Join" not in plan


def test_q50_decontam_corpus_never_shuffles_before_probe(spark):
    plan = _plan(QUERIES["q50_benchmark_decontamination"].build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_q57_bm25_topk_and_broadcasts(spark):
    plan = _plan(QUERIES["q57_bm25_retrieval"].build(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the corpus-constants attach (1-row aggregate on a folded constant
    # key) plans as a broadcast nested loop — map-side, no shuffle, the
    # canonical scalar-attach; anything more than that one is a bug
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_q14_single_fact_scan(spark):
    """The windowed q14 must scan orders exactly once — the CTE-SQL form
    re-expands `daily` under every reference (6 orders scans, no exchange
    reuse), which is the regression this guards against."""
    plan = _plan(QUERIES["q14_nation_share_vs_global"].build(spark, SF_SMOKE))
    assert plan.count("orders.parquet") == 1
    assert plan.count("BroadcastHashJoin") >= 2  # customer + nation


def test_q53_pii_scrub_is_map_side_until_aggregate(spark):
    plan = _optimized(QUERIES["q53_pii_scrub"].build(spark, SF_SMOKE))
    assert plan.count("Aggregate") == 1
    assert "Join" not in plan


def test_q66_sketch_lookup_is_broadcast(spark):
    """The CMS probe lookup must broadcast the model-sized sketch, never
    shuffle the probe side against it."""
    df = QUERIES["q66_countmin_frequencies"].build(spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_q68_dup_gram_join_is_left_semi(spark):
    """Position rows are flagged via LEFT SEMI against the dup-gram set
    — no row multiplication, no full join."""
    plan = _optimized(QUERIES["q68_duplicated_spans"].build(spark, SF_SMOKE))
    assert "LeftSemi" in plan


def test_q67_weighted_sample_is_take_ordered(spark):
    """Top-k selection must be TakeOrderedAndProject (per-partition
    top-k + merge), not a global sort."""
    plan = _plan(QUERIES["q67_weighted_sample"].build(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_q56_no_window_over_vocab(spark):
    """N/V corpus constants must come from a 1-row aggregate broadcast
    back onto the counts table — an empty-partition window would move
    the entire vocabulary onto one executor at 100 TB (r4 verdict #2)."""
    plan = _plan(QUERIES["q56_unigram_lm_scoring"].build(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalar attach


def test_q69_topR_is_take_ordered_not_global_window(spark):
    """Zipf top-R must be a distributed TakeOrderedAndProject, never a
    full-vocabulary single-partition row_number sort (r4 verdict #3).
    The remaining rank window runs over the bounded R-row frame only."""
    df = QUERIES["q69_zipf_fit"].build(spark, SF_SMOKE)
    plan = _plan(df)
    assert "TakeOrderedAndProject(limit=100" in plan
    # the tree prints parents first, so everything AFTER the TakeOrdered
    # line is its subtree (the unbounded token aggregate): no Window may
    # appear there — the only Window sits above the bounded 100-row frame
    below_limit = plan.split("TakeOrderedAndProject")[1]
    assert "Window" not in below_limit
    assert plan.count("Window [row_number") == 1


def test_headline_set_is_stable(spark):
    """The bench headline set is a graded deliverable: it must keep the
    round-3/4/5 extension ops alongside the original ten — losing one
    to a refactor would silently shrink BENCH coverage."""
    headliners = {n for n, s in QUERIES.items() if s.headline}
    assert {
        "q01_top_nations_by_revenue",
        "q04_price_percentiles",
        "q22_doc_token_stats",
        "q25_ngram_jaccard_pairs",
        "q28_minhash_lsh_pairs",
        "q55_curation_funnel_v2",
        "q58_ngram_heavy_hitters",
        "q64_semdedup_pairs",
        "q68_duplicated_spans",
        "q75_span_removal",
        "q85_chunking_overlap",
        "q91_bloom_prefilter",
    } <= headliners
    assert len(headliners) == 17


def test_q81_is_full_outer_over_preaggregated_sides(spark):
    """The reconciliation join must be FullOuter over the two DAY-keyed
    aggregates — never over the raw facts."""
    plan = _optimized(QUERIES["q81_calendar_reconciliation"].build(spark, SF_SMOKE))
    assert "FullOuter" in plan
    # both join inputs are Aggregates (the facts never meet the join raw)
    assert plan.count("Aggregate") >= 3  # two sides + the final rollup


def test_q174_segment_dedup_plan_has_no_windows(spark):
    """The skew-safety contract of the round-11 restructure: the report
    must plan as mergeable aggregates (partial/final HashAggregate or
    ObjectHashAggregate for min(struct)) with ZERO Window operators — a
    hash-keyed window would funnel a hot boilerplate segment into one
    task, and AQE cannot split skewed windows."""
    plan = _plan(QUERIES["q174_segment_dedup"].build(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "Aggregate" in plan


def test_q184_rollup_output_is_report_sized(spark):
    """The registered q184 result must be the bounded session-length
    rollup, never per-session rows (the 100x collect-volume lesson):
    row count is capped by the longest session, not the session count."""
    df = QUERIES["q184_session_transcripts"].build(spark, SF_SMOKE)
    assert set(df.columns) == {
        "n_events", "n_sessions", "n_distinct", "dup_pct", "avg_duration_s"
    }
    rows = df.collect()
    n_sessions = sum(r.n_sessions for r in rows)
    assert len(rows) <= max(r.n_events for r in rows)
    assert n_sessions > len(rows)  # strictly aggregated
