"""Physical-plan assertions (SURVEY §4): the optimizations the 100 TB
design leans on must actually fire at fixture scale — a regression here
means a full scan, an avoidable shuffle, or a lost broadcast at scale.

Checked against ``explain(formatted)`` text of the graded queries
themselves, so any refactor that silently de-optimizes a plan fails CI.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from canvas_data_2_aws_spark import registry

registry.load_all()


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    """Materialize plan text once per interesting query."""
    names = [
        "scan_project_filter",
        "join_inner_agg",
        "join_broadcast_dim",
        "window_topk_per_group",
        "sort_limit_topk",
        "agg_group_sum",
        "text_boilerplate_ngrams",
        "text_kneser_ney_bigram",
    ]
    return {n: plan_text(registry.QUERIES[n](spark, sf_dir)) for n in names}


def test_filter_pushdown_reaches_parquet(plans):
    p = plans["scan_project_filter"]
    assert "PushedFilters: [" in p
    # The range predicates must actually push, not just be Pushable-in-theory.
    assert "GreaterThanOrEqual(l_discount" in p or "GreaterThanOrEqual(l_shipdate" in p


def test_column_pruning_reaches_parquet(plans):
    # The Q1-shape scan must not read the full 11-column lineitem schema.
    p = plans["agg_group_sum"]
    read = p[p.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_dim_join_broadcasts(plans):
    assert "BroadcastHashJoin" in plans["join_broadcast_dim"]
    assert "BroadcastExchange" in plans["join_broadcast_dim"]


def test_fact_join_no_cartesian(plans):
    assert "CartesianProduct" not in plans["join_inner_agg"]
    assert "BroadcastNestedLoopJoin" not in plans["join_inner_agg"]


def test_topk_per_group_uses_window_group_limit(plans):
    # rank-then-filter form must trigger the ≥3.5 WindowGroupLimit rewrite
    # (per-partition heaps instead of full per-group sorts).
    assert "WindowGroupLimit" in plans["window_topk_per_group"]


def test_global_topk_avoids_full_sort(plans):
    assert "TakeOrderedAndProject" in plans["sort_limit_topk"]


def test_boilerplate_topk_uses_window_group_limit(plans):
    # per-source top-5 must keep per-partition heaps, not full sorts —
    # the property that makes the mining pass safe at web-corpus scale.
    assert "WindowGroupLimit" in plans["text_boilerplate_ngrams"]


def test_kneser_ney_topk_avoids_full_sort(plans):
    # the top-50 over the bigram TYPE table must be TakeOrdered, not a
    # global sort of the full vocabulary² table.
    assert "TakeOrderedAndProject" in plans["text_kneser_ney_bigram"]


def test_aggregation_is_hash_with_partial_combine(plans):
    # Map-side combine (partial_sum before the exchange) is what keeps
    # the Q1 shuffle at |groups|·|partitions| rows instead of |input|.
    p = plans["agg_group_sum"]
    assert "HashAggregate" in p
    assert "partial_sum" in p
    assert "Exchange hashpartitioning" in p or "Exchange" in p


# Queries allowed to plan a cartesian/nested-loop join: brute-force KNN
# is DELIBERATELY O(n²) (the exact baseline ANN is measured against);
# the rest cross-join a broadcast 1-ROW aggregate (min/max bounds,
# corpus N, max PK) into the fact side — a constant × fact scalar
# distribution, not a real product (the broadcast side is one row by
# construction: global agg or LIMIT-free bounds).
_NESTED_LOOP_OK = {
    # r13 wave:
    "analytics_isotonic_calibration",  # <=20-row bin manifest j/k/i fan-outs
    "analytics_auc_quality",  # NB-scored 1-row tot/prior attaches + rank offset
    "stream_disorder_stats",  # 1-row (n, n_late) census attach
    "stream_ttl_rollup_replay",  # 1-row max-day attach on surviving state
    "match_fs_threshold_grid",  # 6-row (upper,lower) ladder + 1-row census
    "dedup_minhash_perm_sweep",  # 4-row budget ladder + 1-row n_truth
    "pipeline_seqlen_tradeoff_sweep",  # 4-row length ladder + 1-row totals
    "graph_assortativity",  # 1-row node-count attach
    "text_heaps_law",  # inherits text_novelty_curve's 1-row horizon attach
    "analytics_mde_curve",  # 4-row traffic ladder + 1-row baseline census
    "analytics_theil_index",  # three 1-row totals attaches
    "join_bloom_fpp_sweep",  # 4-row bits ladder + 1-row key census
    "dedup_stage_funnel",  # 1-row corpus census attach on the 4-row manifest
    "layout_encoding_stats",  # 1-row seam census × 1-row stats census attach
    # r12 wave:
    "dedup_banding_grid_eval",  # 4-row geometry ladder + 1-row n_truth
    "search_bm25_param_grid",  # 4-row (k1,b) ladder + 1-row corpus stats
    "pipeline_decontam_sweep",  # 1-row train-totals attach on 4 legs
    "multimodal_phash_threshold_curve",  # 4-row tau ladder + 1-row mass
    "stream_session_gap_sweep",  # 4-row gap ladder
    "validate_key_skew",  # 1-row top-10-mass attach per leg
    "analytics_fdr_bh",  # 1-row corpus-totals attach; manifest windows
    "join_asof_tolerance_sweep",  # 4-row tolerance ladder
    "agg_quantile_sketch_sweep",  # 4-row size ladder on the 512-row sketch
    "layout_compaction_target_sweep",  # 4-row target ladder on the manifest
    "text_gopher_threshold_sweep",  # 4-row floor ladder + 1-row totals
    # r11 wave — every entry is a <=32-row scalar/ladder/manifest
    # attach proven bounded by tools/plan_audit.py (see PLAN_AUDIT_r11):
    "agg_theta_sketch_setops",  # 1-row sketch census + exact census
    "analytics_diff_in_diff",  # 1-row horizon-midpoint broadcast
    "analytics_kaplan_meier",  # 1-row horizon + total; day-manifest window
    "analytics_sprt_boundary",  # 1-row crossing index + total
    "sample_weighted_priority",  # 100-row sample-manifest rank window
    "validate_k_anonymity",  # 4-row k ladder + 1-row total
    "dedup_threshold_sweep",  # 4-row tau ladder
    "vector_sq8_recall_eval",  # 64-row dim-stats + 1-row scalars
    "text_novelty_curve",  # 1-row max-doc-id broadcast
    "pipeline_water_filling",  # source-manifest window + 1-row level
    "pipeline_stage_order_eval",  # six 1-row census attaches
    "vector_ivf_nprobe_curve",  # 3-row nprobe ladder + 1-row denominator
    "text_source_overlap_matrix",  # catalog-manifest rank (1-row unit group)
    "knn_cosine_exact",
    "knn_topk_per_query",
    "dedup_embedding_cosine",
    "agg_histogram",
    "agg_histogram_equidepth",  # 1-row quartile broadcast
    "timeseries_gapfill",
    "text_tfidf",  # ln(N/df): N = 1-row corpus count
    "merge_upsert_apply",  # fresh-insert keys = max(PK) 1-row broadcast
    "merge_idempotent_reapply",  # same changeset derivation, applied twice
    "merge_incremental_agg",  # same changeset derivation
    "agg_cms_freq",  # deliberate 4-row hash-seed fan-out broadcast
    "validate_snapshot_diff",  # same changeset derivation
    "jsonl_envelope_roundtrip",  # same changeset derivation
    "text_unigram_logprob",  # ln(N/c): N = 1-row corpus token count
    "pipeline_mix_allocation",  # 1-row total-tokens broadcast
    "text_cooccurrence_pmi",  # ln(n_co·N/df²): N = 1-row corpus doc count
    # round-3 additions, all the same constant-side shapes:
    "text_bm25",  # (N, avgdl) = 1-row corpus stats broadcast
    "text_keywords_topk",  # composes text_tfidf (1-row N broadcast)
    "analytics_market_basket",  # 1-row order-count broadcast
    "analytics_feature_binning",  # exact_ntile: 1-row total-n broadcast
    "analytics_rfm_scores",  # exact_ntile ×3: 1-row total-n broadcasts
    "validate_benford_digits",  # 1-row total-count broadcast
    "timeseries_acf",  # deliberate 6-row lag fan-out broadcast
    "merge_tombstone_gc",  # 1-row retention-cutoff broadcast
    "analytics_heatmap_2d",  # 1-row bucket-edge broadcast
    "analytics_pareto_share",  # 1-row (n_cust, total) broadcast + rank offsets
    "vector_recall_eval",  # exact-KNN side: deliberate brute-force baseline
    "text_corpus_drift",  # 1-row (na, nb) totals broadcast
    "merge_time_travel",  # 1-row (cutoff, max-PK) broadcast + changeset derivation
    # round-8 addition, same constant-side shape:
    "match_fellegi_sunter",  # 1-row m/u weight census broadcast
    # round-7 additions, same constant-side shapes:
    "pipeline_mix_temperature",  # 1-row Σmicro-weights broadcast + unit-group rank
    "analytics_calibration_ece",  # 1-row N + 1-row ECE scalar broadcasts
    "vector_pca_power",  # 1-row n + 1-row norm (×8) + 1-row eig broadcasts
    "text_kneser_ney_bigram",  # 1-row bigram-type-total broadcast
    "vector_pca_project",  # shares vector_pca_power's norm scalar attaches
    "analytics_did_lift",  # 1-row midpoint + 1-row DiD scalar broadcasts
    "analytics_mann_whitney",  # ranks.global_cumsum unit-group offset attach
    "pipeline_bpe_encode",  # 1-row merge-list broadcast + unit-group vocab ids
    "text_bpe_fertility",  # 1-row merge-list broadcast
    "search_rocchio_expand",  # (N, avgdl) 1-row stats + unit-group final rank
    # round-6 additions, same constant-side shapes:
    "analytics_ab_cuped",  # 1-row mid-timestamp + 1-row pooled moments
    "pipeline_dsir_weights",  # 1-row (ts, tt) totals broadcast
    "search_hybrid_rrf",  # (N, avgdl) 1-row corpus stats broadcast
    "analytics_survival_curve",  # deliberate 9-row week-grid fan-out
    "agg_median_distributed",  # 1-row count broadcast + rank offsets
    "agg_bitmap_set_algebra",  # three 1-row bitmap-count broadcasts
    "merge_changeset_stats",  # max-PK 1-row broadcast (changeset derivation)
    "multimodal_storage_budget",  # 1-row byte-total broadcast
    "text_vocab_coverage_curve",  # deliberate 4-row k-grid fan-out
    "timeseries_xcorr",  # deliberate 7-row lag fan-out broadcast
    "analytics_abc_classification",  # 1-row total broadcast + rank offsets
    # ranks.attach_unit_group: a 1-ROW broadcast cross join attaching a
    # non-foldable constant group key so manifest-/calendar-sized global
    # windows declare a partition spec (r4) — constant × frame, not a
    # real product.
    "analytics_gini_coefficient",
    "analytics_mom_growth",
    "layout_compaction_bins",
    "pipeline_epoch_shuffle",
    "timeseries_interpolate",
    "window_rolling_median",
    # round-4 curation ops: scalar/aggregate broadcasts only
    "dedup_lsh_recall_eval",  # three 1-row count broadcasts
    # round-9 additions, same constant-side shapes:
    "dedup_simhash_recall_eval",  # three 1-row count broadcasts
    "text_langid_eval",  # 1-row precision/recall metrics attach
    "layout_skipping_eval",  # deliberate 3-row predicate-grid fan-out
    "vector_bq_hamming_topk",  # 32-row broadcast query-code probe
    "vector_bq_recall_eval",  # exact-KNN baseline + 32-row BQ probe
    "agg_kmv_jaccard",  # 1-row sketch-census attach
    "text_bigram_logprob",  # 1-row vocabulary-size broadcast
    "text_naive_bayes_quality",  # 1-row totals + 1-row prior broadcasts
    "pipeline_mix_sampler",  # 1-row min-count broadcast
    "timeseries_stl_lite",  # unit group key on the calendar frame
    "timeseries_snaive_backtest",  # unit group key on the calendar frame
    "pipeline_quality_funnel",  # 1-row vocab-size + 1-row p10-cut broadcasts
    # round-4 enrichment ops: unit-group / 1-row-count broadcasts only
    "timeseries_vwap_rolling",  # unit group key on the calendar frame
    "timeseries_bollinger",  # unit group key on the calendar frame
    "text_zipf_slope",  # unit group key on the 1000-row LIMIT frame
    "text_perplexity_buckets",  # 1-row corpus-N + exact_ntile count broadcasts
    # round-10 additions, same constant-side shapes:
    "agg_quantile_sketch",  # 5-row q-target broadcasts + unit-group sample rank
    "sample_stratified_neyman",  # 1-row Σweight broadcast
    "validate_psi_drift",  # 1-row PSI-total attach (terms checkpointed)
    "sample_coordinated_fk",  # nine 1-row count attaches (3-row report)
    "dedup_simhash_cap_effect",  # four 1-row count attaches (1-row audit)
    "pipeline_curriculum_stages",  # exact_ntile: 1-row total-n broadcast
    "graph_modularity",  # 1-row edge-count broadcast
    "pipeline_shard_assignment",  # global_row_number offset manifest
    "timeseries_peak_detection",  # unit group key on the calendar frame
    "timeseries_rolling_corr",  # unit group key on the calendar frame
    "analytics_error_monitor",  # unit group key on the calendar frame
    "graph_hits",  # 1-row max-score normalization broadcasts
    # round-10 second wave, same constant-side shapes:
    "join_bloom_prefilter",  # 1-row m_bits broadcast (+3-row seed axis)
    "analytics_ks_test",  # 1-row (n_a, n_b) totals + cumsum offset attach
    "analytics_bootstrap_ci",  # 1-row bar/grand attaches (replicate axis
    # is a literal sequence explode, not a join)
    "analytics_permutation_test",  # 1-row obs attach (explode axis likewise)
    "analytics_mutual_information",  # 1-row n + three 1-row term attaches
    "validate_join_cardinality",  # 4-row Range seed axis + 1-row est attach
    "validate_f2_ams_sketch",  # 8-row Range seed axis + 1-row mean attach
    "merge_ivm_join_view",  # max-PK 1-row broadcast (changeset derivation)
    "merge_equality_deletes",  # 1-row delete-key-count attach
    "timeseries_dft_top",  # 1-row DFT grid (h0, n) attach
}

# Construction-time side effects or non-DataFrame surfaces — no static
# plan to inspect.
_NO_PLAN = {
    "merge_partition_overwrite",  # full write→overwrite cycle on construction;
    # returns collected rows (LocalTableScan), so the static plan is empty
    "stream_watermark_smoke",
    "stream_window_uniques_smoke",
    "stream_dedup_smoke",
    "stream_merge_smoke",
    "stream_stateful_totals",
    "stream_cusum_flags",
    "stream_stream_join_smoke",
    "sink_roundtrip",
    "csv_decode_smoke",
    "ann_lsh",
    "ann_ivf",
}


def test_no_accidental_cartesian_products(spark, sf_dir):
    """ONE sweep over every deterministic graded query's plan, three
    assertions per query (building each DataFrame once — the two
    separate sweeps this replaces doubled the most expensive part of
    the suite):

    1. name-whitelist: a cartesian/BNLJ marker outside _NESTED_LOOP_OK
       is an accident;
    2. bound discipline (r7): every nested loop — including whitelisted
       scalar attaches — must PROVE a bounded build side
       (plans/audit.py), so a whitelisted query regressing to a
       data-sized broadcast fails instead of hiding behind its name;
    3. checkpoint blind spot (r7): localCheckpoint truncates lineage,
       so nested loops upstream of one are audited at
       checkpoint-creation time via audit_checkpoints() — a product
       hidden behind a checkpoint is still caught."""
    from canvas_data_2_aws_spark.plans.audit import (
        audit_checkpoints,
        find_nested_loops,
    )

    marker_offenders = []
    bound_offenders = []
    for name in sorted(set(registry.QUERIES) - _NO_PLAN):
        with audit_checkpoints() as ckpt_hits:
            df = registry.QUERIES[name](spark, sf_dir)
        if name not in _NESTED_LOOP_OK:
            plan = plan_text(df)
            if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
                marker_offenders.append(name)
        for nl in find_nested_loops(df) + ckpt_hits:
            if not nl["ok"]:
                bound_offenders.append(
                    (name, nl.get("via", "plan"), nl["kind"], nl["bound"])
                )
    assert not marker_offenders, marker_offenders
    assert not bound_offenders, bound_offenders


def test_audit_catches_injected_real_cross_join(spark, sf_dir):
    """A genuine data×data product must be flagged by the classifier —
    proof the audit can still fail (r6 verdict task #4)."""
    from pyspark.sql import functions as F

    from canvas_data_2_aws_spark.plans.audit import find_nested_loops
    from canvas_data_2_aws_spark.session import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    bad = orders.crossJoin(cust.select(F.col("c_custkey").alias("ck")))
    hits = find_nested_loops(bad)
    assert hits and all(not h["ok"] for h in hits), hits

    # ...while the canonical 1-row scalar attach stays clean:
    total = orders.agg(F.count(F.lit(1)).alias("n"))
    good = orders.crossJoin(F.broadcast(total))
    hits2 = find_nested_loops(good)
    assert hits2 and all(h["ok"] and h["bound"] == 1 for h in hits2), hits2


def test_runtime_bloom_filter_join_available(spark, sf_dir):
    """Runtime row-level bloom filters (the shuffle-reduction path for
    selective fact⋈filtered-dim joins at scale): with the optimizer
    flags on, Spark injects a bloom_filter_agg on the creation side
    and a might_contain probe above the application-side scan. Pinned
    here so an engine upgrade that silently loses the rewrite fails."""
    from canvas_data_2_aws_spark.session import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where("o_orderstatus = 'P'")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pq_adc_broadcasts_query_codes(spark, sf_dir):
    """The ADC scan must broadcast the (tiny) query-code side — a
    shuffle join here would exchange the full corpus code table on an
    8-key join column at scale."""
    plan = plan_text(registry.QUERIES["vector_pq_adc_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan  # top-10 pruned before the final exchange


def test_semantic_dedup_no_cartesian(spark, sf_dir):
    """SemDeDup's pair scan is cell-blocked inside the BLAS kernel —
    the Spark plan above it must stay join-free of cartesians."""
    plan = plan_text(registry.QUERIES["dedup_semantic_clusters"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_containment_shuffles_on_block_key(spark, sf_dir):
    """Blocked containment must hash-partition on the block key (the
    plan that survives 100×), not broadcast the shingle arrays."""
    plan = plan_text(registry.QUERIES["dedup_containment"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_no_hof_expression_in_filters(spark, sf_dir):
    """Inferred-constraint pushdown must never inline a higher-order-
    function expression into a Filter node: InferFiltersFromConstraints
    derives isnotnull(...) from join/filter predicates over computed
    columns and pushes it to the scan with the FULL expression tree
    inlined — evaluated interpreted, per row, before the projection
    that was supposed to compute it once (the multimodal_phash_dedup
    243s->3s bug). Guard every HOF-heavy graded query."""
    for name in (
        "multimodal_phash_dedup",
        "dedup_minhash_banded",
        "dedup_simhash",
        "multimodal_shard_index",
    ):
        plan = plan_text(registry.QUERIES[name](spark, sf_dir))
        for line in plan.splitlines():
            stripped = line.strip().lstrip(":+- ")
            if stripped.startswith("Filter") or "PushedFilters" in line:
                assert "lambdafunction" not in line, (name, line[:300])
