"""Operator registry — the single source of truth for the engine's surface.

Every operator from SURVEY.md §2 registers itself here as
``(name, query_fn, oracle_sql_or_None)``.  ``__spark_entry__.py`` exports
this registry verbatim to the driver:

- ``query_fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation.
- ``oracle_sql`` — equivalent ANSI SQL for the DuckDB oracle, or ``None``
  for ops whose results are approximate / side-effecting (driver then runs
  a weaker rows-only check; SURVEY.md §2 totals).

Design note (100 TB): the registry holds *builders*, not results — every
query is a lazy DataFrame plan, so the driver (or a cluster job) controls
execution, caching, and output handling.

Documented exception: four op classes run Spark jobs at CONSTRUCTION
time, because the returned plan cannot exist without them:

1. **Iterative fixed-point algorithms** (graph_pagerank, graph_bfs_hops,
   graph_connected_components, graph_k_core_peel, ts_markov_steady_state,
   sim_ann_ivf, dedup_clusters, dedup_apply, quality_train_score,
   emb_kmeans_pp_init): the driver-side loop (pagerank power iteration,
   BFS frontier, k-means/IVF training, MLlib fit) must converge before
   the final plan's literals/centroids are known.  The loops are bounded
   (fixed iteration counts or provably shrinking frontiers) and every
   per-iteration action touches reduced data (vertex lists, centroid
   tables), never the full fact table.
2. **Sink roundtrips** (sink_*/scan_dpp & co.): the op's *semantics* are
   write-then-read-back — the write is the thing being tested.
3. **Streaming ops** (stream_*): each runs an availableNow micro-batch to
   a memory/file sink so the returned DataFrame reads a completed result.
4. **Eager ``localCheckpoint``** outside those loops: graph_reciprocity
   and graph_assortativity_degree (shared trade-edge list),
   ts_partial_autocorrelation, and the ``ranks.range_pinned`` consumers
   agg_abc_classification, agg_percentile, agg_trimmed_mean,
   agg_winsorized_stats and sample_systematic_every_nth.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    name: str
    fn: QueryFn
    oracle: Optional[str]


REGISTRY: dict[str, Op] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as operator ``name`` with optional oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate operator id: {name}")
        REGISTRY[name] = Op(name, fn, oracle)
        return fn

    return deco


# Driver order: queries() and oracle_sql() list _DRIVER_ORDER first, then
# every other op in registration order.  The driver's CORRECTNESS run
# samples the first 50 names; the rest are queued for later windows, so
# rotating the window means deleting the first 50 names (then re-probe the
# new window with scripts/driver_window_probe.py).  Ops the driver already
# banked (CORRECTNESS_r*.json keys) are queued only as deliberate re-banks;
# tests/test_window.py pins both rules and the resulting order.
_DRIVER_ORDER: tuple[str, ...] = (
    # the driver window: names 0-49
    "dedup_containment_pairs", "text_collocations_pmi",
    "sink_manifest_publish", "join_basket_containment", "sink_row_hash_audit",
    "join_nearest_numeric", "agg_slo_burn_rate", "fn_route_pattern_match",
    "ab_sample_ratio_mismatch", "ab_cuped_adjustment", "sql_group_by_all",
    "fn_semver_order", "agg_bcg_matrix", "ts_diff_correlation",
    "ts_compound_growth_index", "agg_reference_percentile_rank",
    "dq_rare_categories", "ts_twap_daily", "sql_distinct_on",
    "attribution_shapley_two_channel", "sample_weighted_no_replacement",
    "fn_iban_mod97", "text_ocr_normalize", "text_script_detect",
    "agg_ar_aging_buckets", "pii_hash_join_integrity", "text_bigram_logprob",
    "sample_group_kfold", "agg_basket_size_dist", "agg_growth_accounting",
    "agg_churn_risk_recency", "text_intradoc_dedup", "text_trending_tokens",
    "fn_progressive_brackets", "ts_dominant_period", "scan_glob_subset",
    "agg_cohort_payback_month", "fn_number_humanize", "agg_stickiness_dau_mau",
    "ab_mann_whitney_u", "fn_uuid_deterministic", "sample_reservoir_fixed_n",
    "ts_cross_correlation_lags", "scan_fixed_width", "agg_anova_oneway",
    "agg_theil_index", "text_js_divergence_sources", "emb_isotropy_score",
    "agg_kendall_tau", "win_weighted_moving_average",
    # queued: names 50-99
    "ts_pacing_vs_target", "emb_label_centroids", "agg_inventory_turns_gmroi",
    "ts_bollinger_bands", "agg_chi_square_gof", "text_hapax_ratio",
    "fn_fiscal_calendar_445", "fn_slugify", "dq_table_fingerprint",
    "ts_velocity_acceleration", "agg_runlength_events", "sql_order_by_all",
    "pii_subject_access_export", "fn_label_encode", "fn_one_hot_encode",
    "sink_csv_gzip_roundtrip", "sink_parquet_zstd_roundtrip",
    "agg_atkinson_index", "ts_var_cvar", "agg_kmv_cardinality",
    "agg_entropy_daily", "win_rolling_skewness", "agg_quantile_normalize",
    "fn_excel_serial_date", "ts_underwater_duration", "agg_mood_median_test",
    "agg_capture_recapture", "sample_neyman_allocation", "fn_round_half_even",
    "agg_poisson_rate_ci", "agg_cohen_h", "win_new_users_cumulative",
    "sim_threshold_sweep", "text_heaps_law", "agg_recency_decay_score",
    "pii_small_cell_suppress", "agg_overdispersion_index",
    "ts_fourier_weekly_fit", "ab_bayesian_shrinkage",
    "sim_srp_bucket_histogram", "agg_friedman_test", "agg_weighted_median",
    "geo_tile_quadkey", "scan_csv_dateformat", "ts_theil_sen_slope",
    "dq_benford_second_digit", "win_gap_to_leader",
    "agg_delta_method_ratio_ci", "fn_target_encode", "emb_class_separability",
    # queued: names 100-149
    "agg_wilcoxon_signed_rank", "agg_contingency_residuals",
    "ab_cochran_armitage_trend", "agg_price_endings_profile",
    "agg_hurst_rescaled_range", "fn_iso_week_boundaries", "sample_ipw_ess",
    "fn_checkdigit_ean13", "dq_penny_drift_audit",
    "ts_day_percentile_vs_history", "agg_log_return_volatility",
    "ts_month_seasonal_index", "agg_customer_tenure_dist",
    "sink_tsv_roundtrip", "agg_hhi_yearly_trend", "feature_robust_scale",
    "feature_cyclical_encode", "sql_exists_correlated", "sql_values_dim_join",
    "ts_stochastic_oscillator", "ts_donchian_breakout", "ts_obv_indicator",
    "agg_cr_concentration", "agg_quartile_dispersion", "ts_pivot_points_daily",
    "ts_range_expansion", "pii_date_shift_consistent",
    "pii_generalize_timestamp", "text_shingle_jaccard_langs",
    "win_session_position", "join_temporal_validity_intersect",
    "dq_timeliness_lag_profile", "agg_interpurchase_time_cv",
    "agg_weekday_weekend_split", "emb_centroid_drift_report",
    "join_late_arriving_dim", "win_views_per_purchase", "stream_windowed_topk",
    "profile_temporal_coverage", "agg_share_of_parent_hierarchy",
    "agg_littles_law_check", "text_vocab_coverage_topk",
    "ts_week_over_week_same_dow", "agg_next_basket_pairs",
    "sink_parquet_bloom_roundtrip", "ts_intraday_volume_curve",
    "dq_schema_contract_check", "ts_timezone_shift_report",
    "agg_reorder_point_calc", "ts_apdex_score",
    # queued: names 150-199
    "udf_pandas_grouped_forecast", "attribution_time_decay",
    "stream_alert_episodes", "dq_split_leakage_check",
    "agg_forecast_reconciliation_topdown", "agg_price_index_laspeyres",
    "join_match_waterfall", "cdc_scd2_apply_batch", "dq_scd2_interval_audit",
    "agg_queueing_mm1_metrics", "ab_sequential_obf", "sql_named_window_clause",
    "ts_effective_sample_size", "ts_seasonal_adjustment_dow",
    "agg_hill_tail_index", "dq_manifest_orphan_audit", "agg_margin_waterfall",
    "join_fx_asof_convert", "dq_balance_reconciliation_three_way",
    "agg_repeat_rate_by_first_value", "agg_unit_economics_summary",
    "pii_l_diversity_check", "profile_candidate_keys", "sample_pps_systematic",
    "emb_hubness_topk", "fn_largest_remainder_allocation",
    "agg_demand_intermittency_sbc", "text_mattr_lexical_diversity",
    "dq_benford_mad_conformity", "pii_kanon_utility_curve",
    "ab_interaction_check", "ts_load_duration_curve", "ts_forecaster_bakeoff",
    "agg_dso_days_sales_outstanding", "dq_join_fanout_estimate",
    "text_blocklist_screen", "dq_survivorship_bias_probe",
    "ab_mde_current_power", "ts_calendarized_run_rate", "scan_delimiter_sniff",
    "dq_fx_triangulation_audit", "ab_bucketing_uniformity",
    "emb_mean_pooling_tokens", "ts_peak_dow_shift",
    "fn_month_boundary_features", "ab_itt_vs_perprotocol",
    "agg_month_end_lift", "dq_event_order_audit",
    "agg_discount_response_curve", "dq_doc_embedding_coverage",
    # queued: names 200-219
    "ts_partial_autocorrelation", "agg_mcnemar_test",
    "dq_hash_collision_audit", "agg_price_volume_mix",
    "ts_seasonality_strength", "ts_holt_linear_smoothing",
    "ts_holt_winters_additive", "ts_ar1_forecast_backtest",
    "agg_allocation_by_share", "agg_dormant_skus", "agg_time_to_nth_purchase",
    "dq_cdc_scd2_consistency", "agg_mixed_discount_baskets",
    "agg_cart_abandonment_by_dow", "agg_return_rate_drivers",
    "agg_supplier_concentration_tiers", "ts_event_study_window",
    "ab_days_to_power", "ts_daily_health_score",
    "scan_python_datasource_pushdown",
)


def _ordered_names() -> list[str]:
    return list(dict.fromkeys(_DRIVER_ORDER + tuple(REGISTRY)))


def queries() -> dict[str, QueryFn]:
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
