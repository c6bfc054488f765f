"""Query-key registry backing ``__spark_entry__.py``.

Every operator from SURVEY §2 registers itself here as a (spark_fn,
oracle_sql) pair under its stable query key. ``__spark_entry__.queries()``
and ``oracle_sql()`` are thin views over this registry; the driver compares
each pair via DuckDB at sf0.01 (row-count + schema + value-hash).

Conventions enforced by review (SURVEY §5.3):
- every float output rounded (``round(x, 4)``)
- every computed column aliased identically in Spark and oracle SQL
- no raw ``events.ts`` in hash-checked output (ns vs µs)
- window ORDER BYs carry a unique tiebreaker
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    key: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``key``; ``oracle`` is the DuckDB-equivalent SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in _REGISTRY:
            raise ValueError(f"duplicate query key: {key}")
        _REGISTRY[key] = QuerySpec(key=key, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def _evidence_detail() -> dict[str, tuple[str, int]]:
    """Latest driver verdict per key from ``CORRECTNESS_r*.json`` at repo root.

    Returns ``{key: ("pass" | "err", round)}`` for every key the driver's
    sweep has ever reached (later rounds override earlier ones). "pass"
    means either a full rows+schema+hash match or a clean rows-only run
    (``err == 'no_oracle'`` with a row count); anything else — a traceback,
    a mismatch — is "err". The CORRECTNESS files are committed to git, so
    this ordering input is part of the tracked repo state, not an
    environment accident (ADVICE r3 medium). Missing/unreadable files
    degrade to ``{}`` so the ``SWEEP_ORDER`` base order still applies.
    """
    import json
    import re
    from pathlib import Path

    evidence: dict[str, tuple[str, int]] = {}
    try:
        root = Path(__file__).resolve().parent.parent
        files = sorted(
            root.glob("CORRECTNESS_r*.json"),
            key=lambda p: int(re.sub(r"\D", "", p.stem) or 0),
        )
        for path in files:
            rnd = int(re.sub(r"\D", "", path.stem) or 0)
            try:
                rows = json.loads(path.read_text())
            except (OSError, ValueError):
                continue
            if not isinstance(rows, dict):
                continue
            for key, row in rows.items():
                if not isinstance(row, dict):
                    continue
                err = row.get("err")
                ok = (
                    err is None
                    and row.get("rows_match") is True
                    and row.get("schema_match") is True
                    and row.get("hash_match") is True
                ) or (err == "no_oracle" and row.get("spark_rows") is not None)
                evidence[key] = ("pass" if ok else "err", rnd)
    except Exception:
        return {}
    return evidence


def _certification_evidence() -> dict[str, str]:
    """Latest driver verdict per key — string view over ``_evidence_detail``."""
    return {k: v for k, (v, _rnd) in _evidence_detail().items()}


def source_hash(fn: Callable) -> str:
    """Stable hash of a query function's source (its certified identity).

    A key's driver "pass" certifies the implementation the driver ran.
    When the builder later rewrites that implementation, the old pass no
    longer vouches for the new code, so the sweep order must surface the
    key for re-certification (ADVICE r3 medium). Granularity is the
    registered function body: edits to shared helpers it calls are not
    detected (documented limitation — helper refactors should keep the
    hash-oracle tests green, which is the builder-side gate).
    """
    import hashlib
    import inspect
    import textwrap

    try:
        src = textwrap.dedent(inspect.getsource(fn))
    except (OSError, TypeError):
        return ""
    return hashlib.sha256(src.encode()).hexdigest()[:16]


def _certified_hashes() -> dict[str, dict]:
    """Committed snapshot of each certified key's source hash.

    ``EVIDENCE_HASHES.json`` maps ``key -> {"hash": ..., "round": N}``;
    written by ``tools/refresh_evidence_hashes.py`` at round start (when
    the working tree still equals the tree the driver certified). A key
    whose current source hash differs from its recorded hash has been
    rewritten since certification and is re-queued for the sweep.
    """
    import json
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "EVIDENCE_HASHES.json"
    try:
        data = json.loads(path.read_text())
    except (OSError, ValueError):
        return {}
    return data if isinstance(data, dict) else {}


def _sweep_order(keys: list[str]) -> list[str]:
    """Registry order for the driver's budget-capped correctness sweep.

    The driver certifies keys front-to-back under a fixed window (r1–r3
    each covered exactly the first 50 registered keys), so ordering IS the
    certification schedule. Four tiers, each in ``SWEEP_ORDER``:

    0. keys whose latest driver row is an ERR/mismatch (re-certify first),
    1. keys with a stale pass — implementation rewritten since the driver
       certified it (source hash no longer matches ``EVIDENCE_HASHES.json``),
    2. keys the driver has never reached (``SWEEP_ORDER`` = cheap hash
       families first, expensive integration keys last),
    3. keys already certified (pass / rows-only clean) on their current
       source — re-sweeping them certifies nothing new, so they go last.
    """
    evidence = _certification_evidence()
    recorded = _certified_hashes()

    def tier(k: str) -> int:
        v = evidence.get(k)
        if v == "err":
            return 0
        if v == "pass":
            rec = recorded.get(k)
            if (
                isinstance(rec, dict)
                and rec.get("hash")
                and rec["hash"] != source_hash(_REGISTRY[k].fn)
            ):
                return 1  # certified an older implementation — re-queue
            return 3
        return 2  # never swept

    # within a tier, keys follow SWEEP_ORDER (defined at the end of this
    # module); a key missing from it sorts after every listed one, in the
    # order given
    pos = {k: i for i, k in enumerate(SWEEP_ORDER)}
    return sorted(keys, key=lambda k: (tier(k), pos.get(k, len(pos))))


def all_specs() -> dict[str, QuerySpec]:
    _load_operators()
    order = _sweep_order(list(_REGISTRY))
    return {k: _REGISTRY[k] for k in order}


def queries() -> dict[str, QueryFn]:
    return {k: s.fn for k, s in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {k: s.oracle for k, s in all_specs().items() if s.oracle is not None}


_loaded = False


def _load_operators() -> None:
    """Import every operator module exactly once (triggers registration)."""
    global _loaded
    if _loaded:
        return
    from . import operators  # noqa: F401  (imports all submodules)

    _loaded = True


#: Base sweep order of every registered key: the order in which the
#: correctness sweep meets keys inside one certification tier
#: (see ``_sweep_order``). Cheap hash-checked families lead; the
#: expensive integration keys (``stream_*`` lifecycle demos, capture
#: decoders, iterative trainers) sit in the tail, so a sweep cut short
#: by its budget costs them rather than cheap keys. A new key goes in by
#: the same rule; ``tests/test_correctness.py`` fails while a registered
#: key is missing here. Module and import order play no part.
SWEEP_ORDER: tuple[str, ...] = (
    "join_inner_equi",
    "join_broadcast",
    "join_multiway",
    "join_left_outer",
    "join_full_outer",
    "join_semi",
    "join_anti",
    "join_cross",
    "join_theta_range",
    "join_asof",
    "join_ip_prefix_lookup",
    "win_rank",
    "win_lag_lead",
    "win_running_sum",
    "win_moving_avg",
    "win_range_frame",
    "win_ntile_first_last",
    "topk_per_group",
    "win_cume_dist",
    "win_fill_forward",
    "win_ema",
    "win_nth_value",
    "project_rename_lit",
    "cast_types",
    "filter_time_range",
    "filter_in_like",
    "filter_null_handling",
    "sort_multi_nulls",
    "topk_global",
    "limit_offset",
    "set_union_all",
    "set_union_distinct",
    "set_intersect",
    "set_except",
    "filter_nfdump_lang",
    "str_funcs",
    "str_split_explode",
    "date_funcs",
    "math_funcs",
    "cond_funcs",
    "array_funcs",
    "array_posexplode",
    "map_funcs",
    "json_funcs",
    "ip_funcs",
    "filter_cidr",
    "ip6_funcs",
    "json_struct_funcs",
    "str_regexp_extract_all",
    "array_set_ops",
    "agg_histogram",
    "str_url_funcs",
    "array_cumsum",
    "str_human_bytes",
    "str_hash_codec",
    "geo_haversine",
    "array_difference",
    "win_tumbling",
    "win_sliding",
    "win_session",
    "dedup_exact",
    "dedup_keep_first",
    "ts_gap_fill",
    "ts_interpolate",
    "win_sliding_distinct",
    "udf_python_scalar",
    "udf_pandas_scalar",
    "udaf_pandas_grouped",
    "udtf_apply_in_pandas",
    "udtf_map_in_pandas",
    "udtf_sql",
    "udf_pandas_iter",
    "reshape_pivot",
    "reshape_unpivot",
    "sub_scalar",
    "sub_correlated",
    "sample_hash_bucket",
    "sample_stratified",
    "join_skew_salted",
    "merge_upsert",
    "pack_token_budget",
    "agg_pricing_summary",
    "agg_groupby_time",
    "agg_count_distinct",
    "agg_approx_distinct",
    "agg_conditional",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "agg_having",
    "agg_quantile",
    "agg_percentile_approx",
    "agg_argmax",
    "agg_collect_sorted",
    "agg_stddev_var",
    "events_funnel",
    "agg_freq_items",
    "agg_bit_ops",
    "agg_entropy",
    "agg_sum_map",
    "agg_delta_sum",
    "agg_quantile_weighted",
    "agg_avg_foreach",
    "agg_group_concat",
    "agg_skew_kurt",
    "agg_mad_outliers",
    "agg_welch_ttest",
    "agg_cramers_v",
    "sample_reservoir",
    "cdc_scd2",
    "join_interval_bin",
    "zorder_layout",
    "join_bloom_prefilter",
    "flows_ddos_amplification",
    "ts_resample_ohlc",
    "events_anomaly_zscore",
    "graph_pagerank",
    "text_containment",
    "emb_pca_project",
    "stats_corr_matrix",
    "agg_linreg",
    "ts_autocorr",
    "ts_seasonal_decompose",
    "graph_triangle_count",
    "agg_partial_merge",
    "data_profile",
    "sample_weighted",
    "text_ngram_lm",
    "dedup_minhash_pure",
    "curation_manifest_e2e",
    "win_rolling_median",
    "drift_psi",
    "snapshot_diff",
    "events_attribution",
    "ts_changepoint",
    "join_null_safe",
    "agg_mean_family",
    "agg_hll_sketch_merge",
    "topk_spacesaving",
    "udtf_python_lateral",
    "json_variant",
    "agg_boolean_family",
    "text_vocab_topk",
    "curriculum_binning",
    "sample_mixture_quota",
    "scan_orc",
    "map_hof_funcs",
    "sql_recursive_cte",
    "sql_pipe_syntax",
    "str_collation",
    "agg_approx_topk",
    "join_lateral",
    "scan_schema_evolution",
    "scan_csv_malformed",
    "udf_sql_function",
    "text_repetition_filter",
    "corpus_report_e2e",
    "events_lag_features",
    "features_pit_join",
    "text_line_dedup",
    "tokenizer_bpe_merges",
    "emb_matryoshka_truncate",
    "sample_negative_mining",
    "events_rfm_segmentation",
    "flows_beaconing_detection",
    "stats_ks_test",
    "text_quality_score",
    "text_token_count",
    "text_langid",
    "text_fingerprint",
    "text_quality_filter_e2e",
    "text_fingerprint_xx",
    "text_pii_scrub",
    "text_char_entropy",
    "sim_cosine_centroid",
    "sim_topk_pairs",
    "dedup_near_minhash",
    "text_tfidf",
    "text_lang_stats",
    "multimodal_binary",
    "mm_decode_stub",
    "mm_frame_sample",
    "mm_feature_extract",
    "mm_resize_stub",
    "text_decontaminate",
    "sample_train_split",
    "emb_normalize",
    "emb_quantize_int8",
    "doc_chunking",
    "events_retention",
    "events_sequence_match",
    "events_path_ngrams",
    "events_dau_wau",
    "events_markov_transition",
    "flows_biflow",
    "flows_portscan",
    "flows_top_talkers",
    "flows_stat_report",
    "dedup_ngram_jaccard",
    "dedup_cluster_cc",
    "dedup_fuzzy_levenshtein",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_pipeline_e2e",
    "ann_cosine_topk",
    "ann_ivf_probe",
    "ann_lsh_cosine",
    "ann_ivfpq_search",
    "flows_netflow_v5_decode",
    "agg_countmin_sketch",
    "udf_arrow_optimized",
    "sql_parameterized",
    "sql_session_variables",
    "hint_rebalance",
    "emb_binarize_hamming",
    "dedup_method_overlap",
    "text_unicode_nfc",
    "events_sessionize_gap",
    "events_funnel_windowed",
    "data_quality_rules",
    "events_user_entropy",
    "privacy_k_anonymity",
    "sample_repeat_factor",
    "stats_chi2_srm",
    "graph_kcore",
    "tokenizer_unigram_em",
    "emb_whitening",
    "join_interval_overlap",
    "stats_anova_f",
    "scan_csv_multiline_quoted",
    "privacy_l_diversity",
    "ts_holt_winters",
    "maint_rowgroup_skipping",
    "events_cuped_adjust",
    "data_freshness_sla",
    "meta_registry_catalog",
    "flows_blacklist_match",
    "agg_hll_sliding_union",
    "flows_stitch_rotation",
    "dedup_url_canonicalize",
    "stats_mann_whitney",
    "text_lm_perplexity_filter",
    "privacy_dp_counts",
    "join_spatial_grid",
    "events_forecast_backtest",
    "agg_hll_intersection",
    "sample_group_shuffle_split",
    "tokenizer_vocab_coverage",
    "agg_quantile_sketch_merge",
    "dedup_bloom_screen",
    "events_power_analysis",
    "ml_feature_hashing",
    "stats_hill_tail_index",
    "sample_kcenter_coreset",
    "text_novelty_curve",
    "ml_eval_ndcg",
    "stats_benjamini_hochberg",
    "flows_traffic_matrix",
    "curation_filter_funnel",
    "maint_skew_report",
    "dedup_minhash_incremental",
    "ann_recall_report",
    "maint_cache_inmemory",
    "sql_scripting_control_flow",
    "sql_identifier_dynamic",
    "agg_listagg",
    "text_keywords_topk",
    "sql_try_functions",
    "ts_downsample_lttb",
    "events_association_rules",
    "ml_feature_woe_binning",
    "scan_text_regex_parse",
    "maint_analyze_stats",
    "dedup_canonical_doc",
    "emb_cluster_silhouette",
    "stats_ratio_delta_method",
    "flows_port_services",
    "sample_neyman_allocation",
    "stats_spearman_corr",
    "ml_eval_regression",
    "features_scaling",
    "agg_circular_stats",
    "text_zipf_slope",
    "sample_ppswor",
    "stats_levene_test",
    "ml_eval_lift",
    "ts_cusum_anomaly",
    "tokenizer_wordpiece_apply",
    "agg_theil_index",
    "events_interarrival_stats",
    "ml_eval_confusion_multi",
    "privacy_t_closeness",
    "scan_text_wholefile",
    "stats_wilcoxon_signed_rank",
    "graph_adamic_adar",
    "ts_rolling_corr",
    "flows_exporter_dedup",
    "text_compression_ratio",
    "stats_binomial_ci_wilson",
    "events_frequency_capping",
    "ml_ranking_mrr",
    "stats_benford_test",
    "dedup_threshold_curve",
    "ts_bollinger_bands",
    "doc_sentence_stats",
    "emb_dimension_variance",
    "events_time_to_convert",
    "scan_csv_gzip",
    "emb_random_projection",
    "events_heatmap_hour_dow",
    "stats_runs_test",
    "sql_distribute_cluster_by",
    "events_cart_abandonment",
    "events_audience_overlap",
    "stats_g_test",
    "ts_pacf",
    "privacy_pseudonymize",
    "stats_cohens_d",
    "stats_ols_two_vars",
    "events_cohort_retention_matrix",
    "sample_balanced_downsample",
    "dedup_phonetic_blocking",
    "agg_price_elasticity",
    "cast_decimal_money",
    "flows_prefix_rollup",
    "events_ab_contamination",
    "ts_hampel_outliers",
    "agg_sketch_error_report",
    "events_recency_weighted_score",
    "privacy_generalization_ladder",
    "agg_pareto_8020",
    "agg_median_of_means",
    "stats_jarque_bera",
    "stats_bayes_shrunk_rates",
    "stats_sprt_early_stop",
    "text_burstiness_dispersion",
    "ml_calibration_brier",
    "agg_log_histogram",
    "stats_nn_matching",
    "dedup_entity_resolution",
    "privacy_cell_suppression",
    "events_growth_accounting",
    "scan_csv_column_drift",
    "text_pmi_collocations",
    "flows_billing_95th",
    "events_adoption_curve",
    "ts_mann_kendall",
    "dedup_provenance_split",
    "scan_fixed_width",
    "str_kv_parse",
    "dedup_lsh_scurve",
    "ts_index_rebase",
    "flows_elephant_mice",
    "emb_centroid_drift",
    "stats_breusch_pagan",
    "flows_scan_taxonomy",
    "ts_seasonality_strength",
    "agg_gini_daily_trend",
    "events_best_send_hour",
    "stats_ljung_box",
    "agg_hurst_exponent",
    "join_interval_overlap_duration",
    "stats_mcnemar",
    "text_flesch_reading_ease",
    "flows_unidirectional_ratio",
    "events_anomaly_deseasonalized",
    "stats_capture_recapture",
    "stats_cochran_armitage",
    "stats_hodges_lehmann",
    "sample_systematic",
    "agg_trimmed_mean",
    "ts_theil_sen",
    "events_dose_response",
    "sink_dynamic_partition_overwrite",
    "text_hapax_ratio",
    "stats_sign_test",
    "emb_distance_histogram",
    "ml_cohens_kappa",
    "maint_join_cardinality_exact",
    "text_lang_divergence",
    "dedup_shingle_size_curve",
    "stats_grubbs",
    "stats_block_bootstrap",
    "ml_eval_average_precision",
    "stats_friedman_test",
    "stats_durbin_watson",
    "events_repeat_purchase",
    "reshape_unpivot_multi",
    "agg_tukey_fences",
    "ts_forecast_mase",
    "stats_one_sample_t",
    "emb_anisotropy",
    "sql_lateral_alias",
    "filter_nfdump_extended",
    "flows_nffile_decode",
    "stream_nffile_source",
    "flows_nffile_stat",
    "source_python_datasource",
    "stream_state_reader",
    "observe_metrics",
    "agg_grouping_id",
    "set_intersect_all",
    "set_except_all",
    "flows_netflow_v9_decode",
    "sample_temperature",
    "tokenizer_bpe_apply",
    "emb_pq_quantize",
    "agg_mode_exact",
    "dedup_semantic_cluster",
    "stream_curation_e2e",
    "dedup_substring_spans",
    "stats_bootstrap_ci",
    "ts_period_over_period",
    "agg_winsorized_mean",
    "text_sentiment_lexicon",
    "ts_subsequence_search",
    "flows_sampling_correction",
    "agg_group_quantiles_exact",
    "events_did_estimator",
    "graph_label_propagation",
    "join_asof_nearest",
    "ml_eval_auc",
    "ml_eval_calibration",
    "ml_eval_pr_threshold",
    "features_target_encoding",
    "sql_star_except",
    "maint_partition_stats",
    "flows_v9_sampling_options",
    "stream_progress_metrics",
    "events_survival_km",
    "agg_gini_concentration",
    "agg_lorenz_deciles",
    "events_cohort_ltv",
    "dedup_degree_histogram",
    "agg_hhi_concentration",
    "text_ttr_diversity",
    "events_activity_streaks",
    "sql_group_by_all",
    "join_asof_tolerance",
    "events_peak_concurrency",
    "events_new_vs_returning",
    "text_boilerplate_ngrams",
    "join_groupwise_min",
    "agg_weekday_seasonality",
    "scan_parquet",
    "scan_csv_typed",
    "sink_parquet_part",
    "retention_ttl",
    "maint_bucketed_join",
    "sink_jdbc_clickhouse",
    "service_conf_ingest",
    "scan_jsonl",
    "src_stream_dir",
    "stream_foreachbatch",
    "stream_restart_resume",
    "stream_watermark",
    "stream_dedup_watermark",
    "stream_output_modes",
    "stream_stateful",
    "stream_session_window",
    "stream_stream_join",
    "stream_v9_source",
    "maint_compaction",
    "stream_transform_with_state",
    "stream_left_outer_join",
)
