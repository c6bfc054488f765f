"""Generate PLANS.md: the physical plan of each headline query plus the
scale-relevant properties a reviewer should check (pushdown, pruning,
broadcast vs shuffle, partial aggregation, window group limits).

Run: python tools/plan_audit.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nfdump2clickhouse_spark import registry  # noqa: E402
from nfdump2clickhouse_spark.plans import (  # noqa: E402
    get_plan,
    pushed_filters,
    read_schema_columns,
)
from nfdump2clickhouse_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline keys + the property that makes each plan 'the one you'd want'
AUDITED: dict[str, str] = {
    "agg_pricing_summary": "partial+final HashAggregate; 7-of-11-column scan",
    "filter_time_range": "shipdate range reaches PushedFilters (row-group skipping)",
    "join_broadcast": "BroadcastHashJoin on the filtered dim",
    "join_multiway": "dims broadcast; only the big-big join shuffles",
    "join_asof": "union + last-over-window formulation, one shuffle per side",
    "topk_global": "TakeOrderedAndProject, no global sort",
    "topk_per_group": "WindowGroupLimit before the window sort",
    "win_running_sum": "single Window over one shuffle",
    "dedup_ngram_jaccard": "two bounded shuffles, in-bucket pair generation, no broadcast",
    "sim_topk_pairs": "blocked GEMM via ArrowEvalPython, per-block top-k before the final take",
    "sample_hash_bucket": "sampling predicate evaluated scan-side inside codegen",
    "sub_correlated": "decorrelated into aggregate + equi-join (no per-row subquery)",
    "ts_gap_fill": "grid generated executor-side (sequence+explode), fill is an equi join",
    "merge_upsert": "full-outer merge: one shuffle per side on the key",
    "filter_nfdump_lang": "compiled nfdump filter keeps predicates JVM-side",
    "dedup_cluster_cc": "per-round label propagation: one join + one min-agg, checkpointed lineage",
    "ann_lsh_cosine": "narrow (id, band, sig) candidate join + Hamming pre-filter; embeddings fetched only for surviving pairs",
    "join_ip_prefix_lookup": "prefix dim exploded to /20 buckets and broadcast; equi-join + residual range, no nested loop",
    "agg_delta_sum": "lag window and final agg share one Exchange on event_type",
    "text_decontaminate": "benchmark shingle set broadcast; corpus scanned once",
    "emb_quantize_int8": "zero Exchange: per-row array HOFs stay in codegen",
    # wave-5/6 (round 2)
    "stats_corr_matrix": "all 6 corr pairs in ONE scan + partial/final agg; stack unpivot",
    "data_profile": "one scan, multi-distinct via Expand; never a per-column job loop",
    "sample_weighted": "TakeOrderedAndProject on the A-Res priority; no corpus sort",
    "snapshot_diff": "one full-outer SMJ on the PK; change classification row-local",
    "events_attribution": "first+last touch share ONE user-keyed sort window; no self-join",
    "dedup_minhash_pure": "row-local xxhash signatures; shuffles only band buckets and pair dedup",
    "drift_psi": "both split halves profiled in one (bucket, grp) agg over a single scan",
    "text_ngram_lm": "bigram HOF explode; model join hint-free (AQE broadcasts small vocab)",
    "graph_triangle_count": "star join folds facts to |E| first; oriented-edge join on the tiny edge list",
    # wave-7..12 (round 2)
    "text_vocab_topk": "token agg with map-side combine, then TakeOrderedAndProject",
    "sample_mixture_quota": "literal rank bound → WindowGroupLimit; residual per-source quota filter",
    "join_lateral": "correlated LATERAL decorrelated to window/limit over ONE join",
    "features_pit_join": "user-keyed join + per-label latest-snapshot window; both shuffles share the user key",
    "text_repetition_filter": "within-doc dup-bigram fraction: pure array HOFs, zero Exchange",
    "text_line_dedup": "ONE chunk-keyed shuffle (canonical-copy window) + per-doc regroup",
    "flows_stat_report": "grouping-sets Expand: 3 stat dims from one scan; WindowGroupLimit top-5",
    # reworked round 3 (VERDICT r2 perf-weak closures)
    "stats_ks_test": "distinct-value agg collapses ties; shared binned_prefix_sums over footer bounds (only the nbins-row offsets window is unpartitioned, NO checkpoint); integer D",
    "events_rfm_segmentation": "one user agg; binned_exact_ntile in-plan rank per tercile — no global-sort window",
    "curriculum_binning": "binned_exact_ntile in-plan rank: bin-id partition + bin windows, closed-form tiles",
    "emb_binarize_hamming": "row-local sign-pack fold; 8x8-bit band equi-join broadcasting only the probe side (no corpus NLJ)",
    # wave-15 (round 3)
    "sample_temperature": "all-integer quotas ride broadcast joins; ONE source-keyed rank window (data-dependent bound, so no WGL)",
    "emb_pq_quantize": "nested-array-literal codebooks + HOF argmin: zero Exchange before the per-subspace agg",
    "ann_ivfpq_search": "candidate stage joins queries to the 4-byte-code index only; full vectors fetched for the 50-id shortlist",
    "dedup_semantic_cluster": "pair space blocked to per-cell equi-joins; soft 2-cell assignment; exact verify in-cell",
    "dedup_substring_spans": "one gram-keyed shuffle + max_df cap; span merge is a (pair, diagonal)-partitioned window, no global sort",
    "ml_eval_auc": "distinct-value agg + shared binned_prefix_sums; null scores excluded; only the nbins-row offsets window is unpartitioned",
    "join_asof_nearest": "ONE user-keyed sort serves both direction windows; no per-row range probe",
    "features_target_encoding": "one (cat, fold) agg; cross-fold lookup is a broadcast self-join on the tiny agg",
    "agg_winsorized_mean": "(grp, cents) value histogram + grp window; no per-group row funnel, no checkpoint",
    # reworked round 4 (VERDICT r3 wrong-#3 / next-#5/#6 closures)
    "pack_token_budget": "exclusive token prefix via the in-plan binned scan: literal bin bounds, one bin-window shuffle",
    "events_peak_concurrency": "sweep line: boundary agg collapses ties, shared binned_prefix_sums runs the running sum bin-partitioned",
    "graph_label_propagation": "hint-free star fold (AQE picks the join); per-round join+argmax on the checkpointed |E| edge table",
    # wave-16/17 (round 4)
    "events_sessionize_gap": "lag flag, session ids, and both aggs all ride ONE user-keyed exchange",
    "events_funnel_windowed": "linear greedy-latest DP on one user-keyed sort window; no per-step self-join",
    "data_quality_rules": "single-table rules share one multi-aggregate scan per table; FK/date rules are two AQE key-joins",
    "privacy_k_anonymity": "one QI group-size agg + 4-row broadcast threshold grid",
    "sample_repeat_factor": "scan-local hash copies + row-local explode(sequence); only the reconciliation aggregates",
    "graph_kcore": "star fold once + checkpoint; peel rounds are semi-joins on the tiny edge table",
    # wave-22 (round 5)
    "flows_stitch_rotation": "lag window, island window, and (k, island) agg all ride ONE flow-key exchange; bounded rollup second agg",
    "dedup_url_canonicalize": "canonicalization is scan-local HOFs in codegen; one canonical-key groupBy (+ countDistinct 2-phase)",
    "stats_mann_whitney": "distinct-value agg collapses ties; shared binned_prefix_sums; exact-integer 2x-scaled ranks",
    "text_lm_perplexity_filter": "bounded charset-squared model broadcasts into the score join; doc agg + source rollup",
    "privacy_dp_counts": "one partial+final count agg; Laplace noise is row-local arithmetic on the category table",
    # wave-23 (round 5)
    "join_spatial_grid": "9x|sites| cell table is the broadcast build side; haversine residual inside the join condition; one site_id agg exchange",
    "events_forecast_backtest": "both lag forecasts ride ONE per-type window; final rollup reuses the type partitioning (2 exchanges total)",
    "agg_hll_intersection": "both cohort sketches built in ONE corpus pass (conditional sketch aggs); union merges the same states; 1-row crossJoin",
    "sample_group_shuffle_split": "split is row-local arithmetic riding the user agg; bounded rollup + 1-row leakage-audit broadcast",
    "tokenizer_vocab_coverage": "vocab top-K plans as TakeOrderedAndProject (never a global sort of the distinct-word table); K-row vocab broadcasts into the word stream",
    # wave-24 (round 5)
    "agg_quantile_sketch_merge": "per-month integer log-bucket sketches merge with plain adds; windows + final agg share the flag exchange",
    "dedup_bloom_screen": "historical corpus compressed to a <=32768-row bitmap table; 5 probe joins all broadcast (pre-checkpoint pin); exact verify on candidates only",
    "events_power_analysis": "one grouped moment pass; the whole design report is scalar arithmetic on the group table",
    "ml_feature_hashing": "hashing is scan-local md5 arithmetic; (bucket, feat) distinct partial is the only data-sized shuffle",
    "stats_hill_tail_index": "per-group top-k prunes via WindowGroupLimit before the group exchange; estimator is arithmetic on 3x201 rows",
    # wave-25 (round 5)
    "text_novelty_curve": "within-doc dedup is row-local array_distinct (no distinct shuffle); firsts agg + same-key join + bounded rollups",
    "ml_eval_ndcg": "one (query, item) corpus agg; run + ideal rankings are windows on the tiny checkpointed score table",
    "stats_benjamini_hochberg": "one moment pass + 1-row global broadcast; BH step is a window + conditional agg on the 50-cell battery",
    "flows_traffic_matrix": "both prefix enrichments broadcast; ONE matrix agg; top-20 is TakeOrderedAndProject",
    # wave-26 (round 5)
    "curation_filter_funnel": "gates are scan-local arithmetic; md5-content keep-first window + one source rollup",
    "maint_skew_report": "ONE key-frequency agg; heavy-hitter top-10 is TakeOrderedAndProject; ratios are integer arithmetic on the key table",
    "maint_cache_inmemory": "both consumers plan InMemoryTableScan over the single cached projection (one parquet scan total)",
    # wave-27 (round 5)
    "sql_identifier_dynamic": "IDENTIFIER params resolve at analysis time; plan identical to the static query (one partial+final agg)",
    "agg_listagg": "native LISTAGG WITHIN GROUP; distinct set rides the partial aggregate (2-phase)",
    "text_keywords_topk": "integer-e6 idf ranking; per-doc argmax prunes via WindowGroupLimit; headline top-K is TakeOrderedAndProject",
    "sql_try_functions": "try_* arithmetic is scan-local codegen; one global aggregate",
    # wave-28 (round 5)
    "ts_downsample_lttb": "ONE daily corpus agg; integer cross-product argmax prunes via WindowGroupLimit; anchors broadcast",
    "events_association_rules": "basket distinct shuffles once (runtime checkpoint); pair generation is row-local combinations of bounded item sets",
    "ml_feature_woe_binning": "one bin agg + 1-row totals broadcast; WoE/IV row-local on the 10-bin table",
    # wave-29 (round 5)
    "dedup_canonical_doc": "cluster window + rollup share the cluster exchange over the checkpointed CC labels; docs join broadcasts",
    "stats_ratio_delta_method": "one user-keyed agg + one 1-row moment pass — the whole analysis in two bounded aggregations",
    "flows_port_services": "broadcast LEFT service map (misses keep flows as 'other'); 1-row byte total broadcast; bounded service rollup",
    "sample_neyman_allocation": "one strata moment agg; e6-integer weights; largest-remainder apportionment on a bounded window",
    # wave-30 (round 5)
    "stats_spearman_corr": "binned_grouped_rank per column (3-value group key would one-task a plain window); avg-over-(grp,value) IS the tie correction",
    "ml_eval_regression": "k-row train means broadcast onto the test split; four metrics from one pass of combinable sums",
    "features_scaling": "fit/transform split: exact-percentile moments agg (k rows) broadcast back for the scaled means",
    "agg_circular_stats": "one combinable (avg sin, avg cos) aggregate; trig is JVM codegen intrinsics",
    "text_zipf_slope": "(lang,word) combinable agg; top-100 prunes via WindowGroupLimit; regr_slope over <=100*L rows",
    # wave-31 (round 5)
    "sample_ppswor": "scan-local ES keys; weighted top-200 is TakeOrderedAndProject with ZERO exchanges",
    "stats_levene_test": "exact-median agg broadcast back; W from combinable (n,Σz,Σz²) partials + one 1-row total",
    "ml_eval_lift": "binned_exact_ntile in-plan rank (no single-task ntile sort); 10-row gains table windows are bounded",
    "ts_cusum_anomaly": "CUSUM recursion as closed-form cumsum-minus-running-min: two stacked per-type windows, no UDF",
    "tokenizer_wordpiece_apply": "vocab broadcast into one Arrow-batched UDF with per-batch word memo; zero pre-agg shuffles",
    # wave-32 (round 5)
    "agg_theil_index": "one pass of combinable (n,Σx,Σx·lnx) partials; customer+nation broadcast; 25-row rollup",
    "events_interarrival_stats": "lag window and rollup share one hash(event_type) exchange; µs-integer gaps",
    "ml_eval_confusion_multi": "k-row bucket model broadcast LEFT; per-class counts from one tagged-union hash agg (no full-outer SMJ)",
    "privacy_t_closeness": "integer-exact TVD; (QI,s) rollup checkpointed for three sibling aggs; 3-row threshold grid broadcast",
    "scan_text_wholefile": "distributed whole-file scan; checksums scan-local; one 20-row ordering exchange",
    # wave-33 (round 5)
    "stats_wilcoxon_signed_rank": "distinct-|d| collapse + binned_prefix_sums exclusive cumcount; closed-form tie ranks, bin-partitioned windows + the nbins-row offsets window",
    "graph_adamic_adar": "distributed distinct-edge agg + ONE bounded GEMM batch (A.diag(w).A^T over the fixed 1000-node space); no pair join",
    "ts_rolling_corr": "one conditional-count daily agg; corr as window aggregate over the bounded days table",
    "flows_exporter_dedup": "one flow-key hash agg dedups (copies meet in one reducer); 1-row sibling totals",
    "text_compression_ratio": "scan-local Arrow zlib UDF; one per-source rollup exchange",
    # wave-34 (round 5)
    "stats_binomial_ci_wilson": "one conditional-count daily agg; Wilson interval closed-form scan-local on integer (k,n)",
    "events_frequency_capping": "(day,user) rollup then day rollup; all-integer incl. bp waste division",
    "ml_ranking_mrr": "20-query broadcast onto one corpus pass; per-query MIN extracts first relevant rank",
    "stats_benford_test": "scan-local digit codegen; one 9-group agg; total from a 9-row window (no input re-scan)",
    "dedup_threshold_curve": "shared shingle-pair core; 4-row threshold grid over ONE pair pass; integer cross-multiplied cuts",
    # wave-35 (round 5)
    "ts_bollinger_bands": "integer-cents daily agg; rolling moments over the bounded days table",
    "doc_sentence_stats": "scan-local regexp segmentation; one lang rollup",
    "emb_dimension_variance": "posexplode + dim agg; 64-row total window, no second scan",
    "events_time_to_convert": "ONE user-keyed conditional-MIN agg for both touchpoints; no self-join (plan-pinned)",
    "scan_csv_gzip": "sharded .csv.gz round-trip; gz-not-splittable caveat documented; integer cents through the text",
    # wave-36 (round 5)
    "emb_random_projection": "integer-hash ±1 matrix in row-local HOFs; pair sample broadcast; nothing random at execution",
    "events_heatmap_hour_dow": "one <=168-group agg; total from a window over the result, no second scan",
    "stats_runs_test": "integer-cents daily agg; one lag window on the bounded days table; 1-row statistic",
    "sql_distribute_cluster_by": "DISTRIBUTE BY exchange + per-partition contract check in one mapInPandas",
    "events_cart_abandonment": "(day,user) conditional-count rollup then day rollup; all-integer",
    # wave-37 (round 5)
    "events_audience_overlap": "checkpointed distinct + user lag window (no self-join); bounded size broadcasts",
    "stats_g_test": "one contingency agg; margins from bounded cell windows; single ln()",
    "ts_pacf": "one day-grain agg; ACF from window moments; k<=7 Levinson recursion driver-side",
    "privacy_pseudonymize": "scan-local sha2; one user rollup + 1-row audit",
    "stats_cohens_d": "combinable (n,Σx,Σx²) partials; broadcast k-row pair self-join",
    # wave-38 (round 5)
    "stats_ols_two_vars": "ONE 1-row moment aggregate; Cramer betas + R² from centered moments",
    "events_cohort_retention_matrix": "checkpointed (user,week) distinct; diagonal via window over the cell table (no re-derived self-join)",
    "sample_balanced_downsample": "literal top-500 bound -> WindowGroupLimit; scan-local integer priority",
    "dedup_phonetic_blocking": "soundex codegen over the token distinct; one block rollup + 1-row report",
    "agg_price_elasticity": "part broadcast; regr_slope/regr_r2 combinable aggregates on one brand exchange",
    # wave-39 (round 5)
    "cast_decimal_money": "exact decimal partials through one flag rollup; canonical-string totals",
    "flows_prefix_rollup": "3 masked copies in one scan; WindowGroupLimit top-5 per level; integer masking",
    "events_ab_contamination": "one user conditional-count rollup + 1-row audit",
    "ts_hampel_outliers": "two stacked exact-percentile windows on the bounded days table",
    "agg_sketch_error_report": "exact + both sketches in ONE FileScan (plan-pinned)",
    # wave-40 (round 5)
    "events_recency_weighted_score": "1-row data-MAX anchor broadcast; one user agg; TakeOrderedAndProject top-100",
    "privacy_generalization_ladder": "4 ladder levels in one scan; argmin window over the bounded mins table",
    "agg_pareto_8020": "user rollup + binned_prefix_sums over (-rev,id); integer cross-multiplied 80% crossing, bin-partitioned windows + the nbins-row offsets window",
    "agg_median_of_means": "deterministic hash buckets; one 16-group agg + 16-row arithmetic",
    "stats_jarque_bera": "one pass of raw power sums; binomial central-moment expansion shared by both engines",
    # wave-41 (round 5)
    "stats_bayes_shrunk_rates": "checkpointed user rollup + 1-row MoM prior broadcast; TOAP top-50",
    "stats_sprt_early_stop": "integer binned_prefix_sums (hits,t) + closed-form LLR in codegen; min_by on first decided t",
    "text_burstiness_dispersion": "(word,doc) agg; zero-docs via closed-form moments; TOAP top-30",
    "ml_calibration_brier": "checkpointed scored pass; 10-bin decomposition + 1-row brier sibling",
    "agg_log_histogram": "scan-local decade codegen; shares from windows over the bucket table",
    # wave-42 (round 5)
    "stats_nn_matching": "pid-partitioned merge windows + O(P) boundary-carry collect; no pair join, no global sort",
    "dedup_entity_resolution": "first-letter blocked candidate join; per-string argmin window; codegen levenshtein",
    "privacy_cell_suppression": "cell rollup then fold rollup; all-integer conservation",
    "events_growth_accounting": "ONE checkpointed window pass classifies all statuses incl. churn; no anti-join",
    "scan_csv_column_drift": "per-batch header reads + unionByName (plan-level column alignment)",
    # wave-43 (round 5)
    "text_pmi_collocations": "doc-keyed presence-pair self-join on the checkpointed distinct; marginals broadcast; TOAP",
    "flows_billing_95th": "(customer,bucket) integer rollup; exact per-customer percentile; two exchanges",
    "events_adoption_curve": "firsts agg -> bounded curve table; cumulative windows; totals from a window",
    "ts_mann_kendall": "bounded daily self-join over a checkpointed day-grain agg; integer signs",
    "dedup_provenance_split": "shared shingle-pair core; source dims broadcast onto qualifying pairs only",
    # wave-44 (round 5)
    "scan_fixed_width": "lpad render + substring parse, both codegen; line-split read parallelizes",
    "str_kv_parse": "str_to_map one-expression field map; typed element_at access",
    "dedup_lsh_scurve": "pure arithmetic over a 3x19 literal grid; zero table input by design",
    "ts_index_rebase": "integer day agg + per-type FIRST_VALUE window",
    "flows_elephant_mice": "scan-local classing; 3-group agg; shares from 3-row windows",
    # wave-45 (round 5)
    "emb_centroid_drift": "one posexplode agg to 2*k*64 rows; pairing/norms on the bounded table",
    "stats_breusch_pagan": "two 1-row moment passes; betas broadcast back; expansion-form aux R2",
    "flows_scan_taxonomy": "checkpointed synthesis feeds both 2-phase distinct-count axes",
    "ts_seasonality_strength": "one day-grain agg; decomposition + variance on the bounded day table",
    "agg_gini_daily_trend": "day-partitioned rank windows (many partitions - the healthy window case)",
    # wave-46 (round 5)
    "events_best_send_hour": "(user,hour) rollup; WGL argmax on <=24-row partitions; bounded summary",
    "stats_ljung_box": "five ACF numerators in ONE aggregate over the checkpointed lag-projected day table",
    "agg_hurst_exponent": "integer chunking on the checkpointed day index; regr_slope over <=3 points",
    "join_interval_overlap_duration": "closed-form overlap inside a day-keyed equi-join; broadcast window grid",
    "stats_mcnemar": "one user conditional rollup + 1-row cells; all-integer",
    # wave-47 (round 5)
    "text_flesch_reading_ease": "three scan-local regexp counts; one lang rollup",
    "flows_unidirectional_ratio": "LEFT SEMI self-join on the swapped key over the checkpointed direction distinct",
    "events_anomaly_deseasonalized": "weekday means + moments + z all as bounded day-table windows",
    "stats_capture_recapture": "one user conditional rollup + 1-row Chapman estimate",
    "stats_cochran_armitage": "daily (k,n) agg + bounded index window + 1-row moments",
    # wave-48 (round 5)
    "stats_hodges_lehmann": "Walsh pairs over the bounded checkpointed day table; exact percentile",
    "sample_systematic": "binned_global_rank in-plan row number; integer-modulo pick; sibling population mean",
    "agg_trimmed_mean": "exact [p10,p90] band broadcast back; boundary-inclusive keep",
    "ts_theil_sen": "exact-integer pairwise slopes on the bounded day table; exact median",
    "events_dose_response": "one user rollup + binned_exact_ntile in-plan deciles; 10-row response",
    # wave-49 (round 5)
    "sink_dynamic_partition_overwrite": "per-write dynamic mode; materialized before-state; pruned verification reads",
    "text_hapax_ratio": "(lang,word) combinable count + bounded rollup",
    "stats_sign_test": "one user rollup + 1-row sign count; 1e-6 pre-round",
    "emb_distance_histogram": "broadcast 100-row self-join; HOF distances; shared min/max bins",
    "ml_cohens_kappa": "both raters in one scan; 1-row 2x2 cells",
    # wave-50 (round 5)
    "maint_join_cardinality_exact": "two key-frequency rollups joined; join size WITHOUT materializing the join",
    "text_lang_divergence": "(lang,char) rollup; pair join on the checkpointed bounded distribution table",
    "dedup_shingle_size_curve": "uncached k-grid shingling, AQE-reused distinct exchange (r10 OOM fix); (k,shingle)-keyed pair buckets",
    "stats_grubbs": "checkpointed day agg + 1-row moments + min_by argmax",
    "stats_block_bootstrap": "integer block grid + broadcast range join on the bounded day table",
    # wave-51 (round 5)
    "ml_eval_average_precision": "one binned_prefix_sums pass yields rank AND running TP; bin-partitioned windows; one conditional fold",
    "stats_friedman_test": "day-partitioned <=k-row rank windows; k rank sums -> 1-row stat",
    "stats_durbin_watson": "1-row betas broadcast back; residual lag window on the bounded day table",
    "events_repeat_purchase": "purchase-slice user window; conditional nth extraction; 1-row summary",
    "reshape_unpivot_multi": "native unpivot = Expand over the k-row aggregate; single FileScan",
    # wave-52 (round 5)
    "agg_tukey_fences": "exact-quartile fit broadcast back; integer-bp outlier share",
    "ts_forecast_mase": "two lag windows on the bounded day table; integer-cents errors",
    "stats_one_sample_t": "ONE 1-row moment aggregate",
    "emb_anisotropy": "all-pairs mean cosine WITHOUT a pair join: sum-vector identity over one posexplode agg",
    "sql_lateral_alias": "alias chain folds into one projection over one partial+final agg",
    # round 6 probe-caught rework
    "dedup_fuzzy_levenshtein": "canopy equi-join; equality fast path + length-band prefilter gate the O(len^2) DP; gated repartition parallelizes the CPU-bound stage",
    # round 10 growth key
    "filter_nfdump_extended": "8 compiled predicates as parallel conditional aggregates over ONE pruned 2-column scan; single 1-row Exchange; stack unpivot",
}


def main() -> None:
    spark = get_spark("plan-audit")
    qs = registry.queries()
    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Auto-generated by `tools/plan_audit.py` at sf dir `{SF_DIR}`.",
        "Each section lists the property that makes the plan scale-correct,",
        "the filters that reached the parquet scan, the columns actually",
        "read, and the formatted physical plan.",
        "",
    ]
    for key, claim in AUDITED.items():
        df = qs[key](spark, SF_DIR)
        plan = get_plan(df)
        # keep the physical-plan section, drop the node detail listing
        phys = plan.split("\n\n")[0]
        pf = pushed_filters(df)
        cols = read_schema_columns(df)
        out += [
            f"## {key}",
            "",
            f"**Why this plan**: {claim}",
            "",
            f"**PushedFilters**: {', '.join(pf) if pf else '(none)'}",
            "",
            "**Scan column sets**: "
            + ("; ".join("(" + ", ".join(c) + ")" for c in cols) if cols else "(no parquet scan)"),
            "",
            "```",
            re.sub(r"#\d+L?", "", phys),
            "```",
            "",
        ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
