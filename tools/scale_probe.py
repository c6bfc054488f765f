"""Scale probe: build an N×-scaled copy of an SF fixture in /tmp and
measure wall-time ratios of the heaviest keys vs the base fixture.

The point is empirical 'would this survive a scale-up?' evidence: each
big table is unioned N times with key offsets chosen to PRESERVE
referential integrity (orderkeys offset in lineitem+orders together;
dims untouched so FK joins stay valid; texts/embeddings repeat verbatim,
which deliberately stress-tests the dedup families with real cross-copy
duplicate mass). A key whose wall ratio grossly exceeds the data ratio
has a nonlinearity worth investigating.

Run: python tools/scale_probe.py [N] [base_sf_dir]   (defaults 8, sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from nfdump2clickhouse_spark import registry  # noqa: E402
from nfdump2clickhouse_spark.session import get_spark  # noqa: E402

PROBED = [
    "agg_pricing_summary",
    "join_multiway",
    "topk_per_group",
    "stats_ks_test",          # binned in-plan prefix sums
    "curriculum_binning",     # binned_exact_ntile in-plan rank
    "agg_winsorized_mean",    # (grp, cents) histogram + grp window
    "sample_temperature",
    "events_rfm_segmentation",
    "text_tfidf",
    "dedup_ngram_jaccard",    # capped inverted index under 8x dup mass
    "dedup_substring_spans",  # diagonal span merge under 8x dup mass
    "dedup_minhash_pure",
    # round 4
    "events_sessionize_gap",  # one-exchange window cascade
    "events_funnel_windowed", # linear greedy-latest DP
    "join_interval_overlap",  # binned interval-overlap equi-join
    "stats_anova_f",          # two-level agg + ordered fold
    "graph_kcore",            # star fold + bounded peel rounds
    "ann_ivfpq_search",       # Arrow-batched PQ train/encode (reworked r4)
    # round 5
    "flows_stitch_rotation",  # one-exchange lag window + island agg
    "stats_mann_whitney",     # shared binned_prefix_sums rank scan
    "join_spatial_grid",      # grid-bucketed candidate join (wave-23)
    "tokenizer_vocab_coverage",  # TakeOrderedAndProject vocab + bcast join
    "dedup_bloom_screen",     # bloom screen under 8x dup mass (wave-24)
    "agg_quantile_sketch_merge",  # mergeable sketch build + merge
    "text_novelty_curve",     # shingle firsts under 8x dup mass (wave-25)
    "flows_traffic_matrix",   # double broadcast LPM enrichment
    "dedup_minhash_incremental",  # cross-split band probe, 8x dup mass
    "maint_skew_report",      # one key-frequency agg + bounded arithmetic
    # round 5, waves 30-33
    "stats_spearman_corr",    # one hash(grp) exchange: ranks + tie peers + corr
    "text_zipf_slope",        # WindowGroupLimit top-100 per lang
    "sample_ppswor",          # zero-exchange TakeOrderedAndProject top-200
    "ml_eval_lift",           # binned_exact_ntile decile rank
    "privacy_t_closeness",    # integer TVD; (QI,s) rollup + siblings
    "events_interarrival_stats",  # lag window + rollup on one exchange
    "graph_adamic_adar",      # distinct-edge agg + bounded GEMM batch (r6)
    "flows_exporter_dedup",   # one flow-key dedup agg under 2x copies
    # round 6 depth batch: never-probed data-heavy r5 keys (waves 29-52)
    "dedup_shingle_size_curve",   # per-k max_df cap under 8x dup mass (r6 fix)
    "dedup_threshold_curve",      # minhash banding grid under dup mass
    "dedup_lsh_scurve",           # s-curve banding probe under dup mass
    "dedup_entity_resolution",    # blocked pair scoring under dup mass
    "dedup_canonical_doc",        # cluster-rep election under dup mass
    "text_pmi_collocations",      # bigram mass + unigram join
    "text_lang_divergence",       # capped shingle distro pair join
    "flows_billing_95th",         # per-customer exact 95th percentile
    "events_cohort_retention_matrix",  # cohort x age matrix rollup
    "events_growth_accounting",   # MAU state transitions via lag
    "agg_hurst_exponent",         # R/S rescaled-range over the series
    "stats_block_bootstrap",      # integer block grid resampling
    "maint_join_cardinality_exact",  # F2/NDV key-frequency rollups
    # round 6 depth batch 2: iterative / dup-mass / window-cascade keys
    "dedup_cluster_cc",           # iterative connected components under dup mass
    "dedup_fuzzy_levenshtein",    # blocked edit-distance pairs under dup mass
    "dedup_pipeline_e2e",         # full dedup pipeline under dup mass
    "text_line_dedup",            # line-level firsts under dup mass
    "text_decontaminate",         # benchmark n-gram anti-join
    "text_boilerplate_ngrams",    # shingle df rollup under dup mass
    "graph_pagerank",             # iterative PR rounds on the event graph
    "graph_label_propagation",    # iterative LP rounds
    "dedup_semantic_cluster",     # Lloyd rounds + assignment
    "agg_group_quantiles_exact",  # (grp, cents) histogram group quantiles
    "events_survival_km",         # life-table fold
    "join_asof",                  # time-bucketed as-of join
    "ts_subsequence_search",      # z-normalized sliding distance
    "text_lm_perplexity_filter",  # char-ngram LM scoring
    # round 6 depth batch 3: event windows, flow rollups, regex-heavy text
    "events_funnel",              # ordered-step window cascade
    "events_retention",           # cohort self-join on day offsets
    "events_sequence_match",      # pattern DP over user sessions
    "events_path_ngrams",         # session path explode + ngram rollup
    "events_markov_transition",   # lag window + transition rollup
    "events_dau_wau",             # day/window distinct-user rollups
    "events_activity_streaks",    # gaps-and-islands per user
    "events_peak_concurrency",    # +1/-1 sweep over interval bounds
    "flows_biflow",               # direction-normalized flow-key agg
    "flows_portscan",             # per-src fanout agg + threshold
    "flows_ddos_amplification",   # amplification ratio join
    "flows_beaconing_detection",  # per-pair interarrival regularity
    "doc_chunking",               # overlapping char-window slicing
    "pack_token_budget",          # greedy bin packing via prefix sums
    "text_containment",           # shingle containment join
    "text_pii_scrub",             # regex-heavy per-row scrub (CPU path)
    "corpus_report_e2e",          # multi-stat corpus rollup
    "cdc_scd2",                   # change-capture full-outer merge
    "merge_upsert",               # keyed full-outer merge
    "zorder_layout",              # interleaved-bit layout sort
    # round 6 depth batch 4: join strategies, time series, feature prep
    "join_theta_range",           # binned range join (no BNLJ)
    "join_skew_salted",           # salted skew-key join
    "join_interval_bin",          # interval-binned equi join
    "join_bloom_prefilter",       # bloom-screened big-big join
    "join_ip_prefix_lookup",      # exploded-prefix broadcast LPM
    "filter_nfdump_lang",         # compiled filter predicate pushdown
    "win_sliding_distinct",       # sliding distinct via set windows
    "ts_interpolate",             # gap grid + boundary-carry lerp
    "ts_gap_fill",                # sequence+explode grid fill
    "ts_resample_ohlc",           # bucket agg with first/last
    "events_anomaly_zscore",      # day rollup + rolling stats window
    "agg_quantile_weighted",      # weighted exact quantile fold
    "agg_mad_outliers",           # double median pass
    "agg_cramers_v",              # contingency rollup + chi2 fold
    "events_lag_features",        # multi-lag user windows
    "features_pit_join",          # point-in-time snapshot join
    "sample_negative_mining",     # in-batch negative pair sampling
    "emb_matryoshka_truncate",    # prefix-slice renorm HOFs
    "text_quality_filter_e2e",    # stacked quality predicates
    # round 6 depth batch 5: privacy, ml-eval, sampling, reshape
    "privacy_k_anonymity",        # QI rollup + suppression
    "privacy_l_diversity",        # per-QI sensitive-value diversity
    "privacy_t_closeness",        # integer TVD vs global distro
    "privacy_cell_suppression",   # small-cell primary+complementary
    "privacy_pseudonymize",       # keyed-hash token projection
    "ml_eval_auc",                # shared binned_prefix_sums rank scan
    "ml_eval_ndcg",               # per-query WGL top-k + log2 fold
    "ml_eval_calibration",        # score-bucket rollup
    "ml_feature_woe_binning",     # bin rollup + WoE fold
    "sample_stratified",          # per-stratum fraction sampling
    "sample_train_split",         # hash-split projection
    "sub_correlated",             # decorrelated agg + equi-join
    "reshape_pivot",              # pivot agg
    "events_cuped_adjust",        # covariate window + 1-row theta
    "data_quality_rules",         # stacked rule counters
    "flows_top_talkers",          # key rollup + TakeOrdered
    "flows_stat_report",          # grouping-sets Expand + WGL top-5
    "win_session",                # session_window agg
    "events_cohort_ltv",          # cohort x month rollup
    "agg_histogram",              # width_bucket rollup
]

SMALL = ["region", "nation", "customer", "supplier", "part"]


def build(spark, base: str, out: str, n: int) -> None:
    os.makedirs(out, exist_ok=True)
    for t in SMALL:
        spark.read.parquet(f"{base}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )

    def scaled(name, key_offsets):
        df = spark.read.parquet(f"{base}/{name}.parquet")
        maxes = {
            c: df.agg(F.max(c)).collect()[0][0] + 1 for c in key_offsets
        }
        parts = []
        for i in range(n):
            p = df
            for c in key_offsets:
                p = p.withColumn(c, F.col(c) + F.lit(i * maxes[c]))
            parts.append(p)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    # orderkey offsets applied to BOTH orders and lineitem => joins intact
    scaled("orders", ["o_orderkey"])
    scaled("lineitem", ["l_orderkey"])
    scaled("events", ["event_id", "user_id"])
    scaled("documents", ["doc_id"])
    scaled("embeddings", ["vec_id"])


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = f"/tmp/sf_scale_probe_x{n}"
    spark = get_spark("scale-probe")
    if not os.path.exists(f"{out}/embeddings.parquet"):
        t0 = time.perf_counter()
        build(spark, base, out, n)
        print(f"built {out} in {time.perf_counter() - t0:.1f}s", flush=True)
    specs = registry.all_specs()

    def run(key, sf):
        t0 = time.perf_counter()
        specs[key].fn(spark, sf).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    print(f"{'key':26s} {'base':>7s} {'x' + str(n):>8s} {'ratio':>6s}")
    for key in PROBED:
        run(key, base)  # warm
        tb = min(run(key, base), run(key, base))
        ts = min(run(key, out), run(key, out))
        print(f"{key:26s} {tb:7.2f} {ts:8.2f} {ts / tb:6.1f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
