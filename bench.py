"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from defimap_data_pipelines_spark.session import get_spark  # noqa: E402
from defimap_data_pipelines_spark.plans.queries import QUERIES  # noqa: E402

# Headline set: domain window analytics + generic OLAP + LLM-data ops.
BENCH_QUERIES = [
    "gotk",
    "total_return",
    "tvl",
    "trailing_return",
    "return_1y",
    "risk",
    "interpolate_linear",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "sessionize",
    "window_running_stats",
    "tumbling_hourly",
    "text_stats",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_lsh_dedup",
    "cosine_topk",
    "q6_forecast_revenue",
    "asof_last_purchase",
    "window_frames",
    "wordcount_top50",
    "exact_quantiles",
    "q4_priority_exists",
    "q10_returned_revenue",
    "grouping_sets_id",
    "sentence_split_udtf",
    "q7_volume_shipping",
    "q13_count_distribution",
    "q18_large_orders",
    "dataset_split",
    "token_shards",
    "doc_repetition",
    "kmeans_clusters",
    "interval_count_join",
    "training_dataset",
    "neardup_components",
    "tfidf_top_terms",
    "bm25_search",
    "weighted_moving_avg",
    "zscore_anomalies",
    "pareto_frontier",
    "char_entropy",
    "exact_median_distributed",
    "unigram_perplexity",
    "line_dedup",
    "mixture_resample",
    "vocab_ids",
    "substring_dedup",
    "source_cap",
    "ivf_topk_trained",
    "semdedup_prune",
    "gopher_rules",
    "bpe_merge_pairs",
    "quality_classifier",
    "ann_recall_eval",
    "dedup_keep_best",
    "pack_sequences",
    "vocab_coverage",
    "cross_source_dups",
    "temperature_mixture",
    "stream_quality_exec",
    "edit_distance_pairs",
    "lang_source_mixture",
    "ks_drift",
    # round-4 additions
    "multimodal_decode",
    "epoch_shuffle",
    "cms_heavy_hitters",
    "bloom_decontamination",
    "html_text_extract",
    "pivot_wide",
    "multimodal_features",
    "equidepth_histogram",
    "pagerank_top20",
    # round-5 additions
    "warc_gz_extract",
    "kmv_distinct",
    "kmv_source_overlap",
    "zorder_layout",
    "gopher_repetition",
    "grouped_kmeans",
    "ewma_quantized",
    "snapshot_diff",
    "triangle_count",
    "kcore_rounds",
    "khop_reach",
    "rendezvous_sharding",
    "apportion_budget",
    "bigram_lift",
    "mad_outliers",
    "sampled_quantiles",
    "embedding_standardize",
    "weighted_sample",
    "adaptive_skew_join",
    "doc_chunking",
    "label_propagation",
    # round-6 additions
    "hypertable_rollup",
    "acf_lags",
    "cusum_changepoints",
    "welch_ttest",
    "chi2_independence",
    "sssp_hops",
    "ra_linkpred",
    "degree_assortativity",
    "winnowing_fingerprint",
    "containment_dups",
    "gini_concentration",
    "scd2_pit_join",
    "rfm_segments",
    "bigram_lm_score",
    "quantile_normalize",
    "pq_encode",
    "lsh_dedup_recall",
    "twap_per_user",
    "incremental_cc",
    "skew_report",
    "graph_walks",
    "spearman_corr",
    "mannwhitney_u",
    "kaplan_meier",
    "holt_forecast",
    "seasonal_anomalies",
    "rrf_fusion",
    "itemcf_topk",
    "community_modularity",
    "js_divergence",
    "ams_f2_moment",
    "markov_stationary",
    "bootstrap_ci",
    "top_event_paths",
    "mutual_best_pairs",
    "isotonic_calibration",
    "trailing_distinct_kmv",
    "theilsen_slope",
    "mann_kendall",
    "weighted_median",
    "burstiness",
    "mutual_information",
    "psi_drift",
    "best_split_ig",
    "sortino_calmar",
    "var_cvar",
    "rolling_beta",
    "roc_auc",
    "lift_gains",
    "attribution_credit",
    "peak_concurrency",
    "did_estimator",
    "cuped_adjustment",
    "ndcg_at_k",
    "map_at_k",
    "brier_calibration",
    "leadlag_xcorr",
    "information_ratio",
    "underwater_spells",
    "kendall_tau",
    "fifo_matching",
    "kruskal_wallis",
    "ulcer_martin",
    "variance_ratio",
    "pr_auc",
    "cohens_kappa",
    "local_clustering",
    "page_hinkley",
    "permutation_test",
    "rs_hurst",
    "updown_capture",
    "zipf_fit",
    "target_encoding",
    "feature_hashing",
    "cramers_v",
    "friedman_test",
    "anova_oneway",
    "heaps_fit",
    "shapley_attribution",
    "markov_attribution",
    "ratio_metric_delta",
    # r7: complete coverage — every registered query is benched (the
    # r6 verdict's markov_attribution lesson: a registry entry
    # without a bench entry is a liability). Order = registration
    # order of the previously-unbenched set.
    "benchmark_capital_gotk",
    "benchmark_price_gotk",
    "semi_join",
    "anti_join",
    "set_ops",
    "cube_agg",
    "pivot_linestatus",
    "min_max_scalar",
    "latest_event_per_user",
    "lang_id",
    "quality_score",
    "embedding_neardup_pairs",
    "embedding_neardup_auto",
    "embedding_allpairs_exact",
    "simhash_xxhash_pairs",
    "multimodal_digest_features",
    "window_rank_suite",
    "json_extract",
    "date_parts",
    "string_funcs",
    "rollup_agg",
    "hll_distinct_users",
    "ivf_topk",
    "rolling_xxhash_fingerprint",
    "apy_conversion",
    "array_agg_sorted",
    "char_jaccard_pairs",
    "above_nation_avg",
    "unpivot_metrics",
    "clean_corpus",
    "bool_aggs",
    "stats_moments",
    "date_arith",
    "minmax_by",
    "q12_priority_split",
    "q14_promo_revenue",
    "nulls_ordering",
    "limit_offset",
    "q8_market_share",
    "q17_small_quantity",
    "q19_disjunctive_join",
    "q22_inactive_customers",
    "stratified_sample",
    "pii_redaction",
    "resample_weekly_ohlc",
    "date_spine_ffill",
    "event_funnel",
    "price_histogram",
    "ivf_topk_persisted",
    "dq_checks",
    "salted_join_agg",
    "embedding_quantize_int8",
    "scd2_intervals",
    "revenue_share",
    "gotk_sql",
    "q9_product_profit",
    "simhash_pairs",
    "rolling_hash_fingerprint",
    "q15_top_supplier",
    "q21_waiting_supplier",
    "q2_min_cost_supplier",
    "q11_important_value",
    "q16_supplier_cnt",
    "q20_dominant_supplier",
    "stream_tumbling_exec",
    "stream_sessions_exec",
    "bucketed_join_agg",
    "asof_next_purchase",
    "stream_sliding_exec",
    "multimodal_framesample",
    "lsh_topk",
    "stream_join_exec",
    "winsorized_stats",
    "stream_dedup_exec",
    "curation_report",
    "cohort_retention",
    "rolling_active_users",
    "event_transitions",
    "drawdown_series",
    "rolling_volatility",
    "return_correlation_matrix",
    "benford_digit_check",
    "decontamination_overlap",
    "multimodal_resize",
    "token_chunks",
    "source_mixture_plan",
    "vector_stats",
    "corpus_quality_by_source",
    "bpe_encode",
    "gaps_islands",
    "bloom_persisted_probe",
    "unpivot_long",
    "stream_rollup_exec",
    # r7 wave 17
    "bh_fdr",
    "mcnemar_test",
    "runs_test",
    "ar1_halflife",
    # r7 wave 18
    "levenshtein_neardup",
    "decayed_popularity",
    "k_anonymity",
    # r7 wave 19
    "forecast_mase",
    "conformal_interval",
    "centroid_similarity",
    # r7 wave 20
    "backtest_folds",
    "wasserstein_drift",
    "pinball_loss",
    # r8 wave 21
    "ljung_box",
    "partial_corr",
    "qini_uplift",
    # r9 wave 22
    "mrr_at_k",
    "recall_at_k",
    "logloss_binned",
    "omega_ratio",
    "hhi_concentration",
    "two_proportion_ztest",
]


def _time_queries(
    names: list[str], sf_dir: str, runs: int
) -> dict[str, float]:
    """Time ``names`` in THIS process's Spark session (min over
    ``runs``), printing one JSON line per query."""
    spark = get_spark("bench")
    timings: dict[str, float] = {}
    # one warmup pass on the first query to absorb JVM/session startup
    QUERIES[names[0]](spark, sf_dir).count()
    for n in names:
        best = float("inf")
        for _ in range(runs):  # steady-state: min over runs
            t0 = time.perf_counter()
            df = QUERIES[n](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[n] = round(best, 3)
        # per-query progress line: individually parseable, so a
        # tail-truncated capture still yields every completed timing
        print(json.dumps({"query": n, "sec": timings[n]}), flush=True)
        # reap dereferenced per-run caches/broadcasts (ContextCleaner
        # acts on JVM GC) so later queries aren't timed under the
        # accumulated memory pressure of every earlier query's plans
        spark.sparkContext._jvm.System.gc()
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0  # unknown layout; still bench it

    names = [n for n in BENCH_QUERIES if n in QUERIES]
    only = os.environ.get("BENCH_ONLY")
    if only:
        wanted = [n for n in only.split(",") if n]
        unknown = [n for n in wanted if n not in QUERIES]
        if unknown or not wanted:
            # mirror stress.py's guard: fail loudly before the warmup
            # rather than IndexError at QUERIES[names[0]]
            raise ValueError(
                f"BENCH_ONLY yields no runnable queries: "
                f"unknown={unknown!r}, requested={wanted!r}"
            )
        names = wanted
    runs = int(os.environ.get("BENCH_RUNS", "2"))
    timings = _time_queries(names, sf_dir, runs)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        ),
        flush=True,
    )
    # Compact summary: the driver records only a bounded tail of
    # stdout, and the full contract line above is long enough that a
    # tail cut lands mid-JSON (r4/r5 lost their totals this way). The
    # short object survives the tail intact.
    print(
        json.dumps({"total_s": total, "sf": sf, "n_queries": len(names)}),
        flush=True,
    )
    # Tail-survivable per-query data (r13, r12 verdict item 7 —
    # additions-only; the timed methodology above is unchanged): the
    # ~40 slowest queries re-printed one bounded line each, ASCENDING,
    # so however short the recorded tail is it always carries the
    # slowest (most comparison-relevant) queries as complete JSON
    # lines, then the short total again as the final line.
    slowest = sorted(timings.items(), key=lambda kv: kv[1])[-40:]
    for n, sec in slowest:
        print(json.dumps({"slow": n, "sec": sec}), flush=True)
    print(
        json.dumps({"total_s": total, "sf": sf, "n_queries": len(names)}),
        flush=True,
    )


if __name__ == "__main__":
    main()
