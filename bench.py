"""Benchmark harness — runs headline queries at $SPARK_GRAFT_SF_DIR.

Output is truncation-proof for a stdout-TAIL capture (round 2's driver
artifact lost the summary because it lived at the FRONT of one giant
line): per-query timings stream as individual ``{"q": name, "sec": t}``
lines first, the full payload is written to ``bench_full.json``, and the
LAST line printed is a compact summary —

{"metric": "...", "value": N, "unit": "sec", "sf": ..., "n_queries": K,
 "queries_file": "bench_full.json", "slowest": {...<=8}, "regressions": {...}}

so the driver's tail always retains the parseable line no matter how
small its capture window is.

Each query is fully materialized to the driver via ``toPandas()`` (Arrow
batch transfer — the engine's result-return surface). ``count()`` would
hide exchange + result costs; py4j ``collect()`` measures per-row Python
object decoding, which is harness overhead rather than engine work (3-7x
slower than Arrow on the wide-result queries at sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_weather_system_spark import contract  # noqa: E402
from bigdata_weather_system_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Headline queries — one per operator family that matters at scale.
BENCH_QUERIES = [
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q4_late_shipment_priority",
    "q7_volume_shipping",
    "q18_large_volume_customers",
    "q5_local_supplier_volume",
    "q13_customer_order_distribution",
    "q21_sole_returned_supplier",
    "q2_min_cost_supplier",
    "q20_excess_stock_suppliers",
    "latest_event_per_user",
    "hourly_profile",
    "daily_profile",
    "revenue_by_nation",
    "order_lineitem_left_join",
    "topk_events_by_value",
    "mode_event_type_per_user",
    # temporal operators
    "asof_click_before_purchase",
    "sessionize_events",
    "events_value_band_join",
    "events_resampled_6h",
    "events_resampled_6h_lerp",
    # window analytics
    "running_sum_per_user",
    "sequence_window_stats",
    "build_training_sequences",
    "rollup_returnflag_status",
    "value_percentiles_per_type",
    # LLM-pipeline operators
    "dedup_exact_docs",
    "near_dup_clusters",
    "ngram_jaccard_near_dups_prefix",
    "minhash_lsh_near_dups",
    "simhash_near_dups",
    "cosine_topk_bruteforce",
    "cosine_topk_lsh",
    "cosine_topk_ivf",
    "cosine_topk_ivf_kmeans",
    "cosine_topk_pq",
    "cosine_topk_ivf_pq",
    "cosine_topk_ivf_incremental",
    "weighted_event_sample",
    "doc_quality_scores",
    "doc_language_id",
    "doc_fingerprints",
    "doc_tfidf_top_terms",
    "doc_train_test_split",
    "doc_sequence_packing",
    "doc_chunk_windows",
    "doc_vocab_coverage",
    # corpus cleaning + behavioral analytics (round 2)
    "doc_segment_dedup",
    "doc_pii_redaction",
    "doc_fuzzy_match_pairs",
    "doc_fuzzy_match_pairs_capped",
    "funnel_signup_click_purchase",
    "scd2_user_state_history",
    "ohlc_6h_bars",
    "events_quality_report",
    "doc_length_bucketed_shards",
    "media_raw_decode",
    "rolling_zscore_anomalies",
    "weekly_cohort_retention",
    "daily_rollup_from_hourly",
    "join_cardinality_estimate",
    "incremental_dedup_contract",
    "doc_ngram_decontamination",
    "semantic_decontamination",
    "doc_hashing_tf",
    "event_transition_matrix",
    "frequent_event_paths",
    "snapshot_diff_users",
    "doc_text_normalize",
    "funnel_time_to_convert",
    "dau_wau_stickiness",
    # CDC / time-series / graph family (round 2, second batch)
    "cdc_apply_user_state",
    "wma_values_per_user",
    "user_event_entropy",
    "doc_containment_pairs",
    "part_copurchase_edges",
    "part_copurchase_pagerank",
    "part_degree_distribution",
    "part_copurchase_triangles",
    "cusum_change_points",
    "golden_user_profile",
    "referential_integrity_audit",
    "feature_store_pit_join",
    "hard_negative_pairs",
    "hard_negative_pairs_ann",
    "doc_span_corruption",
    "doc_quality_classifier_scores",
    "doc_unigram_logprob",
    "entity_resolution_golden_docs",
    "twap_6h_bars",
    "user_time_in_state",
    "part_khop_reachability",
    "approx_overlap_users",
    "part_price_volume_skyline",
    "rolling_1h_distinct_types",
    "event_pattern_matches",
    "type_weekday_chi2",
    "source_lang_divergence",
    "bootstrap_value_mean",
    "purchases_with_state_asof",
    "props_variant_extract",
    "part_related_ppr",
    "part_copurchase_salton",
    "cuped_ab_analysis",
    "attribution_decay_credit",
    "knn_label_eval",
    "knn_label_eval_ann",
    "knn_label_eval_ann_serving",
    "markov_next_event_eval",
    "persistence_forecast_backtest",
    "spearman_value_time_per_type",
    "value_gini_per_type",
    "langid_confusion_matrix",
    "daily_bounce_rate",
    "incremental_join_view_delta",
    "diverse_topk_events",
    "coalesced_user_activity_intervals",
    "event_lateness_profile",
    "doc_global_text_rank",
    "snm_candidate_pairs",
    "shard_rebalance_delta",
    "session_type_pmi",
    "daily_content_digests",
    "source_length_ks",
    "theil_sen_trend_per_user",
    "user_rfm_segments",
    "mannwhitney_purchase_vs_click",
    "km_time_to_purchase",
    "user_burstiness",
    "value_autocorrelation_per_user",
    "discount_whatif_grid",
    # round 3: bounded scale paths + new media/inference surfaces
    "semantic_dedup_survivors",  # now the k-means-cell bucketed pair stage
    "media_pcm_decode",
    "media_pcm_resample",
    "autoregressive_forecast_hourly",
    "doc_duplicate_span_stats",
    "doc_bm25_search",
    "mad_value_outliers",
    "k_anonymity_audit",
    "doc_compression_ratio",
    "ewma_values_per_user",
    "value_psi_drift_per_type",
    "part_copurchase_kcore",
    "token_cms_estimates",
    "doc_bpe_merge_table",
    "doc_bpe_encode_stats",
    "user_erasure_audit",
    "lineitem_column_stats",
    "join_skew_report",
    "kendall_tau_value_time_per_user",
    "benford_first_digit_audit",
    "holt_linear_forecast_per_user",
    "order_documents_nested",
    "value_decile_features",
    "event_type_target_encoding",
    "doc_stratified_kfold",
    "quality_score_calibration",
    "bm25_ndcg_eval",
    "als_item_factors",
    "distributed_linear_train",
    "distributed_logistic_train",
    "weekly_seasonal_decomposition",
    "isotonic_calibration_segments",
    "funnel_windowed_conversion",
    "clamped_running_balance_per_user",
    "bitmap_distinct_users_rollup",
    "longest_daily_streak_per_user",
    "ridge_cyclic_regression_per_type",
    "fellegi_sunter_match_scores",
    "embedding_int8_quantization",
    "classifier_auc_eval",
    "type_weekday_mutual_info",
    "lineitem_numeric_corr",
    "bloom_filter_prefilter_audit",
    "sampled_revenue_estimate",
    "doc_zipf_exponent",
    "weighted_negative_samples",
    "conformal_value_intervals",
    "did_treatment_effect",
    "huber_location_per_type",
    "steps_to_next_higher_value",
    "value_peaks_per_user",
    "doc_bigram_perplexity",
    "max_drawdown_per_user",
    "weighted_median_price_per_flag",
    # geospatial family
    "geo_grid_density",
    "geo_nearest_station",
    "geo_bbox_events_join",
    "geo_within_radius_pairs",
    # warehouse allocation / classification / privacy
    "order_discount_proration",
    "part_revenue_abc",
    "dp_noisy_event_counts",
    # communities / importance selection / spectral
    "part_copurchase_communities",
    "doc_dsir_selection",
    "embedding_pca_top_component",
    "event_weekday_woe_iv",
    "media_pcm_goertzel",
    "fifo_credit_matching",
    "next_higher_event_unbounded",
    "value_quantile_normalize_by_type",
    "sprt_purchase_rate_decision",
    "eb_shrunken_purchase_rates",
    "geo_user_path_length",
    "degree_days_daily",
    "geo_density_clusters",
    "revenue_share_hierarchy",
    "part_copurchase_adamic_adar",
    "rolling_trend_per_user",
    "weather_pipeline_end_to_end",
    "geo_idw_station_interpolation",
    "purchase_decision_stump",
    "sensor_uptime_report",
    "user_rank_stability_rbo",
    "peak_concurrent_sessions",
    "activity_islands_by_day",
    "geo_bearing_rose",
    "weekly_growth_accounting",
    "hourly_lead_lag_correlation",
    "shapley_channel_attribution",
    "part_population_capture_recapture",
    "rolling_percentile_rank",
    "wow_change_contribution",
    "event_sequence_rle",
    "kruskal_wallis_value_by_type",
    "missing_heartbeat_report",
    "seasonal_baseline_anomalies",
    "geo_catchment_centroid",
    "station_assignment_margin",
    "partition_compaction_plan",
    "sampling_rate_recommendation",
    "cohort_ltv_curves",
    "part_inventory_turns",
    # in-plan model eval / privacy extras + FM neighborhood sketch
    "part_khop_size_fm_estimate",
    "event_naive_bayes_eval",
    "l_diversity_audit",
    "forecast_scaled_error_metrics",
    # round-3 waves 4-6: causal/parametric/state-space/basket/fusion,
    # multimodal motion, privacy triad, PIT hygiene, sketch algebra,
    # layout planning, Markov steady state
    "basket_brand_association_rules",
    "welch_ttest_purchase_vs_click",
    "anova_value_by_type",
    "stratified_ate_purchase",
    "kalman_filter_value_per_user",
    "retrieval_rrf_fusion",
    "media_motion_energy",
    "t_closeness_audit",
    "label_leakage_audit",
    "business_days_to_ship",
    "theta_sketch_user_overlap",
    "zorder_pruning_benefit",
    "markov_stationary_distribution",
    "markov_removal_attribution",
    "hampel_filter_anomalies",
    "part_reorder_points",
    "embedding_truncation_recall",
    "nelson_aalen_hazard",
    "functional_dependency_audit",
    "doc_query_likelihood_search",
    "gmm_em_value_mixture",
    "reconciled_weekly_forecast",
    "ransac_trend_per_type",
    "classifier_gains_table",
    "ipf_raked_weights",
    "ps_api_daily_value_profile",
    "media_ahash_near_dups",
    "ips_policy_value_estimate",
    "bitemporal_state_lookup",
    "adf_unit_root_per_type",
    "watermark_tuning_curve",
    "type_mean_shift_fdr",
    "revenue_pvm_decomposition",
    "ljung_box_white_noise",
    "price_elasticity_per_brand",
    "ams_f2_user_sketch",
    "brier_score_decomposition",
    "part_harmonic_centrality",
    "embedding_rp_projection_recall",
    "purchase_rate_trend_test",
    "incremental_agg_retraction",
    "cube_materialization_advisor",
    "theta_sketch_a_not_b",
    "triple_barrier_labels",
    "walk_forward_cv_folds",
    "uplift_qini_by_bin",
    "boxcox_lambda_grid",
    "hashing_collision_audit",
    "token_cms_drift",
    "part_edge_triangle_support",
    "ab_test_power_grid",
    "quantile_treatment_effects",
    "waterfill_budget_allocation",
    "best_split_changepoint_per_type",
    "lorenz_value_concentration",
    "error_prr_by_weekday",
    "wasserstein_value_shift",
    "competing_risks_incidence",
    "thompson_arm_posteriors",
    "heaps_law_vocab_growth",
    "source_shingle_similarity",
    "expected_calibration_error",
    "gumbel_daily_max_extremes",
    "seasonality_periodogram",
    "nb_moments_fit_per_type",
    "weekday_seasonal_strength",
    "recommender_cold_start_audit",
    "burrows_delta_sources",
    "simpson_slope_reversal",
    "kish_effective_sample_size",
    "hurst_rescaled_range",
    "runs_test_randomness",
    "assignment_srm_check",
    "mean_reversion_halflife",
    # training-run assembly (round 4)
    "preference_pair_mining",
    "tokenizer_fertility_by_lang",
    "lsh_parameter_planner",
    "mixture_temperature_weights",
    "token_heavy_hitters_mg",
    "quality_gates_kappa",
    "embedding_silhouette_by_label",
    "media_bmp_decode",
    "media_wav_decode",
    # URL/domain curation (round 5)
    "doc_url_canonicalize",
    "domain_cap_survivors",
    "domain_concentration_metrics",
    "url_tracking_prevalence",
    "doc_html_extract",
    "robots_rule_filter",
    "crawl_politeness_schedule",
    "doc_warc_extract_pipeline",
    "domain_grouped_split",
    # corpus curation wave 2 (round 5)
    "doc_line_dedup",
    "dsir_importance_weights",
    "lang_unimax_allocation",
    # chained raw-web curation flagship + compressed formats (round 6)
    "web_curation_pipeline",
    "doc_warc_gz_extract_pipeline",
    "media_png_decode",
    "media_jpeg_decode",
    "media_avi_decode",
    "media_gif_decode",
    "media_adpcm_decode",
    # round 8: motion-compensated video + rebased real-codec features
    "media_mpv_decode",
    "media_mpa_decode",
    "media_decode_features",
    "media_frame_samples",
    "weather_sim_source_profile",
]


def _rounds_of(pattern: str) -> list[tuple[int, str]]:
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    out: list[tuple[int, str]] = []
    glob_pat = pattern.replace("{N}", "*").replace("\\", "")
    for p in glob.glob(os.path.join(here, glob_pat)):
        m = re.search(pattern.replace("{N}", r"(\d+)") + "$", p)
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out)


def current_round() -> int:
    """The round now in progress: the driver writes CORRECTNESS_r{N}.json
    when it CLOSES round N, so max(N)+1 is the live round. Stable for the
    whole round, unlike BENCH_r*/bench_full.json mtimes."""
    rounds = _rounds_of(r"CORRECTNESS_r{N}\.json")
    return (rounds[-1][0] + 1) if rounds else 1


def _benchhist_path() -> str:
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCHHIST.jsonl"
    )


def benchhist_entries() -> list[dict]:
    try:
        with open(_benchhist_path()) as f:
            return [json.loads(ln) for ln in f if ln.strip()]
    except (OSError, ValueError):
        return []


def benchhist_append(entry: dict) -> None:
    with open(_benchhist_path(), "a") as f:
        f.write(json.dumps(entry) + "\n")


def benchhist_baseline(
    live: int, sf=None
) -> tuple[int | None, dict[str, float]]:
    """Round-close baseline from the append-only run history — the fix
    for round-5 What's-wrong #4 (baseline round-keying off-by-one).

    The driver's sequence at the close of round N is: write
    CORRECTNESS_r{N}.json, THEN run bench — so the close-of-round-N run
    sees ``current_round() == N+1`` and is the FIRST history entry at
    live N+1. Its timings measure round N's final code: exactly the
    baseline every run of round N+1 (builder mid-round iterations AND
    the driver's own close-of-round-(N+1) run, which appends at live
    N+2 and therefore still resolves group N+1) should compare against.

    Rule: among entries at the requested sf with live ≤ the caller's
    live, take the FIRST entry of the newest live group. Returns
    (group_live − 1, queries) — the round whose close that entry
    measured. Mid-round re-runs never shift the baseline (only the
    first entry of a group is ever read), so the committed regression
    field is inter-round by construction."""
    cands = [
        e
        for e in benchhist_entries()
        if isinstance(e.get("queries"), dict)
        and e.get("queries")
        and (sf is None or e.get("sf") == sf)
        and isinstance(e.get("live"), int)
        and e["live"] <= live
    ]
    if not cands:
        return None, {}
    # Round-close entries are stamped {"close": true} and measure the
    # FINAL code of their live round — the exact baseline for every run
    # of the next round, independent of the driver's close-run
    # sequencing. The first-of-group convention alone broke when a
    # fresh-bench skip left a group whose first entry was a mid-round
    # run of the NEW round's code (baselining the round against
    # itself). Pick whichever representative measures the LATER round;
    # on a tie prefer the close stamp (it pinned the round's final
    # HEAD, where the group's first entry may predate late commits).
    closes = [e for e in cands if e.get("close") and e["live"] < live]
    close_rep = closes[-1] if closes else None
    g = max(e["live"] for e in cands)
    first = next(e for e in cands if e["live"] == g)
    first_round = g - 1
    if close_rep is not None and close_rep["live"] >= first_round:
        return close_rep["live"], {
            k: float(v) for k, v in close_rep["queries"].items()
        }
    if closes or any(e.get("close") for e in cands):
        print(
            "WARNING: benchhist_baseline falling back to the "
            f"first-of-group entry for round {first_round} — no close-"
            "stamped entry covers it (was a round closed with the bench "
            "skipped and no entry synthesized?)",
            file=sys.stderr,
        )
    return first_round, {k: float(v) for k, v in first["queries"].items()}


def previous_round_queries(sf=None) -> tuple[int | None, dict[str, float]]:
    """Per-query timings of the newest FULL prior-round snapshot — the
    regression baseline (the reference publishes no numbers, so each round
    is graded against the previous one).

    Preference order:
    0. ``BENCHHIST.jsonl`` — the append-only per-run history whose
       first-entry-per-live-group IS the prior round's close (see
       ``benchhist_baseline``); immune to the off-by-one where the
       driver's post-CORRECTNESS bench baselined against the same
       round's mid-round snapshot.
    1. ``BENCHFULL_r{N}.json`` with N < the live round — the complete
       per-query payload this script archives at every sf0.1 run and the
       round-close commit persists. Snapshots at a different scale factor
       are skipped.
    2. The driver's ``BENCH_r{N}.json`` — LAST resort only: its ``tail``
       field keeps just the final ~20 stdout lines, so harvesting it
       yields a ~15-query baseline. Round 4's comparator read it FIRST
       and produced a false "zero regressions" claim against a 10.8s
       prev_total (VERDICT r4, What's-wrong #1); hence the reordering.
    Regardless of source, main() suppresses the regression report when
    the recovered baseline covers <80% of the current query set.
    """
    live = current_round()
    hist_round, hist_q = benchhist_baseline(live, sf)
    if hist_q:
        return hist_round, hist_q
    for n, path in reversed(_rounds_of(r"BENCHFULL_r{N}\.json")):
        if n >= live:
            continue  # an earlier run of THIS round is not a baseline
        try:
            with open(path) as f:
                payload = json.load(f)
        except (OSError, ValueError):
            continue
        if sf is not None and payload.get("sf") != sf:
            continue
        queries = {
            k: float(v) for k, v in payload.get("queries", {}).items()
        }
        if queries:
            return n, queries

    # Same guards as the BENCHFULL path (a run of THIS round is not a
    # baseline; a snapshot at another scale factor is not comparable) —
    # the fallback previously skipped both, so an iteration run could
    # baseline against its own round's tail or an sf0.01 run against an
    # sf0.1 tail.
    for n, path in reversed(_rounds_of(r"BENCH_r{N}\.json")):
        if n >= live:
            continue
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        queries: dict[str, float] = {}
        payload_sf = data.get("sf")
        if isinstance(data.get("queries"), dict):
            queries = {k: float(v) for k, v in data["queries"].items()}
        elif isinstance(data.get("tail"), str):
            # the driver records bench stdout inside a "tail" field —
            # harvest both the streamed per-query lines and any summary
            # object that carries a "queries" dict
            for line in data["tail"].splitlines():
                line = line.strip()
                if not (line.startswith("{") and line.endswith("}")):
                    continue
                try:
                    obj = json.loads(line)
                except ValueError:
                    continue
                if "q" in obj and "sec" in obj:
                    queries[str(obj["q"])] = float(obj["sec"])
                elif isinstance(obj.get("queries"), dict):
                    queries.update(
                        {k: float(v) for k, v in obj["queries"].items()}
                    )
                    if payload_sf is None:
                        payload_sf = obj.get("sf")
        # Scale guard, strict form (round-5 ADVICE): when the caller
        # requests a specific sf and the artifact's sf cannot be
        # determined (tail truncated before its summary object), SKIP it
        # — an unverifiable baseline is the exact failure mode this
        # guard exists for, and main() already degrades gracefully
        # (coverage suppression) when no baseline is recoverable.
        if sf is not None and payload_sf != sf:
            continue
        if queries:
            return n, queries
    return None, {}


#: Flag a query only when it is BOTH >1.5x slower and >0.5s absolute worse —
#: per-query wall time at sf0.1 is dominated by fixed JVM/planning overhead,
#: so sub-0.5s movement is noise.
REGRESSION_RATIO = 1.5
REGRESSION_FLOOR_SEC = 0.5

#: Sentinel threshold: a probe pass is "loaded" when its summed sentinel
#: time exceeds this multiple of the historical floor.
SENTINEL_LOAD_RATIO = 1.3


def load_suspect_zones(
    sent_start: dict,
    sent_end: dict,
    floors: dict,
    exec_order: list,
    mid_probes: list | None = None,
) -> tuple:
    """Classify host-load contamination by WHEN it occurred.

    Returns ``(load_suspect, suspect_names)``:

    - every probe pass over ``SENTINEL_LOAD_RATIO``× the historical
      floor → the whole run is suspect (``load_suspect=True``, every
      query suppressed — the run was loaded THROUGHOUT);
    - with ``mid_probes`` (round-7 blind spot: three unchanged-code
      flags at 36–43% of execution order escaped the fixed first-
      quartile zone under ~2.1× start sentinels): the probe passes —
      start, one per interior quartile boundary, end — segment the
      execution order, and a query is suspect iff EITHER probe bounding
      its segment was loaded. The suppressed zone therefore tracks the
      MEASURED load decay instead of assuming contamination clears
      within the first quartile;
    - legacy two-probe form (no ``mid_probes``): start-loaded /
      end-quiet → first quartile suspect; end-loaded symmetric — the
      round-6 rule, kept for artifacts that predate mid-run probing.

    ``load_suspect=None`` means no sentinel history to judge against
    (first run); nothing is suppressed.
    """
    probes = [sent_start] + list(mid_probes or []) + [sent_end]
    common = [s for s in floors if all(s in p for p in probes)]
    if not common:
        return None, set()
    floor_sum = sum(floors[s] for s in common)
    if floor_sum <= 0:
        return None, set()
    loaded = [
        sum(p[s] for s in common) > SENTINEL_LOAD_RATIO * floor_sum
        for p in probes
    ]
    if all(loaded):
        return True, set(exec_order)
    if mid_probes:
        n_seg = len(probes) - 1
        bounds = [round(i * len(exec_order) / n_seg) for i in range(n_seg + 1)]
        suspect: set = set()
        for i in range(n_seg):
            if loaded[i] or loaded[i + 1]:
                seg = exec_order[bounds[i] : bounds[i + 1]]
                if not seg and (loaded[i] or loaded[i + 1]):
                    # degenerate tiny orders: taint at least one query
                    # adjacent to the loaded probe
                    seg = exec_order[max(0, bounds[i] - 1) : bounds[i] + 1]
                suspect.update(seg)
        return False, suspect
    start_loaded, end_loaded = loaded[0], loaded[-1]
    quart = max(1, len(exec_order) // 4)
    if start_loaded:
        return False, set(exec_order[:quart])
    if end_loaded:
        return False, set(exec_order[-quart:])
    return False, set()


_PKG = "bigdata_weather_system_spark"
_REPO = os.path.dirname(os.path.abspath(__file__))
_DEP_CACHE: dict[str, set] = {}

import re as _re  # noqa: E402

_IMPORT_RE = _re.compile(
    r"^\s*from\s+(\.+[\w.]*|" + _PKG + r"[\w.]*)\s+import\s+([\w, \(\)]*)",
    _re.MULTILINE,
)


def _module_rel_file(modname: str) -> str | None:
    """Repo-relative file for a package module name, or None if the
    name resolves outside the package / to nothing on disk."""
    if not modname.startswith(_PKG):
        return None
    rel = modname.replace(".", "/")
    for cand in (rel + ".py", rel + "/__init__.py"):
        if os.path.exists(os.path.join(_REPO, cand)):
            return cand
    return None


def _resolve_relative(modname: str, dots: str, tail: str) -> str:
    """Resolve a `from ..x.y import` target against ``modname``."""
    parts = modname.split(".")
    base = parts[: len(parts) - len(dots)]  # strip one level per dot
    return ".".join(base + ([tail] if tail else [])).rstrip(".")


def _module_dep_files(modname: str, seen: set | None = None) -> set:
    """Repo-relative files reachable from ``modname`` through the
    package's own imports (top-level AND function-local — the regex
    scans the whole source). One pass per module, memoized."""
    if modname in _DEP_CACHE:
        return _DEP_CACHE[modname]
    seen = seen if seen is not None else set()
    if modname in seen:
        return set()
    seen.add(modname)
    rel = _module_rel_file(modname)
    if rel is None:
        return set()
    files = {rel}
    try:
        with open(os.path.join(_REPO, rel)) as f:
            src = f.read()
    except OSError:
        return files
    for dots_or_abs, names in _IMPORT_RE.findall(src):
        if dots_or_abs.startswith("."):
            dots = dots_or_abs[: len(dots_or_abs) - len(dots_or_abs.lstrip("."))]
            tail = dots_or_abs.lstrip(".")
            target = _resolve_relative(modname, dots, tail)
        else:
            target = dots_or_abs
        sub = _module_dep_files(target, seen)
        files |= sub
        # `from .pkg import mod` style: each imported name may itself
        # be a module of the target package
        for nm in names.replace("(", "").replace(")", "").split(","):
            nm = nm.strip().split(" as ")[0]
            if nm:
                files |= _module_dep_files(f"{target}.{nm}", seen)
    _DEP_CACHE[modname] = files
    return files


def query_dep_files(name: str) -> set:
    """Repo-relative source files a registered query's result can
    depend on: its defining contract module plus everything that module
    (transitively) imports inside the package."""
    fn = contract.QUERIES.get(name)
    if fn is None:
        return set()
    return _module_dep_files(fn.__module__)


def changed_package_files_since_round(prev_round: int) -> set | None:
    """Package files changed (committed or worktree) since the baseline
    round's archived bench payload was committed. None = provenance
    unavailable (no git / artifact never committed) — callers must then
    skip the unchanged-code judgement rather than guess."""
    import subprocess

    try:
        base = subprocess.run(
            ["git", "-C", _REPO, "log", "-1", "--format=%H", "--",
             f"BENCHFULL_r{prev_round}.json"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        if not base:
            return None
        diff = subprocess.run(
            ["git", "-C", _REPO, "diff", "--name-only", base, "--", _PKG],
            capture_output=True, text=True, timeout=10,
        )
        if diff.returncode != 0:
            return None
        return {l.strip() for l in diff.stdout.splitlines() if l.strip()}
    except Exception:
        return None


def split_unchanged_code_flags(
    flagged: dict, dep_files_of, changed: set | None
) -> tuple:
    """Partition regression flags into (clean, retime_required).

    A flag whose query's entire dependency-file set is untouched since
    the baseline round CANNOT be a code regression — it is host noise
    until an isolated re-time proves otherwise, so it is reported under
    ``regressions_retime_required`` instead of as a clean regression
    (round-7 What's-wrong #1: four unchanged-code flags shipped
    untriaged). ``changed=None`` (no provenance) keeps every flag in
    the clean set — never silently suppress without evidence."""
    if changed is None:
        return dict(flagged), {}
    clean, retime = {}, {}
    for name, entry in flagged.items():
        deps = dep_files_of(name)
        if deps and not (deps & changed):
            retime[name] = dict(
                entry,
                note="code untouched since baseline round — host-noise "
                "suspect; isolated re-time required before acting",
            )
        else:
            clean[name] = entry
    return clean, retime


def main() -> None:
    spark = get_spark(app_name="bdws-bench")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # Warm the JVM + parquet footers + Arrow Python-worker pool once so
    # per-query timings measure the query, not session startup: building a
    # table's InMemoryFileIndex and first-touch codegen costs ~1s each and
    # would otherwise be billed to whichever query happens to read the
    # table first.
    from bigdata_weather_system_spark.schemas import TESTDATA_TABLES  # noqa: E402
    from bigdata_weather_system_spark.sources.tables import load_table  # noqa: E402

    for t in TESTDATA_TABLES:
        load_table(spark, SF_DIR, t).count()
    contract.QUERIES["topk_events_by_value"](spark, SF_DIR).toPandas()
    from pyspark.sql import functions as F  # noqa: E402
    from pyspark.sql.types import LongType  # noqa: E402

    @F.pandas_udf(LongType())
    def _noop(s):
        return s

    spark.range(1000).select(_noop("id")).collect()

    # Host-load sentinel (round-5 What's-wrong #5: the driver's bench ran
    # on a loaded box, inflating ~25 queries >1.5× that the judge could
    # not reproduce): re-time 3 fixed cheap queries at sweep start and
    # end; if either pass drifts >1.3× above the historical floor, stamp
    # the artifact load_suspect so the regression comparator and readers
    # know the absolute numbers are contaminated.
    SENTINELS = ["average_day", "distinct_event_days", "value_tier_case"]

    def _time_sentinels() -> dict[str, float]:
        meas: dict[str, float] = {}
        for s in SENTINELS:
            fn = contract.QUERIES.get(s)
            if fn is None:
                continue
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                fn(spark, SF_DIR).toPandas()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            meas[s] = round(best, 4)
        return meas

    sent_start = _time_sentinels()

    # Driver-window mode (round-8 What's-wrong #2: the full best-of-2/3
    # sweep stopped fitting a suspension-prone host's execution window —
    # both r8 driver benches DNF'd on time). SPARK_GRAFT_BENCH_REPS=1
    # times each query ONCE (and skips the disagreement third), roughly
    # halving wall-clock so a complete rc=0 one-line artifact exists even
    # on a slow host; the artifact records the deviation via "bench_reps".
    # Default (2) keeps the committed best-of-2/3 methodology unchanged.
    try:
        reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    except ValueError:
        reps = 2

    # Mid-run probes at the interior quartile boundaries (round-7 blind
    # spot: contamination persisting past the first quartile escaped the
    # fixed start-zone rule) — the suspect zone then follows the
    # MEASURED load decay, costing 3 extra cheap probe passes per sweep.
    n_bench = len(BENCH_QUERIES)
    probe_points = {
        max(1, round(n_bench * k / 4)) for k in (1, 2, 3)
    } - {0, n_bench}
    mid_probes: list[dict[str, float]] = []
    _probes_taken: set[int] = set()

    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        if len(timings) in probe_points and len(timings) not in _probes_taken:
            _probes_taken.add(len(timings))
            mid_probes.append(_time_sentinels())
        fn = contract.QUERIES.get(name)
        if fn is None:
            continue
        # Best-of-N: the first execution of a query shape pays one-time
        # driver costs (Janino codegen compile, broadcast warm-up) of up
        # to several seconds that land unpredictably, and this host has
        # noisy-neighbor CPU contention that can inflate any single run
        # several-fold. Run twice; if the two samples disagree by >30%
        # the box was loaded during one of them — take a third. Report
        # the min (steady-state engine throughput for the plan).
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            rows = fn(spark, SF_DIR).toPandas()
            samples.append(time.perf_counter() - t0)
            assert rows is not None
        if reps > 1 and max(samples) > 1.3 * min(samples):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).toPandas()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 4)
        # drop per-query operator caches (graph/dedup internals pin
        # relations they cannot unpersist before a lazy return) so a
        # 300-query sweep doesn't accumulate executor storage
        spark.catalog.clearCache()
        # stream each timing as its own line so a stdout-tail capture
        # keeps as many as fit even if the summary were ever lost
        print(json.dumps({"q": name, "sec": timings[name]}), flush=True)
    sent_end = _time_sentinels()
    sentinel = {
        s: round(min(sent_start[s], sent_end[s]), 4)
        for s in sent_start
        if s in sent_end
    }
    floors: dict[str, float] = {}
    for e in benchhist_entries():
        for s, v in (e.get("sentinel") or {}).items():
            try:
                v = float(v)
            except (TypeError, ValueError):
                continue
            floors[s] = min(floors.get(s, v), v)
    # Whole-run flag only when BOTH probe points exceed the floor (a
    # max() rule left the flag permanently on — start probes run right
    # after table warming and sit ~1.5x the quiet floor on a healthy
    # box). One-sided contamination (start-loaded/end-quiet or the
    # reverse) suppresses only the quartile of queries executed nearest
    # the loaded probe — see load_suspect_zones.
    load_suspect, suspect_zone = load_suspect_zones(
        sent_start, sent_end, floors, list(timings), mid_probes=mid_probes
    )
    total = round(sum(timings.values()), 4)
    sfv = float(sf) if sf.replace(".", "").isdigit() else sf
    prev_round, prev = previous_round_queries(sfv)
    # A regression claim is only meaningful against a (near-)complete
    # baseline: round 4 compared against a tail-truncated ~15-query set
    # and committed a false "zero regressions". Require >=80% coverage
    # of the CURRENT query set; below that, suppress the comparison and
    # say so instead of reporting an empty dict that reads as "clean".
    common = [k for k in timings if k in prev]
    coverage = len(common) / len(timings) if timings else 0.0
    coverage_ok = coverage >= 0.8
    def _regressed(name, t):
        return (
            name in prev
            and prev[name] > 0
            and t > prev[name] * REGRESSION_RATIO
            and t - prev[name] > REGRESSION_FLOOR_SEC
        )

    def _entry(name, t):
        return {
            "prev": prev[name],
            "now": t,
            "ratio": round(t / prev[name], 2),
        }

    regressions = (
        {
            name: _entry(name, t)
            for name, t in timings.items()
            if _regressed(name, t) and name not in suspect_zone
        }
        if coverage_ok
        else {}
    )
    # Flags on code untouched since the baseline round cannot be code
    # regressions — report them as retime-required, never clean (round-7
    # What's-wrong #1). prev_round=None → no baseline → regressions is
    # already empty.
    retime_required: dict = {}
    if regressions and prev_round is not None:
        regressions, retime_required = split_unchanged_code_flags(
            regressions,
            query_dep_files,
            changed_package_files_since_round(prev_round),
        )
    # Would-be regressions inside a one-sided load window are reported
    # separately, never as clean regressions — they need a standalone
    # re-time before anyone acts on them.
    zone_suppressed = (
        {
            name: _entry(name, t)
            for name, t in timings.items()
            if _regressed(name, t) and name in suspect_zone
        }
        if coverage_ok and suspect_zone and not load_suspect
        else {}
    )
    def _git_head() -> str | None:
        import subprocess

        try:
            return (
                subprocess.run(
                    ["git", "-C", _REPO, "rev-parse", "--short", "HEAD"],
                    capture_output=True,
                    text=True,
                    timeout=10,
                ).stdout.strip()
                or None
            )
        except Exception:
            return None

    full = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        # generating commit: artifact-freshness provenance (round-7
        # What's-wrong #2 — a parity artifact predated one source commit
        # and nothing recorded that)
        "commit": _git_head(),
        "queries": timings,
        "sf": sfv,
        "sentinel": {
            "start": sent_start,
            "mid": mid_probes or None,
            "end": sent_end,
            "floors": floors or None,
            "load_suspect": load_suspect,
        },
    }
    # compact LAST line — the one artifact that must survive tail capture.
    # Per-query detail goes to bench_full.json; the line itself carries
    # only bounded fields (slowest-8 + regressions, capped).
    out = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "sf": sfv,
        "n_queries": len(timings),
        "queries_file": "bench_full.json",
        "slowest": dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:8]
        ),
    }
    if load_suspect:
        out["load_suspect"] = True
    if reps != 2:
        # non-default repetition count: timings are single-shot (or
        # deeper) rather than the standard best-of-2/3 — comparable in
        # coverage, noisier (or tighter) per query
        out["bench_reps"] = reps
        full["bench_reps"] = reps
    if prev_round is not None:
        prev_total = round(sum(prev[k] for k in common), 4)
        for d in (out, full):
            d["prev_round"] = prev_round
            d["prev_total"] = prev_total
            d["prev_coverage"] = round(coverage, 3)
        if coverage_ok and load_suspect:
            # the comparator honors the sentinel: per-query ratios from a
            # contaminated run would flag phantom regressions (round 5
            # shipped ~25 of them)
            note = (
                "host-load sentinel exceeded 1.3x its historical floor; "
                "absolute timings unreliable, regression comparison "
                "suppressed"
            )
            full["regressions_suppressed"] = note
            out["regressions_suppressed"] = note
        elif coverage_ok:
            full["regressions"] = regressions
            out["regressions"] = dict(
                sorted(
                    regressions.items(), key=lambda kv: -kv[1]["ratio"]
                )[:10]
            )
            if retime_required:
                full["regressions_retime_required"] = retime_required
                out["regressions_retime_required"] = dict(
                    sorted(
                        retime_required.items(),
                        key=lambda kv: -kv[1]["ratio"],
                    )[:5]
                )
            if zone_suppressed:
                note_zone = (
                    "load window (one or more sentinel probes exceeded "
                    "the floor); would-be regressions in the execution "
                    "segments bounded by a loaded probe need a "
                    "standalone re-time"
                )
                full["regressions_suppressed_zone"] = {
                    "note": note_zone,
                    "queries": zone_suppressed,
                }
                out["regressions_suppressed_zone"] = dict(
                    sorted(
                        zone_suppressed.items(),
                        key=lambda kv: -kv[1]["ratio"],
                    )[:5]
                )
        else:
            note = (
                f"baseline covers only {len(common)}/{len(timings)} "
                "current queries (<80%); regression comparison suppressed"
            )
            full["regressions_suppressed"] = note
            out["regressions_suppressed"] = note
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_full.json"), "w") as f:
        json.dump(full, f, indent=1)
    # Archive the COMPLETE per-query payload per round so future rounds
    # always have a full-coverage baseline (the committed BENCHFULL_r{N}
    # files are what previous_round_queries prefers). Only the canonical
    # sf0.1 run is archived — ad-hoc sf0.01 iteration must not overwrite
    # the round's snapshot.
    # Non-default reps runs are never archived as round baselines:
    # single-shot timings would contaminate future regression comparisons
    # that assume best-of-2/3 noise characteristics.
    if sfv == 0.1 and reps == 2:
        arch = os.path.join(here, f"BENCHFULL_r{current_round()}.json")
        with open(arch, "w") as f:
            json.dump(full, f, indent=1)
        # Append-only run history: the baseline source for future runs
        # (first-entry-per-live-group == prior round's close; see
        # benchhist_baseline). Never rewritten, so mid-round iteration
        # can't shift the round's baseline.
        head = _git_head()
        entry = {
            "live": current_round(),
            "ts": round(time.time(), 1),
            "head": head,
            "sf": sfv,
            "total": total,
            "sentinel": sentinel,
            "load_suspect": load_suspect,
            "queries": timings,
        }
        # Round-close runs (tools/round_close.py exports this) are
        # stamped so benchhist_baseline can prefer them as the round's
        # final-code measurement regardless of driver sequencing.
        if os.environ.get("SPARK_GRAFT_BENCH_ROLE") == "close":
            entry["close"] = True
        benchhist_append(entry)
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
