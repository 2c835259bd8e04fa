"""Engine benchmark and the per-query run loop every timing tool shares.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``. Stdout carries
one compact JSON line per query as it finishes ({"q", "s", "c"}) and
ends with the summary JSON line {"metric", "value", "unit", "queries"
(slowest 10), "sf", "n_queries", "full_record"}. The summary is LAST
and under 700 chars, so a bounded stdout tail always keeps it whole: a
full per-query map is ~7 KB and does not fit a 2000-char tail. Spark
console progress is disabled in the session so no non-JSON line lands
between them.

Every query goes through ``run_query``, the loop ``tools/profile_queries.py``
and ``tools/scale_experiment.py`` use too: three runs, each building
the query and forcing it end to end into the noop sink (full
computation, no collect into Python), with the cache cleared after
every run so a builder-side persist() is paid by every run, never
served back from run 1's blocks. Cold time is run 1. Warm time is the
best of runs 2-3, because single warm samples showed GC outliers on a
long suite. A JVM/catalog warmup query runs first in every session so
the numbers are execution, not session bootstrap.

The full record (``BENCH_LOCAL.json`` for a canonical run;
``record_target`` names the others) holds, per query:

- ``queries``: the best warm time, and ``cold``: the cold time;
- ``warm_runs``: the best warm run's ``build_s`` (builder, including
  the jobs it runs eagerly), ``exec_s`` (the noop write), ``jobs``,
  ``stages`` and ``compiles`` (codegen classes compiled);
  ``build_s + exec_s`` is the warm time up to rounding;
- ``loads``: the 1-min load average when the query started, and
  ``warm_spreads``: the ratio of its two warm runs;
- ``errors`` and ``regressions``, when there are any.

It also holds the suite totals (``value``, ``cold_seconds``,
``diag_seconds``), the sf and core count, the load stamps
(``ambient_load``, ``chunk_loads``) and the throttle check against the
previous record (``gradient_status``, ``chunk_drift``).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one representative per operator family, heaviest first.
HEADLINE = [
    "agg_hash_group",
    "agg_distinct_count",
    "agg_rollup",
    "join_hash_equi",
    "join_broadcast_lookup",
    "join_asof_event",
    "window_rank_topn_per_group",
    "window_running_sum",
    "sort_limit_topk",
    "dedup_exact",
    "dedup_minhash_near",
    "sim_search_topk",
    "text_analysis_stats",
    "text_tfidf_terms",
    # appended r2 (order frozen; append-only so per-query deltas stay
    # comparable across rounds)
    "jwt_verify",
    "error_route",
    "fn_array",
    "scan_parquet",
    "sink_parquet_partitioned",
    "join_bucketed_colocated",
    "sql_tpch_q3_shape",
    "sql_tpch_q5_shape",
    # appended r2 wave 2
    "window_sessionize",
    "sim_knn_join",
    "agg_hll_merge",
    "sink_sorted_clustered",
    # appended r2 wave 3
    "window_trailing_range",
    "agg_bitmap_distinct",
    "agg_window_funnel",
    "agg_stats_moments",
    "dedup_cluster_cc",
    "text_ngram_counts",
    "join_dim_scd2",
    "sql_tpch_q7_shape",
    "sql_tpch_q10_shape",
    # appended r2 wave 4
    "agg_rolling_actives",
    "text_contamination_check",
    "join_asof_forward",
    "agg_retention_cohorts",
    # appended r2 wave 5
    "pipeline_training_data",
    "quality_report",
    # appended r3
    "join_bloom_pruned",
    "window_scd2_build",
    "text_token_budget_pack",
    "text_pii_redact",
    "sample_mixture_rebalance",
    "sim_search_range",
    # appended r3 wave 2
    "window_anomaly_zscore",
    "agg_psi_drift",
    "agg_timeseries_gapfill",
    "text_unigram_logprob",
    "pipeline_pretrain_corpus",
    "ml_kmeans_lloyd",
    "agg_partial_reaggregate",
    # appended r3 wave 3
    "text_doc_chunking",
    "text_repetition_filter",
    "sample_group_cap",
    "cdc_snapshot_diff",
    "graph_pagerank_iter",
    "embed_normalize_quantize",
    # appended r3 wave 4
    "sql_tpch_q18_shape",
    "window_gap_islands",
    "window_rolling_median",
    "sample_train_test_split",
    # appended r4
    "dedup_containment",
    "join_asof_nearest",
    "agg_mode",
    "sink_zorder_clustered",
    # appended r4 wave 2
    "text_line_dedup",
    "sample_shuffle_shards",
    "window_ewma_smooth",
    "join_interval_overlap",
    "graph_triangle_count",
    # appended r4 wave 3
    "sql_tpch_q1_shape",
    "sql_tpch_q4_shape",
    "sql_tpch_q6_shape",
    "sql_tpch_q14_shape",
    "agg_corr_matrix",
    "window_pct_change",
    "join_null_safe",
    # appended r4 wave 4 — the remaining TPC-H shapes (full 22)
    "sql_tpch_q2_shape",
    "sql_tpch_q8_shape",
    "sql_tpch_q9_shape",
    "sql_tpch_q11_shape",
    "sql_tpch_q12_shape",
    "sql_tpch_q13_shape",
    "sql_tpch_q15_shape",
    "sql_tpch_q16_shape",
    "sql_tpch_q17_shape",
    "sql_tpch_q19_shape",
    "sql_tpch_q20_shape",
    "sql_tpch_q21_shape",
    "sql_tpch_q22_shape",
    # appended r4 wave 5
    "agg_linear_regression",
    "agg_entropy",
    "window_attribution_last_touch",
    "join_existence_mark",
    "cdc_apply_changes",
    # appended r4 wave 6
    "agg_markov_transitions",
    "agg_robust_mad",
    "fn_struct",
    "graph_degree_distribution",
    # appended r4 wave 7
    "window_time_weighted_avg",
    "agg_ohlc_bars",
    "stream_topk_per_window",
    # appended r4 wave 8
    "join_lateral_topk",
    "window_forward_fill",
    # appended r4 wave 9
    "window_linear_interpolate",
    "agg_weighted_median",
    # appended r4 wave 10
    "agg_audience_overlap",
    "agg_ab_test_ttest",
    "window_rank_change",
    # appended r4 wave 11
    "sample_bootstrap_poisson",
    "agg_gini_coefficient",
    "window_max_drawdown",
    # appended r4 wave 12
    "agg_survival_curve",
    # appended r4 wave 13
    "agg_basket_affinity",
    "window_cusum_detect",
    "graph_common_neighbors",
    # appended r4 wave 14
    "text_bm25_rank",
    "agg_chi_square",
    "window_rolling_corr",
    # appended r4 wave 15
    "agg_benford_digit",
    "ml_naive_bayes",
    "text_pmi_cooccur",
    # appended r4 wave 16
    "join_feature_store_pit",
    "agg_count_min_sketch",
    "window_bollinger_bands",
    # appended r4 wave 17
    "window_seasonal_decompose",
    "text_zipf_fit",
    "agg_bounce_rate",
    # appended r4 wave 18
    # scan_metadata_stats dropped from HEADLINE in r7 (r6 verdict: its
    # exact countDistinct Expand was a top-5 cost and is NOT the plan
    # you'd run at 100 TB). It stays registered + driver-gated as the
    # audit query; the HLL twin scan_metadata_stats_approx (already a
    # headliner below) is the benched path.
    "sink_compaction",
    # appended r4 wave 19
    "pipeline_feature_dataset",
    # appended r4 wave 20
    "agg_lorenz_curve",
    "window_rsi",
    # appended r4 wave 21
    "text_bigram_perplexity",
    # appended r4 wave 22
    "quality_referential_integrity",
    # appended r5
    "scan_metadata_stats_approx",
    # appended r5 wave 2
    "ml_feature_scaling",
    "agg_decay_sum",
    "join_grid_proximity",
    "scan_manifest_pruned",
    "sink_merge_upsert",
    # appended r5 wave 3
    "window_vwap",
    "agg_cohort_ltv",
    "scan_incremental_watermark",
    "sample_stratified_neyman",
    "quality_key_skew_report",
    # appended r5 wave 4
    "fn_variant",
    # fn_udtf_installments dropped from HEADLINE in r6 (was 2.7 s —
    # the one Python-row-path key in the slowest-10). It stays
    # registered + driver-correctness-gated as the Spark-4 UDTF
    # surface demo; its codegen twin below is the benched path.
    "view_incremental_refresh",
    # appended r5 wave 5
    "agg_rfm_segments",
    "agg_abc_classification",
    "agg_conversion_latency",
    "agg_fulfillment_latency",
    "agg_new_vs_returning",
    "window_streak_detection",
    # agg_stickiness_dau_mau swapped for its HLL twin in r7 (same
    # exact-as-audit / approx-as-headline policy as scan_metadata_stats)
    # appended r5 wave 7 — NOTE: a 5-round iterative algorithm; its
    # ~10 s at sf0.1 is 5 sequential join+agg jobs plus setup, not a
    # plan defect (see docstring + BASELINE.md)
    "graph_pagerank_converged",
    "ml_kmeans_converged",
    "quality_expectations",
    # appended r6: codegen twin replacing the UDTF in the benched set
    "fn_installments_codegen",
    # appended r7: the two r6 stowaways (now SURVEY-documented), the
    # stickiness HLL twin, and the distributed-rank rewrite showcase
    "agg_hdr_histogram_pctl",
    "sql_recursive_hierarchy",
    "agg_stickiness_dau_mau_approx",
    "window_ntile_percentile",
    # appended r8: the new LLM-pipeline + privacy/sampling operators
    "dedup_semdedup",
    "text_quality_gopher",
    "sample_temperature_mixture",
    "embed_mrl_truncate",
    "pipeline_dedup_cascade",
    "sample_bottom_k_sketch",
    "agg_dp_count_laplace",
    "stream_static_enrich",
    "agg_ks_test_two_sample",
    "agg_roc_auc_rank",
    "embed_pq_encode",
    "agg_audience_overlap_approx",
    # appended r9: web-corpus stage-zero + substring-span dedup
    # (stream_session_window_state is registered + driver-gated but,
    # like the other multi-phase streaming harnesses, not benched —
    # its wall-clock is checkpoint/restart choreography, not plan
    # execution)
    "dedup_url_canonical",
    "dedup_substring_span",
    "dedup_substring_scrub",
    "dedup_incremental_minhash",
    "sim_search_pq_adc",
    "window_holt_forecast",
    # promoted r11 (r10 verdict item 1; both meet the promotion rule:
    # new plan shapes — composed IVF+PQ probe-pruned ADC scan, and a
    # bounded-round label-propagation join+agg loop — and both >=0.5 s
    # at sf0.1)
    "sim_search_ivfpq_topk",
    "graph_label_propagation",
    # r11-new key meeting the promotion rule (iterative degree-peel
    # shape — per-round degree agg + edge restriction — not otherwise
    # represented; >=0.5 s at sf0.1). The other 19 r11 keys are small
    # or shape-covered and stay driver-gated only: adamic_adar is the
    # common-neighbors self-join shape, gbm the stump's level-table
    # shape, the rest sub-second single-agg/window/scan plans.
    "graph_k_core",
    # r12 promotions (r11 verdict item 1): the calendar-bounded
    # pairwise-slopes shape had NO committed row anywhere — theil_sen
    # was ~11 s (single-reducer exact percentile over 2.9 M slopes,
    # histogram-pruned to ~1.3 s in r12) and mann_kendall is the same
    # pair generation + sign agg; both >=0.5 s at sf0.1 and the shape
    # is otherwise unrepresented, so both enter HEADLINE + the diag
    # lane to keep the shape drift-visible.
    "window_theil_sen",
    "window_mann_kendall",
    # r12-new keys meeting the promotion rule: the classifier is the
    # corpus-scan-bound hashed-model projection (~2 s sf0.1), the BPE
    # counter is the vocab-dedup -> per-word compute -> broadcast-back
    # shape not otherwise represented (~1.6 s sf0.1)
    "text_quality_classifier",
    "text_bpe_token_count",
    # r12 wave-2/3 keys meeting the promotion rule (warm sf0.1 from
    # the 100x audit run): bounded-round GD over a persisted level
    # table (2.3 s), BFS layers over the hub-capped co-supply graph
    # (2.3 s, iterative), power-sums + scalar power iteration (1.4 s),
    # JL dense-fold projection (1.3 s), geohash/haversine map family
    # (1.5 s), the halving reagg cascade (1.0 s), and the reliability-
    # bin window (0.5 s)
    "ml_logistic_regression_gd",
    "graph_bfs_layers",
    "ml_pca_power_iteration",
    "embed_jl_project",
    "fn_geo",
    "agg_haar_wavelet",
    "quality_calibration_bins",
    # the wave-4 composed capstone (1.6 s sf0.1, 2.8x at 100x)
    "pipeline_quality_gate",
    # wave-5: the closed-form trainer (1.4 s sf0.1, 3.1x at 100x)
    "ml_ridge_closed_form",
    # wave-5: binary-modality near-dup (2.3 s sf0.1, 2.3x at 100x)
    "multimodal_phash_dedup",
    # r13: copy-on-write MERGE on the txn log (0.5 s sf0.1; new
    # shape — stats-pruned file rewrite + atomic commit + schema-merge
    # read)
    "sink_txn_log_merge",
    # r13: persisted-index substring-span probe (0.6 s sf0.1; new
    # shape — asymmetric probe of a cross-run scratch index)
    "dedup_incremental_substring",
    # r13: checkpointed-log reader (0.7 s sf0.1; new shape — latest
    # checkpoint + commit-suffix replay)
    "scan_txn_log_checkpoint",
    # r13: retention vacuum (metadata-only planning; reader of the
    # vacuumed table — state must hash identically to pre-vacuum)
    "sink_txn_log_vacuum",
    # r14: binary-in/binary-out mapInPandas resize + same-stage scalar
    # audit (0.8 s warm sf0.1; the Python binary-modality stage shape)
    "multimodal_resize",
    # r14: native XML rowTag scan with corrupt-field routing (1.1 s
    # warm sf0.1; record-splitting text-format shape, r13-new)
    "scan_xml",
    # r14: multi-writer CAS conflict — log fold + 3-file read-back
    # after the race resolves (0.7 s warm sf0.1; new protocol shape)
    "sink_txn_log_conflict",
    # r14: log-owned schema evolution — per-generation NULL projection
    # union over 3 schema generations (0.9 s warm sf0.1; new shape)
    "sink_txn_log_schema_evolution",
    # r14: change data feed between versions — per-commit pre/post
    # pivot diff (1.5 s warm sf0.1; new shape: tag-union single-
    # exchange diff, O(changed files))
    "scan_txn_log_cdf",
    # r14 wave 2: RESTORE TO VERSION — metadata-only undo commit +
    # restored-state read-back (0.6 s warm sf0.1)
    "sink_txn_log_restore",
    # r14 wave 2: AS OF TIMESTAMP travel — 7-probe resolver matrix
    # over 3 snapshots (1.5 s warm sf0.1; multi-snapshot union shape)
    "scan_txn_log_as_of_ts",
    # r15: deletion vectors — merge-on-read DELETE; 4 versioned
    # snapshot reads, DV'd files apply a broadcast anti-join on
    # parquet _metadata positions (new protocol shape)
    "sink_txn_log_delete_vectors",
    # r15: column mapping — RENAME/DROP as log metadata; generation-
    # grouped physical→logical projection read (new shape)
    "sink_txn_log_column_mapping",
    # r15: avro interchange scan — Python DataSource decode of the
    # object-container format, Arrow batch per avro block (new shape)
    "scan_avro",
    # r15 wave 2: OPTIMIZE ZORDER — stats-pruned scan over the
    # clustered rewrite (new protocol shape)
    "sink_txn_log_optimize_zorder",
    # r15 wave 2: partitioned txn table — partition-pruned scan +
    # metadata-only DELETE (new protocol shape)
    "sink_txn_log_partitioned",
    # (stream_txn_log_sink is EXEMPT from HEADLINE per the streaming-
    # harness clause, like stream_txn_log_tail: its cost is stream
    # start + four foreachBatch epochs, not plan execution)
    # r15 wave 3: CHECK constraints — batch-validated commit with a
    # rejected dirty submission (new protocol shape)
    "sink_txn_log_constraints",
    # r15 wave 3: shallow clone — zero-copy fork + divergent reads
    # across two logs (new protocol shape)
    "sink_txn_log_shallow_clone",
    # r15 wave 3: identity columns — hwm block allocation, two-pass
    # contiguous assignment (new protocol shape)
    "sink_txn_log_identity",
    # (stream_txn_log_tail is EXEMPT from HEADLINE per the streaming-
    # harness clause: its 6.0 s warm is stream start + one-commit-per-
    # batch offset choreography, not plan execution — BASELINE.md r14)
]
# HEADLINE is FROZEN as of r10 (r9 verdict item 8): it no longer grows
# mechanically with the registry. Promotion rule (documented in
# BASELINE.md "Headline promotion rule"): a new key enters HEADLINE
# only if it adds a plan shape not yet represented (new
# shuffle/join/iteration structure) or is expected >= 0.5 s at sf0.1;
# everything else is covered by the driver correctness gate +
# tools/verify_queries.py. Multi-phase streaming harnesses are never
# benched (their wall is checkpoint choreography, not plan execution).

# The ~60 SCALE-DIAGNOSTIC queries (r8 verdict item 7): the heavy /
# plan-interesting subset whose per-query drift must stay visible above
# suite noise — iterative algorithms, multi-shuffle joins+aggs, the
# blocked dedup/ANN families, the full TPC-H 22, and the composed
# pipelines. bench.py still RUNS the full HEADLINE every round (the
# regression gate's per-query coverage is unchanged); the summary line
# additionally reports this subset's total as "diag_seconds" so the
# scale signal is one stable ~60-query number while the long tail of
# sub-second operators stays in the audit lane of the full record.
SCALE_DIAGNOSTIC = [
    # iterative / multi-job
    "graph_bfs_layers",
    "ml_logistic_regression_gd",
    "ml_pca_power_iteration",
    "ml_ridge_closed_form",
    "graph_pagerank_converged",
    "graph_pagerank_iter",
    "graph_label_propagation",
    "graph_k_core",
    "ml_kmeans_converged",
    "ml_kmeans_lloyd",
    "dedup_cluster_cc",
    "sql_recursive_hierarchy",
    # graph
    "graph_triangle_count",
    "graph_common_neighbors",
    "graph_degree_distribution",
    # composed pipelines
    "pipeline_quality_gate",
    # dedup / ANN / embeddings (blocked-join families)
    "multimodal_phash_dedup",
    "embed_jl_project",
    "dedup_exact",
    "dedup_minhash_near",
    "dedup_containment",
    "dedup_semdedup",
    "dedup_substring_span",
    "dedup_substring_scrub",
    "dedup_incremental_minhash",
    "dedup_incremental_substring",
    "dedup_url_canonical",
    "pipeline_dedup_cascade",
    "sim_search_topk",
    "sim_knn_join",
    "sim_search_range",
    "embed_pq_encode",
    "sim_search_pq_adc",
    "sim_search_ivfpq_topk",
    "embed_mrl_truncate",
    "embed_normalize_quantize",
    # text corpus ops
    "text_tfidf_terms",
    "text_line_dedup",
    "text_bm25_rank",
    "text_contamination_check",
    "text_token_budget_pack",
    "text_quality_gopher",
    "text_bigram_perplexity",
    "text_quality_classifier",
    "text_bpe_token_count",
    # composed pipelines
    "pipeline_training_data",
    "pipeline_pretrain_corpus",
    "pipeline_feature_dataset",
    # heavy joins
    "join_asof_event",
    "join_asof_nearest",
    "join_bloom_pruned",
    "join_interval_overlap",
    "join_grid_proximity",
    "join_feature_store_pit",
    "join_bucketed_colocated",
    "join_dim_scd2",
    # heavy aggs / windows
    "agg_basket_affinity",
    "agg_rfm_segments",
    "agg_survival_curve",
    "agg_audience_overlap",
    "agg_corr_matrix",
    "agg_retention_cohorts",
    "agg_rolling_actives",
    "agg_window_funnel",
    "agg_hdr_histogram_pctl",
    "window_anomaly_zscore",
    "window_sessionize",
    "window_rolling_median",
    "window_scd2_build",
    "window_seasonal_decompose",
    "window_rolling_corr",
    "window_theil_sen",
    "window_mann_kendall",
    # TPC-H 22
    *[f"sql_tpch_q{i}_shape" for i in range(1, 23)],
    # scan/sink layout machinery
    "sink_zorder_clustered",
    "sink_sorted_clustered",
    "sink_compaction",
    "scan_manifest_pruned",
    "sink_merge_upsert",
]


def gradient_check(
    timings: dict[str, float],
    prev: dict[str, float],
    order: list[str],
    chunk: int | None = None,
) -> tuple[str, list[dict[str, float]]]:
    """Per-chunk median-drift diagnostic for sustained-load throttling.

    This host (LESSONS #42/#60) CPU-throttles after multi-hour heavy
    use with a distinctive signature: drift vs the committed record is
    a GRADIENT across session chunks — chunk 0 near 1.0x, later chunks
    1.2-1.55x — because the throttle deepens as the suite sustains
    load. A flat 1.3x run is a real regression (or a loaded host, which
    ambient_load catches); a RISING ramp is the throttle. Round 14
    caught three degraded record attempts (182-202 s vs the clean
    153 s) by running this check by hand; this function makes the
    rejection automatic so a degraded record can never be adopted.

    The r15 round hit the second throttle shape this ramp check cannot
    see: a run started AFTER hours of sustained load is throttled from
    chunk 0, so drift is FLAT at 1.3-1.6x with a quiet ambient_load
    (the load average had already decayed; the CPU budget had not).
    The discriminator vs a real regression is BREADTH: a code change
    moves the queries it touched, while the throttle moves everything
    — the r15 specimen drifted 1.585x median with >=60% of all 218
    queries above 1.15x, including untouched ones at 17x. A
    deliberate suite-wide change (a session conf) also trips this, by
    design: it lands in BENCH_DEGRADED.json and gets adopted via an
    explicit adjudication A/B instead of silently.

    Returns (status, per_chunk) where status is:
      - "degraded_host": EITHER the ramp — >=2 comparable chunks,
        first-chunk median drift <= 1.10, last-chunk >= 1.25, ramp
        monotone-ish (each chunk >= previous - 0.05) and total rise
        >= 0.20 — OR the uniform throttle: >= 50 comparable queries,
        overall median drift >= 1.25, and >= 60% of comparable
        queries drifted >= 1.15;
      - "insufficient": fewer than 2 chunks with >= 5 shared queries
        (nothing to adjudicate against);
      - "ok": otherwise.
    per_chunk carries {"chunk", "n", "median_drift"} for the record.
    """
    import statistics

    chunk = chunk or _CHUNK
    all_ratios = [
        timings[n] / prev[n]
        for n in order
        if n in timings and prev.get(n, 0) > 0
    ]
    per_chunk: list[dict[str, float]] = []
    for start in range(0, len(order), chunk):
        ratios = [
            timings[n] / prev[n]
            for n in order[start : start + chunk]
            if n in timings and prev.get(n, 0) > 0
        ]
        if ratios:
            per_chunk.append(
                {
                    "chunk": start // chunk,
                    "n": len(ratios),
                    "median_drift": round(statistics.median(ratios), 3),
                }
            )
    usable = [c for c in per_chunk if c["n"] >= 5]
    if len(usable) < 2:
        return "insufficient", per_chunk
    meds = [c["median_drift"] for c in usable]
    monotoneish = all(b >= a - 0.05 for a, b in zip(meds, meds[1:]))
    degraded = (
        meds[0] <= 1.10
        and meds[-1] >= 1.25
        and monotoneish
        and meds[-1] - meds[0] >= 0.20
    )
    if not degraded and len(all_ratios) >= 50:
        broad = sum(1 for r in all_ratios if r >= 1.15) / len(all_ratios)
        degraded = statistics.median(all_ratios) >= 1.25 and broad >= 0.60
    return ("degraded_host" if degraded else "ok"), per_chunk


def record_target(
    sf: float, cpus: int, prev_cpus: int | None, gradient_status: str
) -> str:
    """Which file this run's full record may write.

    Only a canonical-SF run at the committed record's core count may
    overwrite ``BENCH_LOCAL.json``, the regression-gate baseline; when
    that record names no core count, only a run at the default core
    count may. Every other run writes a sidecar named by its own sf and
    core count, so no run replaces a record taken at other settings. A
    throttle-degraded run is quarantined regardless.
    """
    if gradient_status == "degraded_host":
        return "BENCH_DEGRADED.json"
    if sf != 0.1:
        return f"BENCH_SMOKE_sf{sf:g}_c{cpus}.json"
    if cpus != (int(DEFAULT_CPUS) if prev_cpus is None else prev_cpus):
        return f"BENCH_SCALING_c{cpus}.json"
    return "BENCH_LOCAL.json"


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


DEFAULT_CPUS = "32"


def warm_session(app: str, cpus: str, extra_conf: dict[str, str] | None = None):
    """A fresh session with the catalog and codegen paths touched once."""
    from etl_8x8_spark.session import get_spark

    spark = get_spark(
        app, cpus=cpus, shuffle_partitions=int(cpus), extra_conf=extra_conf
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_session(spark) -> None:
    """Stop ``spark`` so that the next session in this JVM starts clean.

    The JVM-wide state store outlives the session: its maintenance
    thread keeps the old session's coordinator and, once a streaming
    query has run, logs a ``WARN StateStore: Error doing maintenance``
    with an ``RpcEndpointNotFoundException`` every interval after the
    restart. Stopping it first ends that thread; the next stateful
    query starts a new one.
    """
    spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()


def codegen_compiles(spark) -> int:
    """Classes whole-stage codegen has compiled in this JVM so far.

    Spark's compile timer counts every Janino compilation, driver- and
    task-side; a hit in the compiled-class cache is not counted.
    """
    jvm = spark.sparkContext._jvm
    timer = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return timer.getCount()


RUNS = 3


def run_query(spark, builder, sf_dir: str) -> list[dict]:
    """Build and execute one query ``RUNS`` times; one record per run.

    Each run's timed region is the builder call (``build_s``, which
    includes any job the builder runs eagerly) followed by a write to
    the noop sink (``exec_s``); ``s`` is their sum. The run's jobs and
    stages are counted from a ``statusTracker`` job group that is set
    and read outside the timed region, and so is ``compiles``, the
    classes codegen compiled during the run (``codegen_compiles``).

    The cache is cleared after every run, outside the timed region:
    identical analyzed plans hit the CacheManager otherwise, and runs
    2-3 would read run 1's persisted blocks instead of re-paying the
    builder's own materialization. A failing run also clears the cache
    and unsets the job group before the exception propagates. Both
    heaps are collected on the way out: clearCache misses
    localCheckpoint and broadcast blocks, which are freed only when
    their DataFrame is garbage-collected, and on a long suite the
    stragglers squeeze execution memory and inflate later queries 3-6x.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    runs: list[dict] = []
    try:
        for _ in range(RUNS):
            group = f"run_query-{uuid.uuid4().hex}"
            sc.setJobGroup(group, "run_query")
            compiled = codegen_compiles(spark)
            t0 = time.perf_counter()
            df = builder(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            sc._jsc.clearJobGroup()
            compiles = codegen_compiles(spark) - compiled
            job_ids = tracker.getJobIdsForGroup(group)
            runs.append(
                {
                    "s": round(t2 - t0, 3),
                    "build_s": round(t1 - t0, 3),
                    "exec_s": round(t2 - t1, 3),
                    "jobs": len(job_ids),
                    "stages": sum(
                        len(tracker.getJobInfo(j).stageIds or [])
                        for j in job_ids
                    ),
                    "compiles": compiles,
                }
            )
            spark.catalog.clearCache()
    except BaseException:
        sc._jsc.clearJobGroup()
        spark.catalog.clearCache()
        raise
    finally:
        gc.collect()
        sc._jvm.System.gc()
    return runs


def best_warm(runs: list[dict]) -> dict:
    """The fastest of the warm runs (all but run 1)."""
    return min(runs[1:], key=lambda r: r["s"])


# Queries per SparkSession: even with per-query clearCache + dual-heap
# GC, a 140-query session slowly accretes JVM state (code cache,
# broadcast cleanup backlogs, driver-side listener queues) that
# inflated the 10 slowest in-suite numbers 20-40% over their
# standalone times. A fresh session every N queries resets that
# baseline; the restart cost lands between queries, never inside a
# timing, and JIT-compiled code survives in the shared JVM.
_CHUNK = 45


def bench_env() -> tuple[str, str]:
    """The sf dir and core count the bench tools run at."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS)
    return sf_dir, cpus


def main() -> None:
    sf_dir, cpus = bench_env()

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    names = [n for n in HEADLINE if n in qs]

    spark = None

    # Ambient host load BEFORE our own JVM spins up: the only moment
    # the 1-min loadavg measures OTHER processes, not this suite. Two
    # same-code runs can differ 12% suite-wide, so gate flags must
    # carry their own adjudication evidence.
    ambient_load = round(os.getloadavg()[0], 2)
    noisy_host = ambient_load > 0.25 * int(cpus)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    warm_runs: dict[str, dict] = {}
    loads: dict[str, float] = {}
    spreads: dict[str, float] = {}
    errors: dict[str, str] = {}
    chunk_loads: list[float] = []
    for qi, name in enumerate(names):
        if qi % _CHUNK == 0:
            if spark is not None:
                stop_session(spark)
            # loadavg at each session boundary: a noisy window can
            # arrive mid-run, which one start-of-suite stamp cannot
            # adjudicate.
            chunk_loads.append(round(os.getloadavg()[0], 2))
            spark = warm_session("bench", cpus)
        # Per-query try/except: one broken builder must never zero the
        # whole bench signal.
        try:
            loads[name] = round(os.getloadavg()[0], 2)
            per_run = run_query(spark, qs[name], sf_dir)
        except Exception as exc:  # noqa: BLE001 — survive any query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(json.dumps({"q": name, "err": errors[name][:120]}), flush=True)
            continue
        best = best_warm(per_run)
        cold[name] = per_run[0]["s"]
        timings[name] = best["s"]
        warm_runs[name] = {k: v for k, v in best.items() if k != "s"}
        # warm-pair spread: a same-session repeat differing >30% is
        # scheduler/GC noise, not plan cost — per-query noise evidence
        # the regression gate reads below
        warm = [r["s"] for r in per_run[1:]]
        spreads[name] = round(max(warm) / max(min(warm), 1e-9), 2)
        # One compact line per query, so a stdout-tail window
        # truncates the OLDEST results, never the final summary line.
        print(
            json.dumps({"q": name, "s": timings[name], "c": cold[name]}),
            flush=True,
        )

    total = round(sum(timings.values()), 3)
    # Regression gate: diff this run against the previously COMMITTED
    # BENCH_LOCAL.json before overwriting it. A >1.5x per-query warm
    # slowdown with >=0.3 s absolute delta (the floor keeps 60 ms
    # queries from tripping on scheduler noise) is flagged loudly in
    # both the full record and the summary line: a 9x single-query
    # regression is invisible inside a suite total.
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    regressions: dict[str, dict[str, float]] = {}
    prev_cpus: int | None = None
    try:
        with open(sidecar) as fh:
            prev_full = json.load(fh)
        prev_cpus = prev_full.get("cpus")
        # Only a same-SF, same-core record is comparable: an sf0.001
        # smoke run against the sf0.1 record flags phantom ratios (and
        # vice versa hides real ones), and a low-core scaling run
        # against a 32-core record mis-adjudicates every query. A
        # record that names no core count is comparable to nothing.
        prev = (
            prev_full.get("queries", {})
            if prev_full.get("sf") == _sf_from_dir(sf_dir)
            and prev_cpus == int(cpus)
            else {}
        )
    except (OSError, ValueError):
        prev = {}
    for name, now_s in timings.items():
        was = prev.get(name)
        if was and was > 0 and now_s > was * 1.5 and now_s - was >= 0.3:
            # Separate "regression" from "noisy-host candidate": a flag
            # raised while the host was loaded by other work at suite
            # start, or whose own warm pair disagreed >30%, carries its
            # adjudication evidence with it — Lesson 36's protocol
            # starts from here instead of from a bare ratio.
            candidate = noisy_host or spreads.get(name, 1.0) > 1.3
            regressions[name] = {
                "prev_s": was,
                "now_s": now_s,
                "ratio": round(now_s / was, 2),
                "load": loads.get(name),
                "warm_spread": spreads.get(name),
                "status": (
                    "noisy-host-candidate" if candidate else "regression"
                ),
            }
    for name, r in sorted(regressions.items(), key=lambda kv: -kv[1]["ratio"]):
        print(json.dumps({"regression": name, **r}), flush=True)
    # LESSONS #60 throttle gate: a rising per-chunk drift ramp vs the
    # committed record means the host was throttling DURING this run —
    # the numbers are environment, not engine. Self-reject: never let
    # a degraded run overwrite the committed baseline.
    gradient_status, chunk_drift = gradient_check(timings, prev, names)
    if gradient_status == "degraded_host":
        print(
            json.dumps(
                {"gradient": "degraded_host", "chunks": chunk_drift}
            ),
            flush=True,
        )
    diag = {n: s for n, s in timings.items() if n in set(SCALE_DIAGNOSTIC)}
    full = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold": cold,
        "cold_seconds": round(sum(cold.values()), 3),
        "warm_runs": warm_runs,
        "sf": _sf_from_dir(sf_dir),
        "cpus": int(cpus),
        "n_queries": len(timings),
        "diag_seconds": round(sum(diag.values()), 3),
        "diag_n": len(diag),
        "ambient_load": ambient_load,
        "noisy_host": noisy_host,
        "chunk_loads": chunk_loads,
        "loads": loads,
        "warm_spreads": spreads,
        "gradient_status": gradient_status,
        "chunk_drift": chunk_drift,
    }
    if errors:
        full["errors"] = errors
    if regressions:
        full["regressions"] = regressions
    # The complete record is persisted as a file in the repo, so every
    # per-query number stays recoverable even when stdout is truncated,
    # and the final stdout line stays small enough to fit the tail.
    record_name = record_target(
        full["sf"], int(cpus), prev_cpus, gradient_status
    )
    sidecar = os.path.join(os.path.dirname(sidecar), record_name)
    with open(sidecar, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
        fh.write("\n")
    slowest10 = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    out = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": slowest10,  # slowest 10 only; full map in sidecar
        "cold_seconds": full["cold_seconds"],
        "sf": full["sf"],
        "n_queries": len(timings),
        "n_errors": len(errors),
        "n_regressions": len(regressions),
        "ambient_load": ambient_load,
        "noisy_host": noisy_host,
        "diag_seconds": full["diag_seconds"],
        "diag_n": full["diag_n"],
        "full_record": record_name,
    }
    if gradient_status == "degraded_host":
        out["status"] = "degraded_host"
    # The summary is the LAST stdout line, after the per-query stream,
    # so any tail window that holds >=1 line always holds the total,
    # and at <700 chars it parses from a 2000-char tail too.
    print(json.dumps(out), flush=True)
    if gradient_status == "degraded_host":
        # nonzero exit: no downstream automation can adopt this record
        sys.exit(3)


if __name__ == "__main__":
    main()
