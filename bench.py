"""Benchmark harness — the driver's per-round feedback loop.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query executes fully through the noop sink (no driver collect —
measures the distributed plan, not Arrow transfer). One warmup of the
lightest query absorbs JVM/codegen startup so per-query numbers reflect
steady state.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nthu_cs542200_parallel_programming_hw4_mapreduce_spark import registry
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.session import get_spark

# Timed in this order. python_datasource_scan runs first so it pays
# its Python-worker start-up at a young session's age; HEADLINE[1:31]
# is BENCH_CORE.
HEADLINE = [
    "python_datasource_scan", "wordcount_e2e", "agg_count", "tpch_q1",
    "join_equi", "join_multiway", "topk", "window_rank", "event_window",
    "tpch_q8", "tpch_q10", "tpch_q21", "text_quality", "lang_id",
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_embedding_cosine",
    "dedup_embedding_cosine_bucketed", "cosine_knn_exact", "ann_lsh_topk",
    "ann_ivf_topk", "tfidf_top_terms", "range_join_follow",
    "label_centroids", "dedup_lsh_jaccard_verified", "dedup_clusters",
    "pipeline_filter_quality", "text_repetition", "decontaminate_ngram",
    "sample_per_lang_topk", "train_split_hash", "stats_agg",
    "resample_ffill", "decontaminate_bloom", "kmeans_assign",
    "substring_dup_rate", "dedup_semdedup", "quality_gopher",
    "perplexity_unigram", "mixture_sample_temperature", "bm25_topk",
    "dsir_importance", "contamination_overlap", "pq_encode",
    "anomaly_zscore", "pmi_collocations", "funnel_conversion",
    "retention_cohorts", "multimodal_dedup", "window_range_frame",
    "zorder_layout", "incremental_rollup", "winsorized_stats",
    "snapshot_diff", "scd2_history", "compaction_bins", "data_expectations",
    "paragraph_dedup", "pagerank_events", "triangle_count",
    "streaming_stream_join", "table_profile", "heavy_hitters",
    "attribution_last_touch", "pca_project", "bpe_merges",
    "reachability_bfs", "dictionary_encode", "k_anonymity_suppress",
    "ndcg_at_10", "merge_upsert", "linreg_by_key", "json_quarantine",
    "streaming_topk", "arrow_udf_reverse", "null_semantics",
    "encode_corpus", "embedding_covariance", "bpe_first_merge",
    "pit_state_at_event", "ab_test_ztest", "markov_transitions",
    "skew_report", "join_nullsafe_keys", "delta_time_travel",
    "quantile_normalize", "variant_shred", "collated_distinct",
    "xml_ingest", "python_stream_source", "fuzzy_name_match",
    "lateral_join_topn", "udtf_analyze_split", "arrow_map_batches",
    "sql_udf_scoring", "sql_parameterized", "streaming_static_join",
    "streaming_dedup_watermarked", "schema_evolution_scan",
    "decayed_engagement", "sliding_distinct_users", "url_canonicalize",
    "lsh_quality_eval", "dup_cluster_histogram", "anomaly_mad",
    "abc_analysis", "funnel_weekly_trend", "latency_percentile_bands",
    "bounce_rate_daily", "readability_flesch", "revenue_yoy_growth",
    "drift_ks_test", "time_weighted_avg", "session_paths_topk",
    "value_histogram", "entropy_profile", "chi2_independence",
    "l_diversity_check", "tfidf_cosine_pairs", "gini_label_balance",
    "burst_detection", "vocab_growth_curve", "user_overlap_jaccard",
    "quality_deciles_approx", "session_paths_topk_salted",
    "bounce_rate_daily_salted", "ann_lsh_bands", "ann_ivf_cell_assign",
    "time_weighted_avg_salted", "event_session_salted",
    "dedup_embedding_band_keys", "drift_ks_binned", "pca_project_2d",
    "kmeans_two_rounds", "dedup_cross_snapshot_fuzzy",
    "context_window_lineage", "embedding_drift_by_label",
    "quality_score_auc", "score_calibration_bins", "label_agreement_kappa",
    "benford_first_digit", "kaplan_meier_conversion", "copurchase_pairs",
    "embedding_mahalanobis_outliers", "streaming_session_window",
    "weighted_sample_topk", "attribution_position_based",
    "pq_reconstruction_error", "json_schema_profile", "rfm_segmentation",
    "sql_pipe_syntax", "ann_mmr_rerank", "orc_scan",
    "decontaminate_substring", "streaming_stream_left_join",
    "referential_integrity_audit", "seasonality_dow", "snapshot_novelty",
    "split_cluster_safe", "pii_scrub_counts", "hll_user_reach",
    "tokenizer_fertility", "effective_token_budget", "mixture_rebalance",
    "decontaminate_normalized", "repetition_gate", "dedup_minhash_mllib",
    "quality_filter_funnel", "eval_contamination_report", "mixture_epochs",
    "lang_metadata_mismatch", "dedup_threshold_sweep",
    "dedup_threshold_sweep_sampled", "decontaminate_fuzzy",
    "snapshot_divergence_js", "multimodal_dhash_neardup",
    "multimodal_dhash_unique", "decontaminate_fuzzy_unique",
    "streaming_stateful",
]

# Cross-round anchor: the r1/r2-era headline set (the first 30 entries
# of HEADLINE from round 2 through 13, frozen as an explicit literal in
# round 14 when python_datasource_scan moved to the front of HEADLINE —
# same 30 names, same order, so the driver's cross-round core
# comparison is untouched). Only THESE per-query times go on the one
# printed JSON line — the driver's tail capture holds ~2 KB and the
# full 113-entry map overflowed it in round 3 (`"parsed": null`,
# VERDICT r3 "What's wrong" #2). The full per-query map is written to
# bench_full.json instead.
BENCH_CORE = [
    "wordcount_e2e", "agg_count", "tpch_q1", "join_equi", "join_multiway",
    "topk", "window_rank", "event_window", "tpch_q8", "tpch_q10",
    "tpch_q21", "text_quality", "lang_id", "dedup_exact",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_embedding_cosine", "dedup_embedding_cosine_bucketed",
    "cosine_knn_exact", "ann_lsh_topk", "ann_ivf_topk", "tfidf_top_terms",
    "range_join_follow", "label_centroids", "dedup_lsh_jaccard_verified",
    "dedup_clusters", "pipeline_filter_quality", "text_repetition",
    "decontaminate_ngram",
]


# Idle anchor of _calib_mt_ms on this host for the normalization
# factor below: 160.9 ms is the rounds-7-10 idle TYPICAL (idle runs
# sat 160-175 ms). Round 12 once observed a genuinely quieter window
# (137-142 ms — the co-runner fully absent), so this anchor is the
# DELIBERATELY CONSERVATIVE choice: normalized walls computed against
# 160.9 can only overstate (never flatter) the idle-equivalent time
# by the 137-vs-161 margin (~15%), which is the right bias for a
# benchmark record. Re-pin only if the host hardware changes or the
# sub-150 ms regime proves to be the durable idle state across
# rounds.
_CALIB_MT_IDLE_BEST_MS = 160.9


def _calib_ms() -> float:
    """Fixed-work single-thread calibration: 100k chained md5 digests,
    reported in ms. On an idle machine this sits in a tight band
    (~40-80 ms here); co-runner load inflates it roughly in proportion
    to CPU contention. Together with load1 it lets a reader tell
    driver-run bench noise from a real plan regression WITHOUT the
    forensic idle-rerun round 8 needed (VERDICT r8 #3)."""
    import hashlib

    t0 = time.perf_counter()
    h = b"spark-graft-calibration-block-64b-of-fixed-input-for-md5-loop!!"
    for _ in range(100_000):
        h = hashlib.md5(h).digest()
    return round((time.perf_counter() - t0) * 1000, 1)


def _calib_mt_ms() -> float:
    """Fixed-work ALL-CORES calibration: one thread per CPU, each
    hashing 64 × 1 MiB md5 blocks (hashlib releases the GIL for large
    buffers, so the threads genuinely saturate the cores). A loaded or
    host-throttled machine inflates this even when loadavg and the
    single-thread calibration look idle — 32-thread Spark stages feel
    exactly that contention while a 1-thread md5 loop does not
    (observed round 9: two same-code idle-loadavg runs 30% apart)."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    block = b"\xab" * (1 << 20)

    def work(_: int) -> None:
        for _ in range(64):
            hashlib.md5(block).digest()

    n = os.cpu_count() or 8
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=n) as ex:
        list(ex.map(work, range(n)))
    return round((time.perf_counter() - t0) * 1000, 1)


def _full_map_path(argv: list[str]) -> str:
    """Where the full per-query map lands (VERDICT r12 "Next round"
    #7): every invocation used to overwrite the repo-root
    bench_full.json, so a casual smoke run could clobber the pinned
    quiet anchor map — exactly what happened at the round-12 close.
    Now the default is a temp path; only an explicit ``--commit``
    writes the repo-root pinned map, and ``--out PATH`` lets sweeps
    direct the map anywhere. The printed driver line always reports
    the actual path in ``full_map``."""
    if "--commit" in argv:
        return os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
        )
    if "--out" in argv:
        return argv[argv.index("--out") + 1]
    return "/tmp/spark_graft_bench_full.latest.json"


def main() -> None:
    out_path = _full_map_path(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load1_start = round(os.getloadavg()[0], 2)
    calib_start = _calib_ms()
    calib_mt_start = _calib_mt_ms()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0  # unrecognized dir naming; real read errors surface below
    spark = get_spark("bench")
    # Tail hygiene (VERDICT r5 "Next round" #5): the driver captures
    # only ~2 KB of stdout+stderr tail; executor WARNs (WindowExec,
    # AQE notes) printed after the JSON line once nearly truncated it.
    # Benchmarks don't need WARN-level telemetry — errors still surface.
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()

    def run(name: str) -> float:
        # label jobs (guide §1.5) so UI/event-log forensics can map
        # stages back to the owning query; timing is unaffected
        spark.sparkContext.setJobDescription(f"bench:{name}")
        t0 = time.time()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        spark.sparkContext.setJobDescription(None)
        return wall

    run("scan_count")  # warmup: JVM + codegen + parquet footer caches
    # Also spin up the Python worker fleet + Arrow serde once, so the
    # mapInPandas queries (pq_encode, kmeans_assign) measure their scan,
    # not the one-time daemon startup (~5-10 s on 32 cores) — the same
    # steady-state rationale as the JVM warmup above.
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    warm = os.environ.get("SPARK_GRAFT_BENCH_WARM") == "1"
    if warm:  # steady-state mode: report the second execution per query
        for name in HEADLINE:
            run(name)
    timings = {name: round(run(name), 3) for name in HEADLINE}
    # Warm headline anchor (VERDICT r6 "Next round" #7): a second
    # execution of the 30-query core, so the driver-captured line
    # carries BOTH totals and cross-round steady-state comparisons no
    # longer depend on the gitignored bench_full_warm.json side file.
    warm_core = {name: round(run(name), 3) for name in BENCH_CORE}
    core_total_warm = round(sum(warm_core.values()), 3)
    # machine-load indicators bracketing the run (VERDICT r8 #3)
    load = {
        "load1": load1_start,
        "load1_end": round(os.getloadavg()[0], 2),
        "calib_ms": calib_start,
        "calib_ms_end": _calib_ms(),
        "calib_mt_ms": calib_mt_start,
        "calib_mt_ms_end": _calib_mt_ms(),
    }
    # Calib-normalized totals (VERDICT r11 "Next round" #5): wall ×
    # (idle-best calib_mt / observed calib_mt), so cross-round
    # comparisons under co-runner thread contention stop needing prose
    # caveats. 160.9 ms is the historical idle best of _calib_mt_ms on
    # this host (round-10 close); the factor uses the mean of the
    # bracketing probes. Approximate by construction — contention
    # varies within the run — so it rides NEXT TO the raw walls, never
    # replaces them.
    calib_mt_mean = (calib_mt_start + load["calib_mt_ms_end"]) / 2
    norm = round(min(1.0, _CALIB_MT_IDLE_BEST_MS / calib_mt_mean), 4)
    load["calib_norm_factor"] = norm
    # capture time rides only the full map (the compact line stays small)
    captured = {"captured_unix": int(time.time())}
    full = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_core_warm": warm_core,
        "core_total_warm": core_total_warm,
        "value_calib_norm": round(sum(timings.values()) * norm, 3),
        "core_total_calib_norm": round(
            sum(timings[n] for n in BENCH_CORE) * norm, 3
        ),
        "core_total_warm_calib_norm": round(core_total_warm * norm, 3),
        "sf": sf,
        **load,
        **captured,
    }
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1)
    # ONE compact line for the driver's ~2 KB tail capture: total over
    # all headline queries + the pinned 30-query cross-round core map
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": full["value"],
                "unit": "sec",
                "queries": {n: timings[n] for n in BENCH_CORE},
                "core_total": round(sum(timings[n] for n in BENCH_CORE), 3),
                "core_total_warm": core_total_warm,
                "core_total_calib_norm": full["core_total_calib_norm"],
                "n_queries": len(timings),
                "full_map": out_path,
                "sf": sf,
                **load,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
