"""BENCH harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from repcheck_data_integration_spark import registry  # noqa: E402
from repcheck_data_integration_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship plans plus the heaviest custom operators.
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "join_fuzzy_topk",
    "join_spatial",
    "snk_upsert",
    "win_current_role",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_search_topk",
    "text_quality_score",
    "stream_tumbling_window",
    "llm_summarize",
    "join_asof",
    "snk_scd2",
    "win_grouped_zscore",
    "agg_stats_moments",
    "text_tfidf_topterms",
    "join_range_interval",
    "ml_kmeans_refine",
    "stream_stream_join",
    "pipeline_enrich_merge",
    "dedup_winnowing_pairs",
    "text_chunk_windows",
    "sim_search_lsh_multiprobe",
    "dedup_contamination_ngrams",
    "pack_token_sequences",
    "pipeline_pretrain_corpus",
    "agg_corr_matrix",
    "dedup_keep_canonical",
    "sim_search_ivfpq",
    "text_bigram_xent",
    "mix_epoch_schedule",
    # round-4 flagships
    "text_classifier_score",
    "text_perplexity_buckets",
    "pipeline_corpus_curation_v3",
    "agg_quantile_histogram",
    "mm_audio_energy",
    "llm_eval_rouge",
    "emb_dim_stats",
    "stream_curation_pipeline",
    # round-4 second tranche
    "text_bm25_search",
    "dedup_semantic_contamination",
    "resolve_fs_score",
    "llm_eval_bleu",
    "join_bloom_prune",
    "events_attribution_linear",
    "graph_adamic_adar",
    "text_minhash_containment",
    # round-4 stats/ML + eval tranches
    "agg_kmv_sketch",
    "join_set_similarity",
    "ml_naive_bayes_lang",
    "ml_auc_roc",
    "rec_item_item_cosine",
    # round-4 continuation tranches
    "graph_hits",
    "text_dsir_weights",
    "dedup_repeated_ngrams",
    "graph_kcore",
    "ts_holt_linear",
    "win_hampel_filter",
    "events_regularity_score",
    "dq_fk_coverage",
    "sim_search_mips",
    "events_late_data_audit",
    "mix_annealing_schedule",
    "text_keyphrase_textrank",
    "agg_market_basket_rules",
    "join_spatial_area_weight",
    "ts_anomaly_seasonal",
    "ml_sprt_ab",
    "rec_slope_one",
    "graph_bfs_distance",
    "text_zipf_fit",
    "ml_spearman_corr",
    "graph_degree_assortativity",
    "text_heaps_fit",
    "llm_eval_chrf",
    "ml_boosted_stumps",
    "ts_pacf",
    "graph_modularity",
    "ml_kendall_tau",
    "win_drawdown",
    "text_code_detect",
    "ml_auc_pr",
    "ml_cohen_kappa",
    "agg_trimmed_mean",
    "text_kneser_ney_xent",
    "ts_dominant_period",
    "agg_lorenz_deciles",
    "src_fixed_width_scan",
    "ts_adf_test",
    "ml_two_proportion_ztest",
    "graph_katz_centrality",
    "ml_lasso_cd",
    "ml_mcnemar_test",
    "ml_brier_decomposition",
    "ts_dow_profile",
    "events_gesd_outliers",
    "src_zip_archive_scan",
    "priv_randomized_response",
    "emb_pair_cosine_histogram",
    "events_logrank_test",
    "ts_seasonal_strength",
    "ml_cmh_test",
    "text_watermark_score",
    "text_source_overlap_matrix",
    "graph_ktruss",
    "events_growth_accounting",
    "win_max_concurrency",
    "agg_penny_allocation",
    "snk_cdc_delta",
    "agg_delta_method_ratio",
    "resolve_survivorship",
    "join_phonetic_block",
    # round-5 additions
    "ml_bradley_terry",
    "llm_eval_edit_rate",
    "llm_rag_eval",
    "dedup_embedding_pairs",
    "dedup_cluster_stats",
    "events_sequence_patterns",
    "mix_token_budget_allocation",
    # round-5 continuation (calibration / sub-doc dedup / LPM / privacy)
    "ml_isotonic_calibration",
    "dedup_paragraphs_keep_first",
    "join_cidr_lookup",
    "priv_noisy_max",
    "text_pmi_collocations",
    "events_attribution_shapley",
    "ml_conformal_interval",
    "llm_hybrid_rrf",
    "ml_qini_uplift",
    "ml_srm_check",
    "src_sqlite_scan",
    "ml_diff_in_diff",
    "ml_tost_equivalence",
    "ml_ucb_allocation",
    # round-6 additions
    "text_token_count_bpe",
    "dedup_embedding_pairs_star",
    "dedup_embedding_pairs_capped",
    # round-9 additions (VERDICT r8 #1): the two slowest registry ops +
    # the exact-percentile machinery, previously bench-invisible. The two
    # split ops share one ckpt.shared_components build per session; the
    # FIRST trial of the first of them pays that build (visible in the
    # stderr trials list), min-of-2 reports the steady state the memo is
    # designed to deliver — PERF.md "Round-9 heavy-op rows" documents both
    # numbers.
    "split_leakage_safe",
    "dq_split_contamination",
    "agg_percentile_exact_distributed",
]

def drain(df) -> None:
    """Fully materialize every output column JVM-side. A bare .count() lets
    Catalyst prune the final projections (pure-map queries would be timed
    without evaluating their expressions); the noop sink evaluates every
    row and column with no Python/driver transfer."""
    df.write.format("noop").mode("overwrite").save()


def time_drains(spark, build, trials: int) -> list[float]:
    """Wall seconds of ``trials`` fresh builds-and-drains of ``build()``.

    Every trial calls ``build()`` for a NEW frame: re-draining one
    DataFrame object reuses its materialized shuffle outputs and times
    fiction. Before each trial, outside the timed span, ``clearCache()``
    drops what earlier trials persisted, so no trial is planned against
    another's InMemoryRelation and min-of-N never times a cache hit. The
    timed span is the build (with its construction-time jobs) plus the
    drain."""
    out = []
    for _ in range(trials):
        spark.catalog.clearCache()
        t0 = time.time()
        drain(build())
        out.append(time.time() - t0)
    return out


def main() -> None:
    registry.load_all_modules()
    names = [n for n in HEADLINE if n in registry.QUERIES]
    # SPARK_GRAFT_BENCH_DRIVER_PARITY=1 replays the bench under the DRIVER's
    # session shape (inferTimestampNTZ at its default true, mirroring
    # tools/check.py's parity flag) so a perf cliff that only manifests with
    # NTZ timestamps — the round-3 crash pattern, but for time — would show
    # up as a bench delta, not just a correctness one. See PERF.md "Bench
    # driver-parity replay".
    parity = os.environ.get("SPARK_GRAFT_BENCH_DRIVER_PARITY") == "1"
    spark = get_spark(
        "bench-driver-parity" if parity else "bench",
        extra_conf=(
            {"spark.sql.parquet.inferTimestampNTZ.enabled": "true"}
            if parity
            else None
        ),
    )
    if parity:
        print("# [bench driver-parity mode: inferTimestampNTZ=true]", file=sys.stderr)

    # warm up the JVM + whole-stage-codegen compile for each plan shape at
    # the smallest SF so the timed runs measure execution, not first-call
    # compilation (the same plans are reused; only data volume differs)
    spark.range(1000).selectExpr("sum(id)").collect()
    warm_sf = "/root/testdata/sf0.001"
    for name in names:
        try:
            drain(registry.QUERIES[name](spark, warm_sf))
        except Exception as e:  # warmup must never fail the bench
            print(f"# warmup {name} skipped: {e}", file=sys.stderr)

    # Two timed trials per query, min taken: single-shot timings on this
    # boxed runner swing 2-5x on individual queries (GC pauses, first-touch
    # page faults — r2's "35% drift" was proven environmental by an
    # r1-code replay, see PERF.md), and min-of-2 recovers the steady-state
    # number the plans actually deliver.
    per_query: dict[str, float] = {}
    for name in names:
        fn = registry.QUERIES[name]
        trials = time_drains(spark, lambda: fn(spark, SF_DIR), 2)
        per_query[name] = round(min(trials), 3)
        print(
            f"# {name}: drained in {per_query[name]}s"
            f" (trials {[round(t, 3) for t in trials]})",
            file=sys.stderr,
        )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Full per-query map goes to STDERR: the driver's tail-capture buffer
    # holds only ~2.2 KB of stdout, and round 4's ~120-entry map overflowed
    # it, leaving BENCH_r04.json with parsed:null. The one stdout JSON line
    # must stay compact so the driver always parses it.
    print("# per_query " + json.dumps(per_query), file=sys.stderr)

    # One-time session costs observed during THIS run (VERDICT r9 #8):
    # min-of-2 trials report steady state, so the bucketed-layout writes
    # and the shared_components build — which land only in a first trial
    # or during warmup — would otherwise vanish from the record. Entries
    # at the bench SF go in the stdout line (keys with the sf prefix
    # stripped); warmup-SF builds collapse to one total. On a cluster
    # these are per-table-lifetime ingest-DDL costs, hence reported
    # beside, not inside, the steady-state total.
    from repcheck_data_integration_spark import tables

    sfb = os.path.basename(SF_DIR.rstrip("/"))
    print("# fixed_costs_all " + json.dumps(tables.FIXED_COSTS), file=sys.stderr)
    fixed = {
        k.replace(f":{sfb}/", ":").replace(f":{sfb}", ""): v
        for k, v in tables.FIXED_COSTS.items()
        if f":{sfb}/" in k or k.endswith(f":{sfb}")
    }
    warmup_fixed = round(
        sum(
            v
            for k, v in tables.FIXED_COSTS.items()
            if not (f":{sfb}/" in k or k.endswith(f":{sfb}"))
        ),
        3,
    )
    slowest = sorted(per_query.items(), key=lambda kv: -kv[1])[:3]
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": {k: v for k, v in slowest},
        "n_queries": len(per_query),
        "fixed_costs": fixed,
        "fixed_costs_warmup_sf_total": warmup_fixed,
        "sf": float(sf) if sf else None,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
