"""Scale probe: run the heavy operators on synthetically 10×-scaled inputs
(union of key-shifted copies of the sf0.1 fixtures — ~6M lineitem rows,
50k docs) and compare wall-clock to the 1× run. An operator whose runtime
grows much faster than the input is a scale bug (quadratic pair blowup,
broadcast overflow, skew collapse).

Usage: python tools/scale_probe.py [factor]   (default 10)
Writes SCALE.md with the measured 1×→N× ratios.
       python tools/scale_probe.py factor op ...
Probes only the named ops and replaces their SCALE.md rows in place
(appending a row for an op the table does not list yet).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from bench import time_drains  # noqa: E402
from repcheck_data_integration_spark import registry  # noqa: E402
from repcheck_data_integration_spark.session import get_spark  # noqa: E402
from repcheck_data_integration_spark import tables  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"

# key column to shift per table so scaled copies don't collide
SHIFT_KEYS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id"],
    "supplier": ["s_suppkey"],
}
SHIFT = 100_000_000

PROBES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "join_fuzzy_topk",
    "join_spatial",
    "snk_upsert",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_search_topk",
    "sim_search_lsh",
    "ml_kmeans_refine",
    "text_tfidf_topterms",
    "text_repetition_stats",
    "join_range_interval",
    "stream_stream_join",
    "graph_pagerank",
    "join_spatial_knn",
    "events_cohort_retention",
    "pipeline_enrich_merge",
    "dedup_winnowing_pairs",
    "pipeline_llm_ingest",
    "sim_search_lsh_multiprobe",
    "dedup_contamination_ngrams",
    "pack_token_sequences",
    "pipeline_pretrain_corpus",
    "graph_triangle_count",
    "dedup_keep_canonical",
    "sim_search_ivfpq",
    "emb_pq_encode",
    "text_bigram_xent",
    "mix_epoch_schedule",
    "events_markov_transitions",
    # round-3 continuation ops with non-trivial scale shapes
    "agg_heavy_hitters_exact",
    "agg_copurchase_pairs",
    "agg_count_min_sketch",
    "llm_pdf_extract",
    "events_cusum_drift",
    "win_ewma_trailing",
    "text_bpe_encode",
    "sample_weighted",
    # round-4: the four r3-driver-failure ops, fixed this round — carry
    # scaling evidence like everything else
    "win_session_features",
    "snk_scd2",
    "emb_normalize",
    "emb_quantize_int8",
    # round-4 additions with non-trivial scale shapes
    "text_classifier_score",
    "text_perplexity_buckets",
    "pipeline_corpus_curation_v3",
    "agg_quantile_histogram",
    "mm_audio_energy",
    "llm_eval_rouge",
    "emb_dim_stats",
    "stream_curation_pipeline",
    "pipeline_rag_index",
    "pipeline_rag_query",
    "sim_search_range",
    "events_user_features",
    "stream_dedup_minhash",
    "text_bm25_search",
    "dedup_semantic_contamination",
    "llm_preference_pairs",
    "events_attribution_linear",
    "dq_k_anonymity",
    "dq_l_diversity",
    "graph_adamic_adar",
    "text_minhash_containment",
    "join_bloom_prune",
    "llm_eval_bleu",
    # round-4 stats/ML + eval tranches
    "agg_kmv_sketch",
    "join_set_similarity",
    "ml_naive_bayes_lang",
    # round-5 additions
    "ml_bradley_terry",
    "llm_eval_edit_rate",
    "llm_rag_eval",
    "dedup_embedding_pairs",
    "dedup_cluster_stats",
    "events_sequence_patterns",
    "mix_token_budget_allocation",
    "ml_auc_roc",
    "ml_decision_stump",
    "rec_item_item_cosine",
    "ts_theil_sen",
    # round-4 continuation (HITS / DSIR / repeated-span audit). The
    # repeated-ngrams row inherits the dedup caveat: key-shifted copies
    # are exact text twins, so EVERY 5-gram becomes corpus-repeated and
    # the flagged-coverage work legitimately saturates at ~all positions.
    "graph_hits",
    "text_dsir_weights",
    "dedup_repeated_ngrams",
    "graph_kcore",
    "text_readability",
    "ts_holt_linear",
    "ts_decompose_seasonal",
    "text_tokenizer_fertility",
    "dq_fk_coverage",
    "events_regularity_score",
    "win_hampel_filter",
    "sim_search_mips",
    "events_late_data_audit",
    "mix_annealing_schedule",
    "text_keyphrase_textrank",
    "agg_market_basket_rules",
    "ts_anomaly_seasonal",
    "events_entropy_rate",
    "text_distinct_ngrams",
    "join_spatial_area_weight",
    "ml_sprt_ab",
    "events_markov_stationary",
    # round-4 causal/one-step-ML tranche: the item-item self-join, the
    # unrolled-BFS frontier joins, the prefix-sum changepoint scan, and
    # the tokenize->vocab->top-k Zipf fit all have real scale shapes
    "rec_slope_one",
    "graph_bfs_distance",
    "ts_changepoint_binseg",
    "text_zipf_fit",
    # round-4 rank-statistics tranche: the contingency collapse, the
    # supplier-grain rollup, and the degree-degree edge enrichment
    "ml_spearman_corr",
    "agg_hhi_concentration",
    "graph_degree_assortativity",
    # round-4 corpus-growth/eval tranche: the first-occurrence collapse
    # + two-level prefix, the doc-term shuffle, and the char-gram join
    "text_heaps_fit",
    "text_term_burstiness",
    "llm_eval_chrf",
    "ts_ljung_box",
    "ml_boosted_stumps",
    # round-4 rank/robust/eval tranche: the contingency pair join, the
    # customer-window drawdown, the per-doc lexicon map, the PR value-
    # level windows, the confusion-matrix collapse, the trim overlap
    "ts_pacf",
    "graph_modularity",
    "ml_kendall_tau",
    "win_drawdown",
    "text_code_detect",
    "ml_auc_pr",
    "ml_cohen_kappa",
    "agg_trimmed_mean",
    # round-4 continuation-3b: LM smoothing, survival test, Box-Jenkins
    # tail, centrality, sources, privacy, calibration histogram
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
    # round-5 continuation: PAV lattice, keep-first sub-doc dedup (the
    # dedup caveat applies — key-shifted copies are exact text twins, so
    # kept_frac saturates by construction), LPM cascade, DP selection,
    # collocations, Shapley, conformal, RRF, Qini, SRM
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
    "ml_diff_in_diff",
    "ml_tost_equivalence",
    "ml_ucb_allocation",
    # round-6: the bounded pair relation (cap makes output O(n·k) where
    # the full op's output explodes with the dedup caveat) and the
    # fixed-vocab tokenizer-exact counter (distinct-vocab replace chain)
    "dedup_embedding_pairs_capped",
    "dedup_embedding_pairs_star",
    "text_token_count_bpe",
    # round-8: exact distributed order statistics (prefix-offsets probe
    # joins — the bounded-memory alternative to single-reduce percentile)
    "agg_percentile_exact_distributed",
    # round-8: cluster-aware split + contamination audit (both inherit
    # the dedup caveat — key-shifted copies are exact text twins, so the
    # cluster graph explodes by construction at the probe)
    "split_leakage_safe",
    "dq_split_contamination",
]


def scaled_load(factor):
    base_load = tables.load

    def load(spark, sf_dir, name) -> DataFrame:
        df = base_load(spark, sf_dir, name)
        if name not in SHIFT_KEYS or factor == 1:
            return df
        parts = [df]
        for i in range(1, factor):
            c = df
            for k in SHIFT_KEYS[name]:
                c = c.withColumn(k, F.col(k) + i * SHIFT)
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    return load


def run(factor: int) -> dict[str, tuple[float, int]]:
    import repcheck_data_integration_spark.tables as t

    orig = t.load
    t.load = scaled_load(factor)
    # the bucketed-layout cache fingerprints the SOURCE parquet; with
    # load() patched the same file now yields different content per
    # factor, so salt the table names or the 10x run would silently
    # reuse the 1x buckets (the ADVICE-r6 staleness class, probe form)
    t.LAYOUT_SALT = f"x{factor}"
    # operator modules captured `load` at import time — patch them too
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(
            "repcheck_data_integration_spark"
        ) and hasattr(mod, "load") and getattr(mod, "load") is orig:
            mod.load = t.load
    spark = get_spark(f"scale_probe_{factor}")
    spark.range(100).selectExpr("sum(id)").collect()
    out = {}
    for name in PROBES:
        # min of two trials, same rationale as bench.py: single-shot
        # timings on this runner swing 2-5x (GC / page faults), which at
        # probe scale turns a 1.3s query into a fake 4s "superlinear" row
        # timed with the noop-sink drain: a bare .count() lets Catalyst
        # prune the output projections
        fn = registry.QUERIES[name]
        trials = time_drains(spark, lambda: fn(spark, SF_DIR), 2)
        n = fn(spark, SF_DIR).count()
        spark.catalog.clearCache()
        out[name] = (round(min(trials), 2), n)
        print(f"  {factor}x {name}: {n} rows in {out[name][0]}s", file=sys.stderr)
        import gc

        gc.collect()
    spark.stop()
    return out


def _row(name: str, t1: dict, tn: dict) -> str:
    (s1, n1), (sn, nn) = t1[name], tn[name]
    return f"| {name} | {s1} ({n1}) | {sn} ({nn}) | {sn / max(s1, 0.01):.1f}× |"


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    registry.load_all_modules()
    subset = sys.argv[2:]
    if subset:
        # subset mode: probe only the named ops and update their SCALE.md
        # rows (an op's existing row is replaced in place, a new op's row
        # is appended) without re-running the whole battery
        global PROBES
        PROBES = subset
        t1 = run(1)
        tn = run(factor)
        rows = {name: _row(name, t1, tn) for name in PROBES}
        path = os.path.join(os.path.dirname(__file__), "..", "SCALE.md")
        with open(path) as f:
            lines = [
                rows.pop(line.split("|")[1].strip(), line)
                if line.startswith("| ")
                else line
                for line in f.read().splitlines()
            ]
        with open(path, "w") as f:
            f.write("\n".join([*lines, *rows.values()]) + "\n")
        print(f"updated {len(PROBES)} rows in SCALE.md")
        return
    t1 = run(1)
    tn = run(factor)
    lines = [
        "# SCALE — wall-clock under synthetic input scaling\n",
        f"sf0.1 inputs unioned {factor}× with shifted keys "
        f"(~{600*factor}k lineitem rows, {5*factor}k docs), local[32].",
        "A healthy distributed operator's runtime tracks its input+output",
        "volume. Caveats baked into this probe: the scaled copies are exact",
        "text duplicates of each other, so the dedup operators' OUTPUT",
        f"legitimately explodes (each doc gains {factor-1} twins → ~",
        f"{factor*(factor-1)//2}× more true near-dup pairs per original),",
        "and join_fuzzy_topk now blocks on nation × a mid-name band (r3):",
        "block cardinality grows with the data, so per-block candidate",
        "lists stay bounded and the r2-measured 9.1× superlinearity is",
        "gone. Likewise join_range_interval: key-shifted copies multiply",
        "temporal DENSITY (same date range), so points×intervals per time",
        f"bucket grows {factor}×{factor} = {factor*factor}× — its measured ratio is",
        "SUBlinear in true pair work; real growth extends the timeline and",
        "stays linear per bucket. join_set_similarity inherits the dedup",
        "caveat in the strongest form: every doc gains factor-1 exact",
        "twins, so its OUTPUT grows ~1000x (256 -> 250k pairs) — its time",
        "ratio measures pair-work explosion by construction, not a scale",
        "bug (per emitted pair it is strongly sublinear).\n",
        f"| query | 1× sec (rows) | {factor}× sec (rows) | time ratio |",
        "|---|---|---|---|",
    ]
    lines += [_row(name, t1, tn) for name in PROBES]
    with open(os.path.join(os.path.dirname(__file__), "..", "SCALE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote SCALE.md")


if __name__ == "__main__":
    main()
