"""Physical-plan regression tests: the properties that decide whether a
query survives a 100× scale-up, locked in as assertions.

- filters reach the parquet scan (PushedFilters),
- projections prune the read schema (ReadSchema),
- dimension joins broadcast (BroadcastHashJoin),
- the grid spatial join never degenerates to nested-loop/cartesian,
- aggregation is partial+final (map-side combine),
- hot paths stay inside WholeStageCodegen.
"""

from __future__ import annotations

import pytest

from repcheck_data_integration_spark import registry

registry.load_all_modules()

SF = "/root/testdata/sf0.001"


def plan(spark, name: str, mode: str = "formatted", execute: bool = False) -> str:
    df = registry.QUERIES[name](spark, SF)
    if execute:
        df.collect()  # AQE finalizes the plan (codegen ids) only on execution
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_filter_pushdown_reaches_scan(spark):
    p = plan(spark, "flt_eq")
    assert "PushedFilters" in p
    assert "o_orderstatus" in p.split("PushedFilters")[1][:200]


def test_projection_prunes_read_schema(spark):
    p = plan(spark, "prj_select")
    read_schema = p.split("ReadSchema")[1][:200]
    assert "c_custkey" in read_schema and "c_mktsegment" in read_schema
    assert "c_acctbal" not in read_schema  # unused column never read


def test_q3_broadcasts_dimension(spark):
    p = plan(spark, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in p
    assert "PushedFilters" in p
    # top-k executes as ordered take, not a global sort of the aggregate
    assert "TakeOrderedAndProject" in p


def test_q1_partial_aggregation(spark):
    p = plan(spark, "tpch_q1_pricing_summary")
    # partial + final hash aggregate = map-side combine before the shuffle
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p


def test_spatial_grid_join_is_hash_join(spark):
    p = plan(spark, "join_spatial")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the cell-key equi-join is a real hash join
    assert "Join" in p


def test_semi_anti_join_shapes(spark):
    assert "LeftSemi" in plan(spark, "join_semi_bill_vote")
    assert "LeftAnti" in plan(spark, "join_anti_bill_vote")


def test_fuzzy_resolution_blocked_not_cartesian(spark):
    p = plan(spark, "join_fuzzy_topk")
    assert "CartesianProduct" not in p  # blocking keys make it an equi-join


@pytest.mark.parametrize(
    "name",
    ["tpch_q1_pricing_summary", "flt_conj", "agg_count", "win_top1_score"],
)
def test_hot_paths_use_codegen(spark, name):
    # "[codegen id : n]" markers appear in the AQE-final formatted plan
    assert "codegen id" in plan(spark, name, execute=True)


def test_tfidf_partial_aggregation_and_term_shuffle(spark):
    """term_counts must partial-aggregate map-side (the shuffle carries
    distinct doc-term pairs, not the token stream)."""
    p = plan(spark, "text_tfidf_topterms")
    assert p.count("HashAggregate") >= 4  # partial+final for tc and df
    # only deliberate tiny-broadcast cross product is the 1-row corpus size
    # (tree lines say "BroadcastNestedLoopJoin Inner"; detail lines don't)
    assert p.count("BroadcastNestedLoopJoin Inner") <= 1


def test_range_interval_join_is_equi_join(spark):
    """The bucketed range join must run as a hash equi-join on the bucket
    key — never a nested-loop theta join."""
    p = plan(spark, "join_range_interval")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p  # some hash join variant on __bucket


def test_q21_exists_chain_no_cartesian(spark):
    """EXISTS/NOT-EXISTS compile to semi/anti hash joins over the
    aggregated (order, supplier) relation."""
    p = plan(spark, "tpch_q21_waiting_supplier")
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p and "LeftAnti" in p


def test_lsh_candidates_via_band_equi_join(spark):
    """The LSH candidate join keys on (band, band_val) — a hash join, with
    the only cross product being the 6 broadcast hyperplanes."""
    p = plan(spark, "sim_search_lsh")
    assert "CartesianProduct" not in p
    # the 6-hyperplane broadcast cross appears once per signature branch
    # (query side + candidate side duplicate the subtree)
    assert p.count("BroadcastNestedLoopJoin Inner") <= 2


def test_q10_take_ordered(spark):
    """orderBy+limit top-20 must compile to TakeOrderedAndProject, not a
    global sort."""
    p = plan(spark, "tpch_q10_returned_items")
    assert "TakeOrderedAndProject" in p


def test_fact_fact_join_is_smj_when_too_big_to_broadcast(spark):
    """Fact⋈fact joins must degrade to a shuffle-based join on the key
    (sort-merge or shuffled-hash), NEVER nested-loop, when neither side
    fits the broadcast threshold. Probed by disabling auto-broadcast."""
    from repcheck_data_integration_spark.tables import load
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load(spark, SF, "lineitem")
        o = load(spark, SF, "orders")
        df = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        jvm = spark._jvm
        p = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_grouped_zscore_is_native_two_phase(spark):
    """win_grouped_zscore must run entirely JVM-side: partial+final moment
    aggregation and a broadcast join back — no Python-eval node anywhere
    (the applyInPandas formulation lives on only as the rows-only demo)."""
    p = plan(spark, "win_grouped_zscore")
    for py_node in ("FlatMapGroupsInPandas", "ArrowEvalPython",
                    "BatchEvalPython", "MapInPandas"):
        assert py_node not in p
    assert p.count("HashAggregate") >= 2  # partial + final moments
    assert "BroadcastHashJoin" in p      # moment table broadcast back


def test_llm_ingest_gates_pushed_and_single_shuffle(spark):
    """pipeline_llm_ingest: the length gate must reach the parquet scan as
    a pushed filter, and the whole DAG carries exactly ONE exchange (the
    content-hash dedup window) — chunking adds no shuffle."""
    p = plan(spark, "pipeline_llm_ingest")
    assert "PushedFilters" in p
    pushed = p.split("PushedFilters")[1][:300]
    assert "length" in pushed or "text" in pushed  # length(text) gate
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    for py_node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py_node not in p


def test_chunk_ops_are_shuffle_free(spark):
    """Both chunkers are scan → explode → project: zero exchanges."""
    for name in ("text_chunk_windows", "text_chunk_tokens"):
        p = plan(spark, name)
        assert "Exchange" not in p, name
        assert "Generate explode" in p or "Generate" in p, name


def test_multipass_blocking_no_cartesian(spark):
    """The union-of-passes fuzzy join must stay two equi-joins — never a
    cartesian/nested-loop fallback."""
    p = plan(spark, "join_fuzzy_multipass")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ohlc_single_exchange_no_python(spark):
    """ts_resample_ohlc: the two row_number windows and the final OHLC
    aggregate all share ONE hash partitioning on (event_type, hour) —
    materializing hour as an attribute before the window is what lets the
    groupBy reuse the exchange."""
    import re

    p = plan(spark, "ts_resample_ohlc")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    for py_node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py_node not in p


def test_contamination_benchmark_side_broadcast(spark):
    """dedup_contamination_ngrams: the benchmark n-gram set must build a
    broadcast (the corpus side stays put — at 100 TB shuffling corpus
    text would be the bottleneck), and the corpus text is scanned once."""
    p = plan(spark, "dedup_contamination_ngrams")
    import re

    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # one corpus-side scan + one benchmark-side scan of documents, no more
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 2


def test_triangle_join_is_equi(spark):
    """Triangle closure must stay hash equi-joins; a nested-loop fallback
    would be quadratic in the pair graph."""
    p = plan(spark, "graph_triangle_count")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_split_is_zero_shuffle_scan(spark):
    """split_train_valid_test: pure projection — no exchange, no Python,
    and only doc_id/source/text are read."""
    p = plan(spark, "split_train_valid_test")
    assert "Exchange" not in p
    for py_node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py_node not in p
    assert "n_chars" not in p.split("ReadSchema")[1][:300]


def test_pack_single_shard_exchange(spark):
    """pack_token_sequences: exactly one hash exchange (the shard key) —
    shard-local packing, no global sort."""
    import re

    p = plan(spark, "pack_token_sequences")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "rangepartitioning" not in p.lower()


def test_random_projection_shuffle_free(spark):
    """emb_random_projection: scan → project, nothing else."""
    p = plan(spark, "emb_random_projection")
    assert "Exchange" not in p
    for py_node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py_node not in p


def test_pretrain_pipeline_two_exchanges(spark):
    """pipeline_pretrain_corpus: the whole gates→dedup→split→pack DAG
    shuffles exactly twice (content-hash window, shard-pack window) and
    keeps the gates native (no Python eval)."""
    import re

    p = plan(spark, "pipeline_pretrain_corpus")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    for py_node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py_node not in p


def test_corr_matrix_one_scan_partial_agg(spark):
    """agg_corr_matrix: ONE lineitem scan, partial+final aggregation, and
    the 3-row stack adds no shuffle."""
    import re

    p = plan(spark, "agg_corr_matrix")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert p.count("HashAggregate") >= 2


def test_stream_topk_preaggregates_before_rank(spark):
    """stream_topk_types: the rank window must consume the AGGREGATED
    window×type counts, not raw events — partial aggregation appears
    below the window sort."""
    p = plan(spark, "stream_topk_types")
    assert p.count("HashAggregate") >= 2
    assert "Window" in p


def test_interval_overlap_is_grid_equi_join(spark):
    """The interval×interval join must hash-join on (partkey, month-cell),
    never nested-loop: overlap predicates are post-join filters on an
    equi-join, so candidate work scales with cell population."""
    p = plan(spark, "join_interval_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_ivfpq_broadcasts_codebook_and_lut(spark):
    """IVF-PQ must broadcast every small relation (codebook, LUT, probe
    list) — the only allowed non-broadcast joins key on vec_id/query —
    and must never fall back to cartesian for the scoring join."""
    p = plan(spark, "sim_search_ivfpq")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_keep_canonical_single_pair_aggregate(spark):
    """Canonicalization adds exactly one aggregate + one left join over the
    LSH pair plan — no extra scans of documents beyond the LSH subtree and
    the id projection."""
    p = plan(spark, "dedup_keep_canonical")
    assert "CartesianProduct" not in p
    # left outer join carries every doc through the decision list
    assert "LeftOuter" in p or "left_outer" in p.lower()


def test_markov_and_paths_aggregate_after_window(spark):
    """Sequence ops must window on user_id then aggregate the tiny
    transition/path alphabet — partial aggregation present, no second
    window over the fact table."""
    for name in ("events_markov_transitions", "events_user_paths"):
        p = plan(spark, name)
        assert "partial" in p.lower() or "HashAggregate" in p, name
        assert "CartesianProduct" not in p, name


def test_url_canonical_single_exchange(spark):
    """URL dedup must be projection → one hash aggregate (canonical key
    shuffle) — no joins, no second scan: after canonicalization it IS
    exact dedup."""
    p = plan(spark, "dedup_url_canonical")
    assert "Join" not in p
    # exactly one hash exchange (partial+final agg); the only other
    # exchange is the final presentation sort's range partitioning
    assert p.count("hashpartitioning(") == 1


def test_matryoshka_shuffle_free(spark):
    """MRL truncation is a pure per-row projection: no exchange at all."""
    p = plan(spark, "emb_matryoshka_truncate")
    assert "Exchange" not in p.replace("rangepartitioning", "")


def test_cusum_one_window_plus_broadcast(spark):
    """CUSUM: per-user stats join back via BROADCAST (never a shuffled
    fact-fact join) and the stacked prefix frames share ONE user_id sort —
    two Window nodes, no second sort of the fact table."""
    p = plan(spark, "events_cusum_drift")
    assert "BroadcastHashJoin" in p
    assert p.count("Window") >= 1
    assert "CartesianProduct" not in p


def test_heavy_hitters_semi_join_broadcasts_candidates(spark):
    """The exact-verify pass must broadcast the MG candidate set into a
    LeftSemi hash join — the full-vocabulary shuffle is the thing the
    operator exists to avoid."""
    p = plan(spark, "agg_heavy_hitters_exact")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_ewma_single_window_pass(spark):
    """The 8-term lag chain must collapse into ONE Window node over one
    user_id sort — per-lag Window nodes would mean 8 passes."""
    p = plan(spark, "win_ewma_trailing")
    # one Window NODE in the tree ("windowspecdefinition" strings inside
    # its argument list don't count) over a single user_id exchange
    assert p.count("+- Window") == 1
    assert p.count("hashpartitioning(") == 1


def test_pit_scd2_equi_join_not_nested_loop(spark):
    """PIT-vs-SCD2 must hash/sort-merge join on the customer key with the
    interval bounds as residual filters — never nested-loop over the
    version table."""
    p = plan(spark, "join_pit_scd2")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or (
        "ShuffledHashJoin" in p
    )


def test_web_corpus_pipeline_single_doc_text_scan(spark):
    """The composed web pipeline reads the text column in exactly ONE scan
    subtree (the url keep-list side prunes to doc_id+source) and keeps the
    keep-list join on the build side — text tokenization must not run for
    url-duplicate docs."""
    p = plan(spark, "pipeline_web_corpus")
    # scans reading the text column: exactly one
    reads = [seg for seg in p.split("ReadSchema: ")[1:]]
    text_reads = [r for r in reads if "text" in r.split("\n")[0]]
    assert len(text_reads) == 1, [r.split("\n")[0] for r in reads]
    assert "LeftSemi" in p


def test_bloom_prune_broadcasts_bitmap_and_keeps_pushdown(spark):
    p = plan(spark, "join_bloom_prune")
    # the two bitmap word-lookups and the exact semi-join all broadcast
    assert p.count("BroadcastHashJoin") >= 3
    # the dim-side priority filter still reaches the orders scan
    assert "PushedFilters" in p
    # the final rollup is partial+final (map-side combine)
    assert "partial_count" in p or "partial_sum" in p


def test_bm25_broadcasts_query_stats_and_takes_ordered_topk(spark):
    p = plan(spark, "text_bm25_search")
    # query-term df table and the 1-row corpus stats broadcast
    assert p.count("BroadcastHashJoin") >= 2
    # top-k is an ordered take, not a global sort
    assert "TakeOrderedAndProject" in p


def test_semantic_contamination_broadcast_and_single_agg(spark):
    p = plan(spark, "dedup_semantic_contamination")
    # eval side broadcasts; train side never shuffles its vectors
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # argmax is one partial+final aggregate (struct-max lowers to
    # SortAggregate; the partial still combines map-side), no pair window
    assert "partial_max" in p
    assert "Window" not in p


def test_adamic_adar_reuses_persisted_edges(spark):
    p = plan(spark, "graph_adamic_adar")
    # the thinned edge list is materialized once and reread from cache
    assert "InMemoryTableScan" in p
    assert "Window" not in p


def test_set_similarity_no_cartesian_and_cached_tokens(spark):
    p = plan(spark, "join_set_similarity")
    # candidate generation is an equi-join on the prefix token, never a
    # cross product; the exploded token incidence is read from cache for
    # its three consumers (df counts + both verify sides)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "InMemoryTableScan" in p


def test_kmv_two_level_bottom_k(spark):
    p = plan(spark, "agg_kmv_sketch")
    # level-1 prune partitions by (event_type, pid) IN PARALLEL before
    # the per-type merge window; Spark additionally pushes the rank
    # filter into WindowGroupLimit so neither level buffers past k rows
    assert p.count("+- Window ") >= 2
    assert "WindowGroupLimit" in p
    assert "SPARK_PARTITION_ID" in p.upper()


def test_bootstrap_ci_partial_aggregation_after_explode(spark):
    p = plan(spark, "agg_bootstrap_ci")
    # the B-fold expansion collapses map-side: partial + final aggregate
    # around the shuffle, generator present, scan reads only 3 columns
    assert "Generate" in p
    assert p.count("HashAggregate") >= 2
    # no scan reads beyond the three needed columns
    assert "o_orderdate" not in p and "o_custkey" not in p


def test_item_item_no_cartesian_cached_incidence(spark):
    spark.catalog.clearCache()
    p = plan(spark, "rec_item_item_cosine", execute=True)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the incidence table's distinct shuffle runs once for its 4 readers
    assert "ReusedExchange" in p


def test_auc_prunes_scan_to_three_columns(spark):
    # round-10: the distinct-value stats are pinned at build, so the scan
    # only shows in PLAN_ONLY mode (the audit switch keeps the full tree)
    from repcheck_data_integration_spark.operators import ckpt

    with ckpt.plan_only():
        p = plan(spark, "ml_auc_roc")
    rs = p.split("ReadSchema")[1][:250]
    assert "o_orderpriority" in rs and "o_totalprice" in rs
    assert "o_orderdate" not in rs and "o_custkey" not in rs


def test_pmi_df_floor_prunes_before_self_join(spark):
    p = plan(spark, "text_pmi_pairs")
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p  # (doc, tok) incidence cached
    # final ranking is a bounded top-k window, no global sort of pairs
    assert "TakeOrderedAndProject" in p or "Window" in p


def test_hits_broadcasts_norm_totals_and_caches_edges(spark):
    p = plan(spark, "graph_hits")
    # the 1-row L1 totals join back as broadcasts, never a shuffled join;
    # the edge list is persisted once for its three score-update passes
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p
    assert "BroadcastExchange" in p


def test_dsir_model_broadcast_scoring_single_shuffle(spark):
    p = plan(spark, "text_dsir_weights")
    # the 512-bucket model side is broadcast into the scoring join — the
    # corpus-sized (doc,bucket) frame is never shuffled a second time —
    # and the (doc,lang,bucket) incidence is cached for its 4 consumers
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "InMemoryTableScan" in p
    # no scan reads beyond the needed document columns
    assert "n_chars" not in p


def test_repeated_ngrams_no_cartesian_pruned_scan(spark):
    p = plan(spark, "dedup_repeated_ngrams")
    # gram doc-frequency filter joins back by equality on the gram; the
    # span merge is the only window, partitioned by doc_id
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "doc_id" in rs and "text" in rs
    assert "lang" not in rs and "source" not in rs


def test_kcore_peels_with_broadcast_semis_no_cartesian(spark):
    p = plan(spark, "graph_kcore")
    # survivor sets join the edge list as broadcasts; the undirected edge
    # list is persisted once for its four degree passes
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "InMemoryTableScan" in p


def test_readability_single_map_pass_pruned_scan(spark):
    p = plan(spark, "text_readability")
    # pure projection over the documents scan: no join, no aggregate
    assert "Join" not in p
    assert "HashAggregate" not in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "doc_id" in rs and "text" in rs
    assert "lang" not in rs and "n_chars" not in rs


def test_holt_caches_daily_frame_broadcast_constants(spark):
    spark.catalog.clearCache()
    p = plan(spark, "ts_holt_linear", execute=True)
    # the |days|-row daily aggregate's shuffle is reused by its readers;
    # split/level/test constants come back as broadcasts
    assert "ReusedExchange" in p
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "ts" in rs and "event_type" not in rs and "props" not in rs


def test_seasonal_decompose_caches_daily_no_fact_window(spark):
    spark.catalog.clearCache()
    p = plan(spark, "ts_decompose_seasonal", execute=True)
    assert "ReusedExchange" in p  # one daily-aggregate shuffle, reused
    assert "CartesianProduct" not in p
    # the moving-average window runs over the calendar series built from
    # the shared daily aggregate, never over fact rows: the events scan
    # is pruned to ts only and feeds a HashAggregate
    assert "Window" in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "ts" in rs and "event_type" not in rs and "props" not in rs


def test_fertility_partial_agg_pruned_scan(spark):
    p = plan(spark, "text_tokenizer_fertility")
    # map-side partial aggregation before the |langs|-row shuffle
    assert p.count("HashAggregate") >= 2
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "lang" in rs and "text" in rs
    assert "doc_id" not in rs and "source" not in rs


def test_fk_coverage_broadcast_parents_key_only_scans(spark):
    p = plan(spark, "dq_fk_coverage")
    # parent key columns broadcast into every branch; child scans collapse
    # to distinct keys before the join
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # round-6 reshape (sf10 head-to-head): PER-EDGE branches, each child
    # scan reading exactly ONE bare key column — the round-3 stacked form
    # shuffled the union of all tagged keys through one exchange (~200M
    # (string,long) rows at sf10, 22.8s vs 9.6s per-edge; and 1.6s vs
    # 0.56s at sf0.1). Three lineitem scans, one per FK, each 1-column —
    # round 7 moved the l_orderkey edge onto the BUCKETED layout, and
    # round 9 the l_partkey edge onto its secondary FK-clustered layout
    # (exchange-count pin in test_dq_fk_coverage_bucketed_orderkey_edge),
    # so ONE raw parquet scan remains (l_suppkey, whose 100k-key domain
    # collapses in map-side combine and needs no layout).
    assert p.count("lineitem.parquet") == 1
    for key in ("l_orderkey", "l_partkey", "l_suppkey"):
        assert f"ReadSchema: struct<{key}:bigint>" in p
    # every branch combines map-side before its exchange (partial count)
    assert "partial_count" in p or p.count("HashAggregate") >= 14


def test_regularity_single_user_shuffle(spark):
    p = plan(spark, "events_regularity_score")
    # lag window and the moment aggregate share the user_id partitioning:
    # exactly one user-keyed exchange (plus the presentation range sort)
    import re

    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert p.count("hashpartitioning(user_id") == 1
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "user_id" in rs and "ts" in rs
    assert "props" not in rs and "value" not in rs


def test_hampel_window_no_self_join_pruned(spark):
    p = plan(spark, "win_hampel_filter")
    # rolling arrays come from the window frame, not a self-join/explode
    assert "Join" not in p
    assert "Generate" not in p  # no explode
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "value" in rs and "props" not in rs and "event_type" not in rs


def test_mips_broadcast_queries_single_window(spark):
    p = plan(spark, "sim_search_mips")
    # queries and the 1-row max-norm broadcast; ranking is one window per
    # query partition; no shuffled join of the corpus
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_late_audit_two_level_scan_no_global_row_window(spark):
    p = plan(spark, "events_late_data_audit")
    # the within-bucket window partitions by the bucket key — the ONLY
    # unpartitioned window is the |buckets|-sized prefix table
    assert "hashpartitioning(b" in p
    assert "BroadcastHashJoin" in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "event_id" in rs and "ts" in rs
    assert "props" not in rs and "value" not in rs and "user_id" not in rs


def test_annealing_single_doc_pass_broadcast_totals(spark):
    p = plan(spark, "mix_annealing_schedule")
    # quality pass + source rollup; the 1-row totals broadcast back —
    # nothing after the scan shuffles more than |sources| rows
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2


def test_textrank_df_floor_before_edges_cached_graph(spark):
    p = plan(spark, "text_keyphrase_textrank")
    # adjacency from an array transform (no positional self-join); the
    # df-floored vocabulary broadcast-prunes edges before aggregation;
    # edge/degree frames cached for both PR iterations
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "InMemoryTableScan" in p


def test_basket_rules_broadcast_supports_no_cartesian(spark):
    p = plan(spark, "agg_market_basket_rules")
    # item supports broadcast into the rule join; the only nested-loop is
    # the 1-row basket total
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("BroadcastNestedLoopJoin Inner") <= 1
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "l_orderkey" in rs and "l_partkey" in rs
    assert "l_quantity" not in rs


def test_anomaly_seasonal_calendar_bounded(spark):
    spark.catalog.clearCache()
    p = plan(spark, "ts_anomaly_seasonal", execute=True)
    # decomposition + both medians run above the shared |days| aggregate,
    # whose shuffle is reused
    assert "ReusedExchange" in p
    assert "CartesianProduct" not in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "ts" in rs and "props" not in rs


def test_entropy_rate_quantized_two_level_agg(spark):
    # events_markov_stationary persists the SAME (lag→groupBy) subtree; if
    # an earlier suite module executed it, the CacheManager substitutes an
    # InMemoryTableScan here and the pinned exchange disappears. Clear the
    # cache so this plan property is suite-order-independent.
    spark.catalog.clearCache()
    p = plan(spark, "events_entropy_rate")
    # lag shuffle on user_id, then alphabet-sized aggregates — the only
    # Exchange with data volume is the user window
    assert p.count("hashpartitioning(user_id") == 1
    assert "CartesianProduct" not in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "event_type" in rs and "value" not in rs and "props" not in rs


def test_distinct_ngrams_map_only(spark):
    p = plan(spark, "text_distinct_ngrams")
    assert "Join" not in p
    assert "HashAggregate" not in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "text" in rs and "lang" not in rs and "source" not in rs


def test_area_weight_grid_join_no_theta(spark):
    p = plan(spark, "join_spatial_area_weight")
    # same grid-bucketed equi-join as join_spatial; the area arithmetic
    # is a projection, not a second join
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p


def test_sprt_two_level_scan_no_global_window(spark):
    p = plan(spark, "ml_sprt_ab")
    # the per-arm cumulative LLR runs as the two-level prefix scan: the
    # data-sized window partitions by (arm, bucket); no runtime logarithm
    # exists anywhere in the plan
    assert "hashpartitioning(arm" in p
    assert "CartesianProduct" not in p
    assert "LOG(" not in p.upper() or "ln(" not in p
    # scans stay key/status-only (the tot branch reads just o_custkey)
    assert "o_orderstatus" in p and "o_totalprice" not in p


def test_markov_stationary_alphabet_sized_iterations(spark):
    p = plan(spark, "events_markov_stationary")
    # the event stream collapses once; both fixed-point iterations join
    # over the cached alphabet matrix with broadcast rank vectors
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p


def test_logreg_newton_single_pass_pruned(spark):
    p = plan(spark, "ml_logreg_newton")
    # one map-side-combined aggregate over the fact scan — no join, no
    # window; the d^2 sufficient statistics are the only shuffled bytes
    assert "Join" not in p
    assert "Window" not in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "l_quantity" in rs and "l_discount" in rs
    assert "l_extendedprice" not in rs


def test_cuped_single_custkey_shuffle_broadcast_pooled(spark):
    p = plan(spark, "agg_cuped")
    # per-customer collapse is the only data-sized exchange; the pooled
    # 1-row stats frame broadcasts onto the 2-row per-arm frame
    assert p.count("hashpartitioning(o_custkey") <= 1
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "o_totalprice" in rs and "o_comment" not in rs


def test_granger_lag_join_on_bounded_daily_series(spark):
    p = plan(spark, "ts_granger_causality")
    # the event stream collapses once to the daily grid; the lag
    # self-join runs on the |days|-sized post-agg frame
    assert "CartesianProduct" not in p
    # multiple scans: the bounds scan prunes to ts alone, the daily scan
    # to (ts, event_type); props/value never leave the files anywhere
    schemas = [s[:200] for s in p.split("ReadSchema")[1:]]
    assert any("event_type" in s for s in schemas)
    assert all("props" not in s and "value" not in s for s in schemas)


def test_changepoint_prefix_scan_after_daily_collapse(spark):
    spark.catalog.clearCache()
    p = plan(spark, "ts_changepoint_binseg", execute=True)
    # the daily frame's shuffle feeds both the prefix window and the
    # totals; the totals row reaches the candidates via broadcast
    assert "ReusedExchange" in p
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "o_totalprice" in rs and "o_comment" not in rs


def test_slope_one_user_keyed_join_cached_ratings(spark):
    spark.catalog.clearCache()
    p = plan(spark, "rec_slope_one", execute=True)
    # the deviation matrix comes from a user-keyed equi self-join over
    # the ratings frame, whose shuffle is reused — never an all-pairs
    # item stage
    assert "ReusedExchange" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_zipf_two_level_topk_no_full_vocab_sort(spark):
    p = plan(spark, "text_zipf_fit")
    # level-1 per-partition top-k prunes the vocabulary before the
    # single-partition rank window (WindowGroupLimit on both levels)
    assert "WindowGroupLimit" in p
    assert "Join" not in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "text" in rs and "lang" not in rs and "source" not in rs


def test_bfs_equi_joins_cached_edges_no_cartesian(spark):
    spark.catalog.clearCache()
    p = plan(spark, "graph_bfs_distance")
    # every frontier expansion is an equi-join on the node key over the
    # persisted edge list; visited-set maintenance is anti-join only
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_spearman_alphabet_sized_after_joint_collapse(spark):
    spark.catalog.clearCache()
    p = plan(spark, "ml_spearman_corr", execute=True)
    # the fact table collapses once into the (q, d) joint, its shuffle
    # reused; both marginal mid-rank frames broadcast back onto it
    assert "ReusedExchange" in p
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "l_quantity" in rs and "l_discount" in rs
    assert "l_extendedprice" not in rs


def test_mann_whitney_single_pass_no_join(spark):
    p = plan(spark, "ml_mann_whitney_u")
    # value-level stats only: one map-side-combined aggregate, an
    # alphabet-sized window, no join anywhere
    assert "Join" not in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "l_quantity" in rs and "l_returnflag" in rs
    assert "l_extendedprice" not in rs


def test_anova_five_row_rollup_no_join_no_window(spark):
    p = plan(spark, "agg_anova_oneway")
    assert "Join" not in p
    assert "Window" not in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "o_totalprice" in rs and "o_orderpriority" in rs
    assert "o_comment" not in rs


def test_hhi_supplier_collapse_below_broadcast_dims(spark):
    p = plan(spark, "agg_hhi_concentration")
    # fact collapses to supplier grain BEFORE any join; both dimension
    # joins broadcast
    assert p.count("hashpartitioning(l_suppkey") <= 1
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "l_extendedprice" in rs and "l_comment" not in rs


def test_assortativity_equi_joins_cached_edges(spark):
    spark.catalog.clearCache()
    p = plan(spark, "graph_degree_assortativity", execute=True)
    # degree enrichment is two hash equi-joins on the endpoint keys
    # over the edge list, whose shuffle is reused — never nested-loop
    assert "ReusedExchange" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_heaps_two_level_prefix_no_global_row_window(spark):
    p = plan(spark, "text_heaps_fit")
    # the doc-axis prefix runs as the two-level scan: the only window
    # over data-sized input partitions by the bucket key; the bucket
    # prefix frame broadcasts back
    assert "hashpartitioning(b" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "text" in rs and "lang" not in rs and "source" not in rs


def test_burstiness_df_floor_then_two_level_topk(spark):
    p = plan(spark, "text_term_burstiness")
    # term moments partial-aggregate map-side; the df floor prunes the
    # vocabulary BEFORE ranking and the rank is the two-level top-k
    assert "WindowGroupLimit" in p
    assert "Join" not in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "text" in rs and "lang" not in rs


def test_chrf_map_only_arrow_pass(spark):
    p = plan(spark, "llm_eval_chrf")
    # round-5 doc-local rewrite: grams never exist as JVM strings and
    # never cross an operator boundary — ONE Arrow mapInPandas pass per
    # doc, one explicit fan-out repartition, no joins, no gram shuffle
    assert "MapInPandas" in p
    assert "Join" not in p
    assert "HashAggregate" not in p  # denominators are closed-form
    import re as _re

    assert len(_re.findall(r"\bExchange \(", p)) == 1  # the fan-out only


def test_ljung_box_calendar_bounded_quantized_terms(spark):
    p = plan(spark, "ts_ljung_box")
    # the fact stream collapses once to |days|; the lag band-join and
    # both reductions run on the bounded series, scalars broadcast
    assert "CartesianProduct" not in p or "BroadcastNestedLoopJoin Inner" in p
    schemas = [s[:200] for s in p.split("ReadSchema")[1:]]
    assert all("props" not in s and "value" not in s for s in schemas)
    # no runtime transcendental anywhere: the quantized term is pure
    # arithmetic (floor of products/divisions)
    assert "LOG(" not in p.upper().replace("WindowGroupLimit".upper(), "")


def test_boosted_stumps_single_fact_pass_cached_alphabet(spark):
    spark.catalog.clearCache()
    p = plan(spark, "ml_boosted_stumps", execute=True)
    # ONE fact aggregate feeds both boosting rounds + SST through the
    # reused shuffle of the 50-row value table; rounds are alphabet-sized
    # windows
    assert "ReusedExchange" in p
    assert "CartesianProduct" not in p or "BroadcastNestedLoopJoin" in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "l_quantity" in rs and "l_extendedprice" in rs
    assert "l_comment" not in rs


def test_pacf_single_conditional_band_aggregate(spark):
    p = plan(spark, "ts_pacf")
    # the three lag numerators come from ONE aggregate over the bounded
    # lag band-join, not three series passes
    schemas = [s[:200] for s in p.split("ReadSchema")[1:]]
    assert all("props" not in s and "value" not in s for s in schemas)
    assert "CartesianProduct" not in p or "BroadcastNestedLoopJoin Inner" in p


def test_modularity_node_keyed_joins_cached_edges(spark):
    spark.catalog.clearCache()
    p = plan(spark, "graph_modularity")
    # doubled edge list persisted; label joins key on node id; the only
    # cross products are the broadcast 1-row scalar frames
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p


def test_kendall_tau_contingency_cached_pruned(spark):
    spark.catalog.clearCache()
    p = plan(spark, "ml_kendall_tau", execute=True)
    # pairs/marginals/totals all read the contingency table through its
    # reused shuffle; the fact scan reads only (qty, disc)
    assert "ReusedExchange" in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "l_quantity" in rs and "l_discount" in rs
    assert "l_comment" not in rs and "l_extendedprice" not in rs


def test_drawdown_single_customer_exchange(spark):
    p = plan(spark, "win_drawdown")
    # both window passes and the final agg share ONE shuffle on
    # o_custkey; the scan reads only the four needed columns
    n_exchange = p.count("+- Exchange") + p.count("* Exchange")
    assert n_exchange == 1, p[:2000]
    assert "hashpartitioning(o_custkey" in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "o_comment" not in rs and "o_clerk" not in rs


def test_code_detect_no_shuffle_pruned(spark):
    p = plan(spark, "text_code_detect")
    # embarrassingly parallel per-document map: no exchange at all
    assert "Exchange" not in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "doc_id" in rs and "text" in rs and "source" not in rs


def test_auc_pr_value_level_pruned(spark):
    p = plan(spark, "ml_auc_pr")
    # AP runs on the (segment, cents) value-level table: the orders
    # scans read only the three needed columns
    schemas = [s[:250] for s in p.split("ReadSchema")[1:]]
    assert schemas and all(
        "o_comment" not in s and "o_clerk" not in s for s in schemas
    )
    assert "hashpartitioning(segment" in p


def test_cohen_kappa_confusion_cached_pruned(spark):
    spark.catalog.clearCache()
    p = plan(spark, "ml_cohen_kappa")
    # totals/diag/marginals all read the persisted confusion matrix
    assert "InMemoryTableScan" in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "lang" in rs and "text" in rs and "source" not in rs


def test_trimmed_mean_pruned_partial_agg(spark):
    p = plan(spark, "agg_trimmed_mean")
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "o_totalprice" in rs and "o_orderpriority" in rs
    assert "o_comment" not in rs
    # level-table build is a partial+final hash aggregate
    assert p.count("HashAggregate") >= 2


def test_kn_xent_cached_subtree_pruned(spark):
    spark.catalog.clearCache()
    p = plan(spark, "text_kneser_ney_xent")
    # corpus model and per-doc join both read the persisted (doc,bigram)
    # aggregate; the documents scan reads only (doc_id, text)
    assert "InMemoryTableScan" in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "doc_id" in rs and "text" in rs and "lang" not in rs


def test_dominant_period_bounded_band_join(spark):
    p = plan(spark, "ts_dominant_period")
    # everything past the daily collapse is |days|-sized; the fact scan
    # never reads the wide columns
    schemas = [s[:200] for s in p.split("ReadSchema")[1:]]
    assert all("props" not in s and "value" not in s for s in schemas)


def test_lorenz_pruned_partial_agg(spark):
    """Round-8 shape: the per-customer aggregate is eagerly checkpointed
    (the prefix machinery and the join-back both branch from it), so the
    parquet scan no longer appears in the FINAL plan — the pruning
    property moved into the checkpointed subquery and the pin here is
    the departitioned shape itself: no unpartitioned window, no global
    sort, cumulative via broadcast theta join over the <=10 decile
    rows.

    Round-9 (ADVICE r8 #1): the window count is taken on a PLAN_ONLY
    build so the checkpoint cannot hide its upstream subtree — the
    count_unauditable_nodes == 0 assert proves the whole lattice is
    actually visible to the walk, making the 0-window pin non-vacuous."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from window_audit import count_unauditable_nodes, count_unpartitioned_windows

    from repcheck_data_integration_spark import registry
    from repcheck_data_integration_spark.operators import ckpt

    with ckpt.plan_only():
        df = registry.QUERIES["agg_lorenz_deciles"](spark, SF)
        assert count_unauditable_nodes(df) == 0
        assert count_unpartitioned_windows(df) == 0
    p = plan(spark, "agg_lorenz_deciles")
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2  # decile partial+final


def test_fixed_width_scan_codegen_no_python(spark):
    p = plan(spark, "src_fixed_width_scan")
    # substring/cast parse runs entirely JVM-side over a splittable scan
    for py_node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py_node not in p
    assert "Exchange" not in p


def test_adf_bounded_series_pruned(spark):
    p = plan(spark, "ts_adf_test")
    schemas = [s[:200] for s in p.split("ReadSchema")[1:]]
    assert all("props" not in s and "value" not in s for s in schemas)


def test_two_proportion_single_scalar_agg(spark):
    p = plan(spark, "ml_two_proportion_ztest")
    # one conditional aggregate: partial+final, single scan, pruned
    assert p.count("+- HashAggregate") == 2 and "partial_sum" in p
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "o_orderpriority" in rs and "o_orderstatus" in rs
    assert "o_totalprice" not in rs


def test_katz_message_passing_cached_edges(spark):
    spark.catalog.clearCache()
    p = plan(spark, "graph_katz_centrality", execute=True)
    # the doubled edge list's shuffle is reused by the three node-keyed
    # rounds; no cartesian anywhere
    assert "ReusedExchange" in p
    assert "CartesianProduct" not in p


def test_lasso_bounded_series_no_python(spark):
    p = plan(spark, "ml_lasso_cd")
    schemas = [s[:200] for s in p.split("ReadSchema")[1:]]
    assert all("props" not in s and "value" not in s for s in schemas)
    for py_node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py_node not in p


def test_mcnemar_token_join_no_cartesian(spark):
    spark.catalog.clearCache()
    p = plan(spark, "ml_mcnemar_test", execute=True)
    # NB scoring joins on token; the paired compare joins on doc_id —
    # the only cross products are broadcast scalar/model-size frames
    assert "CartesianProduct" not in p
    assert "ReusedExchange" in p  # shared (doc,lang,tok) subtree


def test_brier_departitioned_no_fact_rank(spark):
    """Round-8 shape: the persisted global fact-rank frame is GONE (its
    .persist() was the InMemoryRelation substitution that blinded the
    window audit for two rounds); the (cents,pos) group table rides the
    prefix machinery and is checkpointed for the three readers. Pin:
    zero unpartitioned windows anywhere (including inside cached plans —
    count_unpartitioned_windows recurses), no cartesian."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from window_audit import count_unauditable_nodes, count_unpartitioned_windows

    from repcheck_data_integration_spark import registry
    from repcheck_data_integration_spark.operators import ckpt

    spark.catalog.clearCache()
    with ckpt.plan_only():
        df = registry.QUERIES["ml_brier_decomposition"](spark, SF)
        assert count_unauditable_nodes(df) == 0
        assert count_unpartitioned_windows(df) == 0
    p = plan(spark, "ml_brier_decomposition")
    assert "CartesianProduct" not in p


def test_prefix_family_departition_visible_full_tree(spark):
    """Round-9 (ADVICE r8 #1): every prefix_offsets consumer is audited
    with build-time checkpoints DISABLED (ckpt.plan_only()), so the walk
    sees the complete pre-checkpoint tree — 0 unauditable leaves AND 0
    unpartitioned windows per query. This is the non-vacuous version of
    the round-8 departition pins: a future unpartitioned window hidden
    ABOVE a localCheckpoint now fails here instead of going undetected
    (the same blindness class .persist() had before round 8)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from window_audit import count_unauditable_nodes, count_unpartitioned_windows

    from repcheck_data_integration_spark import registry
    from repcheck_data_integration_spark.operators import ckpt

    registry.load_all_modules()
    prefix_consumers = [
        "agg_gini_revenue",
        "agg_abc_pareto",
        "agg_lorenz_deciles",
        "ml_isotonic_calibration",
        "ml_ks_statistic",
        "ml_qini_uplift",
        "agg_percentile_exact_distributed",
        "text_pmi_collocations",
    ]
    with ckpt.plan_only():
        for name in prefix_consumers:
            spark.catalog.clearCache()
            df = registry.QUERIES[name](spark, SF)
            assert count_unauditable_nodes(df) == 0, name
            assert count_unpartitioned_windows(df) == 0, name


def test_shared_components_memoized_single_build(spark):
    """split_leakage_safe and dq_split_contamination must NOT rebuild the
    LSH+CC component DAG twice in one session (VERDICT r8 #3): the memo
    returns the identical checkpointed frame for both calls, and the
    split ops' plans read an RDD leaf instead of re-running the banding
    (no MapInPandas/minhash subtree in either optimized plan)."""
    from repcheck_data_integration_spark.operators import ckpt

    ckpt._COMPONENTS_CACHE.clear()
    a = ckpt.shared_components(spark, SF)
    b = ckpt.shared_components(spark, SF)
    assert a is b
    assert len(ckpt._COMPONENTS_CACHE) == 1
    # the checkpointed frame severs the LSH lineage: downstream split
    # plans contain a scan leaf, not the minhash pipeline
    from repcheck_data_integration_spark import registry

    p = plan(spark, "split_leakage_safe")
    assert "MapInPandas" not in p and "posexplode" not in p.lower()


def test_shared_components_sweeps_stopped_sessions(spark):
    """VERDICT r9 #6 / ADVICE r9: the memo keys on applicationId (never
    id(spark) — CPython id reuse after GC could alias a NEW session to a
    dead one's entry and serve a checkpointed RDD from a stopped
    context), and lookups sweep entries whose owning SparkContext has
    been stopped so multi-session processes don't pin dead sessions."""
    from types import SimpleNamespace

    from repcheck_data_integration_spark.operators import ckpt

    ckpt._COMPONENTS_CACHE.clear()
    live = ckpt.shared_components(spark, SF)
    (live_key,) = ckpt._COMPONENTS_CACHE
    assert live_key[0] == spark.sparkContext.applicationId
    # a stopped session's context has _jsc nulled — plant one and verify
    # the next lookup evicts it while keeping the live entry
    dead = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    dead_key = ("dead-app-id",) + live_key[1:]
    ckpt._COMPONENTS_CACHE[dead_key] = (dead, live)
    again = ckpt.shared_components(spark, SF)
    assert again is live
    assert dead_key not in ckpt._COMPONENTS_CACHE
    assert live_key in ckpt._COMPONENTS_CACHE


def test_shared_stream_components_memoized_single_build(spark):
    """stream_dedup_minhash and dedup_cluster_stats must NOT rebuild the
    banded + minhash-agreement + iterative-CC DAG twice in one session
    (round-10 optimization — the streaming-verify twin of the r9
    shared_components memo): both calls return the identical
    checkpointed frame, keyed separately from the batch-verify memo, and
    PLAN_ONLY consumers read the SAME memo (round-11: the CC loop
    truncates the consumer's plan into a checkpoint leaf either way —
    see UNAUDITABLE_LEAF_PINS — so a fresh per-consumer build bought the
    audit nothing at ~11 s a pop per window_audit sweep)."""
    from repcheck_data_integration_spark.operators import ckpt

    ckpt._COMPONENTS_CACHE.clear()
    a = ckpt.shared_stream_components(spark, SF)
    b = ckpt.shared_stream_components(spark, SF)
    assert a is b
    (key,) = ckpt._COMPONENTS_CACHE
    assert key[-1] == "stream"
    # distinct memo from the batch-verify components (different edge
    # semantics: minhash-agreement vs jaccard-verified pairs)
    batch = ckpt.shared_components(spark, SF)
    assert batch is not a
    assert len(ckpt._COMPONENTS_CACHE) == 2
    # PLAN_ONLY is served from the memo too (round-11): the audit's
    # leaf-pin test, not a per-consumer rebuild, guards visibility
    with ckpt.plan_only():
        full = ckpt.shared_stream_components(spark, SF)
        assert full is a


def test_plan_only_scope_nests_and_memo_outlives_it(spark, tmp_path):
    """ckpt.plan_only() restores the value it found, on normal exit and
    on exception, so scopes nest; pin() is the identity inside a scope
    and an RDD-backed checkpoint outside one; a memo first built inside a
    scope is built with pins enabled and served as the same object
    outside it."""
    from repcheck_data_integration_spark import tables
    from repcheck_data_integration_spark.operators import ckpt

    def leaf(df):
        return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()

    assert not ckpt.PLAN_ONLY
    with ckpt.plan_only():
        with ckpt.plan_only(False):
            assert not ckpt.PLAN_ONLY
        assert ckpt.PLAN_ONLY
        with pytest.raises(RuntimeError):
            with ckpt.plan_only(False):
                raise RuntimeError("inner")
        assert ckpt.PLAN_ONLY
        df = spark.range(3)
        assert ckpt.pin(df) is df
    assert not ckpt.PLAN_ONLY
    assert leaf(ckpt.pin(spark.range(3))) == "LogicalRDD"

    (tmp_path / "documents.parquet").mkdir()
    sf = str(tmp_path)
    seen = []

    def build(s, _):
        seen.append(ckpt.PLAN_ONLY)
        return s.range(3)

    try:
        with ckpt.plan_only():
            inside = ckpt._memo(spark, sf, "components", build)
        assert ckpt._memo(spark, sf, "components", build) is inside
        assert seen == [False]
        assert leaf(inside) == "LogicalRDD"
    finally:
        for k in [k for k in ckpt._COMPONENTS_CACHE if k[1] == sf]:
            del ckpt._COMPONENTS_CACHE[k]
        tables.FIXED_COSTS.pop(f"components:{tmp_path.name}", None)


def test_gesd_rounds_on_cached_bounded_series(spark):
    spark.catalog.clearCache()
    p = plan(spark, "events_gesd_outliers", execute=True)
    # three rounds walk the |days| frame through reused shuffles; fact
    # columns pruned
    assert "ReusedExchange" in p
    schemas = [s[:200] for s in p.split("ReadSchema")[1:]]
    assert all("props" not in s and "value" not in s for s in schemas)


def test_dow_profile_pruned_single_fact_scan(spark):
    p = plan(spark, "ts_dow_profile")
    schemas = [s[:200] for s in p.split("ReadSchema")[1:]]
    assert len(schemas) == 1  # one fact scan feeds the whole profile
    assert "props" not in schemas[0] and "user_id" not in schemas[0]


def test_zip_scan_distributed_decode_no_shuffle(spark):
    p = plan(spark, "src_zip_archive_scan")
    # archives parallelize via binaryFile; the unzip+parse is the one
    # honest Python node; nothing shuffles
    assert "MapInPandas" in p
    assert "Exchange" not in p


def test_rr_single_user_shuffle_pruned(spark):
    p = plan(spark, "priv_randomized_response")
    rs = p.split("ReadSchema", 1)[1][:250]
    assert "user_id" in rs and "event_type" in rs and "props" not in rs
    assert p.count("+- HashAggregate") >= 2  # partial+final truth bits


def test_cosine_histogram_blocked_equi_join(spark):
    p = plan(spark, "emb_pair_cosine_histogram")
    # label-blocked pairs: a real equi-join on label, never cartesian
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p \
        or "ShuffledHashJoin" in p


def test_logrank_curve_table_bounded(spark):
    p = plan(spark, "events_logrank_test")
    # one user-keyed aggregate feeds the |lifetimes|-bounded curve;
    # fact scan reads only (user_id, ts)
    schemas = [s[:200] for s in p.split("ReadSchema")[1:]]
    assert all("props" not in s and "value" not in s for s in schemas)
    assert p.count("+- HashAggregate") >= 2


def test_seasonal_strength_single_fact_scan(spark):
    spark.catalog.clearCache()
    p = plan(spark, "ts_seasonal_strength", "simple", execute=True)
    # group masses and totals share the |days| frame through a reused
    # shuffle — the executed (final) plan scans the fact table once
    p = p.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in p
    schemas = [s[:200] for s in p.split("ReadSchema")[1:]]
    assert len(schemas) == 1 and "props" not in schemas[0]


def test_cmh_filter_pushed_partial_agg(spark):
    p = plan(spark, "ml_cmh_test")
    assert "PushedFilters" in p  # the priority IN-list reaches the scan
    assert "o_orderpriority" in p.split("PushedFilters")[1][:250]
    assert p.count("+- HashAggregate") >= 2


def test_watermark_single_fact_shuffle(spark):
    p = plan(spark, "text_watermark_score")
    # one (doc,bigram) aggregate + per-doc sum: no joins, no model side
    assert "Join" not in p or "BroadcastHashJoin" not in p
    rs = p.split("ReadSchema", 1)[1][:200]
    assert "doc_id" in rs and "text" in rs and "lang" not in rs


def test_source_overlap_gram_join_cached(spark):
    spark.catalog.clearCache()
    p = plan(spark, "text_source_overlap_matrix")
    # sizes + self-join read the persisted distinct (source, gram) set;
    # the pair join keys on the gram
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p


def test_ktruss_ordered_triangle_joins_cached(spark):
    spark.catalog.clearCache()
    p = plan(spark, "graph_ktruss")
    # both peel rounds run the ordered-triangle equi-join on persisted
    # edge frames; no cartesian anywhere
    assert "InMemoryTableScan" in p
    assert "CartesianProduct" not in p


def test_cidr_lpm_is_broadcast_cascade(spark):
    """Both prefix-length joins broadcast the routing dimensions; no
    range join / cartesian appears."""
    p = plan(spark, "join_cidr_lookup")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_keep_first_has_no_rownumber_window(spark):
    """Survivor choice is a min AGGREGATE on the segment hash, not a
    row_number window (no per-group sort at scale)."""
    p = plan(spark, "dedup_paragraphs_keep_first")
    assert "Window" not in p
    assert "HashAggregate" in p


def test_pmi_bigrams_without_self_join(spark):
    """Bigrams come from per-row array transform — the only joins are
    the unigram-count lookups and broadcast scalar totals."""
    p = plan(spark, "text_pmi_collocations")
    assert "CartesianProduct" not in p
    # token self-join on position would be a non-broadcast SMJ on doc_id
    assert "SortMergeJoin" not in p


def test_shapley_single_fact_pass(spark):
    """Events is scanned once, eagerly, into the localCheckpointed
    16-row lattice; the downstream plan reads ONLY that materialized
    frame (zero parquet scans) — no shuffle wider than the coalition
    frames, no cartesian product."""
    import re
    p = plan(spark, "events_attribution_shapley")
    scans = re.findall(r"Scan parquet\s+\(\d+\)", p)
    assert len(scans) == 0
    assert "ExistingRDD" in p
    assert "CartesianProduct" not in p


def test_conformal_calib_window_is_copartitioned(spark):
    """The conformal rank window partitions by group (never a global
    single-partition sort of the calibration fold)."""
    p = plan(spark, "ml_conformal_interval")
    assert "Window" in p
    # the only global (unpartitioned) window warning pattern is absent:
    # partition spec must include grp
    import re
    wins = [l for l in p.splitlines() if "windowspecdefinition" in l.lower()]
    assert any("grp" in w for w in wins)


def test_qini_is_one_fact_aggregate(spark):
    """Qini touches events once: the per-user frame is checkpointed after
    ONE fact scan (which happens eagerly during query construction), so
    the returned plan reads the materialized RDD — zero parquet scans —
    and every downstream branch (offset table, total, rank join, bin
    cumulative) works off dimension-sized frames. Round 7 also removed
    the global row_number/count: rank is reconstructed from a distinct-
    activity offset table + a PARTITIONED window (window_audit: 0)."""
    import re
    p = plan(spark, "ml_qini_uplift")
    assert len(re.findall(r"Scan parquet\s+\(\d+\)", p)) == 0
    assert "ExistingRDD" in p  # the checkpointed per-bin frame
    # the rank window (partitioned by activity) ran EAGERLY inside the
    # per_bin checkpoint during construction, so the returned plan has no
    # Window node at all — the cumulative is the broadcast theta join
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p


def test_median_exact_no_fact_window_no_int_rank(spark):
    """agg_median_exact (round-10 partitioned-window sweep): the dual
    fact-scaled per-priority rank sorts are gone — the median selects
    from distinct-value grouped prefix offsets. No row_number anywhere;
    every window partitions by (priority, value bucket)."""
    p = plan(spark, "agg_median_exact")
    assert "row_number" not in p
    wins = [l for l in p.splitlines() if "windowspecdefinition" in l]
    assert wins and all("_gpbk" in w for w in wins)
    # the distinct-value stats are pinned at build: the returned plan
    # reads the checkpointed frame, and the one fact scan ran eagerly
    assert "ExistingRDD" in p


def test_auc_roc_distinct_value_offsets_no_int_rank(spark):
    """ml_auc_roc (round-10 sweep): the pooled '__all__' segment was a
    constant partition key — a global fact sort in disguise. Now s2r
    comes from the distinct-(segment, cents) offsets; no rank()/
    row_number() node survives, and every window carries the bucket."""
    p = plan(spark, "ml_auc_roc")
    assert "row_number" not in p and " rank(" not in p
    wins = [l for l in p.splitlines() if "windowspecdefinition" in l]
    assert wins and all("_gpbk" in w for w in wins)


def test_quantile_normalize_bucketed_long_rank(spark):
    """emb_quantile_normalize (round-10 sweep): per-dim rank via
    (j, bucket)-partitioned count-over-frame — the 64 fact-scaled dim
    partitions and the int row_number counter are gone."""
    p = plan(spark, "emb_quantile_normalize")
    assert "row_number" not in p
    wins = [l for l in p.splitlines() if "windowspecdefinition" in l]
    assert wins and any("_grbk" in w for w in wins)


def test_sample_caps_prune_before_rank_window(spark):
    """sample_domain_cap / sample_class_balance (round-10 sweep): the
    [1, cap] bucket pruning must filter on the broadcast offsets BEFORE
    any window (only ~cap rows per group are ever ranked), windows
    partition by (group, bucket), and no int rank counter remains."""
    for q, grp in (("sample_domain_cap", "source"),
                   ("sample_class_balance", "label")):
        p = plan(spark, q)
        assert "row_number" not in p, q
        wins = [l for l in p.splitlines() if "windowspecdefinition" in l]
        # offset-scan windows partition by (grp, _gpbk); the rank pass by
        # (grp, _grbk) — every window carries a bucket key and the group
        assert wins, q
        assert all(("_grbk" in w or "_gpbk" in w) and grp in w for w in wins), q


def test_q2_min_supplier_is_aggregate_not_window(spark):
    """tpch_q2_min_supplier (round-10 sweep): argmin per brand as a
    map-side-combining min-struct aggregate — no window node at all
    over the partsupp-scaled link."""
    p = plan(spark, "tpch_q2_min_supplier")
    assert "Window" not in p and "row_number" not in p
    assert "HashAggregate" in p


def test_did_no_cartesian_fact_blowup(spark):
    """DiD's only cross joins are the broadcast 1-row span scalar and
    the 2-row period grid."""
    p = plan(spark, "ml_diff_in_diff")
    assert "CartesianProduct" not in p


# --- Unpartitioned-window inventory (VERDICT r5 #5) -----------------------
#
# Round 7 (VERDICT r6 #3): agg_rfm_scores and ml_qini_uplift were REMOVED
# from this list by departitioning — the r6 verdict correctly called out
# that their windows ran over the per-customer / per-user DIMENSION (not a
# bounded grid): rfm now assigns quintiles from a broadcast exact-percentile
# boundary row, qini reconstructs the global rank from a distinct-activity
# offset table plus a PARTITIONED window, and both ops' 10-ish-row
# cumulative grids became broadcast theta joins. Neither op has any
# unpartitioned window left.
#
# `WindowExec: No Partition Defined` floods check.py's log (2000+ lines),
# which is exactly the noise a REAL data-sized global window could hide in.
# Every entry below was audited (tools/window_audit.py): each unpartitioned
# window runs over a PRE-AGGREGATED bounded relation — a value alphabet
# (Mann-Whitney's 50 quantity values), a fixed report grid (Lorenz deciles,
# calibration bins, lift/qini/KS curves), a per-series time axis
# (|hours| rows after the fact-table aggregate), or a top-k already capped
# by a LIMIT — never raw fact rows. Global-by-algorithm prefix sums over
# such relations are the post-aggregate cost a rank/cdf-based statistic
# always pays; the fact scan itself is always partitioned.
#
# Any NEW query with an unpartitioned window fails here until it is either
# partitioned or consciously added with a bounded-input justification.
UNPARTITIONED_WINDOW_WHITELIST = {
    # report grids / curves whose WINDOW INPUT (not just output) is <= ~100
    # rows by construction — a fixed bin/curve grid produced by a GROUP BY
    # on a bounded bin id. (Round-8 tightening, VERDICT r7 #5: rows whose
    # window INPUT was a data dimension — abc_pareto |parts|, lorenz and
    # gini |customers| — were departitioned via operators/prefix.py and
    # removed; "the output is 10 rows" never justifies a whitelist entry.)
    "agg_quantile_histogram": 1,
    # round-8: the rank-cut family (calibration/brier/isotonic/KS/lift)
    # was departitioned via operators/prefix.py after the audit's cache
    # blindness was fixed (a sibling op's persist had hidden isotonic's
    # 10 fact windows); what remains is one <=10-row grid window each
    "ml_calibration_bins": 1,  # ECE sum over the 10-row bin grid
    "ml_lift_gains": 1,  # cumsum over the 10-row decile grid
    # top-k windows over a relation ALREADY capped by a LIMIT
    # (TakeOrderedAndProject runs distributed; the rank window sees <= K)
    "llm_hybrid_rrf": 2,
    "agg_copurchase_pairs": 1,  # rank over the <= MB_TOP survivors
    "sim_search_ivfpq": 2,  # codebook seed numbering over limit(PQ_K);
    # counted twice because the audit now recurses into the two cached
    # plans (pos/cb persists) that both contain it
    # value-alphabet statistics: window input is <= |distinct values| of a
    # genuinely bounded alphabet (quantity grades, confusion labels, sketch
    # registers) — NOT a per-entity aggregate like customer revenue
    "ml_mann_whitney_u": 1,
    "ml_spearman_corr": 2,
    "ml_confusion_prf": 1,
    "ml_bradley_terry": 1,
    "agg_kmv_sketch": 1,
    "agg_count_min_sketch": 1,
    "emb_pq_encode": 1,
    # per-series time axes (|hours|/|days| after the fact aggregate)
    "events_gesd_outliers": 13,  # iterative GESD: one window per round, series-sized
    "events_kaplan_meier": 2,
    "events_late_data_audit": 1,
    "events_logrank_test": 1,
    "events_user_paths": 1,
    "events_attribution_shapley": 1,  # 16-row coalition lattice
    "ts_anomaly_seasonal": 8,
    "ts_changepoint_binseg": 2,
    "ts_decompose_seasonal": 2,
    "ts_dominant_period": 1,
    "ts_holt_linear": 2,
    "ts_runs_test": 3,
    # (ts_theil_sen left this list in round 9: both pair-multiset
    # medians now run through _median_center_avg's bucketed exact
    # selection — every window partitioned, the quadratic pair relation
    # stays a distributed theta join)
    # corpus mixing / vocab top-k (domain- or vocab-capped relations)
    "corpus_data_card": 1,
    "mix_epoch_schedule": 2,
    "mix_temperature_weights": 2,
    "mix_token_budget_allocation": 3,
    "text_dsir_weights": 1,
    "text_heaps_fit": 1,
    "text_keyphrase_textrank": 1,
    "text_pmi_pairs": 1,
    "text_term_burstiness": 1,
    "text_vocab_topk": 1,
    "text_zipf_fit": 1,
    # boosted stumps: one cdf window per boosting round over the value
    # alphabet (not per fact row)
    "ml_boosted_stumps": 8,
}


# Round-10 partitioned-window sweep: the unpartitioned count above cannot
# see a window whose PARTITION key has a bounded domain (5 priorities, a
# pooled '__all__' constant, 64 dims, a handful of languages/sources/
# labels) — each partition is then fact-scaled (one task) AND the
# IntegerType counters inside row_number/rank/dense_rank/percent_rank/
# ntile silently wrap past 2^31 rows per partition while DuckDB's BIGINT
# twins keep counting (tools/rank_wrap_probe.py grounds the behavior
# empirically). The true offenders were migrated to
# operators/prefix.py (grouped distinct-value offsets / bucketed LONG
# ranks): ml_auc_roc, agg_median_exact, ml_conformal_interval,
# emb_quantile_normalize, sample_domain_cap, sample_class_balance,
# tpch_q2_min_supplier, win_rank_dense, win_distribution,
# emb_label_outliers, text_quality_quantile — plus LONG count-over-frame
# swaps for every within-tie-group rank (lift/lorenz/abc/sprt/qini/
# _median_center_avg).
#
# Every REMAINING int-rank window below is justified by its partition's
# boundedness class:
#  [cand] per-probe/query/entity candidate lists bounded by construction
#         (block caps, bands, cells, top-k per query, per-key versions)
#  [alpha] distinct-value alphabets / report grids / vocab-capped or
#         post-LIMIT relations (the unpartitioned whitelist's classes)
#  [2lvl] two-level pid-local ranks (bounded by rows-per-partition)
#  [ent]  per-entity sequences bounded by domain semantics (lines per
#         order <= 7, days/sessions per user bounded by calendar)
#  [deg]  per-node neighbor/label lists (degree-bounded; a 2^31-degree
#         hub would break many things before the counter — documented)
#  [cal]  per-calendar-bucket (rows/day; ~3e8/day at 1e12-events-a-decade
#         posture — the one class to re-audit if event rates grow 10x)
INT_RANK_WINDOW_WHITELIST = {
    "agg_bootstrap_ci": 1,  # [alpha] per-segment over B bootstrap means
    "agg_copurchase_pairs": 1,  # [alpha] rank over <= MB_TOP survivors
    "agg_count_min_sketch": 1,  # [alpha] sketch register grid
    "agg_kmv_sketch": 5,  # [2lvl]
    "agg_mode": 1,  # [alpha] distinct (flag, quantity) counts
    "agg_penny_allocation": 1,  # [ent] lines per order <= 7
    "agg_quantile_histogram": 1,  # [alpha] bucket grid
    "dedup_embedding_pairs_capped": 1,  # [cand] banded candidates per src
    "dedup_repeated_ngrams": 1,  # [ent] positions within one document
    "emb_pq_encode": 1,  # [cand] K-seed numbering over limit(PQ_K); the
    # per-(vec, subspace) code argmins are packed-long min aggregates
    # since round 11 (no window)
    "events_gesd_outliers": 13,  # [alpha] series-sized, one per round
    "events_longest_streak": 1,  # [ent] days per user (calendar)
    "events_user_paths": 1,  # [ent] sessions per user
    "graph_label_propagation": 2,  # [deg]
    "graph_modularity": 6,  # [deg]
    "graph_random_walks": 3,  # [deg]
    "join_fuzzy_multipass": 1,  # [cand]
    "join_fuzzy_tokensort": 1,  # [cand]
    "join_phonetic_block": 1,  # [cand]
    "join_set_similarity": 2,  # [cand] prefix-filtered candidates
    "join_spatial_knn": 1,  # [cand] radius-capped
    "llm_hybrid_rrf": 2,  # [alpha] post-LIMIT legs
    "llm_mmr_select": 8,  # [cand] per-query pool per MMR round
    "llm_rag_eval": 1,  # [cand]
    "llm_sim_search": 1,  # [cand]
    "mix_token_budget_allocation": 1,  # [alpha] per-source rows
    "ml_boosted_stumps": 4,  # [alpha] value alphabet per round
    "ml_bradley_terry": 341,  # [alpha] item grid; MM unroll duplicates
    "ml_decision_stump": 1,  # [alpha] value alphabet
    "ml_knn_classify": 2,  # [cand] k neighbors per query
    "pipeline_corpus_curation_v2": 1,  # [cand] per-cluster canonical pick
    "pipeline_corpus_curation_v3": 1,  # [cand]
    "pipeline_enrich_merge": 1,  # [cand] per-key versions
    "pipeline_rag_query": 1,  # [cand]
    "rec_item_item_cosine": 1,  # [cand] capped neighbor lists
    "rec_slope_one": 1,  # [cand] item-dim pairs
    "resolve_survivorship": 2,  # [cand] records per entity
    "sim_search_ivf": 2,  # [cand] probed cells / top-k per query
    "sim_search_ivfpq": 4,  # [cand] probe + final top-k + 2× cached seed
    # numbering; encode/assign argmins are packed-long mins since round 11
    "sim_search_lsh": 1,  # [cand]
    "sim_search_lsh_multiprobe": 1,  # [cand]
    "sim_search_mips": 1,  # [cand]
    "sim_search_recall_report": 3,  # [cand]
    "sim_search_topk": 1,  # [cand]
    "snk_upsert": 1,  # [cand] versions per key
    "stream_topk_types": 1,  # [alpha] event-type alphabet per window
    "text_keyphrase_textrank": 1,  # [alpha] vocab-capped
    "text_perplexity_buckets": 1,  # [alpha] bucket grid
    "text_pmi_pairs": 1,  # [alpha] top-k over capped pairs
    "text_term_burstiness": 2,  # [2lvl]
    "text_tfidf_topterms": 1,  # [ent] terms within one document
    "text_vocab_topk": 1,  # [2lvl]
    "text_zipf_fit": 2,  # [alpha] vocab-capped
    "ts_changepoint_binseg": 2,  # [alpha] day axis
    "ts_dominant_period": 1,  # [alpha] day axis
    "ts_dow_profile": 1,  # [alpha] daily counts per dow
    "ts_resample_ohlc": 2,  # [cal] first/last per day
    "ts_runs_test": 1,  # [alpha] day axis
    "win_current_role": 1,  # [ent] orders per customer
    "win_latest_version": 1,  # [ent] lines per order <= 7
    "win_top1_score": 1,  # [ent] orders per customer
}


def test_unpartitioned_window_inventory_pinned(registry_sweep):
    """Pin BOTH inventories from the shared session-wide registry sweep
    (conftest registry_sweep — one audit pass serves this test, the
    unauditable-tail pin, and the driver-canon schema sweep):
    unpartitioned windows (can't hide in the warning flood) and int-rank
    windows (can't creep back over a fact-scaled partition without a
    boundedness justification here)."""
    ranks = registry_sweep["ranks"]
    found = registry_sweep["windows"]
    new = {k: v for k, v in found.items() if k not in UNPARTITIONED_WINDOW_WHITELIST}
    gone = {k: v for k, v in UNPARTITIONED_WINDOW_WHITELIST.items() if k not in found}
    changed = {
        k: (UNPARTITIONED_WINDOW_WHITELIST[k], v)
        for k, v in found.items()
        if k in UNPARTITIONED_WINDOW_WHITELIST and UNPARTITIONED_WINDOW_WHITELIST[k] != v
    }
    assert not new, f"NEW unpartitioned windows (audit + justify or partition): {new}"
    assert not changed, f"count drift (re-audit): {changed}"
    assert not gone, f"stale whitelist rows (remove): {gone}"

    rnew = {k: v for k, v in ranks.items() if k not in INT_RANK_WINDOW_WHITELIST}
    rgone = {k: v for k, v in INT_RANK_WINDOW_WHITELIST.items() if k not in ranks}
    rchanged = {
        k: (INT_RANK_WINDOW_WHITELIST[k], v)
        for k, v in ranks.items()
        if k in INT_RANK_WINDOW_WHITELIST and INT_RANK_WINDOW_WHITELIST[k] != v
    }
    assert not rnew, (
        f"NEW int-rank windows (classify the partition's boundedness or "
        f"use prefix.prefix_offsets / count-over-frame): {rnew}"
    )
    assert not rchanged, f"int-rank count drift (re-audit): {rchanged}"
    assert not rgone, f"stale int-rank whitelist rows (remove): {rgone}"


# Every SortAggregate in the registry's physical plans (counted in the
# registry sweep, partial and final levels both). An aggregate whose buffer
# is not fixed-width mutable — a min/max over a struct or a STRING — plans
# as a SortAggregate, which sorts each task's whole input; 4d220f2's
# min(lang_true) put the nb/McNemar family back on this path unnoticed.
SORT_AGGREGATE_WHITELIST = {
    # struct top-1 per group, the form for keys that cannot be packed
    "agg_minmax_by": 2,  # latest order per customer
    "dedup_semantic_contamination": 2,  # nearest eval vector per train row
    "events_longest_streak": 2,  # longest streak per user
    "join_fuzzy_topk": 2,  # best candidate per probe, exact first
    "join_fuzzy_wratio": 2,  # the same resolver with the WRatio scorer
    "llm_preference_pairs": 2,  # chosen and rejected in one aggregate
    "ml_kmeans_refine": 2,  # nearest centroid per vector
    "mm_audio_energy": 2,  # peak window per document
    "pipeline_dpo_prep": 2,  # llm_preference_pairs inside the pipeline
    "text_repetition_stats": 2,  # top token per document
    "tpch_q2_min_supplier": 2,  # cheapest supplier per brand
    "win_max_concurrency": 2,  # peak day per supplier
    # min/max over a STRING column
    "dq_profile": 4,  # one-row profile of string columns
    "fn_collation_group": 2,  # binary min() picks the casing variant
    "resolve_survivorship": 4,  # golden segment beside a countDistinct
}


def test_sort_aggregate_inventory_pinned(registry_sweep):
    """Pin every query's SortAggregate count from the shared registry
    sweep, so a new struct or STRING min/max cannot relapse a hash
    aggregate to a sort-based one without a reason recorded above."""
    found = {
        name: counts["SortAggregateExec"]
        for name, counts in registry_sweep["nodes"].items()
        if counts["SortAggregateExec"]
    }
    new = {k: v for k, v in found.items() if k not in SORT_AGGREGATE_WHITELIST}
    gone = {k: v for k, v in SORT_AGGREGATE_WHITELIST.items() if k not in found}
    changed = {
        k: (SORT_AGGREGATE_WHITELIST[k], v)
        for k, v in found.items()
        if k in SORT_AGGREGATE_WHITELIST and SORT_AGGREGATE_WHITELIST[k] != v
    }
    assert not new, f"NEW SortAggregates (use functions/top1.py): {new}"
    assert not changed, f"SortAggregate count drift (re-audit): {changed}"
    assert not gone, f"stale SortAggregate whitelist rows (remove): {gone}"


# Every query whose physical plan reads a persisted relation, counted as
# InMemoryTableScanExec nodes in the registry sweep (nested cached plans
# included, so a scan inside a cached subtree counts once per reference).
# Each query runs against an empty cache, so a persist pays only when one
# query reads the subtree through a construction-time action and again
# through the returned frame, or across loop rounds; a subtree read only
# by branches of the one returned plan keeps its persist only if an A/B
# at sf0.1 measured it slower without (CHANGES.md holds the table). A
# persist read only at construction (ml_pca_power_iteration's quantized
# vectors, read by first() and each round's collect()) leaves no scan in
# the returned plan and no row here.
PERSIST_INVENTORY = {
    # read at construction and again by the returned frame
    "events_markov_stationary": (
        7,
        "the |S| count() at build, both iterations, the row sums",
    ),
    "graph_bfs_distance": (
        132,
        "the seed first() at build, then every round's expand and visited union",
    ),
    "graph_hits": (
        10,
        "edges primed by count(); each L1 total is a first() later rounds reread",
    ),
    "graph_kcore": (
        1,
        "every peel round, pinned at build, reads the undirected edge list",
    ),
    "graph_label_propagation": (
        3,
        "each pinned round joins the closed neighborhood",
    ),
    "graph_modularity": (
        24,
        "label propagation's pinned rounds, then degrees, M2 and intra",
    ),
    # read across loop rounds
    "graph_ktruss": (
        12,
        "each round's surviving edges feed the next round's three triangle legs",
    ),
    "graph_pagerank": (
        8,
        "every iteration joins edges and degrees; checkpointed every 5",
    ),
    # read only by branches of the returned plan, kept because the sf0.1
    # A/B (median of 3 or more alternating min-of-2 drains) was slower
    # without the persist beyond the parent's spread, or because without
    # it the subtree is built twice, with no ReusedExchange to share it.
    # A shingle frame is kept only where two branches read it and
    # rebuilding the shingles costs more than caching them; its explodes
    # are explode_outer, so no persist serves as a barrier against the
    # inferred size(sh) > 0 filter
    "dedup_contamination_ngrams": (
        2,
        "shingles, read by the bench and corpus branches: 1.18 -> 1.24 s without",
    ),
    "dedup_lsh_calibration": (
        6,
        "minhash signatures, read by the bands and both scoring sides",
    ),
    "dedup_ngram_jaccard": (
        4,
        "shingles, read by sizes and the explode: 1.75 -> 11.64 s without",
    ),
    "events_type_hour_mi": (4, "(type, hour) joint: 0.72 -> 0.87 s without"),
    "graph_adamic_adar": (3, "thinned edges: 2.43 -> 4.88 s without"),
    "graph_clustering_coeff": (4, "pair relation: 4.20 -> 6.53 s without"),
    "graph_jaccard_neighbors": (4, "thinned edges: 3.04 -> 4.88 s without"),
    "graph_ppr": (11, "undirected edges: 7.21 -> 9.05 s without"),
    "graph_random_walks": (17, "pairs + adjacency: 5.51 -> 8.25 s without"),
    "graph_triangle_count": (3, "pair relation: 4.34 -> 5.49 s without"),
    "join_set_similarity": (
        8,
        "exploded tokens (three consumers) and the prefix (both join sides)",
    ),
    "llm_rag_eval": (2, "rag_query's assigned chunks: 1.82 -> 2.52 s without"),
    "ml_cohen_kappa": (6, "confusion matrix: 1.25 -> 1.37 s without"),
    "pipeline_dpo_prep": (
        2,
        "contamination shingles: 1.48 -> 1.87 s without",
    ),
    "pipeline_rag_query": (2, "assigned chunks: 1.39 -> 1.79 s without"),
    "text_boilerplate_lines": (2, "segment lines: 1.02 -> 1.19 s without"),
    "text_dsir_weights": (
        2,
        "incidence: 1.35 -> 1.45 s without; built twice then (no reuse)",
    ),
    "text_keyphrase_textrank": (8, "edges + degrees: 2.47 -> 2.90 s without"),
    "text_kneser_ney_xent": (
        3,
        "(doc, bigram) counts: flat without, but built twice (no reuse)",
    ),
    "text_pmi_pairs": (7, "(doc, tok) incidence: 1.52 -> 1.95 s without"),
    "text_source_overlap_matrix": (
        3,
        "(source, gram) set: 4.73 -> 6.45 s without (in-session A/B)",
    ),
}


def test_persist_inventory_pinned(registry_sweep):
    """Pin every query's cached-relation scan count from the shared
    registry sweep, so a new .persist() (or one that comes back) cannot
    land without a recorded reason, and a deleted one cannot leave a
    stale row."""
    found = {
        name: counts["InMemoryTableScanExec"]
        for name, counts in registry_sweep["nodes"].items()
        if counts["InMemoryTableScanExec"]
    }
    pinned = {k: n for k, (n, _) in PERSIST_INVENTORY.items()}
    new = {k: v for k, v in found.items() if k not in pinned}
    gone = {k: v for k, v in pinned.items() if k not in found}
    changed = {
        k: (pinned[k], v)
        for k, v in found.items()
        if k in pinned and pinned[k] != v
    }
    assert not new, f"NEW persisted relations (justify or delete): {new}"
    assert not changed, f"cached-scan count drift (re-audit): {changed}"
    assert not gone, f"stale persist inventory rows (remove): {gone}"
    assert all(reason.strip() for _, reason in PERSIST_INVENTORY.values())


# Every regex, hash and Python-UDF expression under a LambdaFunction in
# the registry's optimized plans (tools/window_audit.lambda_traps, counted
# in the registry sweep with cached subtrees included). An expression that
# reads the lambda variable is per-element work; one that does not was
# inlined into the lambda from a projection below and runs once per
# element instead of once per row — the CLAUDE.md higher-order-function
# trap (a plain explode of a with_shingles array puts the tokenizer regex
# under the shingle lambda this way). Each row says which kind it is.
LAMBDA_TRAP_WHITELIST = {
    # per-element: the hash reads the lambda variable
    "dedup_embedding_pairs": (4, "md5(id, dim) per synthetic vector dim"),
    "dedup_embedding_pairs_capped": (4, "md5(id, dim) per synthetic vector dim"),
    "dedup_embedding_pairs_star": (2, "md5(id, dim) per synthetic vector dim"),
    "dedup_winnowing": (1, "md5 of each positional 3-gram"),
    "dedup_winnowing_pairs": (3, "md5 of each positional 3-gram"),
    "llm_rag_eval": (2, "rag_query's md5(chunk_md5, dim), two cached scans"),
    "pipeline_rag_index": (1, "md5(chunk_md5, dim) per projection dim"),
    "pipeline_rag_query": (2, "md5(chunk_md5, dim), two cached scans"),
    "sim_search_lsh": (2, "md5(id, dim) per synthetic vector dim"),
    "sim_search_lsh_multiprobe": (2, "md5(id, dim) per synthetic vector dim"),
    "stream_curation_pipeline": (1, "md5 of each token (hashed features)"),
    "text_classifier_score": (1, "md5 of each token (hashed features)"),
    "text_fingerprint": (2, "md5 of each shingle, both sides"),
    # per-element: the regex reads the lambda variable
    "pipeline_pretrain_corpus": (1, "rlike over each token (gopher rule)"),
    "text_gopher_filter": (1, "rlike over each token"),
    "text_quality_logreg": (1, "rlike over each token (gopher rule)"),
}


def test_lambda_trap_inventory_pinned(registry_sweep):
    """Pin every query's count of regex, hash and Python-UDF expressions
    under a lambda from the shared registry sweep, so a new one — above
    all a tokenizer regex inlined into a shingle lambda — cannot land
    without a reason recorded above."""
    found = registry_sweep["lambda_traps"]
    pinned = {k: n for k, (n, _) in LAMBDA_TRAP_WHITELIST.items()}
    new = {k: v for k, v in found.items() if k not in pinned}
    gone = {k: v for k, v in pinned.items() if k not in found}
    changed = {
        k: (pinned[k], v)
        for k, v in found.items()
        if k in pinned and pinned[k] != v
    }
    assert not new, f"NEW expressions under a lambda (inlined?): {new}"
    assert not changed, f"lambda expression count drift (re-audit): {changed}"
    assert not gone, f"stale lambda whitelist rows (remove): {gone}"


def test_stream_minhash_signatures_keep_tokenizer_out_of_lambda(spark):
    """The streaming maintainer's signature build reaches the registry only
    through stream_dedup_minhash, a checkpoint leaf the sweep cannot see
    into (UNAUDITABLE_LEAF_PINS), so its plan is checked here: with the
    shingle array exploded by explode_outer, no tokenizer regex sits
    inside the shingle lambda (a plain explode puts six there)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from window_audit import lambda_traps

    from repcheck_data_integration_spark.operators.dedup import (
        minhash_signatures,
        with_shingles,
    )
    from repcheck_data_integration_spark.tables import load

    docs = load(spark, SF, "documents").select("doc_id", "text")
    sigs = minhash_signatures(with_shingles(docs).select("doc_id", "sh"))
    assert not lambda_traps(sigs), lambda_traps(sigs)


# Round-10 (VERDICT r9 #5): the unauditable tail shrank 16 -> 6. Literal
# createDataFrame grids now build through tables.literal_frame
# (LocalRelation, not LogicalRDD), fixed unrolls route through ckpt.pin
# (ml_bradley_terry, label_propagation -> graph_label_propagation /
# graph_modularity fully plan-visible), and the minhash-sig pin is
# PLAN_ONLY-aware. What remains is EXACTLY the loops whose convergence /
# argmax probes execute at construction (the CC family) plus kcore's
# 3x-fan-out unroll — each covered by a one-round audit hook
# (operators/audit_hooks.py) whose representative round body must stay
# fully auditable and window-free.
UNAUDITABLE_LEAF_PINS = {
    "dedup_cluster_stats": 1,
    "dedup_components": 1,
    "dq_split_contamination": 3,
    "graph_kcore": 3,
    "split_leakage_safe": 1,
    "stream_dedup_minhash": 1,
}


def test_unauditable_tail_pinned_and_hook_covered(spark, registry_sweep):
    """Every lineage-truncated leaf that survives plan-only mode belongs
    to a known iterative loop AND that loop's round body is registered as
    an audit hook that is itself fully auditable with zero unpartitioned
    windows. A new truncated leaf (or a hook regression) fails here.
    The leaf inventory comes from the shared registry sweep (conftest);
    the hook bodies are re-audited here (cheap — zero jobs)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from window_audit import audit_hooks

    from repcheck_data_integration_spark.operators.audit_hooks import (
        QUERY_HOOKS,
    )

    unaud = registry_sweep["unauditable"]
    assert unaud == UNAUDITABLE_LEAF_PINS, unaud
    for name in unaud:
        assert name in QUERY_HOOKS, f"{name} has no one-round audit hook"
    for machinery, (n_windows, n_leaves) in audit_hooks(spark).items():
        assert n_windows == 0, (machinery, n_windows)
        assert n_leaves == 0, (machinery, n_leaves)


def test_bucketed_join_has_no_exchange_under_join(spark):
    """snk_bucketed_join reads both facts bucketed by orderkey: with
    broadcast disabled (at real scale neither fact side broadcasts) the
    join must execute as a sort-merge over the co-located buckets with
    ZERO shuffle exchanges beneath it — the only exchange in the plan is
    the final small groupBy. This is the contract that replaces the
    q3/q5 fact shuffle at 100 TB (measured: tools/bucketed_probe.py,
    9.05 s -> 1.62 s at sf10). At tiny SF with the threshold left on,
    Catalyst correctly broadcasts instead — also fine, which is why the
    assertion pins the no-broadcast path explicitly."""
    import re

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(spark, "snk_bucketed_join", execute=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # the scans report bucketing actually used on both sides
    assert p.count("Bucketed: true") >= 2, p[:2000]
    assert "SortMergeJoin" in p
    # the Final Plan carries exactly ONE shuffle exchange (the post-join
    # aggregate) and no exchange below the join
    final = p.split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bExchange\b", final)) == 1, final[:2500]


def _final_shuffle_exchanges(spark, name: str) -> tuple[str, int]:
    """Executed plan string + count of SHUFFLE exchanges in the AQE final
    plan (\bExchange\b does not match BroadcastExchange), with auto-
    broadcast disabled so tiny-SF Catalyst can't hide a fact shuffle
    behind a broadcast that would never fire at 100 TB."""
    import re

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan(spark, name, execute=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    final = p.split("== Initial Plan ==")[0]
    return p, len(re.findall(r"\bExchange\b", final))


def test_q3_bucketed_path_zero_exchanges(spark):
    """Round-7 registered path (VERDICT r6 #1): tpch_q3 reads orders and
    lineitem through tables.load_bucketed, so the fact-fact join AND the
    orderkey-keyed aggregate need no shuffle at all — the whole plan is
    exchange-free (the dim join is an explicit broadcast hint, the top-k
    is TakeOrdered). This is the 100 TB contract: the monster table
    never moves. And because load_bucketed writes ONE file per bucket
    and the session honors bucketed sortBy metadata (session.py:
    legacy.bucketedTableScan.outputOrdering), the SMJ consumes the
    pre-sorted buckets directly: zero Sort nodes either (q3 at sf10:
    3.19 s raw -> 1.52 s bucketed-unsorted -> 1.10 s sorted)."""
    import re

    p, n = _final_shuffle_exchanges(spark, "tpch_q3_shipping_priority")
    assert p.count("Bucketed: true") >= 2, p[:2000]
    assert "SortMergeJoin" in p
    assert n == 0, p[:2500]
    final = p.split("== Initial Plan ==")[0]
    assert len(re.findall(r"[+:]- Sort ", final)) == 0, final[:2500]


def test_q5_bucketed_path_two_exchanges(spark):
    """tpch_q5 via the bucketed layout: zero exchanges under the joins;
    the only shuffles left are the 25-row n_name aggregate and the final
    sort. Round 9: the fact join is a ShuffledHashJoin over the
    co-located buckets (build = the date+region-filtered orders side),
    which beat the sorted-bucket merge 3.14 s vs 3.57 s interleaved at
    sf10 — the zero-exchange property is unchanged."""
    p, n = _final_shuffle_exchanges(spark, "tpch_q5_local_supplier_volume")
    assert p.count("Bucketed: true") >= 2, p[:2000]
    assert "ShuffledHashJoin" in p
    assert n == 2, p[:2500]


def test_dq_fk_coverage_bucketed_orderkey_edge(spark):
    """dq_fk_coverage's fact-scaled edges ride bucketed layouts: the
    lineitem->orders edge has BOTH sides bucketed on orderkey (child
    aggregate exchange-free, parent co-located), and round 8 moved the
    part/customer PARENTS off broadcast too (2M/1.5M keys at sf10 — a
    borderline >100 MB driver hash relation each, unbounded at 100 TB):
    each now scans its own bucketed layout with ZERO parent exchange.
    Round 9 (VERDICT r8 #5): the partkey and custkey CHILD scans ride
    secondary bucketed layouts clustered on their own FK, so their
    distinct-key aggregates are per-bucket local — the child groupBy
    exchange AND the realign to the parent's buckets both disappear
    (sf10 interleaved min-of-4: 4.76 s -> 3.27 s, 2.1x vs DuckDB).
    Exchange inventory in this 4-shuffle-partition session: orderkey
    edge 1 (final agg only) + part/customer edges 1 each (final agg;
    child agg and parent join both co-located on the FK buckets) +
    4 small-dim edges * 2 = 11. Every exchange carries distinct keys or
    a single row, never fact rows; no fact-sized broadcast build remains
    anywhere in the plan."""
    p, n = _final_shuffle_exchanges(spark, "dq_fk_coverage")
    assert p.count("Bucketed: true") >= 6, p[:2000]
    assert n == 11, p[:2500]


def test_seasonal_strength_quantizer_guard_survives_optimizer(spark):
    """ts_seasonal_strength's quantized group mass has an inherent 2^63
    ceiling (floor on a double returns LONG in Spark); the coalesce-woven
    assert_true must survive into the OPTIMIZED plan — the when/otherwise
    guard shape gets deleted by equal-branch CaseWhen simplification
    (CLAUDE.md round-10 trap), which is exactly the regression this pins."""
    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    df = registry.QUERIES["ts_seasonal_strength"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # assert_true lowers to `if(cond) null else raise_error(...)` by the
    # optimizer — the raise_error with our message is the survival proof
    assert "raise_error" in plan and "quantized group mass" in plan, (
        "quantizer guard optimized away"
    )
