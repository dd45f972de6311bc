"""queries()/oracle_sql() registry — the driver-contract backbone.

Every operator module registers its demo query (a ``(spark, sf_dir) ->
DataFrame`` callable) plus, when DuckDB can express the same computation, an
ANSI-SQL oracle twin. The driver compares row-count + schema + order-
insensitive value hash at sf0.01, so:

- alias every computed column identically on both sides;
- make every result deterministic (full tie-breaks on windows/top-k,
  sort_array on collected sets);
- keep floating aggregation exact by summing in DECIMAL then casting to
  DOUBLE with ``functions.exact.dec_sum`` (parallel double summation is
  order-dependent, decimal is not).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name``; ``oracle`` is the DuckDB SQL twin
    (omit for rows-only ops: geometry refine, UDF kernels, streaming)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# The driver samples the FIRST 50 queries in dict order for its oracle
# compare; round 2's sample covered only TPC-H + basic filters/joins/aggs
# and left every LLM-pipeline north star "untested". This prefix front-loads
# the flagship operators (dedup, ANN, text analysis, curation pipelines,
# multimodal, streaming twins, heavy joins) so driver-visible correctness
# covers what the engine is FOR; the full local gate (tools/check.py) still
# checks all of them.
#
# Round-11 ordering rule (VERDICT.md r10 Next-round #6, same policy
# since r6): the 5 ever-failed rows stay pinned first (never rotate a
# failure out of the window); slots 6–16 re-check every op whose plan or
# build path changed this round (changed ops never ship unsampled);
# slots 17–50 burn the never-driver-sampled oracle-backed backlog (50
# remaining after r10) in registration order — 34 first-time rows,
# leaving 16 for any future round. Rows-only ops stay OUTSIDE the window
# (policy pinned by tests/test_entry.py: a slot spent on a query that
# can never hash-match wastes hash-verification surface; their
# correctness is their unit tests, COVERAGE.md "Rows-only registry").
DRIVER_PRIORITY: list[str] = [
    # ever-failed rows, pinned first forever (r2: tpch_q12; r3: the four):
    "win_session_features",
    "snk_scd2",
    "emb_normalize",
    "emb_quantize_int8",
    "tpch_q12_priority_counts",
    # round-11 changed-op re-checks (changed ops go BEFORE first-time
    # backlog per the rotation policy; all re-gated green in both
    # session shapes this round): the PQ packed-argmin rewrite, the NB
    # packed-argmax family, the curation md5-at-scan rewrite, the
    # kmeans n_members invariant assert, the random-walks persist, and
    # the two shared-components-memo consumers (PLAN_ONLY-serving memo):
    "emb_pq_encode",
    "sim_search_ivfpq",
    "ml_naive_bayes_lang",
    "ml_mcnemar_test",
    "ml_confusion_prf",
    "ml_cohen_kappa",
    "pipeline_corpus_curation_v3",
    "ml_kmeans_refine",
    "graph_random_walks",
    "dedup_cluster_stats",
    "stream_dedup_minhash",
    # round-11 never-sampled backlog (oracle-backed, registration
    # order — 34 of the 50 remaining; rows-only ops stay outside the
    # window per the pinned policy):
    "ml_power_analysis",
    "ml_isotonic_calibration",
    "priv_noisy_max",
    "events_attribution_shapley",
    "ml_srm_check",
    "ml_diff_in_diff",
    "ml_tost_equivalence",
    "ml_ucb_allocation",
    "snk_parquet_roundtrip",
    "src_orc_roundtrip",
    "src_text_scan",
    "src_xml_dir_scan",
    "src_partitioned_scan",
    "snk_compact_files",
    "snk_partitioned_overwrite",
    "src_corrupt_json_scan",
    "src_avro_split_scan",
    "maint_compact_files",
    "src_schema_evolution",
    "snk_csv_roundtrip",
    "snk_json_roundtrip",
    "src_parquet_metadata",
    "src_fixed_width_scan",
    "src_zip_archive_scan",
    "src_sqlite_scan",
    "snk_bucketed_join",
    "src_pyds_scan",
    "stream_stream_left_outer",
    "events_funnel",
    "events_cohort_retention",
    "stream_topk_types",
    "events_markov_transitions",
    "events_user_paths",
    "events_rate_spike",
]


def ordered_queries() -> dict[str, QueryFn]:
    """QUERIES with the driver-priority prefix first, then the remainder in
    registration order (names in DRIVER_PRIORITY but not registered are
    ignored rather than erroring)."""
    first = [n for n in DRIVER_PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(first)]
    return {n: QUERIES[n] for n in [*first, *rest]}


def load_all_modules() -> None:
    """Import every module that registers queries (idempotent). The import
    order is the registration order that ``ordered_queries`` keeps."""
    from .plans import tpch  # noqa: F401
    from .operators import (  # noqa: F401
        filters,
        sampling,
        joins,
        aggregates,
        windows,
        setops,
        upsert,
        resolve,
        spatial,
        dedup,
        similarity,
        textstats,
        multimodal,
        llm,
        quality,
        temporal,
        graph,
        textops,
        skew,
        models,
        evaluation,
        hypothesis,
        timeseries,
        privacy,
    )
    from .functions import scalar_queries  # noqa: F401
    from .sources import file_sources, pyds  # noqa: F401
    from .streaming import batch_windows  # noqa: F401
