"""One-round audit hooks for iterative operators (round-10, VERDICT r9 #5).

Iterative loops with data-dependent control flow (connected components'
convergence probe, BPE's per-round argmax collect, PCA's per-step collect)
execute jobs at DataFrame-CONSTRUCTION time even under
``operators.ckpt.PLAN_ONLY`` — so their loop-carried frames are inherently
lineage-truncated ``LogicalRDD`` leaves in any plan the window audit can
walk, and a pin() reroute cannot help (the probes, not the checkpoints,
force execution). graph_kcore is the one loop WITHOUT probes that still
keeps direct checkpoints: each peel references the edge frame three times,
so an un-checkpointed 3-round unroll is ~27 copies of the co-purchase
subtree — too big to hand the optimizer just for an audit.

The loop bodies are identical per round, so auditing ONE representative
round audits them all. Each hook here builds the extracted round-body
function over LocalRelation stand-ins (tables.literal_frame — never
createDataFrame, whose LogicalRDD would itself read as a truncated leaf)
and returns the pre-checkpoint frames. tools/window_audit.py walks these
alongside the main sweep; tests/test_plan_shapes.py pins that every query
the audit flags as unauditable is covered by a hook and that every hook
frame is fully auditable (0 truncated leaves) with 0 unpartitioned
windows.

Fixed unrolls with linear plan growth don't need hooks — they route their
checkpoints through ckpt.pin() and become fully plan-visible instead
(ml_bradley_terry, label_propagation; same round-10 change).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..tables import literal_frame

# machinery name -> builder of representative round-body frames.
# Builders use only LocalRelation stand-ins: constructing them runs ZERO
# jobs, so the audit stays side-effect-free here.
HOOKS: dict[str, Callable[[SparkSession], list[DataFrame]]] = {}

# query name -> machinery names whose round bodies cover every
# lineage-truncated leaf the PLAN_ONLY audit reports for that query.
QUERY_HOOKS: dict[str, list[str]] = {
    # connected_components label frames (+ the minhash-sig subtree is
    # pin-routed and visible inline since round 10):
    "dedup_components": ["cc_round"],
    "dedup_cluster_stats": ["cc_round"],
    "dedup_keep_canonical": ["cc_round"],
    "split_leakage_safe": ["cc_round"],
    "dq_split_contamination": ["cc_round"],
    "stream_dedup_minhash": ["cc_round"],
    # unrolled peel rounds (3x edge-frame fan-out per round rules out
    # the pin() route — see module docstring):
    "graph_kcore": ["kcore_round"],
    # per-round driver collects (argmax / direction vector):
    "text_bpe_train": ["bpe_round"],
    "ml_pca_power_iteration": ["pca_step"],
}


def hook(name: str):
    def deco(fn):
        HOOKS[name] = fn
        return fn

    return deco


@hook("cc_round")
def _cc_round_frames(spark: SparkSession) -> list[DataFrame]:
    from .dedup import cc_round

    edges = literal_frame(
        spark, [(1, 2), (2, 1), (2, 3), (3, 2)], "a long, b long"
    )
    labels = literal_frame(
        spark, [(1, 1), (2, 2), (3, 3)], "node long, component long"
    )
    return [cc_round(edges, labels)]


@hook("kcore_round")
def _kcore_round_frames(spark: SparkSession) -> list[DataFrame]:
    from .graph import kcore_degrees, kcore_peel_body

    e = literal_frame(
        spark, [(1, 2), (2, 1), (2, 3), (3, 2)], "n long, m long"
    )
    deg = kcore_degrees(e)
    return [deg, kcore_peel_body(e, deg)]


@hook("bpe_round")
def _bpe_round_frames(spark: SparkSession) -> list[DataFrame]:
    from .textops import bpe_merge_step, bpe_pair_argmax

    syms = literal_frame(
        spark,
        [(["l", "o", "w"], 5), (["l", "o", "w", "e", "r"], 2)],
        "symbols array<string>, freq long",
    )
    return [bpe_pair_argmax(syms), bpe_merge_step(syms, "l", "o")]


@hook("pca_step")
def _pca_step_frames(spark: SparkSession) -> list[DataFrame]:
    from .similarity import pca_step_w

    q = literal_frame(
        spark,
        [(1, [1, -2, 3]), (2, [0, 5, -1])],
        "vec_id long, qv array<long>",
    )
    return [pca_step_w(q, [1, 1, 1])]
