"""Checkpoint hygiene: build-time pin helper, plan-only scope and the
shared components memo.

1. ``pin()`` — the eager ``localCheckpoint`` that several operators run at
   DataFrame-CONSTRUCTION time (multi-branch lattices re-read a small
   aggregate instead of re-running its whole upstream DAG per branch)
   truncates lineage into a ``LogicalRDD`` node that plan-only consumers
   (tools/window_audit.py, tests/test_plan_shapes.py) cannot recurse
   into. Inside a ``plan_only()`` scope ``pin()`` returns the frame
   un-checkpointed, so the FULL logical plan stays auditable and query
   construction has no pin-driven job side effects. Iterative loops whose
   convergence probes execute at build time anyway (connected
   components, PageRank, BPE merges) keep their unconditional
   checkpoints — disabling those would deepen plans quadratically
   without making anything more auditable that their per-round actions
   don't already execute.

2. ``shared_components()`` / ``shared_stream_components()`` — the
   (doc_id, canonical id) frames of the batch-verify (dedup_components)
   and streaming-verify (minhash_components_batch) MinHash-LSH plus
   connected-components builds, each computed once per (session, source
   content) and shared by their consumers (split_leakage_safe /
   dq_split_contamination and stream_dedup_minhash /
   dedup_cluster_stats). The memo holds an eager localCheckpoint — NOT
   ``.persist()``, which would let the optimizer substitute
   InMemoryRelation into OTHER queries' identical subtrees (the CLAUDE.md
   round-8 cross-plan hazard). A localCheckpoint is a private RDD scan:
   only DataFrames derived from the returned object read it. Keyed like
   tables.load_bucketed — content fingerprint + LAYOUT_SALT — so in-place
   fixture regeneration and scale_probe impersonation never reuse stale
   components. On a real cluster this frame is the persisted
   dedup-cluster table an ingest pipeline maintains; the memo stands in
   for that materialization locally.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# True inside a plan_only() scope; read by pin(). Only plan_only() sets it.
PLAN_ONLY = False


@contextmanager
def plan_only(on: bool = True) -> Iterator[None]:
    """Build queries WITHOUT build-time pin() checkpoints inside this
    scope (window_audit, plan-shape tests), so the optimized plan exposes
    the full pre-checkpoint tree. Reentrant: the prior value is restored
    on exit. Never execute a query built inside the scope: the
    multi-branch lattices downstream of pin() re-run their upstream DAG
    once per branch when unpinned."""
    global PLAN_ONLY
    prior = PLAN_ONLY
    PLAN_ONLY = on
    try:
        yield
    finally:
        PLAN_ONLY = prior


def pin(df: DataFrame) -> DataFrame:
    """Eagerly localCheckpoint a SMALL multi-branch frame (bounded grid /
    per-entity aggregate), unless inside a plan_only() scope."""
    if PLAN_ONLY:
        return df
    return df.localCheckpoint(eager=True)


# (applicationId, sf_dir, layout salt, content fingerprint[, "stream"])
#   -> (owning session, components frame)
# Keyed on applicationId, NOT id(spark): CPython reuses ids after GC, so a
# new session could alias a dead session's entry and be handed a
# checkpointed RDD from a stopped SparkContext. The session object rides
# along so lookups can sweep entries whose context has been stopped —
# mirroring tables.py's dead-pid sweep for bucketed layouts.
_COMPONENTS_CACHE: dict[tuple, tuple[SparkSession, DataFrame]] = {}

# memo kind -> key tail; the batch memo's key has none
_KEY_TAIL = {"components": (), "stream_components": ("stream",)}


def _session_stopped(s: SparkSession) -> bool:
    """True when the session's underlying SparkContext has been stopped
    (PySpark nulls the JVM handle on stop)."""
    try:
        return s.sparkContext._jsc is None
    except Exception:
        return True


def _sweep_dead_sessions() -> None:
    for k in [
        k for k, (s, _) in _COMPONENTS_CACHE.items() if _session_stopped(s)
    ]:
        del _COMPONENTS_CACHE[k]


def _memo(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    build: Callable[[SparkSession, str], DataFrame],
) -> DataFrame:
    """``build(spark, sf_dir)`` computed once per (session,
    documents-content) and served from a localCheckpoint; the build time
    lands in ``tables.FIXED_COSTS["<kind>:<sf>"]``.

    Falls back to a fresh un-memoized build when the fixture path has no
    stat-able parquet (probe harnesses patching tables.load) — the memo
    is an optimization, never a correctness dependency.

    Plan-only consumers are served from the memo too: the components
    loop executes its convergence probes at CONSTRUCTION time regardless,
    so the consumer's optimized plan ends in a lineage-truncated
    checkpoint leaf EITHER WAY (that is why this family sits in
    UNAUDITABLE_LEAF_PINS with one-round audit hooks). The build itself
    runs with pins enabled, so the memoized frame is identical no matter
    who touches it first."""
    from .. import tables

    try:
        fp = tables._content_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    except OSError:
        return build(spark, sf_dir)
    _sweep_dead_sessions()
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, tables.LAYOUT_SALT, fp, *_KEY_TAIL[kind])
    hit = _COMPONENTS_CACHE.get(key)
    if hit is not None:
        return hit[1]
    t0 = time.time()
    with plan_only(False):
        comp = build(spark, sf_dir).localCheckpoint(eager=True)
    sf = os.path.basename(sf_dir.rstrip("/"))
    tables.FIXED_COSTS[f"{kind}:{sf}"] = round(time.time() - t0, 3)
    _COMPONENTS_CACHE[key] = (spark, comp)
    return comp


def _stream_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import tables
    from ..streaming.stream_ops import minhash_components_batch

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_components_batch(docs)


def shared_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_components' (doc_id, canonical_doc_id) frame, memoized."""
    from .dedup import dedup_components

    return _memo(spark, sf_dir, "components", dedup_components)


def shared_stream_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_components_batch's (doc_id, canonical_id) frame over the
    documents, memoized separately from shared_components (minhash-
    agreement edges, not jaccard-verified pairs)."""
    return _memo(spark, sf_dir, "stream_components", _stream_components)
