"""Unpartitioned-window inventory (VERDICT r5 #5).

`WindowExec: No Partition Defined` means every row of that window's input
is funneled through ONE task — a genuine scale-killer when the input is a
data-sized relation, but harmless when the input is an already-aggregated
tiny relation (global top-k over <=K rows, scalar ranks). check.py's log
carries 2000+ of these warnings, which is exactly the noise a REAL global
window could hide in.

This audit walks the optimized logical plan of every registered query at
sf0.001 (plan construction only — no job execution beyond what the query
builder itself triggers) and records each query with >=1 Window node whose
partitionSpec is empty. tests/test_plan_shapes.py pins the result set to
an explicit whitelist; any new unpartitioned window fails the suite until
either partitioned or consciously whitelisted with a bounded-input
justification.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from repcheck_data_integration_spark import registry


def count_unpartitioned_windows(df) -> int:
    """Number of Window logical nodes with an empty partitionSpec in the
    optimized plan (optimized, not analyzed: optimizer-collapsed windows
    shouldn't count, and column pruning can't remove a window it needs)."""
    n, _, _, _ = _walk_plan(df)
    return n


def count_int_rank_windows(df) -> int:
    """Number of Window nodes carrying an IntegerType-counter ranking
    function (row_number / rank / dense_rank / percent_rank / ntile —
    all RowNumberLike/RankLike in catalyst, public source: their
    internal counter is an int AttributeReference). Such a window is
    fine over a bounded partition but silently overflows past 2^31 rows
    in ONE partition — and a partition key with a bounded domain
    (priority, source, a pooled constant) makes the partition
    fact-scaled while remaining invisible to the unpartitioned-window
    count (round-10 partitioned-window sweep). The count-over-ROWS-frame
    spelling and operators/prefix.py's grouped scan are the LONG-safe
    alternatives; every remaining int-rank window is pinned with a
    partition-boundedness justification in tests/test_plan_shapes.py."""
    _, _, r, _ = _walk_plan(df)
    return r


def lambda_traps(df) -> Counter:
    """{expression class: count} of the regex, hash and Python-UDF
    expressions that sit under a LambdaFunction in the optimized plan,
    cached subtrees included. Such an expression runs once per lambda
    element, and one the optimizer inlined there from a projection below
    (a tokenizer regex under ``element_at`` of a shingle lambda) runs once
    per reference — the CLAUDE.md higher-order-function trap."""
    _, _, _, found = _walk_plan(df)
    return found


def count_unauditable_nodes(df) -> int:
    """Number of lineage-truncated leaves (LogicalRDD / RDDScanExec /
    ExternalRDD) in the optimized plan — each one is a subtree the
    window count CANNOT see into (ADVICE r8 #1: an eager localCheckpoint
    hides its upstream windows from the audit exactly the way .persist()
    did before round 8's InMemoryRelation recursion). A sound audit of a
    checkpointing query builds it inside operators.ckpt.plan_only()
    (audit() does) so this returns 0; a non-zero count means the pin
    `count_unpartitioned_windows(df) == 0` is partially vacuous."""
    _, u, _, _ = _walk_plan(df)
    return u


# substrings of a Window node's simpleString that mark an int-counter
# ranking function ("rank(" also matches dense_rank/percent_rank)
_INT_RANK_MARKS = ("row_number(", "rank(", "ntile(")


def _nodes(root):
    """Yield ``(class name, node)`` for every node under ``root``, into
    cached and AQE-wrapped subtrees. Inner subquery plans (scalar
    subqueries etc.) live in expressions; none of the registry queries
    use them for windows, and traversing expression trees over py4j is
    ~100x slower — skipped deliberately."""
    stack = [root]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        yield cls, node
        if cls == "InMemoryRelation":
            # round-8 blindness fix, self-persist form: a query that
            # persists its own subtree gets InMemoryRelation substituted
            # into its own optimized plan, hiding every Window inside it
            # (ml_brier_decomposition audited 0 while carrying a global
            # fact rank). Recurse into the cached PHYSICAL plan.
            stack.append(node.cachedPlan())
        elif cls == "InMemoryTableScanExec":
            stack.append(node.relation())
        elif cls == "AdaptiveSparkPlanExec":
            # cached plans are AQE-wrapped with no TreeNode children;
            # the real tree hangs off initialPlan
            stack.append(node.initialPlan())
        ch = node.children()
        stack += [ch.apply(i) for i in range(ch.size())]


# catalyst expression classes counted by lambda_traps
_LAMBDA_TRAP_CLASSES = frozenset({
    "RegExpExtractAll", "RegExpExtract", "RegExpReplace", "RLike",
    "RegExpCount", "RegExpSubStr", "RegExpInStr", "StringSplit",
    "Md5", "Sha1", "Sha2", "Crc32", "Murmur3Hash", "XxHash64", "HiveHash",
    "PythonUDF",
})


def _node_lambda_traps(node, found: Counter) -> None:
    """Add to ``found`` the _LAMBDA_TRAP_CLASSES expressions under a
    LambdaFunction in one plan node's expressions (walked over py4j)."""
    es = node.expressions()
    stack = [(es.apply(i), False) for i in range(es.size())]
    while stack:
        e, under = stack.pop()
        cls = e.getClass().getSimpleName()
        if under and cls in _LAMBDA_TRAP_CLASSES:
            found[cls] += 1
        under = under or cls == "LambdaFunction"
        ch = e.children()
        stack += [(ch.apply(i), under) for i in range(ch.size())]


def _walk_plan(df) -> tuple[int, int, int, Counter]:
    """(unpartitioned window count, unauditable truncated-leaf count,
    int-rank window count, lambda traps by expression class)."""
    n = unauditable = int_rank = 0
    traps: Counter = Counter()
    plan = df._jdf.queryExecution().optimizedPlan()
    # an expression walk over py4j costs ~100x a node visit, so only the
    # nodes that print a lambda are walked, and only in plans that do
    has_lambda = "lambdafunction" in plan.toString()
    for cls, node in _nodes(plan):
        if has_lambda and "lambdafunction" in node.simpleString(10_000):
            _node_lambda_traps(node, traps)
        # logical Window (pre-substitution) and physical WindowExec (inside
        # a cached plan) both carry partitionSpec
        if cls in ("Window", "WindowExec"):
            if node.partitionSpec().size() == 0:
                n += 1
            try:
                sig = node.simpleString(200)
            except Exception:
                sig = node.toString()
            if any(m in sig for m in _INT_RANK_MARKS):
                int_rank += 1
        elif cls in ("LogicalRDD", "RDDScanExec", "ExternalRDD"):
            # a localCheckpoint (or any RDD-backed leaf) severs lineage:
            # whatever plan produced the RDD is gone from this tree
            unauditable += 1
    return n, unauditable, int_rank, traps


def count_physical_nodes(df) -> Counter:
    """{node class: count} over the physical plan Spark would run, before
    adaptive re-optimization: ``executedPlan()`` with the AQE wrapper
    unwrapped to its initial plan, so the Exchange and Sort nodes that
    EnsureRequirements adds are counted (``sparkPlan()`` has none yet).
    Cached subtrees count through their cached physical plan."""
    plan = df._jdf.queryExecution().executedPlan()
    return Counter(cls for cls, _ in _nodes(plan))


def audit(
    spark,
    sf_dir: str,
    names: list[str] | None = None,
    unauditable_out: dict[str, int] | None = None,
    rank_out: dict[str, int] | None = None,
    schema_out: dict[str, object] | None = None,
    fail_out: dict[str, str] | None = None,
    nodes_out: dict[str, Counter] | None = None,
    lambda_out: dict[str, int] | None = None,
) -> dict[str, int]:
    """{query_name: unpartitioned_window_count} for every registered query
    that has at least one. Queries whose builder fails (env-gated stubs)
    are skipped — they can't hide a window.

    Builds every query inside operators.ckpt.plan_only() (round-9,
    ADVICE r8 #1/#3): build-time pin() checkpoints are suppressed so
    (a) the audit sees the FULL pre-checkpoint tree instead of an opaque
    LogicalRDD, and (b) no pin() checkpoint job fires during a mere
    audit. The components memos (ckpt.shared_components /
    shared_stream_components) are not pins: each builds once per session,
    pins enabled, when its first consumer is audited, and later consumers
    read the memo. ``rank_out`` (round-10) collects, in the
    same single plan walk, the per-query count of Window nodes carrying
    an IntegerType ranking function — see count_int_rank_windows.
    ``schema_out`` / ``fail_out`` (round-11) collect each query's analyzed
    schema and any builder exception in the SAME sweep, so consumers that
    only need schemas (tests/test_driver_canon.py) share this one
    registry pass instead of re-building all 439 query frames — the
    pytest suite paid three full sweeps (~450 s) for what is one.
    ``nodes_out`` collects each query's physical node-class counts
    (count_physical_nodes) in the same sweep, and ``lambda_out`` the
    per-query count of lambda_traps.
    Iterative loops are the documented
    exception (ADVICE r9): their convergence probes (connected
    components, PageRank, BPE) still execute jobs at CONSTRUCTION time
    even in plan-only mode — e.g. split_leakage_safe /
    dq_split_contamination fall through shared_components to a live
    dedup_components CC loop. Any truncated leaf that survives plan-only
    mode is reported through ``unauditable_out`` so vacuous coverage is
    visible, not silent; tools/window_audit.py --rounds (round-10) audits
    one representative loop round for those."""
    out: dict[str, int] = {}
    for name, df in plan_only_frames(spark, sf_dir, names, fail_out):
        if schema_out is not None:
            schema_out[name] = df.schema
        c, u, r, traps = _walk_plan(df)
        if c:
            out[name] = c
        if traps and lambda_out is not None:
            lambda_out[name] = sum(traps.values())
        if u and unauditable_out is not None:
            unauditable_out[name] = u
        if r and rank_out is not None:
            rank_out[name] = r
        if nodes_out is not None:
            nodes_out[name] = count_physical_nodes(df)
    return out


def plan_only_frames(
    spark, sf_dir: str, names: list[str] | None = None,
    fail_out: dict[str, str] | None = None,
):
    """Yield ``(name, frame)`` for every registered query (or ``names``),
    each built in plan-only mode against an empty cache. A builder that
    raises is recorded in ``fail_out`` and skipped."""
    from repcheck_data_integration_spark.operators import ckpt

    registry.load_all_modules()
    for name in names or list(registry.QUERIES):
        # Round-8 blindness fix: a PRIOR query's .persist() of a shared
        # subtree makes the optimizer substitute InMemoryRelation into
        # every later identical subplan — the Window nodes inside it
        # vanish from the optimized plan and the audit under-counts
        # (ml_brier_decomposition's persisted fact-rank hid
        # ml_isotonic_calibration's 10 windows for two rounds). Sweep
        # each query against an empty cache.
        spark.catalog.clearCache()
        try:
            with ckpt.plan_only():
                df = registry.QUERIES[name](spark, sf_dir)
        except Exception as e:
            if fail_out is not None:
                fail_out[name] = f"{type(e).__name__}: {e}"
            continue
        yield name, df


def audit_hooks(spark) -> dict[str, tuple[int, int]]:
    """{machinery: (unpartitioned_window_count, truncated_leaf_count)}
    over every registered one-round audit hook
    (operators/audit_hooks.py, round-10): iterative loops whose
    convergence/argmax probes execute at construction keep
    lineage-truncated label frames even in plan-only mode, so the audit
    walks ONE representative round body built over LocalRelation
    stand-ins instead — the body is identical per round, so auditing
    round 1 audits them all. Hook construction runs zero jobs."""
    from repcheck_data_integration_spark.operators import audit_hooks as ah

    out: dict[str, tuple[int, int]] = {}
    for name, builder in sorted(ah.HOOKS.items()):
        n = u = 0
        for df in builder(spark):
            dn, du, _, _ = _walk_plan(df)
            n += dn
            u += du
        out[name] = (n, u)
    return out


if __name__ == "__main__":
    from repcheck_data_integration_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    spark = get_spark("window-audit")
    unaud: dict[str, int] = {}
    ranks: dict[str, int] = {}
    found = audit(spark, sf_dir, unauditable_out=unaud, rank_out=ranks)
    for k, v in sorted(found.items()):
        print(f"{k}\t{v}")
    print(f"# {len(found)} queries with unpartitioned windows")
    for k, v in sorted(ranks.items()):
        print(f"# int-rank windows: {k}\t{v}")
    print(f"# {len(ranks)} queries with int-rank windows")
    from repcheck_data_integration_spark.operators import audit_hooks as ah

    hook_rows = audit_hooks(spark)
    for k, v in sorted(unaud.items()):
        hooks = ah.QUERY_HOOKS.get(k)
        cover = (
            f" [covered by one-round hook(s): {', '.join(hooks)}]"
            if hooks
            else " [NO HOOK — vacuous pin]"
        )
        print(f"# unauditable (lineage-truncated leaves survive plan-only "
              f"mode): {k}\t{v}{cover}")
    for k, (n, u) in hook_rows.items():
        print(f"# hook {k}: unpartitioned_windows={n} truncated_leaves={u}")
    spark.stop()
