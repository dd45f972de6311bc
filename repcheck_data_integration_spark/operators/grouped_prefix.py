"""Per-group distributed prefix sums and LONG-safe ranks (round-10
continuation — the fact-scaled PARTITIONED-window sweep).

tools/window_audit.py counts UNPARTITIONED windows, so a window that
partitions by a bounded-domain key slips through it by construction —
yet ``PARTITION BY o_orderpriority`` (5 groups), ``PARTITION BY j``
(64 embedding dims) or a pooled ``'__all__'`` constant segment funnels
a fact-scaled relation through a handful of single-task external
sorts all the same. Worse, Spark's ``row_number()``/``rank()`` are
IntegerType (RowNumberLike in catalyst windowExpressions — public
source), while DuckDB's are BIGINT: past 2^31 rows in one window
partition the Spark side overflows its int counter while the oracle
twin keeps counting — a divergence class the fixture gate can never
reach, exactly like the round-10 LONG-wrap sweep one tier up.
``count(*) OVER (... ROWS UNBOUNDED PRECEDING..CURRENT ROW)`` is the
LONG-safe spelling of ``row_number()``: both number physical rows in
frame order, so with a total tie-break chain they are value-identical
at any size.

Two helpers, both generalizing operators/prefix.py to grouped inputs:

- ``grouped_prefix_offsets``: per-group exclusive prefix sums over a
  one-row-per-distinct-value relation, plus per-group grand totals.
  Same three-level deterministic value-bucket scan as
  prefix.prefix_offsets (within-bucket partitioned window, super-bucket
  partitioned window, broadcast theta top), with every level keyed by
  the group columns as well.
- ``grouped_bucket_rank``: a LONG 1-based rank over ROW-level data
  within each group (full tie-break chain required for determinism),
  via per-group equal-width value buckets: bucket counts -> per-group
  bucket offsets (same three-level scan), then a count-over-frame
  window partitioned by (group, bucket). Optional [lo, hi] rank-range
  pruning filters to the straddling buckets BEFORE the window — the
  bucketed-selection shape of timeseries._median_center_avg, grouped.

Contract: the GROUP domain must be bounded (priorities, dims, sources,
labels — never a per-entity key); the per-group min/max/count probe and
the bucket-offset relations are broadcast, sized |groups| x buckets.
Degenerate value concentration (every value in one float bucket)
degrades to one window task per group — exactly the pre-sweep shape,
never worse, and that task is LONG-safe where the old one wrapped.

No reference-file counterpart: this is Spark-side scale machinery; the
covered operators cite their own reference anchors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .ckpt import pin

GP_B2 = 64  # super-bucket fan-in for the three-level offset scan
GP_NBUCKETS = 4096  # value buckets per group (distinct-value helper)
GP_ROW_NBUCKETS = 1024  # value buckets per group (row-level rank helper)


def _bucket_expr(order_col: str, nbuckets: int) -> Column:
    """Equal-width per-group bucket id over [_mn, _mx], monotone
    non-strict in the value (equal values always share a bucket).
    DOUBLE arithmetic with the _median_center_avg degenerate guard:
    zero/subnormal/non-finite widths route every row to bucket 0 (the
    documented single-window degradation) instead of wrapping the int
    cast negative and scrambling bucket order. long inputs are cast
    through DOUBLE — the cast is monotone (nearest-even may merge
    neighbors, which only merges buckets, never reorders them)."""
    width = (F.col("_mx") - F.col("_mn")) / F.lit(float(nbuckets))
    degenerate = (
        F.isnan(width) | (width <= F.lit(0.0)) | (width == F.lit(float("inf")))
    )
    v = F.col(order_col).cast("double")
    return F.when(degenerate, F.lit(0)).otherwise(
        F.least(
            F.floor((v - F.col("_mn")) / width).cast("int"),
            F.lit(nbuckets - 1),
        )
    )


def _long_rn(part_cols: list[str], sort_cols: list[Column]) -> Column:
    """LONG-safe row_number(): inclusive running count over a ROWS
    frame. Identical to row_number() for any physical tie order (both
    number physical rows), and exact past 2^31 where the int counter
    overflows."""
    w = (
        W.partitionBy(*part_cols)
        .orderBy(*sort_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return F.count(F.lit(1)).over(w)


def grouped_prefix_offsets(
    vals: DataFrame,
    grp_cols: list[str],
    order_col: str,
    sum_cols: list[str],
    ascending: bool = True,
    nbuckets: int = GP_NBUCKETS,
) -> DataFrame:
    """``vals`` has ONE row per distinct (group, ``order_col``) pair —
    order_col integral or floating — plus additive ``sum_cols``.
    Returns ``vals`` + ``off_<c>`` (sum of c over strictly-earlier
    values WITHIN the group) + ``tot_<c>`` (the group's grand total —
    read n / totals from here, never by re-aggregating this output,
    which would re-run the whole DAG per branch). Every window is
    partitioned by (group, bucket) or (group, super-bucket); the top
    level is a broadcast theta join over |groups| x {GP_B2} rows."""
    vp = pin(vals)  # ckpt.PLAN_ONLY consumers audit the full tree
    mm = vp.groupBy(*grp_cols).agg(
        F.min(F.col(order_col).cast("double")).alias("_mn"),
        F.max(F.col(order_col).cast("double")).alias("_mx"),
    )
    v = (
        vp.join(F.broadcast(mm), grp_cols)
        .withColumn("_gpbk", _bucket_expr(order_col, nbuckets))
        .drop("_mn", "_mx")
    )
    sort = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    bsort = F.col("_gpbk").asc() if ascending else F.col("_gpbk").desc()

    # level 1: within-(group, bucket) exclusive prefix over the values
    w1 = (
        W.partitionBy(*grp_cols, "_gpbk")
        .orderBy(sort)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    with_loc = v.select(
        "*",
        *[
            F.coalesce(F.sum(c).over(w1), F.lit(0)).alias(f"_loc_{c}")
            for c in sum_cols
        ],
    )

    # level 2: bucket totals; within-(group, super) exclusive prefix
    bt = v.groupBy(*grp_cols, "_gpbk").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in sum_cols]
    )
    bt = bt.withColumn("_gpsp", F.expr(f"_gpbk DIV {GP_B2}"))
    w2 = (
        W.partitionBy(*grp_cols, "_gpsp")
        .orderBy(bsort)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    bt2 = bt.select(
        *grp_cols,
        "_gpbk",
        "_gpsp",
        *[
            F.coalesce(F.sum(f"_t_{c}").over(w2), F.lit(0)).alias(f"_bo_{c}")
            for c in sum_cols
        ],
    )

    # level 3: super totals; per-group prefix via a broadcast theta join
    # over the <= |groups| x (nbuckets/GP_B2 + 1) super rows
    st = bt.groupBy(*grp_cols, "_gpsp").agg(
        *[F.sum(f"_t_{c}").alias(f"_st_{c}") for c in sum_cols]
    )
    prev = st.select(
        *[F.col(g).alias(f"_p_{g}") for g in grp_cols],
        F.col("_gpsp").alias("_gppsp"),
        *[F.col(f"_st_{c}").alias(f"_pst_{c}") for c in sum_cols],
    )
    same_grp = None
    for g in grp_cols:
        eq = F.col(f"_p_{g}").eqNullSafe(F.col(g))
        same_grp = eq if same_grp is None else (same_grp & eq)
    order_cond = (
        F.col("_gppsp") < F.col("_gpsp")
        if ascending
        else F.col("_gppsp") > F.col("_gpsp")
    )
    soff = (
        st.select(*grp_cols, "_gpsp")
        .join(F.broadcast(prev), same_grp & order_cond, "left")
        .groupBy(*grp_cols, "_gpsp")
        .agg(
            *[
                F.coalesce(F.sum(f"_pst_{c}"), F.lit(0)).alias(f"_so_{c}")
                for c in sum_cols
            ]
        )
    )
    boff = bt2.join(F.broadcast(soff), [*grp_cols, "_gpsp"]).select(
        *grp_cols,
        "_gpbk",
        *[
            (F.col(f"_bo_{c}") + F.col(f"_so_{c}")).alias(f"_pre_{c}")
            for c in sum_cols
        ],
    )

    # per-group grand totals ride along as tot_<c>
    gt = st.groupBy(*grp_cols).agg(
        *[F.sum(f"_st_{c}").alias(f"tot_{c}") for c in sum_cols]
    )

    out = with_loc.join(F.broadcast(boff), [*grp_cols, "_gpbk"]).join(
        F.broadcast(gt), grp_cols
    )
    for c in sum_cols:
        out = out.withColumn(f"off_{c}", F.col(f"_pre_{c}") + F.col(f"_loc_{c}"))
    drop = ["_gpbk"]
    for c in sum_cols:
        drop += [f"_loc_{c}", f"_pre_{c}"]
    return out.drop(*drop)


def grouped_bucket_rank(
    df: DataFrame,
    grp_cols: list[str],
    order_col: str,
    tie_cols: list[str],
    nbuckets: int = GP_ROW_NBUCKETS,
    lo: str | None = None,
    hi: str | None = None,
) -> DataFrame:
    """ROW-level LONG rank within each group: ``_rk`` = 1-based position
    of the row under (order_col, *tie_cols) ascending within its group —
    ``row_number() OVER (PARTITION BY grp ORDER BY ...)`` without a
    fact-scaled window partition and without the int counter.

    Adds ``_m`` = the group's total row count. When ``lo``/``hi`` are
    given (SQL expressions over ``_m`` and the caller's own columns,
    e.g. ``"(_m + 1) DIV 2"`` or ``"least(_m, cap)"``), only rows whose
    rank CAN fall in [lo, hi] reach the rank window: buckets strictly
    outside the range are filtered on their broadcast offsets first,
    and the returned rows are exactly those with ``_rk`` in [lo, hi] —
    the grouped bucketed-selection shape. Without lo/hi every row is
    ranked (quantile-normalization shape).

    The upstream of ``df`` is evaluated up to three times (min/max
    probe, bucket counts, rank pass) — callers with expensive or
    non-deterministic upstreams should pin first; a deterministic
    parquet scan + projection re-reads consistently and avoids
    checkpointing a fact-scaled relation."""
    mm = df.groupBy(*grp_cols).agg(
        F.min(F.col(order_col).cast("double")).alias("_mn"),
        F.max(F.col(order_col).cast("double")).alias("_mx"),
        F.count(F.lit(1)).alias("_m"),
    )
    j = (
        df.join(F.broadcast(mm), grp_cols)
        .withColumn("_grbk", _bucket_expr(order_col, nbuckets))
        .drop("_mn", "_mx")
    )
    cnts = j.groupBy(*grp_cols, "_grbk").agg(F.count(F.lit(1)).alias("_c"))
    # per-group exclusive bucket offsets: three-level scan over the
    # bounded |groups| x nbuckets count relation
    offs = grouped_prefix_offsets(
        cnts, grp_cols, "_grbk", ["_c"], ascending=True, nbuckets=nbuckets
    ).select(*grp_cols, "_grbk", "_c", F.col("off__c").alias("_off"))
    ranked = j.join(F.broadcast(offs), [*grp_cols, "_grbk"])
    if lo is not None or hi is not None:
        lo_c = F.expr(lo) if lo is not None else F.lit(1)
        hi_c = F.expr(hi) if hi is not None else F.col("_m")
        ranked = ranked.filter(
            (F.col("_off") < hi_c) & ((F.col("_off") + F.col("_c")) >= lo_c)
        )
    ranked = ranked.withColumn(
        "_rk",
        F.col("_off")
        + _long_rn(
            [*grp_cols, "_grbk"],
            [F.col(order_col).asc(), *[F.col(t).asc() for t in tie_cols]],
        ),
    )
    if lo is not None or hi is not None:
        lo_c = F.expr(lo) if lo is not None else F.lit(1)
        hi_c = F.expr(hi) if hi is not None else F.col("_m")
        ranked = ranked.filter((F.col("_rk") >= lo_c) & (F.col("_rk") <= hi_c))
    return ranked.drop("_grbk", "_c", "_off")
