"""Distributed prefix sums and LONG-safe ranks over deterministic value
buckets — the one home of the bucketed prefix scan.

A ``row_number()/sum()/rank() OVER (ORDER BY v)`` over a data-sized
relation funnels it through one task, and so does a window PARTITIONED
by a bounded-domain key (``PARTITION BY o_orderpriority`` — 5 groups,
``PARTITION BY j`` — 64 embedding dims, a pooled ``'__all__'``
constant): each partition is fact-scaled all the same, which
tools/window_audit.py's unpartitioned count cannot see. Spark's
``row_number()``/``rank()`` are also IntegerType (RowNumberLike in
catalyst windowExpressions — public source) while DuckDB's are BIGINT,
so past 2^31 rows in one window partition the Spark side overflows
while the oracle twin keeps counting. ``count(*) OVER (... ROWS
UNBOUNDED PRECEDING..CURRENT ROW)`` (``_long_rn``) is the LONG-safe
spelling of ``row_number()``: both number physical rows in frame order,
so with a total tie-break chain they are value-identical at any size.

The identity every offsets caller uses: for a row in value group ``v``
with within-group position ``rn`` (any deterministic tie-break),

    rank           = off_cnt(v) + rn     (rank() ties: off_cnt + 1)
    cumsum(value)  = off_sum(v) + rn * v (value constant in group)

where ``off_*`` sum over all STRICTLY-earlier value groups of the same
group (``grp_cols``; an empty list is the global scan).

The offsets come from a three-level scan over DETERMINISTIC value
buckets (no repartitionByRange sampling pass, no spark_partition_id
bookkeeping):

  1. bucket id = equal-width DOUBLE bucket of v over the group's exact
     [min, max] (``_bucket_expr``, broadcast min/max probe) — monotone
     non-strict in v, so bucket order follows value order;
  2. within-(group, bucket) exclusive prefix via a PARTITIONED window;
  3. bucket totals roll up into <= nbuckets/SUPER_B super-buckets: a
     window partitioned by (group, super) gives within-super bucket
     offsets, and a broadcast theta join over the <= |groups| x
     SUPER_B-row super totals closes the top level. Every relation
     above the value table is bounded BY CONSTRUCTION, every window is
     partitioned, and no data-scaled single task exists anywhere.

The DOUBLE bucket cannot wrap: a LONG range wider than 2^63 (values
spanning -2^63 .. 2^63-1) only rounds inside the double cast, which
merges neighboring buckets and never reorders them, so the offsets stay
exact over the whole LONG domain.

Contract: the GROUP domain must be bounded (priorities, dims, sources,
labels — never a per-entity key); the per-group min/max probe and the
bucket-offset relations are broadcast, sized |groups| x buckets.
Degenerate value concentration (every value in one bucket) degrades to
one window task per group — exactly the plain window's shape, never
worse, and that task is LONG-safe where the int counter wrapped.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .ckpt import pin

SUPER_B = 64  # super-bucket fan-in for the three-level offset scan
NBUCKETS = 4096  # value buckets per group (distinct-value offsets)
ROW_NBUCKETS = 1024  # value buckets per group (row-level rank)


def _bucket_expr(order_col: str, nbuckets: int) -> Column:
    """Equal-width bucket id over [_mn, _mx], monotone non-strict in the
    value (equal values always share a bucket). DOUBLE arithmetic with a
    degenerate guard: zero/subnormal/non-finite widths (a subnormal span
    whose /nbuckets quotient flushes to 0.0, ±inf endpoints making the
    span inf, all-inf inputs making it NaN — and Spark's NaN compares
    GREATER than 0) route every row to bucket 0, the documented
    single-window degradation, instead of wrapping the int cast negative
    and scrambling bucket order. long inputs are cast through DOUBLE —
    the cast is monotone (nearest-even may merge neighbors, which only
    merges buckets, never reorders them)."""
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


def _value_buckets(
    df: DataFrame,
    grp_cols: list[str],
    order_col: str,
    nbuckets: int,
    bkt_col: str,
    *probe: Column,
) -> DataFrame:
    """``df`` + ``bkt_col``, the per-group equal-width value bucket of
    ``order_col`` (``_bucket_expr``) over the group's exact min/max from
    one broadcast probe aggregate. Extra ``probe`` aggregates (a row
    count, say) ride the same probe and stay on the output."""
    mm = df.groupBy(*grp_cols).agg(
        F.min(F.col(order_col).cast("double")).alias("_mn"),
        F.max(F.col(order_col).cast("double")).alias("_mx"),
        *probe,
    )
    return (
        df.join(F.broadcast(mm), grp_cols or None)
        .withColumn(bkt_col, _bucket_expr(order_col, nbuckets))
        .drop("_mn", "_mx")
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


def prefix_offsets(
    vals: DataFrame,
    grp_cols: list[str],
    order_col: str,
    sum_cols: list[str],
    ascending: bool = True,
    nbuckets: int = NBUCKETS,
) -> DataFrame:
    """``vals`` has ONE row per distinct (group, ``order_col``) pair —
    order_col integral or floating — plus additive ``sum_cols``; an
    empty ``grp_cols`` is the global scan. Returns ``vals`` +
    ``off_<c>`` (sum of c over strictly-earlier values WITHIN the group,
    ascending or descending) + ``tot_<c>`` (the group's grand total —
    read n / totals from here, never by re-aggregating this output,
    which would re-run the whole DAG per branch). Every window is
    partitioned by (group, bucket) or (group, super-bucket); the top
    level is a broadcast theta join over |groups| x SUPER_B rows.

    The value table is pinned once: the min/max probe, both window
    branches and the caller's own reuse read the cached blocks instead
    of re-running the upstream aggregate."""
    vp = pin(vals)  # ckpt.PLAN_ONLY consumers audit the full tree
    v = _value_buckets(vp, grp_cols, order_col, nbuckets, "_gpbk")
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
    bt = bt.withColumn("_gpsp", F.expr(f"_gpbk DIV {SUPER_B}"))
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
    # over the <= |groups| x (nbuckets/SUPER_B + 1) super rows
    st = bt.groupBy(*grp_cols, "_gpsp").agg(
        *[F.sum(f"_t_{c}").alias(f"_st_{c}") for c in sum_cols]
    )
    prev = st.select(
        *[F.col(g).alias(f"_p_{g}") for g in grp_cols],
        F.col("_gpsp").alias("_gppsp"),
        *[F.col(f"_st_{c}").alias(f"_pst_{c}") for c in sum_cols],
    )
    same_grp = [F.col(f"_p_{g}").eqNullSafe(F.col(g)) for g in grp_cols]
    order_cond = (
        F.col("_gppsp") < F.col("_gpsp")
        if ascending
        else F.col("_gppsp") > F.col("_gpsp")
    )
    cond = reduce(lambda a, b: a & b, [*same_grp, order_cond])
    soff = (
        st.select(*grp_cols, "_gpsp")
        .join(F.broadcast(prev), cond, "left")
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
        F.broadcast(gt), grp_cols or None
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
    nbuckets: int = ROW_NBUCKETS,
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
    the grouped form of timeseries._median_center_avg's bucketed
    selection. Without lo/hi every row is ranked (quantile-normalization
    shape).

    The upstream of ``df`` is evaluated up to three times (min/max
    probe, bucket counts, rank pass) — callers with expensive or
    non-deterministic upstreams should pin first; a deterministic
    parquet scan + projection re-reads consistently and avoids
    checkpointing a fact-scaled relation."""
    j = _value_buckets(
        df, grp_cols, order_col, nbuckets, "_grbk",
        F.count(F.lit(1)).alias("_m"),
    )
    cnts = j.groupBy(*grp_cols, "_grbk").agg(F.count(F.lit(1)).alias("_c"))
    # per-group exclusive bucket offsets: three-level scan over the
    # bounded |groups| x nbuckets count relation
    offs = prefix_offsets(
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
