"""MERGE / keyed-upsert sink (SURVEY.md §2.1 snk_upsert).

The reference's *only* sink is ``INSERT … ON CONFLICT (pk) DO UPDATE SET
<non-pk cols>`` executed one row + one COMMIT at a time
(/root/reference/scripts/database/database.py:52-73, created_at excluded from
the update). Here that contract is one set-oriented plan:

1. last-writer-wins dedup of the source batch (window on the key), because
   the reference's per-row loop implicitly lets the last occurrence win;
2. full-outer join target ⋈ source on the key;
3. per-column resolution: source wins when present, except *preserved*
   columns (created_at) which keep the target value.

At 100 TB: the join shuffles both sides on the key once — with the target
stored bucketed by key (or Delta/Iceberg MERGE where available) the shuffle
disappears on the target side. No per-row transactions, no driver loop.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..functions.exact import scaled_long
from ..tables import load

SRC_MARK = "__src_present"


def dedup_last_writer(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column]
) -> DataFrame:
    """Keep the winning row per key (win_latest_version mechanism)."""
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    version_cols: Sequence[str] = (),
    preserve: Sequence[str] = ("created_at",),
) -> DataFrame:
    """MERGE INTO target USING source ON keys
    WHEN MATCHED UPDATE (except ``preserve``) WHEN NOT MATCHED INSERT.

    ``version_cols``: within-batch precedence (highest wins).

    Tie-break contract (SURVEY §7 "same-key-twice" edge, pinned by
    tests/test_operators.py::test_merge_upsert_equal_version_tiebreak):

    - WITHIN a batch, rows tied on every version column are resolved by
      the remaining target columns in column order, DESC NULLS LAST —
      deterministic for any input, no key-unique precondition. (Map-typed
      columns are skipped: Spark cannot order maps; a batch tied on
      version AND every orderable column differing only in a map value is
      rejected by the row_number's determinism being irrelevant — the
      rows are then equal on every compared column.)
    - ACROSS batches, the LATER merge_upsert call wins on a matched key
      regardless of version values (source-wins-on-match), matching the
      reference's per-row ON CONFLICT DO UPDATE loop where the last
      statement executed is the last writer
      (/root/reference/scripts/database/database.py:52-73).
    """
    cols = target.columns
    missing = [c for c in cols if c not in source.columns]
    if missing:
        raise ValueError(f"merge_upsert: source lacks target columns {missing}")
    # null merge keys can never match in a join (NULL != NULL), so a null-key
    # row would silently duplicate instead of update — hard fail like the
    # reference's PK constraint would (SURVEY §7 'must handle null-key').
    # The guard is IN-PLAN (assert_true woven into the first key column, so
    # it can't be pruned): it fires on the first bad row during the normal
    # scan instead of costing a whole extra eager pass over the source —
    # at 100 TB the old count()-based check doubled the source read.
    null_pred = (
        F.greatest(*[F.col(k).isNull() for k in keys])
        if len(keys) > 1
        else F.col(keys[0]).isNull()
    )
    k0 = keys[0]
    guarded = F.when(
        F.assert_true(
            ~F.coalesce(null_pred, F.lit(True)),
            f"source row with NULL merge key {list(keys)}",
        ).isNull(),
        F.col(k0),
    ).alias(k0)
    source = source.select(
        *[guarded if c == k0 else F.col(c) for c in source.columns]
    )
    # version precedence first, then the documented deterministic
    # tie-break: remaining orderable target columns, DESC NULLS LAST
    # a column is orderable only if NO map appears anywhere in its type
    # (ADVICE r6: array<map<...>> / struct-containing-map throw in ORDER
    # BY just like a top-level map — substring match, not startswith)
    dtypes = dict(source.dtypes)
    tie_break = [
        F.col(c).desc_nulls_last()
        for c in cols
        if c not in keys
        and c not in version_cols
        and "map<" not in dtypes.get(c, "")
    ]
    order = [F.col(c).desc_nulls_last() for c in version_cols] + tie_break
    if not order:  # key-only table: any duplicate row is identical
        order = [F.col(keys[0])]
    # dedup before projecting so version columns are still visible
    src = dedup_last_writer(source, keys, order).select(*cols)

    src = src.select(
        *[F.col(c).alias(c if c in keys else f"__s_{c}") for c in cols],
        F.lit(True).alias(SRC_MARK),
    )
    joined = target.join(src, on=list(keys), how="full_outer")

    out_cols: list[Column] = []
    for c in cols:
        if c in keys:
            out_cols.append(F.col(c))
        elif c in preserve:
            out_cols.append(F.coalesce(F.col(c), F.col(f"__s_{c}")).alias(c))
        else:
            out_cols.append(
                F.when(F.col(SRC_MARK), F.col(f"__s_{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
    return joined.select(*out_cols)


ORDER_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,"
    " o_orderpriority"
)


@register(
    "snk_upsert",
    oracle=f"""
    WITH upd AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice, o_orderdate,
               o_orderpriority, 2 AS __ver
        FROM orders WHERE o_custkey % 10 = 0),
    dup AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 500.0 AS o_totalprice, o_orderdate,
               o_orderpriority, 1 AS __ver
        FROM orders WHERE o_custkey % 10 = 0),
    ins AS (
        SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
               'N' AS o_orderstatus, 1.0 AS o_totalprice, o_orderdate,
               o_orderpriority, 1 AS __ver
        FROM orders WHERE o_custkey % 17 = 0),
    src AS (SELECT * FROM upd UNION ALL SELECT * FROM dup
            UNION ALL SELECT * FROM ins),
    unioned AS (
        SELECT *, 1 AS __prio FROM src
        UNION ALL
        SELECT {ORDER_COLS}, 0 AS __ver, 0 AS __prio FROM orders)
    SELECT {ORDER_COLS} FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY __prio DESC, __ver DESC) AS rn
        FROM unioned) WHERE rn = 1
    """,
)
def snk_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert demo: updates (custkey%10), an in-batch duplicate that must
    lose (lower __ver), and fresh inserts (key+10M) — result is the merged
    orders table. Oracle expresses the same MERGE as union + dedup window."""
    orders = load(spark, sf_dir, "orders")
    upd = orders.filter(F.col("o_custkey") % 10 == 0).withColumns(
        {"o_totalprice": F.col("o_totalprice") + 1000.0, "__ver": F.lit(2)}
    )
    dup = orders.filter(F.col("o_custkey") % 10 == 0).withColumns(
        {"o_totalprice": F.col("o_totalprice") + 500.0, "__ver": F.lit(1)}
    )
    ins = orders.filter(F.col("o_custkey") % 17 == 0).withColumns(
        {
            "o_orderkey": F.col("o_orderkey") + 10000000,
            "o_orderstatus": F.lit("N"),
            "o_totalprice": F.lit(1.0),
            "__ver": F.lit(1),
        }
    )
    source = upd.unionByName(dup).unionByName(ins)
    return merge_upsert(
        orders, source, keys=["o_orderkey"], version_cols=["__ver"], preserve=()
    )


@register(
    "snk_cdc_delta",
    oracle="""
    WITH sl AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS tc
        FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'),
    old AS (
        SELECT * FROM sl WHERE o_orderkey % 3 <> 0),
    new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 2 = 0 THEN tc + 500
                    ELSE tc END AS tc
        FROM sl WHERE o_orderkey % 5 <> 0)
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS change_type,
           COALESCE(o.tc, -1) AS old_total_cents,
           COALESCE(n.tc, -1) AS new_total_cents,
           COALESCE(o.o_orderstatus, '') AS old_status,
           COALESCE(n.o_orderstatus, '') AS new_status
    FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.tc <> n.tc OR o.o_orderstatus <> n.o_orderstatus
    """,
)
def snk_cdc_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture snapshot diff: given yesterday's and today's
    snapshot of a keyed table, emit ONLY the changed rows classified as
    I(nsert) / U(pdate) / D(elete) — the changeset a downstream MERGE
    (snk_upsert) or SCD2 maintainer (snk_scd2) consumes, and the batch
    twin of the reference's idempotent keyed re-run contract
    (/root/reference/scripts/database/database.py:52-73, which re-writes
    every row because it cannot diff). Snapshots are deterministic slices
    of orders (key mod predicates; 'new' mutates price on even keys and
    status on multiples of 7) so the expected mix contains all three
    change types plus suppressed no-op rows.

    Updates are detected by direct column compare after the full-outer
    key join — unchanged rows are filtered BEFORE leaving the join stage,
    so the output is the (small) changeset, never the snapshot. Absent
    sides are coalesced to sentinel values (-1 / '') to keep the output
    schema null-free for the driver canonicalizer.

    Scale: one full-outer shuffle join on the primary key; with both
    snapshots stored bucketed by pk the shuffle disappears entirely, and
    the filter means the write amplification is proportional to churn,
    not table size. This is the standard 100 TB snapshot-diff pattern
    (no per-row loop, no driver collect).
    """
    sl = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
        .select(
            "o_orderkey",
            "o_orderstatus",
            scaled_long(F.col("o_totalprice"), 100).alias("tc"),
        )
    )
    old = sl.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k_old"),
        F.col("o_orderstatus").alias("st_old"),
        F.col("tc").alias("tc_old"),
    )
    new = sl.filter(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("k_new"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("st_new"),
        F.when(F.col("o_orderkey") % 2 == 0, F.col("tc") + 500)
        .otherwise(F.col("tc"))
        .alias("tc_new"),
    )
    j = old.join(new, old["k_old"] == new["k_new"], "full_outer")
    return j.filter(
        F.col("k_old").isNull()
        | F.col("k_new").isNull()
        | (F.col("tc_old") != F.col("tc_new"))
        | (F.col("st_old") != F.col("st_new"))
    ).select(
        F.coalesce("k_old", "k_new").alias("o_orderkey"),
        F.when(F.col("k_old").isNull(), "I")
        .when(F.col("k_new").isNull(), "D")
        .otherwise("U")
        .alias("change_type"),
        F.coalesce("tc_old", F.lit(-1)).alias("old_total_cents"),
        F.coalesce("tc_new", F.lit(-1)).alias("new_total_cents"),
        F.coalesce("st_old", F.lit("")).alias("old_status"),
        F.coalesce("st_new", F.lit("")).alias("new_status"),
    )
