"""Skew mitigation + shuffle-elimination helpers (SURVEY.md §4 physical
concerns: 'zip polygons per state are skewed').

AQE's skew-join splitting handles most cases at runtime
(session.py enables it); these are the explicit levers for the cases AQE
can't see:

- **two-phase salted aggregation**: a hot grouping key overloads one
  reducer; salting fans the partial aggregate over ``n_salts`` reducers,
  then a cheap second aggregate merges the partials. Works for any
  algebraic aggregate (sum/count/min/max).
- **salted broadcast-side replication** for joins: replicate the small side
  per salt so the big side's hot key spreads across tasks.

Bucketed co-located joins have one writer, ``tables.load_bucketed``
(single-file buckets, one per session shuffle partition; the no-exchange
plan is asserted in tests/test_scale_levers.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..functions.exact import dec_sum, scaled_long
from ..tables import load
from .aggregates import SQL_SCALED


def salted(df: DataFrame, n_salts: int, salt_col: str = "__salt") -> DataFrame:
    """Add a deterministic-per-row salt in [0, n_salts) (hash of all
    columns, not rand() — keeps plans replayable)."""
    return df.withColumn(
        salt_col, F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[Column, Column]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation over a skewed key.

    ``aggs``: output name → (phase1 aggregate over rows, phase2 merge over
    partials); e.g. ``{"n": (F.count(F.lit(1)), F.sum("n"))}``.
    """
    phase1 = (
        salted(df, n_salts)
        .groupBy(*keys, "__salt")
        .agg(*[c1.alias(name) for name, (c1, _) in aggs.items()])
    )
    return phase1.groupBy(*keys).agg(
        *[c2.alias(name) for name, (_, c2) in aggs.items()]
    )


def salted_broadcast_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Equi-join where ``big`` has hot keys: salt the big side, replicate
    the small side across every salt, join on (key, salt). With broadcast
    this is belt-and-braces; with a shuffle join it is the difference
    between one stuck reducer and n_salts busy ones."""
    big_s = big.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    )
    small_r = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return big_s.join(F.broadcast(small_r), [key, "__salt"]).drop("__salt")


# ---------------------------------------------------------------------------
# Registered demo queries (oracle-backed): the levers as first-class ops
# ---------------------------------------------------------------------------


@register(
    "skew_salted_agg",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(CAST(sum({SQL_SCALED.format(x='l_quantity')}) AS DOUBLE)
                / 100.0 AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation as a registered op: 3 grouping keys
    over 600k rows is EXACTLY the hot-key shape (each key lands on one
    reducer un-salted). The oracle is the plain single-phase aggregate —
    algebraic aggregates are salt-invariant, which the hash-match proves.
    Sums ride the scaled-integer path so both phases stay exact."""
    li = load(spark, sf_dir, "lineitem")
    scaled = scaled_long(F.col("l_quantity"), 100)
    out = salted_agg(
        li.select("l_returnflag", "l_quantity"),
        keys=["l_returnflag"],
        aggs={
            "n": (F.count(F.lit(1)), F.sum("n")),
            "sq": (F.sum(scaled.cast("decimal(38,0)")), F.sum("sq")),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        (F.col("sq").cast("double") / 100.0).alias("sum_qty"),
    )


@register(
    "skew_salted_join",
    oracle=f"""
    SELECT e.event_type, n.n_name,
           count(*) AS n_events,
           CAST(CAST(sum({SQL_SCALED.format(x='e.value')}) AS DOUBLE)
                / 100.0 AS DOUBLE) AS sum_value
    FROM events e JOIN nation n ON (e.user_id % 25) = n.n_nationkey
    GROUP BY e.event_type, n.n_name
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted broadcast join as a registered op: the fact side's join key
    (user bucket) is hot — 10k events collapse onto 25 keys — so the big
    side is salted and the 25-row dim is replicated across all 16 salts
    before the (key, salt) equi-join. Join output is salt-invariant (the
    salt never leaves the join), which the hash-match against the plain
    join oracle proves. Downstream aggregate stays on the scaled-integer
    path."""
    e = load(spark, sf_dir, "events").select(
        (F.col("user_id") % 25).alias("n_nationkey"),
        "event_type",
        "value",
    )
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = salted_broadcast_join(e, n, key="n_nationkey", n_salts=16)
    scaled = scaled_long(F.col("value"), 100)
    return joined.groupBy("event_type", "n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum(scaled, 100.0).alias("sum_value"),
    )


BLOOM_BITS = 1 << 16   # 64 Kbit bitmap → 1024 longs, always broadcastable


@register(
    "join_bloom_prune",
    oracle=f"""
    SELECT l.l_returnflag,
           count(*) AS n_items,
           CAST(CAST(sum({SQL_SCALED.format(
               x='l.l_extendedprice * (1 - l.l_discount)')})
                AS DOUBLE) / 100.0 AS DOUBLE) AS revenue
    FROM lineitem l
    WHERE l.l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    GROUP BY l.l_returnflag
    """,
)
def join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit runtime bloom-filter join pruning: urgent-order revenue by
    return flag, where the fact side is PRE-FILTERED by a {BLOOM_BITS}-bit
    bloom bitmap built from the dim keys before the exact semi-join runs —
    the pattern behind Spark's own injected runtime filters
    (spark.sql.optimizer.runtime.bloomFilter.*), made explicit so the
    build/probe halves are testable. Exactness does NOT depend on the
    bloom: false positives are removed by the final semi-join, which is
    why the oracle is the plain IN-subquery.

    Why it matters at 100 TB: when the dim side is too big to broadcast,
    a plain semi-join shuffles the FULL fact table; the bitmap is a
    constant 8 KiB whatever the dim size, broadcasts for free, and drops
    non-matching fact rows AT THE SCAN, so the shuffle carries only
    probable matches (selectivity here: urgent ≈ 1/5 of orders).

    Build is fully distributed: each key sets k=2 positions
    (seeded xxhash64 → (word, bit)), one {BLOOM_BITS // 64}-row-max hash
    agg ORs the words; probe is two broadcast equi-joins on the word
    index — no driver-side bitset, no UDF, all codegen'd."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    keys = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )

    def positions(col: Column) -> list[Column]:
        return [
            F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(BLOOM_BITS))
            for seed in (1, 2)
        ]

    pos = keys.select(
        F.explode(F.array(*positions(F.col("o_orderkey")))).alias("p")
    )
    bitmap = (
        pos.select(
            (F.col("p") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    p1, p2 = positions(F.col("l_orderkey"))
    fact = li.select(
        "l_orderkey",
        "l_returnflag",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        (p1 / 64).cast("long").alias("w1"),
        (p1 % 64).cast("int").alias("b1"),
        (p2 / 64).cast("long").alias("w2"),
        (p2 % 64).cast("int").alias("b2"),
    )
    m1 = bitmap.select(
        F.col("word").alias("w1"), F.col("bits").alias("bits1")
    )
    m2 = bitmap.select(
        F.col("word").alias("w2"), F.col("bits").alias("bits2")
    )
    hit = F.expr(
        "(shiftright(bits1, b1) & 1) = 1 AND (shiftright(bits2, b2) & 1) = 1"
    )
    pruned = (
        fact.join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .filter(hit)
    )
    exact = pruned.join(
        keys.withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey",
        "left_semi",
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        (
            F.sum(scaled_long(F.col("rev"), 100)).cast("double")
            / 100.0
        ).cast("double").alias("revenue"),
    )
