"""Additional TPC-H-shaped flagship plans (q2/q4/q6/q12/q14/q18/q19
analogues adapted to the fixture schema — no partsupp/shipmode columns, so
the joins run through lineitem and priorities stand in for shipmodes).

Together with plans/tpch.py these cover the classic decision-support plan
shapes: correlated min (q2), EXISTS semi-join (q4), single-scan selective
aggregate (q6), conditional aggregation (q12), conditional-ratio (q14),
HAVING over a grouped fact (q18), disjunctive multi-column pushdown (q19).
All money aggregates use the scaled-integer exact sums (functions/exact.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.exact import exact_sum, sql_exact_sum, scaled_long
from ..functions.top1 import ASC, Top1
from ..registry import register
from ..tables import load


@register(
    "tpch_q2_min_supplier",
    oracle="""
    WITH link AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ranked AS (
        SELECT p.p_brand, s.s_suppkey, s.s_name, s.s_acctbal,
               row_number() OVER (PARTITION BY p.p_brand
                                  ORDER BY s.s_acctbal, s.s_suppkey) AS rn
        FROM link JOIN part p ON link.l_partkey = p.p_partkey
                  JOIN supplier s ON link.l_suppkey = s.s_suppkey)
    SELECT p_brand, s_suppkey, s_name, s_acctbal
    FROM ranked WHERE rn = 1
    """,
)
def q2_min_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: correlated minimum — cheapest supplier per brand over the
    shipped part-supplier link. The oracle keeps the rank-window form;
    the Spark side computes the identical argmin as a top-1 aggregate by
    (s_acctbal, s_suppkey) — a map-side-combining aggregate instead of a
    ``PARTITION BY p_brand`` rank window whose ~25 brand partitions each
    sort a partsupp-scaled slice in one task and overflow the int rank
    counter past 2^31 link rows per brand (round-10 partitioned-window
    sweep)."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    link = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).join(
        F.broadcast(s), li.l_suppkey == s.s_suppkey
    )
    m = Top1(link, [("s_acctbal", ASC), ("s_suppkey", ASC)], carry=["s_name"])
    return link.groupBy("p_brand").agg(
        m["s_suppkey"], m["s_name"], m["s_acctbal"]
    )


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderkey IN (
          SELECT l_orderkey FROM lineitem WHERE l_shipdate > TIMESTAMP '1996-07-01 00:00:00')
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS → left-semi join, then a tiny group count."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-07-01 00:00:00").cast("timestamp")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_exact_sum('l_extendedprice * l_discount', 4)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: single scan, every predicate pushed, one global aggregate
    (scale 4: 2-decimal price × 2-decimal discount is exact in 4)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        exact_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue")
    )


@register(
    "tpch_q12_priority_counts",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: join + conditional aggregation (sum-of-CASE)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q14_promo_ratio",
    oracle=f"""
    SELECT CAST(100.0 * ({sql_exact_sum(
        "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount)"
        " ELSE 0.0 END")})
           / ({sql_exact_sum("l_extendedprice * (1 - l_discount)")})
           AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: ratio of two conditional aggregates in one pass (both
    exact-scaled, divided once at the end)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (100.0 * exact_sum(promo) / exact_sum(disc))
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q18_large_orders",
    oracle=f"""
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           {sql_exact_sum('l_quantity')} AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) > 15000)
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: HAVING over a grouped fact feeding a semi-join, then the
    3-way join + re-aggregate + top-k."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(scaled_long(F.col("l_quantity"), 100)).alias("sq"))
        .filter(F.col("sq") > 15000)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(exact_sum(F.col("l_quantity")).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q19_disjunctive",
    oracle=f"""
    SELECT {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunction of conjunctive predicates across both join
    sides — the classic test that the optimizer extracts the common join key
    and pushes the residual disjunction."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    branch = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(
        branch("Brand#12", 15, 1, 21)
        | branch("Brand#23", 25, 10, 30)
        | branch("Brand#34", 35, 20, 40)
    ).agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )


@register(
    "tpch_q17_small_quantity",
    oracle=f"""
    WITH avgq AS (
        SELECT l_partkey AS pk, avg(l_quantity) AS aq
        FROM lineitem GROUP BY l_partkey)
    SELECT {sql_exact_sum('l_extendedprice')} AS total_price,
           count(*) AS n_small
    FROM lineitem JOIN avgq ON l_partkey = pk
    WHERE l_quantity < 0.5 * aq
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated scalar subquery (per-part average) decorrelated
    into an aggregate + self-join — the rewrite Catalyst itself performs for
    correlated scalars, stated explicitly."""
    li = load(spark, sf_dir, "lineitem")
    avgq = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("aq")
    )
    return (
        li.join(avgq, li.l_partkey == avgq.pk)
        .filter(F.col("l_quantity") < 0.5 * F.col("aq"))
        .agg(
            exact_sum(F.col("l_extendedprice")).alias("total_price"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )
