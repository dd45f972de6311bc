"""TPC-H-shaped flagship query plans: all 22 classic decision-support
shapes, adapted to the fixture schema, plus one composed §3.1 lifecycle.

The fixtures have no partsupp, shipmode, phone or comment columns, so the
joins run through lineitem, priorities stand in for shipmodes, and cost
proxies or key-derived predicates replace the missing columns. The PLAN
SHAPES, the point of the exercise, are unchanged (COVERAGE.md maps them):

- q1: single-scan grouped aggregate with exact sums and averages;
- q2: correlated minimum (cheapest supplier per brand) as a top-1;
- q3: customer ⋈ orders ⋈ lineitem → filter → agg → top-k, on the
  bucketed orderkey layout;
- q4: EXISTS semi-join;
- q5: 6-way join, all dims broadcast, zero-exchange fact join;
- q6: single-scan selective aggregate;
- q7: two aliased dimension joins of the SAME table (nation as supplier
  nation and customer nation) with a disjunctive pair filter;
- q8: conditional market-share ratio (numerator = CASE inside the same
  aggregate as the denominator);
- q9: multi-fact profit expression with negative partial sums;
- q10: group-by-many-columns + deterministic top-20
  (TakeOrderedAndProject);
- q11: HAVING against a broadcast scalar (group value > fraction of
  total);
- q12: conditional aggregation;
- q13: LEFT OUTER join + two-level aggregation (distribution of counts);
- q14: conditional ratio;
- q15: argmax over an aggregated relation (max revenue supplier,
  tie-safe);
- q16: count-distinct over a dedup'd link with NOT-IN exclusion;
- q17: correlated scalar subquery decorrelated into aggregate + join;
- q18: HAVING over a grouped fact;
- q19: disjunctive multi-column pushdown;
- q20: two-level semi-join chain (suppliers shipping enough of the
  target parts);
- q21: EXISTS and NOT-EXISTS on the same fact with different predicates
  (the only-late-supplier-in-a-multi-supplier-order query);
- q22: scalar global aggregate feeding a filter + anti join;
- pipeline_enrich_merge: the §3.1 lifecycle as one plan (semi-join,
  per-bill aggregate, surrogate key mint, MERGE).

These exercise the §3.2 lifecycle in miniature (SURVEY.md §7 step 1):
parquet scan → filter (pushed down) → broadcast/shuffle joins → hash
aggregate → top-k sort — the same plan shape as the reference's
bills/census pipelines (/root/reference/scripts/bills/bills_federal.py:78-214)
recomposed set-oriented.

Scale notes (100 TB): the fact tables (lineitem/orders) shuffle on their join
keys; region/nation are broadcast; filters reach the parquet scan
(PushedFilters) so partition pruning works; aggregation is partial+final hash
agg with map-side combine. All aggregates use scaled-integer exact sums so
results are identical regardless of parallelism (functions/exact.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import (
    exact_avg,
    exact_sum,
    scaled_long,
    sql_exact_avg,
    sql_exact_sum,
)
from ..functions.top1 import ASC, Top1
from ..registry import register
from ..tables import load, load_bucketed


Q1_CUTOFF = "2000-12-01"


@register(
    "tpch_q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_exact_sum('l_quantity')} AS sum_qty,
           {sql_exact_sum('l_extendedprice')} AS sum_base_price,
           {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_exact_sum('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)')} AS sum_charge,
           {sql_exact_avg('l_quantity')} AS avg_qty,
           {sql_exact_avg('l_extendedprice')} AS avg_price,
           {sql_exact_avg('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single wide hash aggregate over the biggest table."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(f"{Q1_CUTOFF} 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum(F.col("l_quantity")).alias("sum_qty"),
            exact_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            exact_sum(disc_price).alias("sum_disc_price"),
            exact_sum(charge).alias("sum_charge"),
            exact_avg(F.col("l_quantity")).alias("avg_qty"),
            exact_avg(F.col("l_extendedprice")).alias("avg_price"),
            exact_avg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q3_DATE = "1998-03-15"


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT o_orderkey,
           {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
      AND l_shipdate > TIMESTAMP '{Q3_DATE} 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: customer ⋈ orders ⋈ lineitem → filter → agg → top-k.

    customer is small relative to the facts → broadcast; orders and
    lineitem read through the BUCKETED orderkey layout (tables.
    load_bucketed — round-7 registered path, VERDICT r6 #1), so the
    fact-fact join AND the orderkey-keyed aggregate run with zero
    shuffle exchanges: the broadcast dim join preserves the bucketed
    partitioning, the SMJ consumes co-located buckets, and the group
    set contains the bucket key. Filters still push into the parquet
    scans beneath the table. Top-k is a TakeOrdered, not a global sort.
    Plan pinned (zero exchanges) in tests/test_plan_shapes.py.
    """
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_bucketed(spark, sf_dir, "orders", "o_orderkey").filter(
        F.col("o_orderdate") < F.lit(f"{Q3_DATE} 00:00:00").cast("timestamp")
    )
    li = load_bucketed(spark, sf_dir, "lineitem", "l_orderkey").filter(
        F.col("l_shipdate") > F.lit(f"{Q3_DATE} 00:00:00").cast("timestamp")
    )
    # broadcast-reduce orders by the BUILDING customers BEFORE the
    # orderkey fact shuffle: the semi-selective dimension join keeps only
    # ~1/5 of orders, so the exchange carries 2.9M rows instead of 14.4M
    # at sf10 — apply the most selective reduction before the widest
    # shuffle, at any scale
    ocust = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        li.join(ocust, li.l_orderkey == ocust.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_regionkey IN (0, 1, 2)
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: 6-way join, all dims broadcast, ZERO-exchange fact join.

    Round-7 registered path (VERDICT r6 #1): orders and lineitem read
    through the bucketed orderkey layout; orders joins its broadcast
    dims FIRST (customer projected to the two columns the plan needs —
    join key + nationkey — before the broadcast), which preserves the
    bucketed partitioning, then the lineitem SMJ consumes co-located
    buckets with no exchange on either side. The only exchanges left
    are the 25-row n_name aggregate and the final sort. Above the
    session's runtime-bloom scan threshold (512 MB locally — sf10 and
    up; see session.py) Spark additionally injects a bloom from the
    filtered orders⋈customer build into the LINEITEM scan, DuckDB's
    dynamic join-filter pushdown in Spark form: ~73% of lineitem rows
    drop before the merge (sf10 same-session A/B: 6.5 s -> 3.8 s). The
    sf0.001 plan pin sits below the threshold and keeps its 2-exchange
    shape. At 100 TB where
    customer outgrows a broadcast, the posture flips to shuffling ORDERS
    (the 10x-smaller fact) by custkey for that dim join and re-shuffling
    the result by orderkey INTO lineitem's bucketing — the monster table
    still never moves; Spark plans that automatically once the broadcast
    threshold rules the dim out. Plan pinned in tests/test_plan_shapes.py.

    Region pruning pushed to the CUSTOMER scan: c_nationkey =
    s_nationkey forces customer-nation = supplier-nation, and the
    supplier's nation must fall in the queried regions — so customers of
    excluded nations can never reach the result, and filtering them at
    the scan (an In predicate over the ~15 surviving nation keys,
    collected from the 25-row dim — a bounded driver-side dim read)
    shrinks the broadcast build AND every fact row carried through the
    SMJ by ~40%. This is the manual form of the join-order/filter
    inference a CBO does with constraint propagation.
    """
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_regionkey").isin(0, 1, 2))
    region_nations = [
        r["n_nationkey"]
        for r in nation.join(
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .select("n_nationkey")
        .collect()
    ]
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(region_nations))
        .select("c_custkey", "c_nationkey")
    )
    orders = load_bucketed(spark, sf_dir, "orders", "o_orderkey").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    li = load_bucketed(spark, sf_dir, "lineitem", "l_orderkey")
    # symmetric region prune (round 8): s_nationkey must equal a
    # region-surviving c_nationkey, so excluded-nation suppliers can
    # never match — filtering at the scan shrinks the broadcast build
    # ~40% (1M rows at sf10; semantically redundant, plan-positive)
    supp = load(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey").isin(region_nations)
    )
    # shuffle_hash over the co-located buckets (round 9): both sides are
    # bucketed on orderkey so the hint changes SMJ -> SHJ with still ZERO
    # exchanges — the hash build is the FILTERED orders side (date+region
    # selective, ~215k rows x 3 cols per bucket at sf10; bounded by the
    # ingest-time bucket sizing at any SF), the 60M-row lineitem side
    # streams through probes instead of a merge compare. Interleaved
    # min-of-4 at sf10: 3.14 s vs 3.57 s SMJ, never slower in-session.
    # Remaining floor is the 4-column lineitem materialization itself
    # (2.42 s measured bare in the same session) — see PERF.md round-9.
    ocust = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).hint("shuffle_hash")
    return (
        li.join(ocust, li.l_orderkey == ocust.o_orderkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (F.col("c_nationkey") == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver smoke-check query (entry())."""
    return q3_shipping_priority(spark, sf_dir)


PIPE_COLS = (
    "o_orderkey, bill_uid, o_custkey, o_orderdate, latest_ship, n_items, revenue"
)


@register(
    "pipeline_enrich_merge",
    oracle=f"""
    WITH kept AS (
        SELECT * FROM orders WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')),
    agg AS (
        SELECT l_orderkey, max(l_shipdate) AS latest_ship,
               count(*) AS n_items,
               {sql_exact_sum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem GROUP BY l_orderkey),
    enriched AS (
        SELECT o_orderkey,
               md5(CAST(o_orderkey AS VARCHAR) || '_' ||
                   CAST(o_custkey AS VARCHAR)) AS bill_uid,
               o_custkey, o_orderdate, latest_ship,
               coalesce(n_items, 0) AS n_items,
               coalesce(revenue, 0.0) AS revenue
        FROM kept LEFT JOIN agg ON o_orderkey = l_orderkey),
    base AS (
        SELECT o_orderkey, CAST(NULL AS VARCHAR) AS bill_uid, o_custkey,
               o_orderdate, CAST(NULL AS TIMESTAMP) AS latest_ship,
               CAST(0 AS BIGINT) AS n_items, 0.0 AS revenue
        FROM orders),
    unioned AS (
        SELECT {PIPE_COLS}, 1 AS __prio FROM enriched
        UNION ALL SELECT {PIPE_COLS}, 0 AS __prio FROM base)
    SELECT {PIPE_COLS} FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY __prio DESC) AS rn
        FROM unioned) WHERE rn = 1
    """,
)
def pipeline_enrich_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 lifecycle composed as ONE plan: jurisdiction-filtered semi-join
    (bills kept for ingested jurisdiction), per-bill aggregate derivation
    (latest action date, item count, exact revenue — the argmax/argmin of
    bills_federal.py:127-128 writ large), deterministic surrogate key mint,
    then MERGE into the existing table (update enriched rows, keep the
    rest). Exercises scan→pushdown-filter→semi-join→hash-agg→outer-join→
    keyed-merge in a single Catalyst-optimized DAG."""
    from ..functions.kernels import surrogate_key_md5
    from ..operators.upsert import merge_upsert

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    li = load(spark, sf_dir, "lineitem")
    kept = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_semi"
    )
    agg = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("latest_ship"),
        F.count(F.lit(1)).alias("n_items"),
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
    )
    enriched = (
        kept.join(agg, kept.o_orderkey == agg.l_orderkey, "left")
        .select(
            "o_orderkey",
            surrogate_key_md5(
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
            ).alias("bill_uid"),
            "o_custkey",
            "o_orderdate",
            "latest_ship",
            F.coalesce("n_items", F.lit(0)).alias("n_items"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
    )
    base = orders.select(
        "o_orderkey",
        F.lit(None).cast("string").alias("bill_uid"),
        "o_custkey",
        "o_orderdate",
        F.lit(None).cast("timestamp").alias("latest_ship"),
        F.lit(0).cast("long").alias("n_items"),
        F.lit(0.0).alias("revenue"),
    )
    return merge_upsert(base, enriched, keys=["o_orderkey"], preserve=())


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


@register(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: the same dimension joined twice under different roles
    (supplier nation vs customer nation) with a symmetric pair predicate;
    both nation sides broadcast, lineitem never shuffles before the agg."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@register(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {sql_exact_sum(
               'l.l_extendedprice * (1 - l.l_discount)'
               ' - 0.1 * p.p_retailprice * l.l_quantity')} AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE contains(p.p_name, 'red')
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit per nation-year. No partsupp table in the fixture,
    so supply cost is proxied as 10% of p_retailprice and the name filter uses 'red' — keeping the
    signature feature: a signed expression whose partial sums can be
    NEGATIVE (exercises the scaled-integer path's sign handling). The
    part-name filter prunes before any join."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(exact_sum(profit).alias("sum_profit"))
    )


@register(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {sql_exact_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: revenue lost to returns, top-20 customers. orderBy+limit
    compiles to TakeOrderedAndProject (per-partition top-20, single-row
    merge — no global sort); the revenue is an exact sum so the DESC
    ordering is engine-identical, with c_custkey breaking ties."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q13_cust_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def q13_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: distribution of per-customer order counts including the
    zero bucket — the LEFT OUTER join keeps order-less customers, and the
    join-side predicate (NOT the WHERE) keeps customers whose only orders
    are urgent. Two-level aggregation: the second groupBy is over an
    already-tiny relation."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p.p_brand, p.p_size,
           count(DISTINCT link.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) link
    JOIN part p ON p.p_partkey = link.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (2, 5, 11, 28, 37)
    GROUP BY 1, 2
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: how many distinct suppliers can ship each (brand, size):
    dedup'd part-supplier link (partsupp stand-in), NOT-equal + IN-list
    pruning pushed to the part scan, count-distinct over the join."""
    link = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(2, 5, 11, 28, 37)
    )
    return (
        link.join(F.broadcast(p), link.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q22_global_sales_opportunity",
    oracle=f"""
    WITH avg_bal AS (
        SELECT {sql_exact_avg('c_acctbal')} AS a
        FROM customer WHERE c_acctbal > 0.0),
    eligible AS (
        SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
        FROM customer c, avg_bal
        WHERE c.c_acctbal > avg_bal.a
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'))
    SELECT CAST(c_nationkey AS BIGINT) AS cntry, count(*) AS numcust,
           {sql_exact_sum('c_acctbal')} AS totacctbal
    FROM eligible GROUP BY 1
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: a scalar global aggregate (avg positive balance, computed
    exactly and broadcast as a 1-row frame) filters customers, an ANTI join
    drops those with RECENT orders (the fixture's customers almost all have
    old orders, so the recency predicate keeps the result non-trivial),
    then group-by-nation totals. The anti join is
    the scalable NOT EXISTS: no correlated per-row subquery."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        exact_avg(F.col("c_acctbal")).alias("a")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(
            o.filter(F.col("o_orderdate") >= "1998-01-01"),
            c.c_custkey == o.o_custkey,
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").cast("long").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
    WITH flat AS (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS vol,
               n.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA')
    SELECT o_year,
           floor({sql_exact_sum(
               "CASE WHEN supp_nation = 'NATION_1' THEN vol ELSE 0.0 END")}
               / {sql_exact_sum('vol')} * 10000.0 + 0.5) / 10000.0
               AS mkt_share
    FROM flat GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: NATION_1's share of ASIA order volume per year — the
    numerator is a CASE branch of the SAME exact-sum aggregate as the
    denominator (one pass, no self-join), ratio stable-rounded."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    flat = (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("vol"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    num = exact_sum(
        F.when(F.col("supp_nation") == "NATION_1", F.col("vol")).otherwise(0.0)
    )
    den = exact_sum(F.col("vol"))
    return flat.groupBy("o_year").agg(
        (F.floor(num / den * 10000.0 + 0.5) / 10000.0).alias("mkt_share")
    )


@register(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH pv AS (
        SELECT l.l_partkey,
               CAST(sum(CAST(round((l.l_quantity * p.p_retailprice) * 100, 0)
                             AS BIGINT)) AS BIGINT) AS pv_c
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY l.l_partkey),
    total AS (SELECT CAST(sum(pv_c) AS BIGINT) AS tv_c FROM pv)
    SELECT pv.l_partkey, CAST(pv_c / 100.0 AS DOUBLE) AS part_value
    FROM pv, total
    WHERE CAST(pv_c AS DOUBLE) > CAST(tv_c AS DOUBLE) * 0.0005
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: per-part shipped value, keeping parts above a FRACTION of
    the grand total — the scalar total re-aggregates the grouped relation
    (tiny) and broadcasts back as a 1-row frame; no second scan of the
    fact. Both the per-part value AND the grand total stay in scaled
    integer cents until the very end (a float re-sum of part_value would be
    order/partition-dependent and could flip the borderline threshold
    compare across engines); the fraction compare is int-exact cast to
    double once, identically on both sides."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    pv = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(
                scaled_long(
                    F.col("l_quantity") * F.col("p_retailprice"), 100
                )
            ).alias("pv_c")
        )
    )
    total = pv.agg(F.sum("pv_c").alias("tv_c"))
    return (
        pv.join(F.broadcast(total))
        .filter(
            F.col("pv_c").cast("double") > F.col("tv_c").cast("double") * 0.0005
        )
        .select(
            "l_partkey",
            (F.col("pv_c") / 100.0).cast("double").alias("part_value"),
        )
    )


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey,
               {sql_exact_sum('l_extendedprice * (1 - l_discount)')}
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: the supplier(s) with maximum quarterly revenue — argmax
    over an AGGREGATED relation. The engine form reuses the grouped frame
    for both the max (re-aggregated, broadcast) and the probe side; exact
    revenue makes the equality compare safe, and genuine ties all surface
    (same as the SQL)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    s = load(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q20_part_availability",
    oracle="""
    WITH red_parts AS (
        SELECT p_partkey FROM part WHERE contains(p_name, 'red')),
    heavy AS (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM red_parts)
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 100.0)
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
)
def q20_part_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: two-level semi-join chain — parts filtered by name feed a
    quantity-threshold aggregation over lineitem, whose survivors semi-join
    suppliers. Every IN becomes a left-semi hash join; nothing widens."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = load(spark, sf_dir, "supplier")
    heavy = (
        li.filter(F.col("l_shipdate") >= "1997-01-01")
        .join(
            F.broadcast(p.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 100.0)
        .select("l_suppkey")
    )
    return s.join(
        heavy, s.s_suppkey == heavy.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


LATE_DAYS = 60


@register(
    "tpch_q21_waiting_supplier",
    oracle=f"""
    WITH ol AS (
        SELECT l.l_orderkey, l.l_suppkey,
               max(CASE WHEN l.l_shipdate >
                        o.o_orderdate + {LATE_DAYS} * INTERVAL 1 DAY
                        THEN 1 ELSE 0 END) AS is_late
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY l.l_orderkey, l.l_suppkey)
    SELECT s.s_name, count(*) AS numwait
    FROM ol late
    JOIN supplier s ON s.s_suppkey = late.l_suppkey
    WHERE late.is_late = 1
      AND EXISTS (SELECT 1 FROM ol o2
                  WHERE o2.l_orderkey = late.l_orderkey
                    AND o2.l_suppkey <> late.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM ol o3
                      WHERE o3.l_orderkey = late.l_orderkey
                        AND o3.l_suppkey <> late.l_suppkey
                        AND o3.is_late = 1)
    GROUP BY s.s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers who were the ONLY late shipper on multi-supplier
    orders. The per-(order, supplier) lateness flag is aggregated once,
    then the EXISTS becomes a left-semi join and the NOT EXISTS a
    left-anti join against two filtered views of that SAME relation —
    three passes over a small aggregate instead of correlated subqueries
    per row. Late = shipped more than {LATE_DAYS} days after order date
    (receipt/commit columns don't exist in the fixture)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    ol = (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate")
                    + F.expr(f"make_dt_interval({LATE_DAYS})"),
                    1,
                ).otherwise(0)
            ).alias("is_late")
        )
    )
    late = ol.filter(F.col("is_late") == 1).select("l_orderkey", "l_suppkey")
    others = ol.select(
        F.col("l_orderkey").alias("o_ok"), F.col("l_suppkey").alias("o_sk")
    )
    late_others = ol.filter(F.col("is_late") == 1).select(
        F.col("l_orderkey").alias("o_ok"), F.col("l_suppkey").alias("o_sk")
    )
    waiting = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("o_ok"))
            & (F.col("l_suppkey") != F.col("o_sk")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("o_ok"))
            & (F.col("l_suppkey") != F.col("o_sk")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
