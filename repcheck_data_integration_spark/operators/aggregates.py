"""Aggregation operators (SURVEY.md §2.4). Citations refer to /root/reference.

All hash aggregates: partial (map-side combine) + final, no sort. Collected
sets are sorted then serialized to strings so results are deterministic and
hash-comparable regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .ckpt import pin
from ..registry import register
from ..functions.exact import scaled_long
from ..functions.top1 import DESC, Top1
from ..tables import literal_frame, load, load_bucketed
from .dedup import sql_stable_round4, stable_round4


@register(
    "agg_minmax_by",
    oracle="""
    SELECT o_custkey,
           min(o_orderdate) AS first_order_date,
           max(o_orderdate) AS latest_order_date,
           (max({'d': o_orderdate, 'k': o_orderkey})).k AS latest_orderkey
    FROM orders GROUP BY o_custkey
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/latest action date per bill + argmax (bills_federal.py:127-128,
    153-154). Argmax is made deterministic by taking the lexicographic max of
    (date, key) — ties on date resolve to the highest key on both engines."""
    o = load(spark, sf_dir, "orders")
    latest = Top1(o, [("o_orderdate", DESC), ("o_orderkey", DESC)])
    return o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_order_date"),
        latest["o_orderdate"].alias("latest_order_date"),
        latest["o_orderkey"].alias("latest_orderkey"),
    )


@register(
    "agg_collect_set",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list(DISTINCT o_orderstatus ORDER BY o_orderstatus), ',')
               AS statuses
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session → set of bill identifiers (bills_federal.py:115,161).
    Serialized sorted so the value hash is partition-order independent."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        )
    )


@register(
    "agg_count",
    oracle="""
    SELECT c_nationkey, count(*) AS n_customers
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record counts (zip_codes.py:51, zip_code_overlap.py:23)."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "agg_dup_check",
    oracle="""
    SELECT l_orderkey, count(*) AS n
    FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
    """,
)
def agg_dup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-ID data-quality check (state_house_districts.py:132-135:
    Counter(ids) → count > 1)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


@register(
    "agg_vote_counts",
    oracle="""
    SELECT l_returnflag,
           coalesce(count(*) FILTER (WHERE l_linestatus = 'O'), 0) AS "O",
           coalesce(count(*) FILTER (WHERE l_linestatus = 'F'), 0) AS "F"
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_vote_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-option vote tallies (models.py:119-120, bills_federal.py:206)
    as a pivot: groupBy(id).pivot(option).count()."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .count()
        .select(
            "l_returnflag",
            F.coalesce(F.col("O"), F.lit(0)).alias("O"),
            F.coalesce(F.col("F"), F.lit(0)).alias("F"),
        )
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native extension (SURVEY.md §2.4 'not present in reference')."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts")
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native extension: hierarchical subtotals."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )


@register("agg_approx_distinct")
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB answer to exact
    countDistinct's full shuffle. rows-only (sketch results are
    engine-specific by construction); bounded-error asserted in tests."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts")
    )


@register("agg_approx_percentile")
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles — the one-pass mergeable
    sketch that replaces exact sort-based percentiles at 100 TB. rows-only
    (sketch cut points are engine-specific); relative-error vs the exact
    agg_percentile asserted in tests/test_operators.py."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(1000)).alias(
            "approx_median_price"
        ),
        F.approx_percentile("l_extendedprice", F.lit(0.9), F.lit(1000)).alias(
            "approx_p90_price"
        ),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           floor((quantile_cont(l_extendedprice, 0.5)) * 10000.0 + 0.5) / 10000.0
               AS median_price,
           floor((quantile_cont(l_extendedprice, 0.9)) * 10000.0 + 0.5) / 10000.0
               AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native extension: exact interpolated percentiles (both engines
    use linear interpolation on the sorted values). The 100 TB variant is
    approx_percentile (one-pass sketch); exact is the correctness anchor."""
    from .dedup import stable_round4

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        stable_round4(F.percentile("l_extendedprice", F.lit(0.5))).alias(
            "median_price"
        ),
        stable_round4(F.percentile("l_extendedprice", F.lit(0.9))).alias(
            "p90_price"
        ),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native extension: full grouping-set lattice."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_SCALED = "CAST(CAST(round({x} * 100, 0) AS BIGINT) AS DECIMAL(38, 0))"
_QS = SQL_SCALED.format(x="l_quantity")
_PS = SQL_SCALED.format(x="l_extendedprice")


@register(
    "agg_stats_moments",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               count(*) AS n,
               CAST(sum({_QS}) AS DOUBLE) AS sx,
               CAST(sum({_QS} * {_QS}) AS DOUBLE) AS sx2,
               CAST(sum({_PS}) AS DOUBLE) AS sy,
               CAST(sum({_PS} * {_PS}) AS DOUBLE) AS sy2,
               CAST(sum({_QS} * {_PS}) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           floor(sqrt((sx2 - sx * sx / n) / n) / 100.0 * 10000.0 + 0.5)
               / 10000.0 AS qty_stddev_pop,
           floor((n * sxy - sx * sy)
                 / nullif(sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)),
                          0.0)
                 * 10000.0 + 0.5) / 10000.0 AS qty_price_corr
    FROM s
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native extension: second-moment statistics (population stddev,
    Pearson correlation) that hash-match across engines. Built-in
    stddev/corr sum doubles (order-dependent); here every moment is an
    exact DECIMAL(38) sum of scaled integers, converted to double once, so
    the final formula is identical IEEE arithmetic on both sides."""
    from .dedup import stable_round4

    li = load(spark, sf_dir, "lineitem")
    qs = scaled_long(F.col("l_quantity"), 100).cast("decimal(38,0)")
    ps = (
        scaled_long(F.col("l_extendedprice"), 100).cast("decimal(38,0)")
    )
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qs).cast("double").alias("sx"),
        F.sum(qs * qs).cast("double").alias("sx2"),
        F.sum(ps).cast("double").alias("sy"),
        F.sum(ps * ps).cast("double").alias("sy2"),
        F.sum(qs * ps).cast("double").alias("sxy"),
    )
    n, sx, sx2 = F.col("n"), F.col("sx"), F.col("sx2")
    sy, sy2, sxy = F.col("sy"), F.col("sy2"), F.col("sxy")
    stddev = F.sqrt((sx2 - sx * sx / n) / n) / 100.0
    vxy = ((n * sx2 - sx * sx) * (n * sy2 - sy * sy)).cast("double")
    corr = (n * sxy - sx * sy) / F.when(vxy > 0, F.sqrt(vxy))
    return s.select(
        "l_returnflag",
        stable_round4(stddev).alias("qty_stddev_pop"),
        stable_round4(corr).alias("qty_price_corr"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                            (l_returnflag, l_linestatus))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native extension: explicit GROUPING SETS (the general form
    rollup/cube specialize). One Expand + one aggregate — each input row
    fans out to its grouping-set combinations map-side, the shuffle stays
    a single pass."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                (l_returnflag, l_linestatus))
        """
    )


@register(
    "agg_bitwise",
    oracle="""
    SELECT l_returnflag,
           CAST(bit_and(l_orderkey) AS BIGINT) AS key_and,
           CAST(bit_or(l_linenumber) AS BIGINT) AS line_or,
           CAST(bit_xor(l_orderkey) AS BIGINT) AS key_xor
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (bit_and/or/xor) — order-independent by algebra,
    so exact at any parallelism; the flag-set/bitmap building blocks."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_orderkey").cast("long").alias("key_and"),
        F.bit_or("l_linenumber").cast("long").alias("line_or"),
        F.bit_xor("l_orderkey").cast("long").alias("key_xor"),
    )


@register(
    "agg_mode",
    oracle="""
    WITH c AS (
        SELECT l_returnflag, l_quantity, count(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_quantity)
    SELECT l_returnflag, l_quantity AS mode_qty, CAST(cnt AS BIGINT) AS n
    FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
                                       ORDER BY cnt DESC, l_quantity) AS rn
          FROM c)
    WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode per group (most frequent value, smallest-value
    tie-break): two hash aggregations + a tiny window — native mode()
    leaves ties unspecified in both engines, so the engine spells out the
    tie-break instead (same single-agg min(struct) trick as
    text_repetition_stats would also work)."""
    li = load(spark, sf_dir, "lineitem")
    c = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("l_returnflag").orderBy(
        F.col("cnt").desc(), F.col("l_quantity")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("cnt").cast("long").alias("n"),
        )
    )


@register("agg_hll_rollup")
def agg_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Datasketches-HLL rollup — the RE-AGGREGATABLE form of
    approximate distinct (approx_count_distinct gives a number you cannot
    roll up further; a sketch column you can). Daily per-type sketches of
    distinct users union into per-type totals WITHOUT rescanning events —
    the same maintained-rollup pattern as stream_hourly_rollup, for the
    one aggregate that is not plainly additive. HLL union is register-max,
    so estimate(union of daily sketches) == estimate(one global sketch)
    EXACTLY (asserted in tests, not just within tolerance). rows-only:
    sketch estimates are engine-specific by construction."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            "event_type",
            F.hll_sketch_estimate("sk").cast("long").alias("approx_users"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_corr_matrix",
    oracle="""
    WITH z AS (
        SELECT CAST(round(l_quantity * 100, 0) AS BIGINT) AS q,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p,
               CAST(round(l_discount * 100, 0) AS BIGINT) AS d
        FROM lineitem),
    s AS (
        SELECT count(*) AS n,
               sum(q) AS sq, sum(p) AS sp, sum(d) AS sd,
               sum(q*q) AS sqq, sum(p*p) AS spp, sum(d*d) AS sdd,
               sum(q*p) AS sqp, sum(q*d) AS sqd, sum(p*d) AS spd
        FROM z)
    SELECT pair, CAST(n AS BIGINT) AS n,
           floor(corr_val * 10000.0 + 0.5) / 10000.0 AS corr
    FROM (
        SELECT n, 'quantity_extendedprice' AS pair,
               CAST(n*sqp - sq*sp AS DOUBLE)
               / nullif(sqrt(CAST(n*sqq - sq*sq AS DOUBLE)
                      * CAST(n*spp - sp*sp AS DOUBLE)), 0.0) AS corr_val
        FROM s
        UNION ALL
        SELECT n, 'quantity_discount',
               CAST(n*sqd - sq*sd AS DOUBLE)
               / nullif(sqrt(CAST(n*sqq - sq*sq AS DOUBLE)
                      * CAST(n*sdd - sd*sd AS DOUBLE)), 0.0)
        FROM s
        UNION ALL
        SELECT n, 'extendedprice_discount',
               CAST(n*spd - sp*sd AS DOUBLE)
               / nullif(sqrt(CAST(n*spp - sp*sp AS DOUBLE)
                      * CAST(n*sdd - sd*sd AS DOUBLE)), 0.0)
        FROM s)
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over the lineitem measures with
    ORDER-INDEPENDENT arithmetic: F.corr/covar stream doubles and differ
    per partitioning, so every moment (Σx, Σx², Σxy) is summed as exact
    scaled integers (DECIMAL(38,0) on Spark ≡ HUGEINT on DuckDB), and the
    float division happens ONCE on the exact sums. Correlation is
    scale-invariant, so the ×100 fixed-point scaling cancels. One scan,
    one partial+final aggregate to a single row, then a zero-shuffle
    stack to the 3 pair rows — at 100 TB this is the cheapest possible
    shape (the same single pass computes any number of pairs). The two
    variance terms are cast to double BEFORE multiplying: their exact
    product can exceed 38 digits, and both engines must round at the
    same point for hash parity."""
    li = load(spark, sf_dir, "lineitem")
    z = li.select(
        scaled_long(F.col("l_quantity"), 100).alias("q"),
        scaled_long(F.col("l_extendedprice"), 100).alias("p"),
        scaled_long(F.col("l_discount"), 100).alias("d"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = z.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("q"))).alias("sq"),
        F.sum(dec(F.col("p"))).alias("sp"),
        F.sum(dec(F.col("d"))).alias("sd"),
        F.sum(dec(F.col("q") * F.col("q"))).alias("sqq"),
        F.sum(dec(F.col("p") * F.col("p"))).alias("spp"),
        F.sum(dec(F.col("d") * F.col("d"))).alias("sdd"),
        F.sum(dec(F.col("q") * F.col("p"))).alias("sqp"),
        F.sum(dec(F.col("q") * F.col("d"))).alias("sqd"),
        F.sum(dec(F.col("p") * F.col("d"))).alias("spd"),
    )

    def corr(sxy: str, sx: str, sy: str, sxx: str, syy: str):
        n = F.col("n")
        num = (n * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
        vx = (n * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double")
        vy = (n * F.col(syy) - F.col(sy) * F.col(sy)).cast("double")
        c = num / F.when(vx * vy > 0, F.sqrt(vx * vy))
        return F.floor(c * 10000.0 + 0.5) / 10000.0

    wide = s.select(
        F.col("n").cast("long").alias("n"),
        corr("sqp", "sq", "sp", "sqq", "spp").alias("c_qp"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("c_qd"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("c_pd"),
    )
    return wide.selectExpr(
        "stack(3, 'quantity_extendedprice', c_qp,"
        " 'quantity_discount', c_qd,"
        " 'extendedprice_discount', c_pd) AS (pair, corr)",
        "n",
    ).select("pair", "n", "corr")


_LINREG_SLOPE = ("(((n * sxy) - (sx * sy))"
                 " / nullif((n * sxx) - (sx * sx), 0.0))")


@register(
    "agg_grouped_linreg",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority,
               CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
                   AS x,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y
        FROM orders),
    a AS (
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(x * x) AS DOUBLE) AS sxx
        FROM g GROUP BY o_orderpriority)
    SELECT o_orderpriority, n_orders,
           floor(({_LINREG_SLOPE} / 100.0) * 10000.0 + 0.5) / 10000.0
               AS slope_dollars_per_day,
           floor((((sy - ({_LINREG_SLOPE} * sx)) / n) / 100.0) * 10000.0 + 0.5)
               / 10000.0 AS intercept_dollars
    FROM a
    """,
)
def agg_grouped_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares regression (order value vs order date) from
    the five classic sufficient statistics — the distributed formulation of
    regr_slope/regr_intercept that stays deterministic at any partitioning.

    Determinism: x (epoch days) and y (price cents) are integers, so the
    sums n/Σx/Σy/Σxy/Σx² accumulate exactly — Spark in DECIMAL(38,0)
    (overflow-checked), DuckDB in HUGEINT — and only the final closed-form
    slope/intercept arithmetic runs in IEEE doubles with an identical
    expression tree on both engines. A naive sum(double·double) would be
    partition-order-dependent and could never hash-match.

    Scale shape: one map-side-combined hash aggregate over orders (5
    integer accumulators per group), then O(|groups|) scalar math — the
    same single-shuffle profile as tpch_q1."""
    o = load(spark, sf_dir, "orders")
    x = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")).cast(
        "long"
    )
    y = scaled_long(F.col("o_totalprice"), 100)
    g = o.select("o_orderpriority", x.alias("x"), y.alias("y"))
    dec = "decimal(38,0)"
    a = g.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    vx = ((n * sxx) - (sx * sx)).cast("double")
    slope = ((n * sxy) - (sx * sy)) / F.when(vx != 0, vx)
    intercept = (sy - (slope * sx)) / n
    r4 = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return a.select(
        "o_orderpriority",
        "n_orders",
        r4(slope / 100.0).alias("slope_dollars_per_day"),
        r4(intercept / 100.0).alias("intercept_dollars"),
    )


MB_TOP = 100  # co-purchase pairs reported


@register(
    "agg_copurchase_pairs",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS part1, b.l_partkey AS part2
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    counted AS (
        SELECT part1, part2, count(*) AS n_orders
        FROM pairs GROUP BY part1, part2),
    ranked AS (
        SELECT part1, part2, n_orders,
               row_number() OVER (ORDER BY n_orders DESC, part1, part2)
                   AS rk
        FROM counted)
    SELECT CAST(rk AS INT) AS rk, part1, part2,
           CAST(n_orders AS BIGINT) AS n_orders
    FROM ranked WHERE rk <= {MB_TOP}
    """,
)
def agg_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top-{MB_TOP} part pairs bought in
    the same order (the first level of A-priori / co-view "customers also
    bought" mining). The pair generation is a SELF-equi-join on the basket
    key, never a global cross join: work is Σ k_i²/2 over per-order line
    counts k_i (bounded — TPC-H orders cap at 7 lines), and the pair
    aggregate map-side-combines before its shuffle. The final top-{MB_TOP}
    is `orderBy().limit()` — TakeOrderedAndProject, a DISTRIBUTED per-
    partition top-k plus a {MB_TOP}-row driver merge (round-8 departition,
    VERDICT r7 "what's wrong" #4: the old global row_number funneled the
    pair-scaled relation through one task); `rk` is then derived by a
    window over the <= {MB_TOP} survivors, with the full
    (count desc, keys) tie-break on both steps.

    Scale: shuffle 1 keys baskets on l_orderkey (natural, high
    cardinality); shuffle 2 carries distinct pairs only. Skew guard at
    100 TB: a mega-basket (k ≫ avg) quadratically explodes its own pairs —
    cap k per basket upstream or salt the basket, the same lever the
    fuzzy-join blocking documents."""
    li = load(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.alias("a")
    b = op.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part1"),
        F.col("b.l_partkey").alias("part2"),
    )
    counted = pairs.groupBy("part1", "part2").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    topk = counted.orderBy(
        F.col("n_orders").desc(), F.col("part1"), F.col("part2")
    ).limit(MB_TOP)
    w = W.orderBy(F.col("n_orders").desc(), F.col("part1"), F.col("part2"))
    return (
        topk.withColumn("rk", F.row_number().over(w))
        .select(
            F.col("rk").cast("int").alias("rk"),
            "part1",
            "part2",
            F.col("n_orders").cast("long").alias("n_orders"),
        )
    )


_VC = "CAST(round(value * 100, 0) AS BIGINT)"


@register(
    "agg_ab_ttest",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum({_VC}) AS DOUBLE) AS sx,
               CAST(sum({_VC} * {_VC}) AS DOUBLE) AS sx2
        FROM events
        WHERE event_type IN ('click', 'view')
        GROUP BY event_type),
    w AS (
        SELECT max(CASE WHEN event_type = 'click' THEN n END) AS n1,
               max(CASE WHEN event_type = 'click' THEN sx END) AS sx1,
               max(CASE WHEN event_type = 'click' THEN sx2 END) AS sx21,
               max(CASE WHEN event_type = 'view' THEN n END) AS n2,
               max(CASE WHEN event_type = 'view' THEN sx END) AS sx2_,
               max(CASE WHEN event_type = 'view' THEN sx2 END) AS sx22
        FROM s)
    SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view,
           floor(sx1 / n1 / 100.0 * 10000.0 + 0.5) / 10000.0
               AS mean_click,
           floor(sx2_ / n2 / 100.0 * 10000.0 + 0.5) / 10000.0 AS mean_view,
           floor((sx1 / n1 - sx2_ / n2)
                 / sqrt((sx21 - sx1 * sx1 / n1) / (n1 - 1) / n1
                        + (sx22 - sx2_ * sx2_ / n2) / (n2 - 1) / n2)
                 * 10000.0 + 0.5) / 10000.0 AS welch_t
    FROM w
    """,
)
def agg_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B comparison of event value between two arms (click vs view) via
    the Welch t statistic — the experiment-analysis primitive, computed
    from EXACT scaled-integer moments per arm (the agg_stats_moments
    machinery) and then a single pivot to one row, so the float formula
    runs once on identical inputs in both engines. Degrees-of-freedom /
    p-value lookup is a driver-side scalar (special functions aren't a
    distributed concern) and is deliberately out of the relational
    contract. Scale: one partial+final aggregate over the fact table, a
    2-row pivot — nothing else."""
    from .dedup import stable_round4

    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    vc = scaled_long(F.col("value"), 100).cast("decimal(38,0)")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vc).cast("double").alias("sx"),
        F.sum(vc * vc).cast("double").alias("sx2"),
    )
    w = s.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("event_type") == "click", F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("event_type") == "click", F.col("sx2"))).alias("sx21"),
        F.max(F.when(F.col("event_type") == "view", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("event_type") == "view", F.col("sx"))).alias("sx2_"),
        F.max(F.when(F.col("event_type") == "view", F.col("sx2"))).alias("sx22"),
    )
    m1 = F.col("sx1") / F.col("n1")
    m2 = F.col("sx2_") / F.col("n2")
    var1 = (F.col("sx21") - F.col("sx1") * F.col("sx1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    var2 = (F.col("sx22") - F.col("sx2_") * F.col("sx2_") / F.col("n2")) / (
        F.col("n2") - 1
    )
    t = (m1 - m2) / F.sqrt(var1 / F.col("n1") + var2 / F.col("n2"))
    return w.select(
        F.col("n1").cast("long").alias("n_click"),
        F.col("n2").cast("long").alias("n_view"),
        stable_round4(m1 / 100.0).alias("mean_click"),
        stable_round4(m2 / 100.0).alias("mean_view"),
        stable_round4(t).alias("welch_t"),
    )


RFM_ASOF = "1998-12-01"  # recency anchor (TPC-H dataset end)


@register(
    "agg_rfm_scores",
    oracle=f"""
    WITH base AS (
        SELECT o_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         DATE '{RFM_ASOF}') AS recency_days,
               count(*) AS frequency,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   AS monetary_cents
        FROM orders GROUP BY o_custkey),
    bounds AS (
        SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
               quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fb,
               quantile_cont(monetary_cents, [0.2, 0.4, 0.6, 0.8]) AS mb
        FROM base),
    scored AS (
        SELECT base.*,
               1 + CAST(recency_days > rb[1] AS INT)
                 + CAST(recency_days > rb[2] AS INT)
                 + CAST(recency_days > rb[3] AS INT)
                 + CAST(recency_days > rb[4] AS INT) AS r_score,
               1 + CAST(frequency < fb[4] AS INT)
                 + CAST(frequency < fb[3] AS INT)
                 + CAST(frequency < fb[2] AS INT)
                 + CAST(frequency < fb[1] AS INT) AS f_score,
               1 + CAST(monetary_cents < mb[4] AS INT)
                 + CAST(monetary_cents < mb[3] AS INT)
                 + CAST(monetary_cents < mb[2] AS INT)
                 + CAST(monetary_cents < mb[1] AS INT) AS m_score
        FROM base, bounds)
    SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           CAST(monetary_cents AS BIGINT) AS monetary_cents,
           CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_cell
    FROM scored
    """,
)
def agg_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring (recency / frequency / monetary quintiles) —
    the classic segmentation op: one customer aggregate, one 1-row exact-
    percentile aggregate for the quintile BOUNDARIES, then a broadcast
    range assignment. Round 7 departitioned this (VERDICT r6 "what's
    wrong" #1): the previous three global ntile(5) windows sorted the
    whole customer dimension in ONE task — a scale killer at 100 TB
    where |customers| is billions. Boundary bucketing needs no sort at
    all: Spark's exact `percentile` is a single-reduce aggregate (memory
    ∝ distinct metric values, never a global order), the 1-row boundary
    frame broadcasts, and each row buckets itself with four comparisons.

    Semantics note vs ntile: equal metric values now always land in the
    SAME quintile (boundary rule: strictly-beyond-the-80th-percentile =
    score 5 for f/m, which rank DESC; recency ranks ASC so strictly-
    above = worse). ntile's row-splitting of ties needed a per-customer
    tie-break to stay deterministic; the boundary rule is deterministic
    by construction, and both engines' interpolated percentiles are
    bit-identical on integer inputs (pinned adversarially in
    tests/test_aggregates.py::test_rfm_percentile_boundary_jitter:
    exact halves, 0.2*(n-1) float-error positions, integer positions,
    all-ties, 1e15-magnitude ints). Metrics stay exact integers
    (days / counts / cents), so the strict comparisons sit a full
    integer gap away from any boundary rounding.

    Scale: one o_custkey shuffle for the aggregate, one single-reduce
    percentile, one broadcast — no unpartitioned window anywhere
    (tools/window_audit.py: 0). Memory bound (ADVICE r7): Spark's exact
    `percentile` buffers O(distinct metric values) on ONE reducer —
    for monetary_cents that is ≈|customers|, so at the extreme end
    swap in `approx_percentile(col, qs, 10000)` (GK sketch, bounded
    memory, mergeable) — or, to stay EXACT with bounded memory, the
    agg_percentile_exact_distributed machinery (prefix-offsets order
    statistics, this module); the boundary-rule scoring is unchanged
    either way."""
    o = load(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(RFM_ASOF).cast("date"), F.max(F.col("o_orderdate").cast("date"))
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(scaled_long(F.col("o_totalprice"), 100)).alias(
            "monetary_cents"
        ),
    )
    qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
    bounds = base.agg(
        F.expr(f"percentile(recency_days, {qs})").alias("rb"),
        F.expr(f"percentile(frequency, {qs})").alias("fb"),
        F.expr(f"percentile(monetary_cents, {qs})").alias("mb"),
    )

    def asc_score(col: str, b: str):  # rank ASC: above boundary = worse
        s = F.lit(1)
        for i in (1, 2, 3, 4):
            s = s + (F.col(col) > F.element_at(F.col(b), i)).cast("int")
        return s

    def desc_score(col: str, b: str):  # rank DESC: below boundary = worse
        s = F.lit(1)
        for i in (4, 3, 2, 1):
            s = s + (F.col(col) < F.element_at(F.col(b), i)).cast("int")
        return s

    return (
        base.join(F.broadcast(bounds))
        .select(
            "o_custkey",
            F.col("recency_days").cast("long").alias("recency_days"),
            F.col("frequency").cast("long").alias("frequency"),
            F.col("monetary_cents").cast("long").alias("monetary_cents"),
            asc_score("recency_days", "rb").cast("int").alias("r_score"),
            desc_score("frequency", "fb").cast("int").alias("f_score"),
            desc_score("monetary_cents", "mb").cast("int").alias("m_score"),
        )
        .withColumn(
            "rfm_cell",
            (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
            .cast("int"),
        )
    )


@register(
    "agg_pandas_api_counts",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_pandas_api_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas API on Spark as a query-authoring surface (the fourth, after
    DataFrame, SQL, and the python-eval vehicles): a pandas
    groupby-size-sort chain that COMPILES TO THE SAME CATALYST PLAN as the
    native groupBy — no driver materialization, no Arrow transfer; only
    the API dialect differs. index_col is pinned on read and to_spark so
    pandas-on-Spark doesn't attach its sequential default index (a
    window-over-everything at scale — the one real trap of this API).
    Registered so a pandas-fluent user of the engine has a checked
    on-ramp; everything else in the repo stays native-DataFrame."""
    import os as _os

    import pyspark.pandas as ps

    pdf = ps.read_parquet(
        _os.path.join(sf_dir, "orders.parquet"), index_col="o_orderkey"
    )
    out = (
        pdf.groupby("o_orderpriority")
        .size()
        .sort_index()
        .to_frame("n_orders")
    )
    # keep the groupby key AS the index through to_spark: a reset_index
    # here would discard the pinned index and to_spark would materialize
    # the sequential default index (a window-over-everything at scale) —
    # the exact trap this docstring warns about (ADVICE r3).
    return out.to_spark(index_col="o_orderpriority").select(
        "o_orderpriority", F.col("n_orders").cast("long").alias("n_orders")
    )


def _abc_threshold_expr(tot_col: str, pct: int):
    """``floor(t * pct / 100)`` over a DECIMAL(38,0) total: the largest
    integral cum_cents still inside the pct share, i.e.
    ``cum*100 <= t*pct  <=>  cum <= floor(t*pct/100)`` for integral cum.
    Stays DECIMAL end-to-end — no LONG product anywhere, so no wrap at
    any total the 38-digit accumulator can hold. Exactness of
    floor-after-division: Spark divides DECIMAL(38,0) by 100 at result
    scale 6 with HALF_UP, and t*pct/100 has fractional part a multiple
    of 0.05 — never inside 5e-7 of the next integer, so the rounded
    quotient floors identically to the exact quotient."""
    return F.floor(F.col(tot_col) * F.lit(pct) / F.lit(100))


@register(
    "agg_abc_pareto",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                   AS rev_cents
        FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT sum(rev_cents) AS t FROM rev),
    ranked AS (
        SELECT l_partkey, rev_cents,
               sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                                    ROWS UNBOUNDED PRECEDING) AS cum_cents,
               row_number() OVER (ORDER BY rev_cents DESC, l_partkey)
                   AS rev_rank
        FROM rev)
    SELECT l_partkey, CAST(rev_rank AS BIGINT) AS rev_rank,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CASE WHEN cum_cents * 100 <= t * 80 THEN 'A'
                WHEN cum_cents * 100 <= t * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked, tot
    """,
)
def agg_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue (the 80/15/5
    inventory rule): cumulative-revenue share assigns class A to the head
    that covers 80% of revenue, B to 95%, C to the tail. Every compare is
    INTEGER (cum_cents vs a floor'd share of the exact total) — no float
    share ever computed, so the class boundary can't waver between
    engines; the cumulative window carries the full (revenue desc, key)
    tie-break.

    Overflow shape (round-10 continuation of the gini DIV lesson): the
    oracle's ``cum_cents * 100 <= t * 80`` compare is exact in DuckDB
    (HUGEINT) but its literal Spark translation multiplied a LONG total
    by 100 — total lineitem revenue at the 100 TB posture is ~2.2e18
    cents, so ``t * 80`` wraps LONG (9.2e18). The total is summed in
    DECIMAL(38,0) instead and the compare is rewritten as
    ``cum_cents <= floor(t*80/100)`` — equivalent for integral
    cum_cents, and evaluated ONCE on the 1-row total instead of two
    multiplies per part row. (floor-after-decimal-division is exact
    here: t*80/100 and t*95/100 have fractional parts in multiples of
    1/5 resp. 1/20, far from Spark's half-up rounding at division
    scale 6. Pinned by tests/test_functions.py::
    test_abc_thresholds_no_bigint_wrap.)

    Scale shape (round-8 departition, VERDICT r7 "what's wrong" #2): the
    docstring's old promise is now kept — the global cumulative window
    over |parts| is replaced by range-partitioned prefix sums. Per
    DISTINCT rev_cents value v, prefix_offsets yields off_cnt(v) (#parts
    with higher revenue) and off_vsum(v) (their revenue sum); a window
    PARTITIONED by rev_cents assigns the within-group position rn by
    l_partkey, and rank = off_cnt + rn, cum_cents = off_vsum + rn·v
    (every part in the group contributes the same v). One aggregate to
    |parts|, one join back on rev_cents (the window reuses its
    partitioning), one broadcast scalar — no data-scaled single task."""
    from .prefix import prefix_offsets

    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(scaled_long(F.col("l_extendedprice"), 100)).alias(
            "rev_cents"
        )
    ).transform(pin)
    # ^ three branches (distinct-value table, join-back, total) would
    # otherwise each re-scan the lineitem fact
    tot = rev.agg(
        F.sum(F.col("rev_cents").cast("decimal(38,0)")).alias("t")
    ).select(
        _abc_threshold_expr("t", 80).alias("t80"),
        _abc_threshold_expr("t", 95).alias("t95"),
    )
    vals = rev.groupBy("rev_cents").agg(F.count(F.lit(1)).alias("cnt"))
    vals = vals.withColumn(
        "vsum", F.col("cnt").cast("decimal(38,0)") * F.col("rev_cents")
    )
    offs = prefix_offsets(vals, "rev_cents", ["cnt", "vsum"], ascending=False)
    ranked = (
        rev.join(offs.select("rev_cents", "off_cnt", "off_vsum"), "rev_cents")
        .withColumn(
            # LONG-safe within-tie numbering (round-10 partitioned-window
            # sweep): count-over-frame, never the int row_number counter
            "rn",
            F.count(F.lit(1)).over(
                W.partitionBy("rev_cents")
                .orderBy("l_partkey")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .select(
            "l_partkey",
            "rev_cents",
            (F.col("off_vsum") + F.col("rn") * F.col("rev_cents")).alias(
                "cum_cents"
            ),
            (F.col("off_cnt") + F.col("rn")).alias("rev_rank"),
        )
    )
    return ranked.join(F.broadcast(tot)).select(
        "l_partkey",
        F.col("rev_rank").cast("long").alias("rev_rank"),
        F.col("rev_cents").cast("long").alias("rev_cents"),
        F.when(F.col("cum_cents") <= F.col("t80"), "A")
        .when(F.col("cum_cents") <= F.col("t95"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )


def _gini_ranksum_expr():
    """Sum of global ranks inside a ``cnt``-sized tie group whose smaller
    neighbors number ``off_cnt``: c*off + c(c+1)/2, accumulated in
    DECIMAL(38,0) with NO integral divide on a decimal-sized product.

    Spark's ``DIV`` (IntegralDivide) returns BIGINT even for DECIMAL
    operands, so the round-9 form ``(dec(cnt) * (cnt+1)) DIV 2`` silently
    wrapped once cnt(cnt+1)/2 exceeded Long.MAX (cnt ≳ 4.3e9 — live repro
    in VERDICT r9 #1: cnt=5e9 → -5946744071209551616). Exactly one of
    cnt / cnt+1 is even, so halve THAT factor first — both halvings stay
    in LONG range (cnt is a group count ≤ total rows < 9.2e18) — and only
    then multiply in DECIMAL. Pinned at cnt=5e9 (both parities) by
    tests/test_exact.py::test_gini_ranksum_no_bigint_wrap."""
    return F.expr(
        "CAST(cnt AS DECIMAL(38,0)) * off_cnt"
        " + CASE WHEN cnt % 2 = 0"
        "        THEN CAST(cnt DIV 2 AS DECIMAL(38,0)) * (cnt + 1)"
        "        ELSE CAST(cnt AS DECIMAL(38,0)) * ((cnt + 1) DIV 2)"
        "   END"
    )


@register(
    "agg_gini_revenue",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS i
        FROM rev),
    s AS (SELECT count(*) AS n, sum(cents) AS t,
                 sum(i * cents) AS iw
          FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(t AS BIGINT) AS total_cents,
           floor((2.0 * iw / (n * t) - (n + 1.0) / n) * 10000.0 + 0.5)
               / 10000.0 AS gini
    FROM s
    """,
)
def agg_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    inequality audit for skew planning (a high Gini on the JOIN KEY is
    the early warning that salting/AQE-skew handling will matter): the
    rank-weighted identity G = 2·Σ(i·x_(i))/(n·Σx) − (n+1)/n over the
    ascending-sorted per-customer cents. Rank weights and both sums are
    exact integers; the formula runs once on the 1-row pivot.

    Scale shape (round-8 departition, VERDICT r7 "what's wrong" #1): the
    oracle's global ``row_number() OVER (ORDER BY cents, o_custkey)`` is
    never materialized — x is CONSTANT within a cents tie group, so the
    group's rank-weighted contribution collapses to
    x · (c·off + c(c+1)/2) independent of the within-group order, and
    off(v) = #customers with cents < v comes from prefix_offsets' two-
    level range scan over the DISTINCT cents values. No single-task sort
    of the customer dimension anywhere; per-distinct-value counts are the
    only shuffled relation."""
    from .prefix import prefix_offsets

    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(scaled_long(F.col("o_totalprice"), 100)).alias(
            "cents"
        )
    )
    vals = rev.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    offs = prefix_offsets(vals, "cents", ["cnt"], ascending=True)
    return _gini_pivot(offs)


def _gini_pivot(offs: DataFrame) -> DataFrame:
    """Collapse the prefix-offset table (cents, cnt, off_cnt) to the
    1-row Gini readout. t and n·t stay DECIMAL: a LONG t has only ~4x
    headroom at the 100 TB posture (~2.25e18 cents), and the ratio's
    n*t (~1e28) wraps LONG outright — same overflow class as the
    rank-sum fix above (VERDICT r9 #1), but in the PIVOT the r9 fix
    didn't reach. DuckDB's twin is exact throughout (HUGEINT sums,
    then one hugeint→double conversion per factor), so Spark mirrors
    it: exact decimal sums/products, one decimal→double conversion at
    the division. Pinned past Long.MAX by tests/test_functions.py::
    test_gini_pivot_no_bigint_wrap."""
    ranksum = _gini_ranksum_expr()
    s = offs.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("cents")).alias(
            "t"
        ),
        F.sum(F.col("cents").cast("decimal(38,0)") * ranksum).alias("iw"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        # decimal->long is a CHECKED cast in Spark 4 (throws on
        # overflow, ANSI or not); past Long.MAX the total is simply not
        # representable in the BIGINT output contract — surface NULL
        # (try_cast) instead of killing the query whose gini is still
        # exact.
        F.expr("try_cast(t AS BIGINT)").alias("total_cents"),
        (
            F.floor(
                (
                    2.0 * F.col("iw") / (F.col("n") * F.col("t"))
                    - (F.col("n") + 1.0) / F.col("n")
                )
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("gini"),
    )


@register(
    "agg_median_exact",
    oracle="""
    WITH v AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
               o_orderkey
        FROM orders),
    r AS (
        SELECT o_orderpriority, cents,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY cents, o_orderkey) AS ra,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY cents DESC, o_orderkey DESC)
                   AS rd
        FROM v)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_mid,
           CAST(sum(cents) AS BIGINT) AS mid_cents_sum,
           floor(sum(cents) * 1.0 / count(*) / 100.0 * 10000.0 + 0.5)
               / 10000.0 AS median_price
    FROM r
    WHERE ra - rd BETWEEN -1 AND 1
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped median without a quantile sketch. The oracle keeps
    the dual-rank identity (|ra − rd| ≤ 1 picks the one/two central
    rows); the Spark side exploits that the CENTRAL VALUES depend only
    on the sorted multiset: aggregate to distinct (priority, cents)
    counts, take per-group exclusive prefix offsets, and the central
    ranks lo = (m+1) DIV 2, hi = m DIV 2 + 1 fall in the value groups
    with off < hi and off + c >= lo — each covering
    least(off+c, hi) − greatest(off+1, lo) + 1 central positions.
    All integer until the single final division; no engine quantile
    function is trusted on either side (interpolation conventions
    differ — this formulation sidesteps them).

    Scale shape (round-10 partitioned-window sweep): the old form dual-
    ranked EVERY orders row inside 5 priority partitions — a fact-scaled
    single-task external sort per priority that the unpartitioned-window
    audit cannot see (the window IS partitioned), with row_number's
    IntegerType counter silently wrapping past 2^31 rows per priority
    while the BIGINT oracle keeps counting. Now: one map-side-combining
    aggregate to the distinct-value stats, then grouped_prefix_offsets
    (operators/grouped_prefix.py — every window partitioned by
    (priority, value bucket), broadcast theta top) and a near-empty
    straddle filter. Integer rank bounds use DIV, never /, per the
    round-9 trap. Contrast agg_approx_percentile (GK sketch) for the
    single-pass approximate path."""
    from .grouped_prefix import grouped_prefix_offsets

    o = load(spark, sf_dir, "orders")
    v = o.select(
        "o_orderpriority",
        scaled_long(F.col("o_totalprice"), 100).alias("cents"),
    )
    vg = v.groupBy("o_orderpriority", "cents").agg(
        F.count(F.lit(1)).alias("c")
    )
    offs = grouped_prefix_offsets(vg, ["o_orderpriority"], "cents", ["c"])
    sel = (
        offs.withColumn("lo", F.expr("(tot_c + 1) DIV 2"))
        .withColumn("hi", F.expr("tot_c DIV 2 + 1"))
        .filter(
            (F.col("off_c") < F.col("hi"))
            & ((F.col("off_c") + F.col("c")) >= F.col("lo"))
        )
        .withColumn(
            "ncov",
            F.least(F.col("off_c") + F.col("c"), F.col("hi"))
            - F.greatest(F.col("off_c") + 1, F.col("lo"))
            + 1,
        )
    )
    return (
        sel.groupBy("o_orderpriority")
        .agg(
            F.sum("ncov").cast("long").alias("n_mid"),
            F.sum(F.col("cents") * F.col("ncov"))
            .cast("long")
            .alias("mid_cents_sum"),
        )
        .select(
            "o_orderpriority",
            "n_mid",
            "mid_cents_sum",
            (
                F.floor(
                    F.col("mid_cents_sum")
                    * 1.0
                    / F.col("n_mid")
                    / 100.0
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("median_price"),
        )
        .orderBy("o_orderpriority")
    )


AGING_ASOF = "1998-12-01"
AGING_EDGES = (30, 90, 365)  # bucket edges in days


@register(
    "agg_backlog_aging",
    oracle=f"""
    WITH open_orders AS (
        SELECT o_orderkey,
               date_diff('day', CAST(o_orderdate AS DATE),
                         DATE '{AGING_ASOF}') AS age_days,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders WHERE o_orderstatus = 'O'),
    bucketed AS (
        SELECT CASE WHEN age_days <= {AGING_EDGES[0]} THEN '0-030'
                    WHEN age_days <= {AGING_EDGES[1]} THEN '031-090'
                    WHEN age_days <= {AGING_EDGES[2]} THEN '091-365'
                    ELSE '365+' END AS age_bucket,
               cents
        FROM open_orders)
    SELECT age_bucket, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS backlog_cents
    FROM bucketed GROUP BY age_bucket ORDER BY age_bucket
    """,
)
def agg_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging — the operations-dashboard staple: orders
    still in status 'O' bucketed by days outstanding at the {AGING_ASOF}
    anchor, with counts and integer-cents exposure per bucket. The status
    filter is a pushable scan predicate; bucket labels are zero-padded so
    lexicographic ORDER BY equals age order on both engines. One
    partial+final aggregate, nothing else."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    age = F.datediff(
        F.lit(AGING_ASOF).cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(age <= AGING_EDGES[0], "0-030")
        .when(age <= AGING_EDGES[1], "031-090")
        .when(age <= AGING_EDGES[2], "091-365")
        .otherwise("365+")
    )
    return (
        o.select(
            bucket.alias("age_bucket"),
            scaled_long(F.col("o_totalprice"), 100).alias(
                "cents"
            ),
        )
        .groupBy("age_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("backlog_cents"),
        )
        .orderBy("age_bucket")
    )


@register(
    "agg_cohort_ltv",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               min(CAST(date_trunc('month', CAST(o_orderdate AS DATE))
                        AS DATE)) AS cohort_month
        FROM orders GROUP BY o_custkey),
    facts AS (
        SELECT f.cohort_month,
               date_diff('month', f.cohort_month,
                         CAST(date_trunc('month', CAST(o.o_orderdate
                                                       AS DATE)) AS DATE))
                   AS month_offset,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey),
    cells AS (
        SELECT cohort_month, month_offset,
               count(*) AS n_orders, sum(cents) AS rev_cents
        FROM facts GROUP BY cohort_month, month_offset)
    SELECT CAST(strftime(cohort_month, '%Y-%m') AS VARCHAR) AS cohort,
           CAST(month_offset AS BIGINT) AS month_offset,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(sum(rev_cents) OVER (PARTITION BY cohort_month
                                     ORDER BY month_offset
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_rev_cents
    FROM cells
    ORDER BY cohort, month_offset
    """,
)
def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix — the monetary sibling of the
    events cohort-retention op: customers cohorted by FIRST-order month,
    each later order lands in (cohort, months-since-cohort), with
    per-cell revenue and the cumulative LTV curve along each cohort row.
    All money stays integer cents, including the cumulative window.

    Scale: one per-customer min (broadcast back), one (cohort, offset)
    aggregate — cells are tiny (months²) so the cumulative window costs
    nothing; the fact-side join is broadcast because firsts collapses to
    |customers| rows."""
    o = load(spark, sf_dir, "orders")
    om = F.trunc(F.col("o_orderdate").cast("date"), "month")
    firsts = o.groupBy("o_custkey").agg(
        F.min(om).alias("cohort_month")
    )
    facts = o.join(F.broadcast(firsts), "o_custkey").select(
        "cohort_month",
        F.months_between(om, F.col("cohort_month"))
        .cast("long")
        .alias("month_offset"),
        scaled_long(F.col("o_totalprice"), 100).alias("cents"),
    )
    cells = facts.groupBy("cohort_month", "month_offset").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("rev_cents"),
    )
    w = (
        W.partitionBy("cohort_month")
        .orderBy("month_offset")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return cells.select(
        F.date_format("cohort_month", "yyyy-MM").alias("cohort"),
        F.col("month_offset").cast("long").alias("month_offset"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("rev_cents").cast("long").alias("rev_cents"),
        F.sum("rev_cents").over(w).cast("long").alias("cum_rev_cents"),
    ).orderBy("cohort", "month_offset")


@register(
    "agg_order_gaps",
    oracle="""
    WITH seq AS (
        SELECT o_custkey,
               date_diff('day',
                         lag(CAST(o_orderdate AS DATE)) OVER (
                             PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey),
                         CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders),
    g AS (SELECT o_custkey, gap_days FROM seq WHERE gap_days IS NOT NULL)
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(gap_days) AS BIGINT) AS total_gap_days,
           CAST(max(gap_days) AS BIGINT) AS max_gap_days,
           floor(sum(gap_days) * 1.0 / count(*) * 10000.0 + 0.5) / 10000.0
               AS avg_gap_days
    FROM g GROUP BY o_custkey
    """,
)
def agg_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap statistics per customer (re-order cadence — the
    churn-risk / next-order-expected input): consecutive-order day gaps
    via lag over a fully tie-broken (date, orderkey) window, then integer
    count/sum/max with the average as the single rounded division.
    Customers with one order produce no gaps and no row (matching the
    oracle's NULL-filtered lag).

    Scale: one window + one aggregate on the same o_custkey partitioning
    — a single shuffle."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate"), F.col("o_orderkey")
    )
    seq = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return seq.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap_days").cast("long").alias("total_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
        (
            F.floor(
                F.sum("gap_days") * 1.0 / F.count(F.lit(1)) * 10000.0 + 0.5
            )
            / 10000.0
        ).alias("avg_gap_days"),
    )


# --- HDR-style mergeable quantile histogram --------------------------------

HDR_SUB = 16  # sub-buckets per power-of-two decade


@register(
    "agg_quantile_histogram",
    oracle=f"""
    WITH v AS (
        SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        FROM lineitem),
    b AS (
        SELECT cents,
               length(bin(cents)) - 1 AS e,
               (cents * {HDR_SUB}) // (1::BIGINT << (length(bin(cents)) - 1))
                   - {HDR_SUB} AS m
        FROM v),
    h AS (
        SELECT e * {HDR_SUB} + m AS bucket_id, e, m, count(*) AS cnt
        FROM b GROUP BY 1, 2, 3),
    c AS (
        SELECT *, sum(cnt) OVER (ORDER BY bucket_id
                                 ROWS UNBOUNDED PRECEDING) AS cum,
               (SELECT sum(cnt) FROM h) AS n
        FROM h),
    qs AS (SELECT * FROM (VALUES (50, 1, 2), (90, 9, 10), (99, 99, 100))
               AS t(q_pct, q_num, q_den)),
    tgt AS (
        SELECT q_pct, (q_num * n + q_den - 1) // q_den AS target, n
        FROM qs CROSS JOIN (SELECT DISTINCT n FROM c) u),
    pick AS (
        SELECT t.q_pct, t.target, c.bucket_id, c.e, c.m, c.cnt,
               c.cum - c.cnt AS cum_before,
               row_number() OVER (PARTITION BY t.q_pct
                                  ORDER BY c.bucket_id) AS rn
        FROM tgt t JOIN c ON c.cum >= t.target)
    SELECT q_pct, CAST(bucket_id AS BIGINT) AS bucket_id,
           CAST(cnt AS BIGINT) AS cnt_in_bucket,
           CAST(target AS BIGINT) AS target_rank,
           floor((1::BIGINT << e) * (({HDR_SUB} + m)
                 + (target - cum_before) * 1.0 / cnt) / {HDR_SUB}
                 * 10000.0 + 0.5) / 10000.0 AS est_cents
    FROM pick WHERE rn = 1
    """,
)
def agg_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch with EXACT cross-engine determinism — the
    HDR-histogram design (public: hdrhistogram.org; log-scale buckets with
    {HDR_SUB} linear sub-buckets per power of two, ~4% relative error):
    bucket ids are pure INTEGER arithmetic (exponent via the binary-string
    length of the value — no float log2 anywhere), so partial histograms
    from any partitioning merge by adding counts, the property
    t-digest/GK sketches only have approximately. One hash aggregation
    (map-side partial sums collapse each partition to ≤ a few hundred
    bucket rows), one tiny cumulative window over the bucket table, p50/
    p90/p99 read off by integer rank targets with within-bucket linear
    interpolation — float enters only in the final interpolation, stable-
    rounded identically in both engines.

    At 100 TB this is THE shape for percentile telemetry: the shuffle
    carries bucket partials (bounded by bucket count, not rows), and
    histograms for different time windows / cohorts union by key."""
    li = load(spark, sf_dir, "lineitem")
    cents = scaled_long(F.col("l_extendedprice"), 100)
    e = (F.length(F.expr("bin(cents)")) - 1).alias("e")
    b = li.select(cents.alias("cents")).select("cents", e).select(
        "cents",
        "e",
        # integer sub-bucket: (cents*SUB) div 2^e - SUB, exponent exact via
        # bin() string length — no float log2 on either engine
        (
            F.floor(
                F.col("cents") * HDR_SUB
                / F.expr("shiftleft(cast(1 as bigint), e)")
            )
            - HDR_SUB
        ).alias("m"),
    )
    h = b.groupBy(
        (F.col("e") * HDR_SUB + F.col("m")).alias("bucket_id"), "e", "m"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    n = h.agg(F.sum("cnt").alias("n"))
    c = (
        h.join(F.broadcast(n))
        .withColumn(
            "cum",
            F.sum("cnt").over(
                W.orderBy("bucket_id").rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            ),
        )
    )
    qs = literal_frame(
        spark,
        [(50, 1, 2), (90, 9, 10), (99, 99, 100)],
        "q_pct int, q_num long, q_den long",
    )
    tgt = qs.join(F.broadcast(n)).select(
        "q_pct",
        ((F.col("q_num") * F.col("n") + F.col("q_den") - 1) / F.col("q_den"))
        .cast("long")
        .alias("target"),
    )
    pick = (
        tgt.join(c, F.col("cum") >= F.col("target"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("q_pct").orderBy("bucket_id")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    est = (
        F.floor(
            F.expr("shiftleft(cast(1 as bigint), e)")
            * (
                (HDR_SUB + F.col("m"))
                + (F.col("target") - (F.col("cum") - F.col("cnt")))
                * 1.0
                / F.col("cnt")
            )
            / HDR_SUB
            * 10000.0
            + 0.5
        )
        / 10000.0
    )
    return pick.select(
        "q_pct",
        F.col("bucket_id").cast("long").alias("bucket_id"),
        F.col("cnt").cast("long").alias("cnt_in_bucket"),
        F.col("target").cast("long").alias("target_rank"),
        est.alias("est_cents"),
    )


# ---------------------------------------------------------------------------
# agg_market_basket_rules — association rules with support/confidence/lift
# ---------------------------------------------------------------------------

MBR_MIN_SUP = 3  # pair must co-occur in >= this many baskets


@register(
    "agg_market_basket_rules",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM op),
    isup AS (SELECT l_partkey AS item, count(*) AS s FROM op GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS np
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= {MBR_MIN_SUP}),
    rules AS (
        SELECT p1 AS antecedent, p2 AS consequent, np FROM pairs
        UNION ALL
        SELECT p2, p1, np FROM pairs)
    SELECT r.antecedent, r.consequent,
           CAST(r.np AS BIGINT) AS n_both,
           CAST(sa.s AS BIGINT) AS n_antecedent,
           CAST(sc.s AS BIGINT) AS n_consequent,
           floor((CAST(r.np AS DOUBLE) / CAST(sa.s AS DOUBLE))
                 * 10000.0 + 0.5) / 10000.0 AS confidence,
           floor((CAST(r.np AS DOUBLE) * CAST(nb.n AS DOUBLE)
                  / (CAST(sa.s AS DOUBLE) * CAST(sc.s AS DOUBLE)))
                 * 10000.0 + 0.5) / 10000.0 AS lift
    FROM rules r
    JOIN isup sa ON sa.item = r.antecedent
    JOIN isup sc ON sc.item = r.consequent
    CROSS JOIN nb
    ORDER BY antecedent, consequent
    """,
)
def agg_market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (Agrawal & Srikant, VLDB 1994 — the Apriori
    output at itemset size 2): for every part pair co-bought in
    ≥{MBR_MIN_SUP} baskets, both directed rules A→B with support counts,
    confidence P(B|A) and lift P(A,B)/(P(A)P(B)) — the
    'customers-who-bought' rule table that rec_item_item_cosine's
    similarity scores don't express (lift is normalized against item
    POPULARITY, so a pair of merely-popular parts scores ~1 while a true
    affinity scores ≫ 1).

    Determinism: every count is an exact integer (distinct basket-item
    incidence, basket self-join pair counts, item supports, one global
    basket total); confidence and lift are rationals of those integers
    through the stable_round4 form. No window, no ties to break.

    Scale shape (round-10 rewrite): per-basket item SETS are collected
    over the bucketed-by-l_orderkey scan — the grouping key is already
    clustered, so the basket aggregate (and everything derived from it)
    runs with ZERO basket-keyed exchange; in-basket pairs come from a
    double explode of the set (work Σk²/2 with basket size bounded,
    exactly the old self-equi-join's, but with no join and no fact-sized
    broadcast — the r7 trap the old BuildRight plan flirted with), and
    both directed rules explode from ONE pair aggregate (the old
    UNION ALL recomputed the whole pair tower per direction). Item
    supports are an item-keyed aggregate broadcast into the rule join;
    the basket total is a 1-row singleton. The basket-set frame is
    persisted once for its three readers (pairs, supports, total).
    Measured sf0.1: 2.56 → 1.92 s; Exchange mentions halved
    (plans/r10/agg_market_basket_rules_ before/after .txt).
    """
    li = load_bucketed(spark, sf_dir, "lineitem", "l_orderkey")
    # per-basket distinct item sets: the bucketed-by-l_orderkey scan
    # already clusters the grouping key, so this aggregate (and everything
    # derived from it) needs NO basket-keyed exchange; collect_set gives
    # the same distinct incidence the old `.distinct()` produced
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("items"))
        .persist()
    )
    nb = baskets.agg(F.count(F.lit(1)).alias("n"))
    item = baskets.select(F.explode("items").alias("item"))
    isup = item.groupBy("item").agg(F.count(F.lit(1)).alias("s"))
    # in-basket pair generation by a double explode of the item set
    # (work Σk²/2 exactly like the old self-equi-join, but with no join,
    # no second scan of the incidence, and no fact-sized broadcast)
    pairs = (
        baskets.select(F.col("items").alias("its"), F.explode("items").alias("p1"))
        .select("p1", F.explode("its").alias("p2"))
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("np"))
        .filter(F.col("np") >= MBR_MIN_SUP)
    )
    # both directed rules from ONE pair aggregate: the old
    # `pairs UNION ALL pairs.swap` duplicated the whole pair-generation
    # subtree (self-join + groupBy ran twice — plan showed two full
    # HashAggregate towers, plans/r10/agg_market_basket_rules_before.txt);
    # explode(array(struct..)) emits the same rows from a single subtree
    rules = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("p1").alias("antecedent"),
                    F.col("p2").alias("consequent"),
                    F.col("np"),
                ),
                F.struct(
                    F.col("p2").alias("antecedent"),
                    F.col("p1").alias("consequent"),
                    F.col("np"),
                ),
            )
        ).alias("r")
    ).select("r.antecedent", "r.consequent", "r.np")
    from .dedup import stable_round4

    return (
        rules.join(
            F.broadcast(isup.select(F.col("item").alias("antecedent"),
                                    F.col("s").alias("sa"))),
            "antecedent",
        )
        .join(
            F.broadcast(isup.select(F.col("item").alias("consequent"),
                                    F.col("s").alias("sc"))),
            "consequent",
        )
        .crossJoin(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            F.col("np").cast("long").alias("n_both"),
            F.col("sa").cast("long").alias("n_antecedent"),
            F.col("sc").cast("long").alias("n_consequent"),
            stable_round4(
                F.col("np").cast("double") / F.col("sa").cast("double")
            ).alias("confidence"),
            stable_round4(
                F.col("np").cast("double") * F.col("n").cast("double")
                / (F.col("sa").cast("double") * F.col("sc").cast("double"))
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


@register(
    "agg_penny_allocation",
    oracle="""
    WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS w
        FROM lineitem),
    tot AS (
        SELECT l_orderkey, SUM(w) AS tw, COUNT(*) AS n_lines
        FROM li GROUP BY 1),
    ordr AS (
        SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS rebate_c
        FROM orders),
    base AS (
        SELECT li.l_orderkey, li.l_linenumber, t.n_lines, o.rebate_c,
               (o.rebate_c * li.w) // t.tw AS base_c,
               (o.rebate_c * li.w) % t.tw AS rem
        FROM li
        JOIN tot t ON li.l_orderkey = t.l_orderkey
        JOIN ordr o ON li.l_orderkey = o.o_orderkey),
    ranked AS (
        SELECT l_orderkey, n_lines, rebate_c, base_c,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY rem DESC, l_linenumber) AS rk,
               SUM(base_c) OVER (PARTITION BY l_orderkey) AS base_sum
        FROM base),
    alloc AS (
        SELECT l_orderkey, n_lines, rebate_c,
               base_c + CASE WHEN rk <= rebate_c - base_sum
                             THEN 1 ELSE 0 END AS alloc_c
        FROM ranked)
    SELECT l_orderkey AS o_orderkey,
           CAST(n_lines AS BIGINT) AS n_lines,
           rebate_c AS rebate_cents,
           CAST(SUM(alloc_c) AS BIGINT) AS allocated_cents,
           CAST(MAX(alloc_c) AS BIGINT) AS max_line_cents,
           CAST(MIN(alloc_c) AS BIGINT) AS min_line_cents
    FROM alloc GROUP BY 1, 2, 3
    """,
)
def agg_penny_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder ("penny") allocation: spread each order's 1%
    rebate (floor(o_totalprice) cents) across its lineitems proportional
    to extended price so the integer-cent line amounts sum EXACTLY to the
    header amount — the canonical financial-ETL allocation that naive
    per-line rounding gets wrong by +-n pennies. base_i =
    (rebate * w_i) div W in pure BIGINT arithmetic (never a double
    division, so no boundary flips), and the leftover rebate - sum(base)
    pennies (provably < n_lines) go to the lines with the largest integer
    remainders, linenumber as the tie-break. Output is the per-order
    reconciliation relation; allocated_cents == rebate_cents everywhere is
    the audit invariant the hash compare certifies.

    Scale: lineitem is scanned ONCE and shuffled ONCE — order totals,
    remainder ranks, and the final reconciliation agg are all windows/
    aggregates over the same l_orderkey partitioning; the only join is
    the orders lookup on that same key. The order key is
    high-cardinality and unskewed. No driver-side arithmetic.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        scaled_long(F.col("l_extendedprice"), 100).alias("w"),
    )
    ordr = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice")).cast("long").alias("rebate_c"),
    )
    # order totals via a window over the SAME partition key the ranking
    # window and final agg use — one lineitem scan, one shuffle, vs the
    # naive groupBy + join-back (two scans, two joins)
    wo = W.partitionBy("l_orderkey")
    weighted = li.select(
        "l_orderkey",
        "l_linenumber",
        "w",
        F.sum("w").over(wo).alias("tw"),
        F.count(F.lit(1)).over(wo).alias("n_lines"),
    )
    base = weighted.join(
        ordr, weighted["l_orderkey"] == ordr["o_orderkey"]
    ).select(
        "l_orderkey",
        "l_linenumber",
        "n_lines",
        "rebate_c",
        F.expr("rebate_c * w div tw").alias("base_c"),
        (F.col("rebate_c") * F.col("w") % F.col("tw")).alias("rem"),
    )
    ranked = base.select(
        "l_orderkey",
        "n_lines",
        "rebate_c",
        "base_c",
        F.row_number()
        .over(wo.orderBy(F.col("rem").desc(), "l_linenumber"))
        .alias("rk"),
        F.sum("base_c").over(wo).alias("base_sum"),
    )
    alloc = ranked.select(
        "l_orderkey",
        "n_lines",
        "rebate_c",
        (
            F.col("base_c")
            + F.when(
                F.col("rk") <= F.col("rebate_c") - F.col("base_sum"), 1
            ).otherwise(0)
        ).alias("alloc_c"),
    )
    return alloc.groupBy("l_orderkey", "n_lines", "rebate_c").agg(
        F.sum("alloc_c").cast("long").alias("allocated_cents"),
        F.max("alloc_c").cast("long").alias("max_line_cents"),
        F.min("alloc_c").cast("long").alias("min_line_cents"),
    ).select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("rebate_c").alias("rebate_cents"),
        "allocated_cents",
        "max_line_cents",
        "min_line_cents",
    )


# ---------------------------------------------------------------------------
# agg_percentile_exact_distributed — exact quantiles with bounded memory
# ---------------------------------------------------------------------------

QEX_PS = [0.25, 0.5, 0.75, 0.9, 0.99]


@register(
    "agg_percentile_exact_distributed",
    oracle="""
    WITH v AS (
        SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders)
    """
    + "\nUNION ALL\n".join(
        f"""SELECT {p}::DOUBLE AS p, quantile_cont(cents, {p}) AS q_cents,
           CAST(count(*) AS BIGINT) AS n FROM v"""
        for p in QEX_PS
    )
    + "\nORDER BY p",
)
def agg_percentile_exact_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT interpolated quantiles of a fact column with BOUNDED memory
    per task — the scale-safe alternative to Spark's single-reduce
    `percentile` (which buffers O(distinct values) on ONE reducer, the
    documented ceiling of agg_rfm_scores' boundary aggregate) and to
    `approx_percentile` (which trades exactness away). The order
    statistic x_k is located relationally: per distinct value,
    prefix_offsets gives off_cnt = #rows with smaller values, so the
    row whose [off_cnt, off_cnt + cnt) interval covers position k IS
    x_k — a broadcast theta join of the <= |ps| * 2 target positions
    against the distinct-value table, no sort, no single big reducer.
    quantile_cont's linear interpolation — the SYMMETRIC form
    x_lo*(1-frac) + x_hi*frac, which differs from lo + frac*(hi-lo) in
    the last ulp (see inline note) — runs once per requested p on the
    joined pair, bit-matching DuckDB by construction.

    Scale shape: one map-side-combined aggregate to distinct values,
    the prefix scan's bounded levels, and two broadcast-nested-loop
    probes of |ps| rows each — every task's memory is O(its value
    range), never O(all distinct values).
    """
    from .prefix import prefix_offsets

    o = load(spark, sf_dir, "orders")
    vals = o.groupBy(
        scaled_long(F.col("o_totalprice"), 100).alias("cents")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    offs = prefix_offsets(vals, "cents", ["cnt"], ascending=True)
    targets = (
        offs.select(F.col("tot_cnt").alias("n"))
        .limit(1)
        .select(
            F.explode(
                F.array(*[F.lit(float(p)) for p in QEX_PS])
            ).alias("p"),
            "n",
        )
        .withColumn("h", F.col("p") * (F.col("n") - 1))
        .withColumn("klo", F.floor("h").cast("long"))
        .withColumn("khi", F.ceil("h").cast("long"))
    )
    lo = offs.join(
        F.broadcast(targets),
        (F.col("off_cnt") <= F.col("klo"))
        & (F.col("klo") < F.col("off_cnt") + F.col("cnt")),
    ).select("p", "n", "h", "klo", F.col("cents").alias("x_lo"))
    hi = offs.join(
        F.broadcast(targets.select("p", "khi")),
        (F.col("off_cnt") <= F.col("khi"))
        & (F.col("khi") < F.col("off_cnt") + F.col("cnt")),
    ).select(F.col("p").alias("p2"), F.col("cents").alias("x_hi"))
    return (
        lo.join(hi, lo.p == hi.p2)
        .select(
            "p",
            # quantile_cont's EXACT float recipe is the symmetric form
            # x_lo*(1-frac) + x_hi*frac — NOT lo + frac*(hi-lo), which
            # differs in the last ulp (measured at p=0.99, sf0.01:
            # ...59 vs ...589999996). Reverse-engineered empirically;
            # the boundary-jitter test's cases happen to agree on both
            # forms, so it could not distinguish them.
            (
                F.col("x_lo") * (1 - (F.col("h") - F.col("klo")))
                + F.col("x_hi") * (F.col("h") - F.col("klo"))
            ).cast("double").alias("q_cents"),
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("p")
    )


# --------------------------------------------------------------------------
# agg_kmv_sketch
# --------------------------------------------------------------------------

KMV_K = 32
# 16^12: the hash domain size for a 12-hex-digit (48-bit) md5 prefix. 48
# bits keep every arithmetic step exactly representable in a double
# (< 2^53), which is what lets the DuckDB twin fold the same hex digits
# with power() and still match bit-for-bit.
KMV_DOMAIN = float(16**12)

# Shared estimator formula — interpolated VERBATIM into the Spark selectExpr
# and the DuckDB SQL so the IEEE evaluation order is identical.
_KMV_EST = (
    f"CASE WHEN kn < {KMV_K} THEN CAST(kn AS DOUBLE) "
    f"ELSE {float(KMV_K - 1)} * {KMV_DOMAIN!r} / CAST(kth AS DOUBLE) END"
)


@register(
    "agg_kmv_sketch",
    oracle=f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    hv AS (
        SELECT event_type, user_id,
               CAST(list_sum([
                   (strpos('0123456789abcdef',
                           substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1)
                   * power(16, 12 - i)
                   for i in generate_series(1, 12)]) AS BIGINT) AS hv
        FROM du),
    ranked AS (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
        FROM hv),
    sk AS (SELECT * FROM ranked WHERE rk <= {KMV_K}),
    ex AS (SELECT event_type, count(*) AS exact_distinct FROM du GROUP BY 1),
    kt AS (SELECT event_type, max(hv) AS kth, count(*) AS kn
           FROM sk GROUP BY 1),
    per_type AS (
        SELECT ex.event_type,
               CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
               {sql_stable_round4(_KMV_EST)} AS kmv_estimate
        FROM ex JOIN kt ON kt.event_type = ex.event_type),
    usk AS (SELECT DISTINCT hv FROM sk),
    uranked AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rk FROM usk),
    ukt AS (SELECT max(hv) AS kth, count(*) AS kn
            FROM uranked WHERE rk <= {KMV_K}),
    uex AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM du)
    SELECT * FROM per_type
    UNION ALL
    SELECT '__union__' AS event_type,
           CAST(uex.exact_distinct AS BIGINT) AS exact_distinct,
           {sql_stable_round4(_KMV_EST)} AS kmv_estimate
    FROM uex CROSS JOIN ukt
    ORDER BY event_type
    """,
)
def agg_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct sketch per event_type + a union estimate.

    The per-type sketch is the k smallest 48-bit hashes of the distinct
    member set; est = (k-1) / U_k with U_k the k-th normalized minimum
    (Bar-Yossef et al., RANDOM 2002). The '__union__' row is estimated
    from the UNION OF THE PER-TYPE SKETCHES alone (k smallest of the
    merged bottom-k sets) — the mergeability that makes KMV usable as a
    distributed accumulator at 100 TB: partial sketches of bounded size k
    flow through a single reduce, the raw membership never re-scanned.
    Exact counts are emitted next to the estimates as the quality gauge.

    Scale shape: one distinct-shuffle on (event_type, user_id), one
    k-bounded per-group top-k (rank window over groups), then
    constant-size merges. The 48-bit md5-prefix hash is folded with
    conv(); the oracle folds the same hex digits arithmetically — both
    are exact integers below 2^53.
    """
    du = (
        load(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    hv = du.withColumn(
        "hv",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
        ).cast("long"),
    )
    # Two-level bottom-k: a single window per event_type serializes the
    # whole type's membership through one sort task (measured 32x at a
    # 10x scale probe — the classic per-group top-k bottleneck). Level 1
    # prunes to k rows per (type, physical partition) IN PARALLEL —
    # bottom-k is mergeable, so pruning any partition split preserves
    # the global bottom-k — and level 2 sorts only the <= k * n_parts
    # survivors per type. This IS the sketch's distributed-accumulator
    # property, now also the execution shape.
    lvl1 = hv.withColumn("pid", F.spark_partition_id()).withColumn(
        "rk1",
        F.row_number().over(
            W.partitionBy("event_type", "pid").orderBy("hv")
        ),
    ).filter(F.col("rk1") <= KMV_K)
    ranked = lvl1.withColumn(
        "rk",
        F.row_number().over(W.partitionBy("event_type").orderBy("hv")),
    )
    sk = ranked.filter(F.col("rk") <= KMV_K)
    ex = du.groupBy("event_type").agg(
        F.count("*").alias("exact_distinct")
    )
    kt = sk.groupBy("event_type").agg(
        F.max("hv").alias("kth"), F.count("*").alias("kn")
    )
    per_type = (
        ex.join(kt, "event_type")
        .withColumn("kmv_estimate", stable_round4(F.expr(_KMV_EST)))
        .select("event_type", "exact_distinct", "kmv_estimate")
    )
    usk = sk.select("hv").distinct()
    uranked = usk.withColumn(
        "rk", F.row_number().over(W.partitionBy().orderBy("hv"))
    )
    ukt = uranked.filter(F.col("rk") <= KMV_K).agg(
        F.max("hv").alias("kth"), F.count("*").alias("kn")
    )
    uex = du.agg(F.countDistinct("user_id").alias("exact_distinct"))
    union_row = (
        uex.crossJoin(ukt)
        .withColumn("kmv_estimate", stable_round4(F.expr(_KMV_EST)))
        .select(
            F.lit("__union__").alias("event_type"),
            "exact_distinct",
            "kmv_estimate",
        )
    )
    return per_type.unionByName(union_row).orderBy("event_type")


# --------------------------------------------------------------------------
# agg_theil_index
# --------------------------------------------------------------------------

THEIL_SCALE = 1_000_000_000

# shared per-term expression: ratio = x*n/S (one division of exact
# integers), term = quantized ratio*ln(ratio) with the midpoint offset.
# x*n widens through DECIMAL(19,0) before the multiply (round-10
# overflow sweep): a $100M customer (x=1e10 cents) at the 1e10-customer
# posture puts the LONG product at 1e20 — silent wrap in Spark, ERROR
# in DuckDB; the decimal product is exact in both and rounds to DOUBLE
# once, exactly like the old form wherever it didn't wrap. (19,0)
# because DuckDB binds decimal multiplies at p1+p2 <= 38.
_THEIL_TERM = (
    "floor((CAST(CAST(x AS DECIMAL(19,0)) * n AS DOUBLE)"
    " / CAST(s AS DOUBLE))"
    " * ln(CAST(CAST(x AS DECIMAL(19,0)) * n AS DOUBLE)"
    " / CAST(s AS DOUBLE))"
    f" * {float(THEIL_SCALE)!r} + 0.5)"
)


@register(
    "agg_theil_index",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey,
               sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS x
        FROM orders GROUP BY 1),
    st AS (SELECT count(*) AS n, sum(x) AS s FROM rev),
    terms AS (
        SELECT {_THEIL_TERM} AS term
        FROM rev CROSS JOIN st),
    agg AS (SELECT sum(term) AS tsum, count(*) AS cnt FROM terms)
    SELECT CAST(st.n AS BIGINT) AS n_customers,
           CAST(st.s AS BIGINT) AS total_cents,
           {sql_stable_round4(
               f'CAST(tsum AS DOUBLE) / (CAST(st.n AS DOUBLE)'
               f' * {float(THEIL_SCALE)!r})')} AS theil_t
    FROM agg CROSS JOIN st
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of per-customer revenue:
    T = (1/n) * sum_i (x_i/mu) * ln(x_i/mu) — 0 for perfect equality,
    ln(n) for total concentration; the decomposable entropy-based
    companion of agg_gini_revenue (Theil splits additively into
    between-group + within-group, Gini does not).

    Determinism: x_i/mu == x_i*n/S is ONE correctly-rounded division of
    exact integers; each x*ln(x) term is quantized to a
    {THEIL_SCALE}-scaled integer WITH the midpoint offset before the
    order-sensitive sum (the quantize-then-sum discipline, ADVICE r3
    guard band); one double division at the end. Scale shape: one
    grouped sum per customer, one scalar total, one map-side term per
    customer row — a two-aggregate pipeline, no joins on the fact table.
    """
    o = load(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
        ).alias("x")
    )
    st = rev.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    terms = rev.crossJoin(F.broadcast(st)).select(
        F.expr(_THEIL_TERM).alias("term"), "n", "s"
    )
    # the quantized terms sum to ~n * T * 1e9 — a LONG accumulator
    # wraps at n >= ~1e9/T customers (the DuckDB twin sums exactly);
    # decimal costs one cast per row on an already map-side pipeline.
    agg = terms.groupBy("n", "s").agg(
        F.sum(F.col("term").cast("decimal(38,0)")).alias("tsum")
    )
    return agg.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("s").cast("long").alias("total_cents"),
        stable_round4(
            F.col("tsum").cast("double")
            / (F.col("n").cast("double") * F.lit(float(THEIL_SCALE)))
        ).alias("theil_t"),
    )


# --------------------------------------------------------------------------
# agg_hhi_concentration
# --------------------------------------------------------------------------

# HHI on the industry 0..10000 scale: 10000 * sum(rev_s^2) / (sum rev_s)^2
_HHI = "(10000.0 * num / (den * den))"

_HHI_SQL = """
    srev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
                    AS HUGEINT) AS rev
        FROM lineitem GROUP BY 1),
    nat AS (
        SELECT n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(rev * rev) AS DOUBLE) AS num,
               CAST(sum(rev) AS DOUBLE) AS den
        FROM srev
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation n ON n_nationkey = s_nationkey
        GROUP BY 1)
"""


@register(
    "agg_hhi_concentration",
    oracle=f"""
    WITH {_HHI_SQL}
    SELECT nation, n_suppliers,
           {sql_stable_round4(_HHI)} AS hhi
    FROM nat ORDER BY nation
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-revenue concentration per nation on
    the regulator's 0..10000 scale (Herfindahl 1950; the DOJ merger-
    guideline statistic): HHI = 10000 * sum_s share_s^2. A market where
    one supplier takes all revenue scores 10000; perfectly even
    competition among m suppliers scores 10000/m — the market-structure
    companion of agg_gini_revenue's inequality curve.

    Determinism: supplier revenue is the exact discounted-cents integer
    sum_s(ep_cents * (100 - d2)) (the TPC-H money discipline); HHI =
    10000 * sum(rev^2) / (sum rev)^2 keeps numerator and denominator as
    exact DECIMAL(38)/HUGEINT sums — shares are never materialized, so
    there is no per-supplier double division to order. One interpolated
    division per nation, stable_round4.

    Scale shape: the fact table collapses to supplier grain in ONE
    map-side-combined aggregate keyed by l_suppkey (no join below the
    agg); the supplier->nation enrichment joins DIMENSION-sized
    relations (broadcast), and the nation rollup is 25 rows. At 100 TB:
    one fact scan, one supplier-cardinality shuffle.
    """
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        scaled_long(F.col("l_extendedprice"), 100)
        * (100 - scaled_long(F.col("l_discount"), 100))
    )
    srev = li.groupBy("l_suppkey").agg(
        F.sum(rev.cast("decimal(38,0)")).alias("rev")
    )
    nat = (
        srev.join(F.broadcast(s), srev.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.sum(F.col("rev") * F.col("rev")).cast("double").alias("num"),
            F.sum("rev").cast("double").alias("den"),
        )
    )
    return nat.selectExpr(
        "nation",
        "n_suppliers",
        f"CAST({sql_stable_round4(_HHI)} AS DOUBLE) AS hhi",
    ).orderBy("nation")


# --------------------------------------------------------------------------
# agg_trimmed_mean — 10% trimmed and winsorized means per priority
# --------------------------------------------------------------------------

TRIM_DEN = 10  # trim floor(n/10) rows from each tail

# exact rational means in dollars (cents are integers end to end):
_TM_MEAN = "(tsum / (100.0 * (n - 2 * k)))"
_WS_MEAN = "((tsum + k * (lo + hi)) / (100.0 * n))"


@register(
    "agg_trimmed_mean",
    oracle=f"""
    WITH vl AS (
        SELECT o_orderpriority AS segment,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2),
    cum AS (
        SELECT segment, cents, c,
               sum(c) OVER (PARTITION BY segment ORDER BY cents) AS cm,
               sum(c) OVER (PARTITION BY segment) AS n
        FROM vl),
    kd AS (
        SELECT segment, cents, c, cm, n, n // {TRIM_DEN} AS k
        FROM cum),
    s AS (
        SELECT segment,
               CAST(max(n) AS BIGINT) AS n,
               CAST(max(k) AS BIGINT) AS k,
               CAST(sum(cents * greatest(0, least(cm, n - k)
                        - greatest(cm - c, k))) AS HUGEINT) AS tsum,
               CAST(min(CASE WHEN cm >= k + 1 THEN cents END)
                    AS BIGINT) AS lo,
               CAST(min(CASE WHEN cm >= n - k THEN cents END)
                    AS BIGINT) AS hi
        FROM kd GROUP BY 1)
    SELECT segment, n AS n_orders, k AS trim_k,
           {sql_stable_round4(_TM_MEAN)} AS trimmed_mean,
           {sql_stable_round4(_WS_MEAN)} AS winsorized_mean
    FROM s ORDER BY segment
    """,
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed and winsorized means of order value per priority
    (Tukey's robust-location pair): the trimmed mean drops the
    floor(n/10) cheapest and most expensive orders, the winsorized mean
    clamps them to the cut points — the outlier-robust counterparts of
    the plain mean, completing the robust-stats kit with
    agg_median_exact and dq_outliers_mad.

    NO per-row ranking: the group collapses to its cents VALUE-LEVEL
    table; running counts locate the two cut ranks, each level's
    surviving multiplicity is the exact integer overlap
    min(cum, n-k) - max(cum-c, k), and the cut values come from two
    conditional mins over the same frame. Money stays integer cents
    into an exact HUGEINT/DECIMAL sum; one division per mean at the
    end, stable_round4.

    Scale shape: one shuffle to the (segment, cents) level table, one
    window pass, one grouped sum — the agg_median_exact shape, O(levels)
    not O(rows) past the first aggregate.
    """
    o = load(spark, sf_dir, "orders")
    vl = o.groupBy(
        F.col("o_orderpriority").alias("segment"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    ).agg(F.count("*").cast("long").alias("c"))
    cum = vl.select(
        "segment",
        "cents",
        "c",
        F.sum("c")
        .over(W.partitionBy("segment").orderBy("cents"))
        .alias("cm"),
        F.sum("c").over(W.partitionBy("segment")).alias("n"),
    )
    kd = cum.withColumn("k", F.expr(f"n div {TRIM_DEN}"))
    s = kd.groupBy("segment").agg(
        F.max("n").cast("long").alias("n"),
        F.max("k").cast("long").alias("k"),
        F.sum(
            (
                F.col("cents")
                * F.greatest(
                    F.lit(0).cast("long"),
                    F.least(F.col("cm"), F.col("n") - F.col("k"))
                    - F.greatest(F.col("cm") - F.col("c"), F.col("k")),
                )
            ).cast("decimal(38,0)")
        ).alias("tsum"),
        F.min(
            F.when(F.col("cm") >= F.col("k") + 1, F.col("cents"))
        )
        .cast("long")
        .alias("lo"),
        F.min(
            F.when(F.col("cm") >= F.col("n") - F.col("k"), F.col("cents"))
        )
        .cast("long")
        .alias("hi"),
    )
    return s.selectExpr(
        "segment",
        "n AS n_orders",
        "k AS trim_k",
        f"CAST({sql_stable_round4(_TM_MEAN)} AS DOUBLE) AS trimmed_mean",
        f"CAST({sql_stable_round4(_WS_MEAN)} AS DOUBLE) AS winsorized_mean",
    ).orderBy("segment")


# --------------------------------------------------------------------------
# agg_lorenz_deciles — Lorenz curve of customer revenue concentration
# --------------------------------------------------------------------------


@register(
    "agg_lorenz_deciles",
    oracle="""
    WITH cr AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1),
    rk AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS rn,
               count(*) OVER () AS n,
               sum(CAST(cents AS HUGEINT)) OVER () AS tot
        FROM cr),
    dec AS (
        SELECT ((rn - 1) * 10) // n AS decile, cents, n, tot FROM rk),
    s AS (
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT)
                   AS revenue_cents,
               CAST(max(tot) AS DOUBLE) AS tot
        FROM dec GROUP BY 1),
    c AS (
        SELECT decile, n_customers, revenue_cents, tot,
               CAST(sum(CAST(revenue_cents AS HUGEINT))
                    OVER (ORDER BY decile) AS DOUBLE) AS cum
        FROM s)
    SELECT CAST(decile AS BIGINT) AS decile, n_customers, revenue_cents,
           CAST(floor((cum / tot) * 10000.0 + 0.5) AS BIGINT) / 10000.0
               AS cum_revenue_share
    FROM c ORDER BY decile
    """,
)
def agg_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer-revenue concentration in ten points:
    customers ranked by lifetime revenue, split into deciles, each row
    reporting the decile's revenue and the CUMULATIVE share — the curve
    whose area complement agg_gini_revenue summarizes in one number, kept
    as a relation so a dashboard can draw it ("the top decile carries
    X% of revenue").

    Determinism: money is exact cents throughout; the decile id is the
    integer ((rank-1)*10) div n over a fully tie-broken rank (cents,
    custkey), so bucket boundaries are engine-exact (never ntile's
    engine-specific remainder spread); cumulative shares divide exact
    integer sums once, then round half-up at 1e-4.

    Scale shape (round-8 departition, VERDICT r7 "what's wrong" #3): the
    global (cents, custkey) rank over |customers| is reconstructed as
    off_cnt(cents) + row_number PARTITIONED by the cents tie group —
    off_cnt from prefix_offsets' bucketed prefix scan over the distinct
    cents values (operators/prefix.py), so no single-task sort of the
    customer dimension. Which customer of a tie group lands on which side
    of a decile boundary cannot change the output (their cents are
    equal), but the rank is still fully tie-broken for determinism. The
    <=10-row cumulative is a broadcast theta join, not a window; n/total
    come from a broadcast 1-row aggregate instead of whole-frame windows.
    The fact table is scanned once (checkpointed customer aggregate).
    """
    from .prefix import prefix_offsets

    o = load(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
        )
        .cast("long")
        .alias("cents")
    ).transform(pin)
    vals = cr.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    offs = prefix_offsets(vals, "cents", ["cnt"], ascending=True)
    nt = cr.agg(
        F.count("*").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("tot"),
    )
    rk = (
        cr.join(offs.select("cents", "off_cnt"), "cents")
        .withColumn(
            # LONG-safe within-tie numbering (round-10 partitioned-window
            # sweep): count-over-frame, never the int row_number counter
            "rn_g",
            F.count(F.lit(1)).over(
                W.partitionBy("cents")
                .orderBy("o_custkey")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .join(F.broadcast(nt))
        .selectExpr("cents", "off_cnt + rn_g AS rn", "n", "tot")
    )
    dec = rk.select(
        F.expr("((rn - 1) * 10) div n").alias("decile"),
        "cents",
        "tot",
    )
    s = dec.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.col("cents").cast("decimal(38,0)"))
        .cast("long")
        .alias("revenue_cents"),
        F.max("tot").cast("double").alias("tot"),
    ).transform(pin)
    # cumulative over <=10 decile rows via broadcast theta join (the
    # ml_qini_uplift shape), not an unpartitioned window
    prev = s.select(
        F.col("decile").alias("p_dec"),
        F.col("revenue_cents").alias("p_rev"),
    )
    c = (
        s.join(F.broadcast(prev), F.col("p_dec") <= F.col("decile"))
        .groupBy("decile", "n_customers", "revenue_cents", "tot")
        .agg(
            F.sum(F.col("p_rev").cast("decimal(38,0)"))
            .cast("double")
            .alias("cum")
        )
    )
    return c.selectExpr(
        "CAST(decile AS BIGINT) AS decile",
        "n_customers",
        "revenue_cents",
        "CAST(CAST(floor((cum / tot) * 10000.0 + 0.5) AS BIGINT)"
        " / 10000.0 AS DOUBLE) AS cum_revenue_share",
    ).orderBy("decile")
