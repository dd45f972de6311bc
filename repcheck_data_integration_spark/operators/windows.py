"""Window operators (SURVEY.md §2.5). Citations refer to /root/reference.

Every window carries a full deterministic ORDER BY (score, then key
tie-breaks) — without it top-k/dedup results vary run-to-run and can never
hash-match an oracle. At scale a window = one shuffle on the partition key;
partition keys here are the natural entity keys so cardinality is high and
skew low.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..functions.exact import scaled_long
from ..functions.top1 import ASC, DESC, Top1
from ..tables import load


@register(
    "win_top1_score",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn = 1
    """,
)
def win_top1_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-candidate-by-score selection (vote_matching.py:160-168
    process.extractOne) as a top-1 window."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "win_current_role",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderstatus, role_score FROM (
        SELECT o_custkey, o_orderkey, o_orderstatus,
               CASE o_orderstatus WHEN 'O' THEN 3 WHEN 'P' THEN 2 ELSE 1 END
                   AS role_score,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY CASE o_orderstatus WHEN 'O' THEN 3 WHEN 'P' THEN 2
                            ELSE 1 END DESC,
                            o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1
    """,
)
def win_current_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """*The* nontrivial reference window: pick the current role per person by
    priority class then recency (people_utils.py:9-84 — interval containment
    wins, then future-end, then best-guess). Re-expressed as score-rank:
    priority CASE → row_number over (score DESC, date DESC, key DESC)."""
    o = load(spark, sf_dir, "orders")
    score = (
        F.when(F.col("o_orderstatus") == "O", 3)
        .when(F.col("o_orderstatus") == "P", 2)
        .otherwise(1)
    )
    w = W.partitionBy("o_custkey").orderBy(
        F.col("role_score").desc(), F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("role_score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderstatus", "role_score")
    )


@register(
    "win_latest_version",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity FROM (
        SELECT l_orderkey, l_linenumber, l_quantity,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber DESC, l_partkey DESC,
                                           l_suppkey DESC, l_quantity DESC) AS rn
        FROM lineitem) WHERE rn = 1
    """,
)
def win_latest_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins dedup within a batch (database.py:52-73 upsert
    semantics) — the keyed-dedup window reused by snk_upsert. l_linenumber
    is not unique per order in the fixture, so the full tie-break chain
    makes the pick deterministic."""
    li = load(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy(
        F.col("l_linenumber").desc(),
        F.col("l_partkey").desc(),
        F.col("l_suppkey").desc(),
        F.col("l_quantity").desc(),
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                / 100.0 AS DOUBLE) AS running_value
    FROM events
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native extension (SURVEY.md §2.5): frame-spec running total.
    Summed on the scaled integer so the cumulative value is exact."""
    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    scaled = scaled_long(F.col("value"), 100)
    return e.select(
        "event_id",
        "user_id",
        (F.sum(scaled).over(w) / 100.0).cast("double").alias("running_value"),
    )


@register(
    "win_rank_dense",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal,
           rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
               AS bal_rank,
           dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
               AS bal_dense_rank
    FROM customer
    """,
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native extension: rank family (tie-stable by definition).
    The oracle keeps the native rank()/dense_rank() windows; the Spark
    side derives both from per-nation distinct-value offsets —
    rank = off_cnt + 1 (ties share), dense_rank = off_distinct + 1 —
    because the native forms partition by c_nationkey (25 partitions,
    each customers/25: one task per nation AND an IntegerType counter
    that wraps past 2^31 customers per nation; round-10
    partitioned-window sweep). The gate cross-checks the offset
    formulas against DuckDB's native rank functions."""
    from .prefix import prefix_offsets

    c = load(spark, sf_dir, "customer")
    vg = (
        c.groupBy("c_nationkey", "c_acctbal")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("one", F.lit(1))
    )
    offs = prefix_offsets(
        vg, ["c_nationkey"], "c_acctbal", ["c", "one"], ascending=False
    ).select("c_nationkey", "c_acctbal", "off_c", "off_one")
    return c.join(offs, ["c_nationkey", "c_acctbal"]).select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        (F.col("off_c") + 1).cast("int").alias("bal_rank"),
        (F.col("off_one") + 1).cast("int").alias("bal_dense_rank"),
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_value,
           lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_value
    FROM events
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native extension: offset windows (sessionization primitive)."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@register(
    "win_asof_last",
    oracle="""
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_click_value
    FROM events
    """,
)
def win_asof_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native extension: as-of selection — for each event, the value
    of the user's most recent prior 'click' (pyspark guide's as-of pattern
    expressed as last_value-ignore-nulls; at scale this is the window form
    of an as-of join, shuffling once on the entity key)."""
    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.last(
            F.when(F.col("event_type") == "click", F.col("value")), ignorenulls=True
        )
        .over(w)
        .alias("last_click_value"),
    )


@register(
    "win_grouped_zscore",
    oracle="""
    WITH m AS (
        SELECT c_nationkey,
               count(*) AS n,
               sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS s1,
               sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)
                   * CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS s2
        FROM customer GROUP BY c_nationkey)
    SELECT c_custkey, c.c_nationkey,
           floor((CAST(round(c_acctbal * 100, 0) AS BIGINT) - s1 * 1.0 / n)
                 / sqrt(greatest(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n),
                                 1e-12))
                 * 10000.0 + 0.5) / 10000.0 AS zscore
    FROM customer c JOIN m ON c.c_nationkey = m.c_nationkey
    """,
)
def win_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation z-score of account balance as a native two-phase plan:
    (1) groupBy exact scaled-integer sums (count / Σv / Σv² — partial
    map-side combine, the shuffle carries 25 tiny rows), (2) broadcast the
    moment table back onto customer. The big table is never shuffled and
    nothing leaves the JVM — unlike the former applyInPandas version, which
    materialized each whole nation group in one pandas frame (billions of
    rows per group at 100×, executor OOM). Same oracle; the pandas kernel
    survives as the rows-only §2.8 demo `win_grouped_zscore_pandas_demo`."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        scaled_long(F.col("c_acctbal"), 100).alias("bal_c"),
    )
    m = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bal_c").alias("s1"),
        F.sum(F.col("bal_c") * F.col("bal_c")).alias("s2"),
    )
    mean = F.col("s1") * 1.0 / F.col("n")
    var = F.greatest(
        F.col("s2") * 1.0 / F.col("n") - mean * mean, F.lit(1e-12)
    )
    return (
        c.join(F.broadcast(m), "c_nationkey")
        .select(
            "c_custkey",
            "c_nationkey",
            (F.floor((F.col("bal_c") - mean) / F.sqrt(var) * 10000.0 + 0.5)
             / 10000.0).alias("zscore"),
        )
    )


@register("win_grouped_zscore_pandas_demo")
def win_grouped_zscore_pandas_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas demo (applyInPandas — the per-group DataFrame-in/
    DataFrame-out surface, SURVEY §2.8): the exact-scaled-int z-score kernel.
    Rows-only by design: correct and hash-identical to `win_grouped_zscore`
    (asserted in tests), but applyInPandas materializes each whole group in
    one pandas frame — a demo of the API, not the plan to run at 100 TB."""
    import math

    import pandas as pd

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        scaled = [int(x) for x in (pdf["c_acctbal"] * 100).round(0)]
        n = len(scaled)
        s1 = sum(scaled)
        s2 = sum(v * v for v in scaled)
        mean = s1 * 1.0 / n
        var = max(s2 * 1.0 / n - mean * mean, 1e-12)
        sd = math.sqrt(var)
        z = [math.floor((v - mean) / sd * 10000.0 + 0.5) / 10000.0 for v in scaled]
        return pd.DataFrame(
            {"c_custkey": pdf["c_custkey"], "c_nationkey": pdf["c_nationkey"],
             "zscore": z}
        )

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    return c.groupBy("c_nationkey").applyInPandas(
        zscore, schema="c_custkey long, c_nationkey int, zscore double"
    )


@register(
    "win_distribution",
    oracle="""
    SELECT c_nationkey, c_custkey,
           CAST(ntile(4) OVER w AS INT) AS bal_quartile,
           floor(percent_rank() OVER w * 10000.0 + 0.5) / 10000.0
               AS bal_pct_rank,
           floor(cume_dist() OVER w * 10000.0 + 0.5) / 10000.0
               AS bal_cume_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native extension: distribution window family (ntile /
    percent_rank / cume_dist). The ordering carries a full tie-break
    (acctbal DESC, custkey) because ntile assigns by ROW position — without
    it, equal balances would land in different quartiles per engine. The
    rational ranks are stable-rounded for the cross-engine hash."""
    from .dedup import stable_round4
    from .prefix import grouped_bucket_rank

    c = load(spark, sf_dir, "customer")
    base = c.select(
        "c_nationkey", "c_custkey", (-F.col("c_acctbal")).alias("negbal")
    )
    # round-10 partitioned-window sweep: the native forms partition by
    # c_nationkey (one task per nation over customers/25 rows, int
    # counters). With the full tie-break the order is total, so every
    # distribution function is a closed form of (rn, m): the SQL NTILE
    # big-tiles-first rule, percent_rank = (rn-1)/(m-1) (0 when m = 1),
    # cume_dist = rn/m (no peers under a total order). rn comes from the
    # bucketed LONG rank; the gate cross-checks the formulas against
    # DuckDB's native ntile/percent_rank/cume_dist.
    rk = grouped_bucket_rank(base, ["c_nationkey"], "negbal", ["c_custkey"])
    # integer DIV throughout (round-9 trap: / on longs yields DOUBLE)
    tile = F.expr(
        "CASE WHEN _rk <= (_m % 4) * (_m DIV 4 + 1)"
        " THEN (_rk - 1) DIV (_m DIV 4 + 1)"
        " ELSE (_m % 4) + (_rk - (_m % 4) * (_m DIV 4 + 1) - 1)"
        "       DIV greatest(_m DIV 4, 1) END"
    )
    return rk.select(
        "c_nationkey",
        "c_custkey",
        (tile + 1).cast("int").alias("bal_quartile"),
        stable_round4(
            F.when(F.col("_m") > 1, (F.col("_rk") - 1) / (F.col("_m") - 1))
            .otherwise(F.lit(0.0))
        ).alias("bal_pct_rank"),
        stable_round4(F.col("_rk") / F.col("_m")).alias("bal_cume_dist"),
    )


@register(
    "win_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           floor(avg(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) * 10000.0 + 0.5)
               / 10000.0 AS mov_avg_10,
           CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_in_frame
    FROM events
    """,
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec window: trailing 10-row moving average per user (the
    rowsBetween form running_sum doesn't exercise). The frame holds ≤10
    doubles so the avg is a short fixed-order sum — identical across
    engines at round-4 granularity; full (ts, event_id) tie-break pins the
    frame contents themselves."""
    from .dedup import stable_round4

    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        stable_round4(F.avg("value").over(w)).alias("mov_avg_10"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_in_frame"),
    )


EWMA_ALPHA_NUM, EWMA_ALPHA_DEN = 1, 4  # alpha = 0.25, decay = 0.75 (exact)
EWMA_LAGS = 8  # trailing terms (current row + 7 lags)


def _ewma_weight(i: int) -> float:
    """(1 - alpha)^i with alpha = {EWMA_ALPHA_NUM}/{EWMA_ALPHA_DEN}: 0.75 is
    exactly representable in binary and its powers stay exact for i < 70,
    so both engines compute bit-identical weights."""
    return (1.0 - EWMA_ALPHA_NUM / EWMA_ALPHA_DEN) ** i


def _sql_ewma_terms() -> tuple[str, str]:
    num = " + ".join(
        f"coalesce({_ewma_weight(i)!r} * lag(value, {i}) OVER w, 0.0)"
        for i in range(EWMA_LAGS)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {i}) OVER w IS NULL THEN 0.0"
        f" ELSE {_ewma_weight(i)!r} END"
        for i in range(EWMA_LAGS)
    )
    return num, den


def _ewma_oracle() -> str:
    num, den = _sql_ewma_terms()
    from .dedup import sql_stable_round4

    return f"""
    SELECT event_id, user_id,
           {sql_stable_round4(f'({num}) / ({den})')} AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@register("win_ewma_trailing", oracle=_ewma_oracle())
def win_ewma_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exponentially-weighted moving average per user — the
    standard drift/monitoring smoother, truncated to {EWMA_LAGS} terms so
    it is expressible as a finite lag-chain instead of a sequential
    recursion (the infinite-history EWMA needs stateful iteration; the
    truncated tail weight 0.75^8 ≈ 0.1 is the documented approximation).
    Built as EXPLICIT lag() columns, not collect_list-over-frame:
    collect_list's frame order is not a documented guarantee, lag() with a
    full (ts, event_id) ORDER BY is — same determinism rule as every other
    window here. Weights are exact binary rationals and both engines
    evaluate the same left-associated sum, so the quotient agrees
    bit-for-bit before the final stable_round4.

    Scale: one window = one shuffle on user_id (high cardinality, low
    skew); the lag chain is a single pass over each partition — no
    self-joins, no per-row arrays."""
    from .dedup import stable_round4

    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for i in range(EWMA_LAGS):
        term = F.coalesce(
            F.lit(_ewma_weight(i)) * F.lag("value", i).over(w), F.lit(0.0)
        )
        dterm = F.when(
            F.lag("value", i).over(w).isNull(), F.lit(0.0)
        ).otherwise(F.lit(_ewma_weight(i)))
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    return e.select(
        "event_id",
        "user_id",
        stable_round4(num / den).alias("ewma"),
    )


@register(
    "win_drawdown",
    oracle="""
    WITH seq AS (
        SELECT o_custkey,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
               max(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS peak_c,
               o_orderdate
        FROM orders),
    dd AS (
        SELECT o_custkey, o_orderdate, peak_c,
               peak_c - price_c AS dd_c,
               max(peak_c - price_c)
                   OVER (PARTITION BY o_custkey) AS mdd_c
        FROM seq)
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           max(peak_c) AS peak_cents,
           max(dd_c) AS max_drawdown_cents,
           min(CASE WHEN dd_c = mdd_c THEN o_orderdate END) AS trough_date
    FROM dd GROUP BY o_custkey
    """,
)
def win_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer peak-decline (drawdown) of the order-value sequence:
    running max of order price over date order, drawdown = how far the
    current order sits below the historical peak, reported as the worst
    decline per customer plus the FIRST date it was reached — the
    spend-contraction detector of a churn pipeline (the financial
    max-drawdown shape applied to order values).

    Determinism: money in exact cents (BIGINT) end to end — no float
    ever; the running window is fully ordered (o_orderdate, o_orderkey
    tie-break) and the trough date is the MIN over the argmax set, so
    ties can't flip the hash.

    Scale shape: ONE shuffle on o_custkey serves both window passes and
    the final aggregate (same partition key, Catalyst reuses the
    exchange); window state is O(1) per row (running max). At 100 TB
    this is the canonical sessionized-scan shape.
    """
    o = load(spark, sf_dir, "orders")
    price_c = scaled_long(F.col("o_totalprice"), 100)
    w_run = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    seq = o.select(
        "o_custkey",
        price_c.alias("price_c"),
        F.max(price_c).over(w_run).alias("peak_c"),
        "o_orderdate",
    )
    dd = seq.select(
        "o_custkey",
        "o_orderdate",
        "peak_c",
        (F.col("peak_c") - F.col("price_c")).alias("dd_c"),
        F.max(F.col("peak_c") - F.col("price_c"))
        .over(W.partitionBy("o_custkey"))
        .alias("mdd_c"),
    )
    return dd.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.max("peak_c").alias("peak_cents"),
        F.max("dd_c").alias("max_drawdown_cents"),
        F.min(
            F.when(F.col("dd_c") == F.col("mdd_c"), F.col("o_orderdate"))
        ).alias("trough_date"),
    )


@register(
    "win_max_concurrency",
    oracle="""
    WITH iv AS (
        SELECT l_suppkey,
               CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT) AS d0,
               CAST(floor(epoch(l_shipdate) / 86400) AS BIGINT)
                   + CAST(l_quantity AS BIGINT) % 14 + 1 AS d1
        FROM lineitem),
    deltas AS (
        SELECT l_suppkey, d0 AS day_id, 1 AS delta FROM iv
        UNION ALL
        SELECT l_suppkey, d1 + 1 AS day_id, -1 AS delta FROM iv),
    byday AS (
        SELECT l_suppkey, day_id, SUM(delta) AS net
        FROM deltas GROUP BY 1, 2),
    run AS (
        SELECT l_suppkey, day_id,
               SUM(net) OVER (PARTITION BY l_suppkey ORDER BY day_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS conc
        FROM byday),
    mx AS (
        SELECT l_suppkey, MAX(conc) AS max_conc FROM run GROUP BY 1)
    SELECT r.l_suppkey,
           CAST(m.max_conc AS BIGINT) AS max_in_transit,
           CAST(MIN(r.day_id) AS BIGINT) AS first_peak_day
    FROM run r JOIN mx m
      ON r.l_suppkey = m.l_suppkey AND r.conc = m.max_conc
    GROUP BY r.l_suppkey, m.max_conc
    """,
)
def win_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval-overlap maximum: per supplier, the peak number
    of simultaneously in-transit shipments and the FIRST day that peak is
    reached. In-transit interval = [shipdate, shipdate + qty%14 + 1 days]
    (deterministic transit time derived from quantity — the fixture has no
    receiptdate). The classic O(n log n) sweep, relational form: each
    interval emits +1/-1 boundary deltas, deltas collapse per (key, day)
    BEFORE the running sum so same-day starts and ends net out (a shipment
    arriving and another departing on the same day never double-counts),
    and the prefix sum over day order IS the concurrency curve.

    The argmax is a single top-1 aggregate by (conc DESC, day_id ASC) —
    no self-join back onto the curve; the oracle states the same argmax
    as the explicit join-on-max form.

    Scale: deltas are 2x the fact rows but collapse at the first
    (supplier, day) partial agg; the window and the final agg share the
    supplier key so the curve never reshuffles. No per-day re-scan — cost
    is independent of the calendar span.
    """
    li = load(spark, sf_dir, "lineitem")
    d0 = F.floor(F.unix_timestamp("l_shipdate") / 86400).cast("long")
    d1 = d0 + F.col("l_quantity").cast("long") % 14 + 1
    starts = li.select(
        "l_suppkey", d0.alias("day_id"), F.lit(1).alias("delta")
    )
    ends = li.select(
        "l_suppkey", (d1 + 1).alias("day_id"), F.lit(-1).alias("delta")
    )
    byday = (
        starts.unionByName(ends)
        .groupBy("l_suppkey", "day_id")
        .agg(F.sum("delta").alias("net"))
    )
    run = byday.select(
        "l_suppkey",
        "day_id",
        F.sum("net")
        .over(
            W.partitionBy("l_suppkey")
            .orderBy("day_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("conc"),
    )
    peak = Top1(run, [("conc", DESC), ("day_id", ASC)])
    return run.groupBy("l_suppkey").agg(
        peak["conc"].alias("max_in_transit"),
        peak["day_id"].alias("first_peak_day"),
    )
