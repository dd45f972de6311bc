"""Data-quality / profiling operators.

The reference's quality surface is ad-hoc fail-fast checks and a
duplicate-ID scan (/root/reference/scripts/state_house_districts.py:132-135,
bills_federal.py:104-125). An engine used for 100 TB ingest needs those as
first-class, set-oriented operators: one pass computes every column's
profile; constraint violations come back as a relation (empty = pass), not
an exception buried in a driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..functions.exact import scaled_long
from ..tables import load
from .dedup import sql_stable_round4, stable_round4


@register(
    "dq_profile",
    oracle="""
    SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
           count(o_orderkey) AS n_nonnull,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_value,
           CAST(max(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    """,
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile (rows / non-null / distinct / min / max) for a set of
    columns in ONE scan — the grouping-free multi-aggregate Spark compiles
    to a single pass with partial aggregation."""
    o = load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_custkey"]
    profiled = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            agg
            for c in cols
            for agg in (
                F.count(F.col(c)).alias(f"{c}__nonnull"),
                F.countDistinct(F.col(c)).alias(f"{c}__distinct"),
                F.min(F.col(c)).cast("string").alias(f"{c}__min"),
                F.max(F.col(c)).cast("string").alias(f"{c}__max"),
            )
        ],
    )
    # unpivot the single wide row into one profile row per column — stays on
    # the executors (stack = zero-shuffle Expand), no driver collect
    stack_args = ", ".join(
        f"'{c}', `{c}__nonnull`, `{c}__distinct`, `{c}__min`, `{c}__max`"
        for c in cols
    )
    return profiled.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS"
        " (column_name, n_nonnull, n_distinct, min_value, max_value)",
        "n_rows",
    ).select(
        "column_name", "n_rows", "n_nonnull", "n_distinct", "min_value", "max_value"
    )


@register(
    "dq_constraint_check",
    oracle="""
    SELECT 'pk_unique' AS constraint_name, count(*) AS n_violations
    FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
    UNION ALL
    SELECT 'status_domain', count(*)
    FROM orders WHERE o_orderstatus NOT IN ('O', 'F', 'P')
    UNION ALL
    SELECT 'price_positive', count(*)
    FROM orders WHERE o_totalprice <= 0
    UNION ALL
    SELECT 'fk_customer', count(*)
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    """,
)
def dq_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite returning a violations relation (all
    zeros on healthy data): PK uniqueness (the reference's duplicate-ID
    Counter), a value domain, a range check, and FK integrity (the
    reference's hard-fail missing-area lookup) — each one aggregate/
    anti-join, no driver loops."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    pk = (
        o.groupBy("o_orderkey")
        .count()
        .filter(F.col("count") > 1)
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("pk_unique").alias("constraint_name"), "n_violations")
    )
    domain = o.filter(~F.col("o_orderstatus").isin("O", "F", "P")).agg(
        F.count(F.lit(1)).alias("n_violations")
    ).select(F.lit("status_domain").alias("constraint_name"), "n_violations")
    rng = o.filter(F.col("o_totalprice") <= 0).agg(
        F.count(F.lit(1)).alias("n_violations")
    ).select(F.lit("price_positive").alias("constraint_name"), "n_violations")
    fk = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("fk_customer").alias("constraint_name"), "n_violations")
    )
    return pk.unionByName(domain).unionByName(rng).unionByName(fk)


BIN_W = 5000.0


@register(
    "dq_histogram",
    oracle=f"""
    SELECT CAST(floor(l_extendedprice / {BIN_W}) AS BIGINT) AS bin,
           CAST(CAST(floor(l_extendedprice / {BIN_W}) AS BIGINT) * {BIN_W}
                AS DOUBLE) AS bin_lo,
           count(*) AS n,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem GROUP BY 1, 2
    """,
)
def dq_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram in one hash aggregation — the profiling
    primitive for range partitioning decisions and skew detection. The bin
    id is a pure projection so the aggregate gets full map-side partial
    combine; min/max per bin are exact (no summation, no rounding)."""
    li = load(spark, sf_dir, "lineitem")
    b = F.floor(F.col("l_extendedprice") / BIN_W).cast("long")
    return li.groupBy(
        b.alias("bin"), (b * BIN_W).alias("bin_lo")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "dq_outliers_mad",
    oracle="""
    WITH med AS (
        SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
        FROM lineitem GROUP BY l_returnflag),
    mad AS (
        SELECT l.l_returnflag,
               quantile_cont(abs(l.l_extendedprice - m.med), 0.5) AS mad
        FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
        GROUP BY l.l_returnflag)
    SELECT l.l_returnflag,
           floor(m.med * 10000.0 + 0.5) / 10000.0 AS median_price,
           floor(d.mad * 10000.0 + 0.5) / 10000.0 AS mad_price,
           CAST(count(*) FILTER (
               WHERE abs(l.l_extendedprice - m.med) > 3.0 * d.mad) AS BIGINT)
               AS n_outliers
    FROM lineitem l
    JOIN med m ON l.l_returnflag = m.l_returnflag
    JOIN mad d ON l.l_returnflag = d.l_returnflag
    GROUP BY 1, 2, 3
    """,
)
def dq_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per group: median absolute deviation, then
    count of points beyond 3×MAD. Two exact-percentile aggregations plus a
    counting pass — all three shuffle on the same group key, so Spark
    reuses the partitioning. Exact interpolated percentiles match DuckDB's
    quantile_cont bit-for-bit (same linear interpolation on sorted
    doubles); the 3×MAD comparison therefore agrees too."""
    from .dedup import stable_round4

    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("med")
    )
    with_med = li.join(med, "l_returnflag")
    mad = with_med.groupBy("l_returnflag").agg(
        F.percentile(F.abs(F.col("l_extendedprice") - F.col("med")), F.lit(0.5))
        .alias("mad")
    )
    return (
        with_med.join(mad, "l_returnflag")
        .groupBy(
            "l_returnflag",
            stable_round4(F.col("med")).alias("median_price"),
            stable_round4(F.col("mad")).alias("mad_price"),
        )
        .agg(
            F.count_if(
                F.abs(F.col("l_extendedprice") - F.col("med"))
                > 3.0 * F.col("mad")
            )
            .cast("long")
            .alias("n_outliers")
        )
    )


@register(
    "sample_deterministic",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
               AS BIGINT) % 100 < 10
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample by hashing the key (md5 bucket), not rand():
    the same rows are selected on every engine, every run, at every
    parallelism — the only kind of sample that composes across a 100 TB
    pipeline (joins between sampled tables stay consistent). Spark's
    sample() and DuckDB's USING SAMPLE are both engine-local RNGs and can
    never agree."""
    o = load(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return o.filter(bucket < 10).select("o_orderkey", "o_custkey", "o_totalprice")


STRATA_PCT = {"R": 50, "A": 10, "N": 5}  # per-returnflag sampling rates


@register(
    "sample_stratified",
    oracle=f"""
    SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '_'
                               || CAST(l_linenumber AS VARCHAR)), 1, 8))
               AS BIGINT) % 100
          < CASE l_returnflag WHEN 'R' THEN {STRATA_PCT['R']}
                              WHEN 'A' THEN {STRATA_PCT['A']}
                              ELSE {STRATA_PCT['N']} END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED sampling: per-stratum rates (upsample the
    rare 'R' class, downsample the common ones — the class-balance pass a
    training pipeline runs) with the same md5-bucket mechanism as
    sample_deterministic, so the selection is engine- and
    parallelism-independent. Spark's sampleBy() is RNG-based and can never
    reproduce across engines."""
    li = load(spark, sf_dir, "lineitem")
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    rate = (
        F.when(F.col("l_returnflag") == "R", STRATA_PCT["R"])
        .when(F.col("l_returnflag") == "A", STRATA_PCT["A"])
        .otherwise(STRATA_PCT["N"])
    )
    return li.filter(bucket < rate).select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )


DECILES = [i / 10.0 for i in range(1, 10)]
_DECILES_SQL = "[" + ", ".join(str(q) for q in DECILES) + "]"


@register(
    "dq_distribution_shift",
    oracle=f"""
    WITH t AS (
        SELECT event_type, count(*) AS n_events,
               quantile_cont(value, {_DECILES_SQL}) AS d
        FROM events GROUP BY event_type),
    g AS (SELECT quantile_cont(value, {_DECILES_SQL}) AS d FROM events)
    SELECT t.event_type, t.n_events,
           floor(list_aggregate(
                     list_transform(generate_series(1, {len(DECILES)}),
                                    i -> abs(t.d[i] - g.d[i])), 'max')
                 * 10000.0 + 0.5) / 10000.0 AS max_decile_shift
    FROM t, g
    """,
)
def dq_distribution_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift audit: for every event_type, the maximum absolute
    decile displacement of its value distribution vs the global one — the
    quantile-vector form of a two-sample drift test (the screening a
    pipeline runs when a new source/day lands before letting it into the
    mix). Both engines interpolate percentiles identically (the
    agg_percentile parity anchor), so the score round4s cleanly.

    Scale shape: one groupBy computing a 9-slot exact quantile vector per
    type (the 100 TB variant swaps in approx_percentile's one-pass sketch
    — same relation shape), a scalar global vector broadcast to the tiny
    per-type aggregate, and a per-row array fold for the max shift."""
    e = load(spark, sf_dir, "events")
    qs = F.array(*[F.lit(q) for q in DECILES])
    t = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.percentile("value", qs).alias("d"),
    )
    g = e.agg(F.percentile("value", qs).alias("gd"))
    shift = F.array_max(
        F.zip_with(F.col("d"), F.col("gd"), lambda a, b: F.abs(a - b))
    )
    return (
        t.join(F.broadcast(g))
        .select(
            "event_type",
            "n_events",
            (F.floor(shift * 10000.0 + 0.5) / 10000.0).alias(
                "max_decile_shift"
            ),
        )
    )


@register(
    "dq_benford_digits",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice > 0),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT sum(n) AS total FROM c)
    SELECT c.digit, CAST(c.n AS BIGINT) AS n,
           floor(c.n * 1.0 / t.total * 10000.0 + 0.5) / 10000.0
               AS observed_share,
           floor(log10(1.0 + 1.0 / c.digit) * 10000.0 + 0.5) / 10000.0
               AS benford_share
    FROM c, t
    ORDER BY c.digit
    """,
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit on order totals — the classic
    fabricated-data / unit-mix smell test for a monetary column (an honest
    price population tracks log10(1+1/d); a synthesized-uniform one shows
    up flat, which the fixture data indeed does — the point is the audit
    runs, not that TPC-H passes it). First digit is taken from the CENTS
    integer (money rule: never stringify a float — '1.0E4'-style
    scientific rendering would hand back garbage digits and differs
    between engines). One 9-row aggregate + a broadcast scalar total;
    shares and the log10 references go through the shared floor-round."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        scaled_long(F.col("o_totalprice"), 100).cast("string"),
        1, 1,
    ).cast("long")
    c = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.agg(F.sum("n").alias("total"))
    return (
        c.join(F.broadcast(t))
        .select(
            "digit",
            F.col("n").cast("long").alias("n"),
            (F.floor(F.col("n") * 1.0 / F.col("total") * 10000.0 + 0.5)
             / 10000.0).alias("observed_share"),
            (F.floor(F.log10(1.0 + 1.0 / F.col("digit")) * 10000.0 + 0.5)
             / 10000.0).alias("benford_share"),
        )
        .orderBy("digit")
    )


K_ANON = 3  # groups smaller than this re-identify their members


@register(
    "dq_k_anonymity",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS group_size
        FROM customer GROUP BY c_nationkey, c_mktsegment),
    s AS (
        SELECT min(group_size) AS k_anonymity,
               sum(CASE WHEN group_size < {K_ANON}
                        THEN group_size ELSE 0 END) AS rows_at_risk,
               sum(group_size) AS n_rows
        FROM g)
    SELECT g.c_nationkey, g.c_mktsegment,
           CAST(g.group_size AS BIGINT) AS group_size,
           g.group_size < {K_ANON} AS at_risk,
           CAST(s.k_anonymity AS BIGINT) AS k_anonymity,
           floor(s.rows_at_risk * 1.0 / s.n_rows * 10000.0 + 0.5) / 10000.0
               AS pct_rows_at_risk
    FROM g CROSS JOIN s
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair (nation, market
    segment): every QI equivalence class with its size, a re-identification
    flag for classes smaller than k={K_ANON}, and the dataset-level
    k-anonymity (the smallest class) + fraction of rows at risk — the
    privacy gate a curation pipeline runs before releasing
    user-attributable training data (Sweeney's k-anonymity, the PII
    complement of text_pii_redact's content-level redaction).

    Scale shape: one hash agg on the QI columns (map-side partials), then
    a 1-row summary re-aggregation of the already-tiny class table,
    broadcast back onto it — the corpus is scanned exactly once and the
    only shuffle carries distinct QI classes (bounded by the QI domain,
    not the row count)."""
    from .dedup import stable_round4

    c = load(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    s = g.agg(
        F.min("group_size").alias("k_anonymity"),
        F.sum(
            F.when(F.col("group_size") < K_ANON, F.col("group_size")).otherwise(
                0
            )
        ).alias("rows_at_risk"),
        F.sum("group_size").alias("n_rows"),
    )
    return g.join(F.broadcast(s)).select(
        "c_nationkey",
        "c_mktsegment",
        F.col("group_size").cast("long").alias("group_size"),
        (F.col("group_size") < K_ANON).alias("at_risk"),
        F.col("k_anonymity").cast("long").alias("k_anonymity"),
        stable_round4(
            F.col("rows_at_risk") * 1.0 / F.col("n_rows")
        ).alias("pct_rows_at_risk"),
    )


L_DIV = 2          # classes with fewer distinct sensitive values re-identify
ACCT_BAND = 2000.0  # account-balance banding for the QI


@register(
    "dq_l_diversity",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey,
               CAST(floor(c_acctbal / {ACCT_BAND}) AS BIGINT) AS acct_band,
               count(*) AS group_size,
               count(DISTINCT c_mktsegment) AS n_sensitive
        FROM customer GROUP BY 1, 2),
    s AS (
        SELECT min(n_sensitive) AS l_diversity,
               sum(CASE WHEN n_sensitive < {L_DIV}
                        THEN group_size ELSE 0 END) AS rows_at_risk,
               sum(group_size) AS n_rows
        FROM g)
    SELECT g.c_nationkey, g.acct_band,
           CAST(g.group_size AS BIGINT) AS group_size,
           CAST(g.n_sensitive AS BIGINT) AS n_sensitive,
           g.n_sensitive < {L_DIV} AS at_risk,
           CAST(s.l_diversity AS BIGINT) AS l_diversity,
           floor(s.rows_at_risk * 1.0 / s.n_rows * 10000.0 + 0.5) / 10000.0
               AS pct_rows_at_risk
    FROM g CROSS JOIN s
    """,
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala 2007) — k-anonymity's sharper
    sibling: a QI class can be large yet still leak if every member shares
    the SAME sensitive value. QI here is (nation, account-balance band),
    sensitive is the market segment; classes with fewer than l={L_DIV}
    distinct segments are flagged, plus the dataset-level l (the minimum)
    and the fraction of rows at risk.

    Scale shape mirrors dq_k_anonymity: one hash agg on the QI (the
    count(DISTINCT) rides a two-level partial — Spark expands it to a
    (QI, segment) pre-aggregate map-side), a 1-row summary over the tiny
    class table, broadcast back. One corpus scan total."""
    from .dedup import stable_round4

    c = load(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / ACCT_BAND).cast("long").alias(
            "acct_band"
        ),
    ).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct("c_mktsegment").alias("n_sensitive"),
    )
    s = g.agg(
        F.min("n_sensitive").alias("l_diversity"),
        F.sum(
            F.when(
                F.col("n_sensitive") < L_DIV, F.col("group_size")
            ).otherwise(0)
        ).alias("rows_at_risk"),
        F.sum("group_size").alias("n_rows"),
    )
    return g.join(F.broadcast(s)).select(
        "c_nationkey",
        "acct_band",
        F.col("group_size").cast("long").alias("group_size"),
        F.col("n_sensitive").cast("long").alias("n_sensitive"),
        (F.col("n_sensitive") < L_DIV).alias("at_risk"),
        F.col("l_diversity").cast("long").alias("l_diversity"),
        stable_round4(F.col("rows_at_risk") * 1.0 / F.col("n_rows")).alias(
            "pct_rows_at_risk"
        ),
    )


# ---------------------------------------------------------------------------
# dq_fk_coverage — whole-schema referential-integrity audit
# ---------------------------------------------------------------------------

# (fk label, child table, child key col, parent table, parent key col) —
# every FK edge of the fixture star/snowflake schema, audited in one op.
FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
]

_FK_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT '{label}' AS fk,
           CAST(sum(c.cnt) AS BIGINT) AS child_rows,
           CAST(count(*) AS BIGINT) AS child_keys,
           CAST(sum(CASE WHEN p.{pk} IS NULL THEN c.cnt ELSE 0 END)
                AS BIGINT) AS orphan_rows,
           CAST(sum(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS orphan_keys
    FROM (SELECT {ck} AS k, count(*) AS cnt FROM {child}
          WHERE {ck} IS NOT NULL GROUP BY 1) c
    LEFT JOIN {parent} p ON p.{pk} = c.k
    """
    for label, child, ck, parent, pk in FK_EDGES
)


@register(
    "dq_fk_coverage",
    oracle=f"""
    WITH rows_per_fk AS ({_FK_SQL})
    SELECT fk, child_rows, child_keys, orphan_rows, orphan_keys
    FROM rows_per_fk
    ORDER BY fk
    """,
)
def dq_fk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema referential-integrity audit: one row per foreign-key
    edge of the star/snowflake schema with child-row, distinct-key and
    orphan counts — the set-oriented generalization of
    join_fk_missing_check (one FK, row-level output) to the report a
    nightly ingest gate actually publishes. The reference validates
    references imperatively per pipeline (fail-fast lookups,
    /root/reference/scripts/state_house_districts.py:132-135); here the
    whole schema is audited in one declarative pass.

    Scale shape: each child scan collapses to DISTINCT child keys via a
    map-side partial aggregate BEFORE the parent join (orphan ROWS are
    recovered from the carried per-key counts), so the join input is
    |distinct keys|, not |child rows|; fact-scaled parents (orders,
    part, customer) read their own bucketed layouts and join as
    co-located SMJs with ZERO parent exchange, while genuinely bounded
    dims (supplier, nation, region) broadcast.
    Seven independent single-row branches union into a 7-row result
    inside ONE action (the DAG scheduler runs their stages concurrently)
    — each branch prunes its scan to the single key column. Everything
    is exact integer counting; no rationals at all.
    """
    # Round-6 reshape (sf10 head-to-head, VERDICT r5 #1): per-edge
    # branches over a stacked (fk, k) union. Round 3's stacked form
    # avoided the per-edge job floor, but its single groupBy shuffled the
    # UNION of all tagged child keys — at sf10 that is ~200M
    # (string, long) rows through one exchange, 22.8 s. Per-edge branches
    # shuffle each key column separately as bare longs with map-side
    # combine (the fact fixtures cluster by key, so combine collapses
    # most of the volume before the wire) and probe a broadcast parent:
    # 9.6 s at sf10 AND 0.56 s vs 1.6 s at sf0.1 — the feared job floor
    # does not exist in the union-single-action form.
    # Round-7 (VERDICT r6 #1): the heaviest edge — every lineitem row
    # grouped by l_orderkey — reads the BUCKETED orderkey layout
    # (tables.load_bucketed), so its distinct-key aggregate needs no
    # exchange at all: the bucketed scan already clusters by the group
    # key (cast long->long folds away, alias keeps the partitioning).
    # Its PARENT side is bucketed too: broadcasting orders' 15M-key PK
    # column (the r6 shape) builds a >100 MB hash relation on the
    # driver — exactly the non-broadcastable-side mistake at 100 TB.
    # With both sides hash-partitioned on the same key the orphan left
    # join is a co-located SMJ: no broadcast build, no exchange (the
    # parent stream arrives pre-sorted from the bucket sortBy; only the
    # post-aggregate key side needs its in-task sort). The other edges
    # keep genuinely-small broadcast parents and bare-long map-side-
    # combined shuffles on non-bucket keys.
    # Round-8 (VERDICT r7 next #3): the part and customer parents are
    # fact-scaled too (2M / 1.5M keys at sf10 — a borderline >100 MB
    # driver hash relation each, unbounded at 100 TB). Read them through
    # their own bucketed layouts: the parent side then joins with ZERO
    # exchange and no broadcast build; only the child's already-collapsed
    # distinct-key aggregate shuffles, straight into the parent's
    # bucketing. Genuinely bounded dims (supplier, nation, region) keep
    # the broadcast.
    from ..tables import load_bucketed

    BUCKETED_PARENTS = {"orders", "part", "customer"}
    # Round-9 (VERDICT r8 next #5): the two remaining heavy child
    # aggregates — lineitem by l_partkey (~2M distinct keys at sf10,
    # map-side combine nearly useless because every input partition sees
    # most of the key domain) and orders by o_custkey (~1M) — now read
    # SECONDARY bucketed layouts clustered on their own FK. Distinct
    # within a bucket IS global distinct for the bucket key, so the
    # 38M-row (key,count) shuffle becomes per-bucket local aggregation
    # with zero exchange, feeding the parent's co-located buckets.
    # Interleaved min-of-4 at sf10: 4.76 s -> 3.27 s (2.1x vs DuckDB's
    # 1.56 s — inside the 2.5x bound). On a real warehouse these are
    # ingest-maintained secondary projections (Vertica projections /
    # ClickHouse secondary sorts); the capacity trade is one extra
    # clustered copy per audited fact key, which is why l_suppkey does
    # NOT get one: its ~100k-key domain collapses fine in map-side
    # combine (60M rows -> 32x100k partials), so the plain scan stays.
    BUCKETED_CHILDREN = {
        ("lineitem", "l_orderkey"),
        ("lineitem", "l_partkey"),
        ("orders", "o_custkey"),
    }
    outs = []
    for label, child, ck, parent, pk in FK_EDGES:
        big_edge = (child, ck) == ("lineitem", "l_orderkey")
        src = (
            load_bucketed(spark, sf_dir, child, ck)
            if (child, ck) in BUCKETED_CHILDREN
            else load(spark, sf_dir, child)
        )
        c = (
            src
            .select(F.col(ck).cast("long").alias("k"))
            .filter(F.col("k").isNotNull())
        )
        keys = c.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
        if parent in BUCKETED_PARENTS:
            p = load_bucketed(spark, sf_dir, parent, pk).select(
                F.col(pk).cast("long").alias("pkey")
            )
            if not big_edge:
                # part/customer edges: shuffled-HASH join, not SMJ —
                # the child's aggregated keys arrive unsorted, so SMJ
                # sorts BOTH sides (the parent's bucket sortBy is on a
                # different bucket count alignment after the child
                # realign); hashing the parent's per-partition slice
                # (|parent|/buckets keys — the same fits-in-memory bound
                # the sort path assumes) skips both sorts. Measured at
                # sf10: part 3.2->2.4 s, customer 1.6->1.1 s. The
                # orderkey edge KEEPS its SMJ: there both sides are
                # co-located on the same 32 buckets and the parent
                # stream arrives pre-sorted, so SMJ is sort-free and
                # measured equal (1.21 vs 1.25 s).
                p = p.hint("shuffle_hash")
        else:
            p = F.broadcast(
                load(spark, sf_dir, parent).select(
                    F.col(pk).cast("long").alias("pkey")
                )
            )
        j = keys.join(p, keys.k == p.pkey, "left")
        outs.append(
            j.agg(
                F.lit(label).alias("fk"),
                F.sum("cnt").cast("long").alias("child_rows"),
                F.count(F.lit(1)).cast("long").alias("child_keys"),
                F.sum(
                    F.when(F.col("pkey").isNull(), F.col("cnt")).otherwise(0)
                )
                .cast("long")
                .alias("orphan_rows"),
                F.sum(F.when(F.col("pkey").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("orphan_keys"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("fk")


# ---------------------------------------------------------------------------
# dq_rater_agreement — Fleiss' kappa across curation gates
# ---------------------------------------------------------------------------

_RATER_STOP = "('the','a','of','and','to','in')"


@register(
    "dq_rater_agreement",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
        FROM documents),
    votes AS (
        SELECT doc_id,
               (CASE WHEN len(toks) BETWEEN 20 AND 1000
                     THEN 1 ELSE 0 END
                + CASE WHEN len(list_distinct(toks)) * 2 >= len(toks)
                       THEN 1 ELSE 0 END
                + CASE WHEN len(list_filter(toks,
                                  x -> x IN {_RATER_STOP})) * 20
                            >= len(toks)
                       THEN 1 ELSE 0 END) AS k
        FROM t),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS ck,
               CAST(sum(k * k + (3 - k) * (3 - k) - 3) AS BIGINT) AS s
        FROM votes),
    fin AS (
        SELECT n, ck, 3 * n - ck AS cd, s FROM sums)
    SELECT n AS n_docs,
           CAST(3 AS BIGINT) AS n_raters,
           floor(s * 1.0 / (6 * n) * 10000.0 + 0.5) / 10000.0 AS p_bar,
           floor((ck * ck + cd * cd) * 1.0 / (9 * n * n) * 10000.0 + 0.5)
               / 10000.0 AS p_e,
           floor((3 * n * s - 2 * (ck * ck + cd * cd)) * 1.0
                 / nullif(18 * n * n - 2 * (ck * ck + cd * cd), 0)
                 * 10000.0 + 0.5)
               / 10000.0 AS fleiss_kappa
    FROM fin
    """,
)
def dq_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) across three deterministic curation
    "raters" — the length gate, the distinct-token-ratio gate and the
    stopword-ratio gate each vote keep/drop per document — answering the
    audit question every multi-filter pipeline owes its users: do the
    gates AGREE beyond chance, or is the kept set an accident of one
    filter? (Low kappa = the filters encode different notions of quality
    and their intersection/union choice matters; production swaps the
    heuristic raters for LLM-judge verdict columns and the statistic is
    unchanged.)

    EXACT integer arithmetic end-to-end: with n = 3 raters and 2
    categories, each doc's pairwise-agreement numerator k^2 + (3-k)^2 - 3
    is an integer, so P-bar, P_e and kappa are ratios of exact integer
    sums — the final kappa is a single cross-multiplied integer ratio
    (18N^2-scaled) rounded once. Scale: one tokenize pass collapsing to a
    1-row aggregate; no shuffle carries more than the partial sums."""
    from .dedup import tokens

    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    nt = F.size(toks)
    stop_ct = F.size(
        F.filter(
            toks,
            lambda x: x.isin("the", "a", "of", "and", "to", "in"),
        )
    )
    k = (
        F.when(nt.between(20, 1000), 1).otherwise(0)
        + F.when(F.size(F.array_distinct(toks)) * 2 >= nt, 1).otherwise(0)
        + F.when(stop_ct * 20 >= nt, 1).otherwise(0)
    )
    votes = d.select(k.alias("k"))
    sums = votes.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("ck"),
        F.sum(
            F.col("k") * F.col("k")
            + (F.lit(3) - F.col("k")) * (F.lit(3) - F.col("k"))
            - F.lit(3)
        )
        .cast("long")
        .alias("s"),
    )
    fin = sums.select("n", "ck", (F.lit(3) * F.col("n") - F.col("ck")).alias("cd"), "s")
    pagree = F.col("ck") * F.col("ck") + F.col("cd") * F.col("cd")
    return fin.select(
        F.col("n").alias("n_docs"),
        F.lit(3).cast("long").alias("n_raters"),
        (
            F.floor(F.col("s") * 1.0 / (6 * F.col("n")) * 10000.0 + 0.5)
            / 10000.0
        ).alias("p_bar"),
        (
            F.floor(
                pagree * 1.0 / (9 * F.col("n") * F.col("n")) * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("p_e"),
        (
            F.floor(
                (3 * F.col("n") * F.col("s") - 2 * pagree)
                * 1.0
                / F.nullif(
                    18 * F.col("n") * F.col("n") - 2 * pagree, F.lit(0)
                )
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("fleiss_kappa"),
    )


# --------------------------------------------------------------------------
# dq_t_closeness
# --------------------------------------------------------------------------

TC_BUCKETS = 10
TC_WIDTH = 50000.0
TC_THRESHOLD = 0.2


@register(
    "dq_t_closeness",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority, o_orderstatus,
               CAST(least(floor(o_totalprice / {TC_WIDTH!r}),
                          {TC_BUCKETS - 1}) AS INT) AS b
        FROM orders),
    gcnt AS (
        SELECT o_orderpriority, o_orderstatus, b, count(*) AS c
        FROM base GROUP BY 1, 2, 3),
    grp AS (
        SELECT o_orderpriority, o_orderstatus, count(*) AS n_g
        FROM base GROUP BY 1, 2),
    gall AS (SELECT b, count(*) AS cg FROM base GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM base),
    dense AS (
        SELECT g.o_orderpriority, g.o_orderstatus, g.n_g, s.i AS b
        FROM grp g CROSS JOIN generate_series(0, {TC_BUCKETS - 1}) s(i)),
    filled AS (
        SELECT d.o_orderpriority, d.o_orderstatus, d.n_g, d.b,
               COALESCE(gc.c, 0) AS c, COALESCE(gl.cg, 0) AS cg
        FROM dense d
        LEFT JOIN gcnt gc ON gc.o_orderpriority = d.o_orderpriority
                         AND gc.o_orderstatus = d.o_orderstatus
                         AND gc.b = d.b
        LEFT JOIN gall gl ON gl.b = d.b),
    cum AS (
        SELECT o_orderpriority, o_orderstatus, n_g, b,
               sum(c) OVER (PARTITION BY o_orderpriority, o_orderstatus
                            ORDER BY b) AS cq,
               sum(cg) OVER (PARTITION BY o_orderpriority, o_orderstatus
                             ORDER BY b) AS cp
        FROM filled),
    emd AS (
        SELECT o_orderpriority, o_orderstatus, n_g, t.n,
               sum(abs(cq * t.n - cp * n_g)) AS ssum
        FROM cum CROSS JOIN tot t
        WHERE b < {TC_BUCKETS - 1}
        GROUP BY 1, 2, 3, 4)
    SELECT o_orderpriority, o_orderstatus,
           CAST(n_g AS BIGINT) AS n_rows,
           {sql_stable_round4(
               f'CAST(ssum AS DOUBLE) / (CAST(n_g AS DOUBLE)'
               f' * CAST(n AS DOUBLE) * {float(TC_BUCKETS - 1)!r})')}
               AS emd,
           CAST(CASE WHEN {sql_stable_round4(
               f'CAST(ssum AS DOUBLE) / (CAST(n_g AS DOUBLE)'
               f' * CAST(n AS DOUBLE) * {float(TC_BUCKETS - 1)!r})')}
               > {TC_THRESHOLD} THEN 1 ELSE 0 END AS INT) AS t_violation
    FROM emd
    ORDER BY o_orderpriority, o_orderstatus
    """,
)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al., ICDE 2007) over the quasi-identifier
    (o_orderpriority, o_orderstatus) with o_totalprice as the ordered
    sensitive attribute: per equivalence class, the Earth Mover's Distance
    between the class's bucketed price distribution and the global one,
    EMD = (1/(m-1)) * sum_i |cumQ_i - cumP_i| over the first m-1 buckets.

    Completes this module's dq_k_anonymity / dq_l_diversity family — k and
    l bound re-identification and attribute diversity, t bounds attribute
    DISCLOSURE (a class whose salary distribution mirrors the global one
    reveals nothing even at l=1).

    Determinism: cumulative fractions are rationals, so the |cumQ - cumP|
    terms are computed cross-multiplied in integers (|cq*n - cp*n_g|) and
    summed exactly; one double division at the end, then stable_round4.
    The violation flag compares the ROUNDED value so both engines flag
    identically at the boundary. Scale shape: two grouped counts + a
    (groups x m) densify cross join (m=10 constant) + an m-row window per
    group — cost is O(|groups| * m) after the counts, nothing rescans the
    fact table.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderpriority",
        "o_orderstatus",
        F.least(
            F.floor(F.col("o_totalprice") / F.lit(TC_WIDTH)),
            F.lit(TC_BUCKETS - 1),
        )
        .cast("int")
        .alias("b"),
    )
    gcnt = base.groupBy("o_orderpriority", "o_orderstatus", "b").agg(
        F.count("*").alias("c")
    )
    grp = base.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_g")
    )
    glob = base.groupBy("b").agg(F.count("*").alias("cg"))
    tot = base.agg(F.count("*").alias("n"))
    dense = grp.select(
        "o_orderpriority",
        "o_orderstatus",
        "n_g",
        F.explode(F.sequence(F.lit(0), F.lit(TC_BUCKETS - 1))).alias("b"),
    )
    filled = (
        dense.join(gcnt, ["o_orderpriority", "o_orderstatus", "b"], "left")
        .join(F.broadcast(glob), "b", "left")
        .select(
            "o_orderpriority",
            "o_orderstatus",
            "n_g",
            "b",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.coalesce("cg", F.lit(0)).alias("cg"),
        )
    )
    wcum = (
        W.partitionBy("o_orderpriority", "o_orderstatus")
        .orderBy("b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = filled.withColumn("cq", F.sum("c").over(wcum)).withColumn(
        "cp", F.sum("cg").over(wcum)
    )
    emd = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("b") < TC_BUCKETS - 1)
        .groupBy("o_orderpriority", "o_orderstatus", "n_g", "n")
        .agg(
            F.sum(
                F.abs(F.col("cq") * F.col("n") - F.col("cp") * F.col("n_g"))
            ).alias("ssum")
        )
    )
    emd_val = stable_round4(
        F.col("ssum").cast("double")
        / (
            F.col("n_g").cast("double")
            * F.col("n").cast("double")
            * F.lit(float(TC_BUCKETS - 1))
        )
    )
    return emd.select(
        "o_orderpriority",
        "o_orderstatus",
        F.col("n_g").cast("long").alias("n_rows"),
        emd_val.alias("emd"),
        F.when(emd_val > TC_THRESHOLD, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("t_violation"),
    ).orderBy("o_orderpriority", "o_orderstatus")
