"""Join operators (SURVEY.md §2.3). Citations refer to /root/reference.

Strategy notes for 100 TB: dimension tables (region/nation/fips-style
lookups) are broadcast — no shuffle; fact⋈fact joins shuffle on the join key
(bucket the stored tables on those keys to eliminate it); semi/anti joins
carry only the key columns of the probe side. AQE re-plans skew at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..functions.kernels import hash_bucket, sql_hash_bucket
from ..tables import load


@register(
    "join_bcast_lookup",
    oracle="""
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_bcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIPS-style dict lookup → broadcast hash join
    (federal_house_districts.py:64,70-82)."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@register(
    "join_fk_inner",
    oracle="""
    SELECT c_custkey, c_name, n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def join_fk_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK point-lookup join (zip_code_overlap.py:26-31), set-oriented:
    one distributed join instead of O(N) driver round trips."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_name", "n_name"
    )


@register(
    "join_fk_missing_check",
    oracle="""
    SELECT count(*) AS n_missing
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    """,
)
def join_fk_missing_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference hard-fails on missing FK (zip_code_overlap.py:30-31);
    set-oriented version: anti-join count assert."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_missing"))
    )


@register(
    "join_semi_bill_vote",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders WHERE o_custkey IN (
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    """,
)
def join_semi_bill_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Votes kept only if their bill was ingested → left semi equi-join
    (bills_federal.py:115,161,186-188)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return o.join(c, o.o_custkey == c.c_custkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "join_anti_bill_vote",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders WHERE o_custkey NOT IN (
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    """,
)
def join_anti_bill_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complementary warning branch: votes with NO matching bill
    (bills_federal.py:213-214) → left anti join."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return o.join(c, o.o_custkey == c.c_custkey, "left_anti").select(
        "o_orderkey", "o_custkey"
    )


@register(
    "join_composite_key",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderpriority
    FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey AND l.l_returnflag = substr(o.o_orderstatus, 1, 1)
    """,
)
def join_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key equi-join ((session, identifier) in
    bills_federal.py:186-188)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    return li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_returnflag == F.substring(o.o_orderstatus, 1, 1)),
    ).select("l_orderkey", "l_linenumber", "o_orderpriority")


@register(
    "join_map_fallback",
    oracle="""
    SELECT n.n_nationkey,
           coalesce(m1.r_name, m2.r_name, 'UNMAPPED') AS mapped_name
    FROM nation n
    LEFT JOIN (SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 2) m1
      ON n.n_regionkey = m1.r_regionkey
    LEFT JOIN (SELECT r_regionkey, r_name FROM region) m2
      ON n.n_regionkey = m2.r_regionkey
    """,
)
def join_map_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapping-dict fallback chain (people_state.py:61-73: chamber map →
    'special' map → default) = chained left joins + coalesce."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    m1 = r.filter(F.col("r_regionkey") < 2).select(
        F.col("r_regionkey").alias("m1_key"), F.col("r_name").alias("m1_name")
    )
    m2 = r.select(F.col("r_regionkey").alias("m2_key"), F.col("r_name").alias("m2_name"))
    return (
        n.join(F.broadcast(m1), n.n_regionkey == m1.m1_key, "left")
        .join(F.broadcast(m2), n.n_regionkey == m2.m2_key, "left")
        .select(
            "n_nationkey",
            F.coalesce("m1_name", "m2_name", F.lit("UNMAPPED")).alias("mapped_name"),
        )
    )


# --------------------------------------------------------------------------
# join_cidr_lookup — longest-prefix-match IP routing as equi-join cascade
# --------------------------------------------------------------------------

# client IPs are hashed 28-bit values (top octet in [0, 16)), so the
# derived 10.x.0.0 networks below receive real traffic; md5 is the house
# cross-engine rand() substitute
CIDR_IP_SPACE = 1 << 28


@register(
    "join_cidr_lookup",
    oracle=f"""
    WITH ips AS (
        SELECT user_id,
               {sql_hash_bucket(
                   "'ip-' || CAST(user_id AS VARCHAR)", CIDR_IP_SPACE)}
                   AS ip
        FROM (SELECT DISTINCT user_id FROM events)),
    nets16 AS (
        SELECT (10 + n_regionkey) * 256 + (n_nationkey + 1) AS key16,
               CAST(10 + n_regionkey AS VARCHAR) || '.'
                   || CAST(n_nationkey + 1 AS VARCHAR) || '.0.0/16'
                   AS net16
        FROM nation),
    nets8 AS (
        SELECT 10 + r_regionkey AS key8,
               CAST(10 + r_regionkey AS VARCHAR) || '.0.0.0/8' AS net8
        FROM region),
    routed AS (
        SELECT CASE WHEN net16 IS NOT NULL THEN '/16'
                    WHEN net8 IS NOT NULL THEN '/8'
                    ELSE 'unrouted' END AS prefix_len,
               coalesce(net16, net8, 'none') AS network
        FROM ips
        LEFT JOIN nets16 ON ip // 65536 = key16
        LEFT JOIN nets8 ON ip // 16777216 = key8)
    SELECT prefix_len, network,
           CAST(count(*) AS BIGINT) AS n_users
    FROM routed GROUP BY 1, 2
    ORDER BY prefix_len, network
    """,
)
def join_cidr_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix-match CIDR routing (geo-IP / network attribution —
    the classic web-log enrichment) expressed as a CASCADE OF EQUI-JOINS,
    never a range join: every prefix length present in the routing table
    becomes one broadcast hash join on the ip's truncated prefix
    (ip div 2^(32-len)), and LPM is the coalesce order from most to
    least specific. Here: per-nation /16s inside per-region /8s over
    deterministic md5-derived client IPs, rolled up per matched network.

    Determinism: IPs are salted md5-buckets of user_id (integer in
    [0, 2^28) so the derived 10.x networks receive traffic); prefixes
    are exact integer divisions; counts are exact.

    Scale shape: the routing table (real-world: ~1M BGP prefixes) is a
    broadcast dimension per prefix length; the fact side computes each
    truncation in the scan projection, so the whole LPM is N_prefix_len
    broadcast joins with zero fact shuffles — the range-join
    formulation a naive engine picks degenerates to per-row interval
    search, which is exactly what this plan shape avoids at 100 TB.
    """
    e = load(spark, sf_dir, "events")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    ips = (
        e.select("user_id")
        .distinct()
        .select(
            "user_id",
            hash_bucket(
                F.concat(F.lit("ip-"), F.col("user_id").cast("string")),
                CIDR_IP_SPACE,
            ).alias("ip"),
        )
    )
    nets16 = nation.select(
        ((10 + F.col("n_regionkey")) * 256 + F.col("n_nationkey") + 1).alias(
            "key16"
        ),
        F.concat(
            (10 + F.col("n_regionkey")).cast("string"),
            F.lit("."),
            (F.col("n_nationkey") + 1).cast("string"),
            F.lit(".0.0/16"),
        ).alias("net16"),
    )
    nets8 = region.select(
        (10 + F.col("r_regionkey")).alias("key8"),
        F.concat(
            (10 + F.col("r_regionkey")).cast("string"), F.lit(".0.0.0/8")
        ).alias("net8"),
    )
    routed = (
        ips.withColumn("ip16", F.expr("ip div 65536"))
        .withColumn("ip8", F.expr("ip div 16777216"))
        .join(F.broadcast(nets16), F.col("ip16") == F.col("key16"), "left")
        .join(F.broadcast(nets8), F.col("ip8") == F.col("key8"), "left")
        .select(
            F.when(F.col("net16").isNotNull(), "/16")
            .when(F.col("net8").isNotNull(), "/8")
            .otherwise("unrouted")
            .alias("prefix_len"),
            F.coalesce("net16", "net8", F.lit("none")).alias("network"),
        )
    )
    return (
        routed.groupBy("prefix_len", "network")
        .agg(F.count("*").alias("n_users"))
        .orderBy("prefix_len", "network")
    )
