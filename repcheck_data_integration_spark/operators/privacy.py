"""Differentially private release mechanisms.

Noise is driven by md5 buckets, the cross-engine rand() substitute, so a
release is reproducible and its DuckDB oracle twin exact:

- priv_dp_counts: epsilon-DP released counts via an inverse-CDF Laplace
  mechanism;
- priv_randomized_response: Warner randomized response with debiasing
  (local DP);
- priv_noisy_max: report-noisy-max selection with discrete Laplace noise.

The privacy audits of a released table (dq_k_anonymity, dq_l_diversity,
dq_t_closeness) live in quality.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..functions.kernels import hash_bucket, md5_long, sql_hash_bucket
from ..tables import load
from .dedup import sql_stable_round4, stable_round4


# --------------------------------------------------------------------------
# priv_dp_counts
# --------------------------------------------------------------------------

DP_EPSILON = 1.0
DP_DOMAIN = float(16**12)

# Inverse-CDF Laplace(b = 1/eps) driven by the 48-bit md5 uniform:
# u = h/D - 0.5 in [-0.5, 0.5); noise = -b * sign(u) * ln(1 - 2|u|).
# The single libm ln is quantized with a midpoint offset (floor(x*1e6
# + 0.5)/1e6) so a JVM-vs-libm ulp cannot flip the 4-decimal output
# (the guard band ADVICE.md r3 recommends for quantized libm terms).
_DP_NOISE = (
    f"(CASE WHEN u >= 0.0 THEN -1.0 ELSE 1.0 END * (1.0 / {DP_EPSILON!r})"
    f" * floor(ln(CASE WHEN 1.0 - 2.0 * abs(u) > 1e-12"
    f" THEN 1.0 - 2.0 * abs(u) ELSE 1e-12 END) * 1000000.0 + 0.5)"
    f" / 1000000.0)"
)


@register(
    "priv_dp_counts",
    oracle=f"""
    WITH c AS (
        SELECT event_type, count(*) AS true_count FROM events GROUP BY 1),
    h AS (
        SELECT event_type, true_count,
               CAST(list_sum([
                   (strpos('0123456789abcdef',
                           substr(md5(event_type || '|dp1'), i, 1)) - 1)
                   * power(16, 12 - i)
                   for i in generate_series(1, 12)]) AS BIGINT) AS hv
        FROM c),
    u AS (
        SELECT event_type, true_count,
               CAST(hv AS DOUBLE) / {DP_DOMAIN!r} - 0.5 AS u
        FROM h)
    SELECT event_type,
           CAST(true_count AS BIGINT) AS true_count,
           CAST({DP_EPSILON!r} AS DOUBLE) AS epsilon,
           {sql_stable_round4(f'CAST(true_count AS DOUBLE) + {_DP_NOISE}')}
               AS noisy_count
    FROM u
    ORDER BY event_type
    """,
)
def priv_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-differentially-private release of per-event_type counts
    (Dwork et al., TCC 2006): count + Laplace(sensitivity/eps) noise,
    eps = {DP_EPSILON}, sensitivity 1 for a single-count release.

    The noise is drawn by inverse-CDF from a DETERMINISTIC uniform (the
    48-bit md5 prefix of the group key + a release salt) rather than an
    RNG: the release is reproducible and oracle-testable, and swapping
    the salt per release restores the fresh-draw semantics. This is the
    release half of the privacy-audit family — dq_k_anonymity /
    dq_l_diversity / dq_t_closeness measure disclosure risk,
    priv_dp_counts bounds it mechanically.

    Determinism: the uniform is exact-integer-derived; the one libm ln
    term is quantized with a midpoint offset before the b-scale, so the
    4-decimal output cannot flip on a JVM-vs-libm ulp. Scale shape: one
    grouped count; the noise is a per-GROUP scalar expression — released
    aggregates are tiny regardless of fact-table size.
    """
    e = load(spark, sf_dir, "events")
    c = e.groupBy("event_type").agg(F.count("*").alias("true_count"))
    u = c.withColumn(
        "u",
        md5_long(F.concat(F.col("event_type"), F.lit("|dp1")), 12)
        .cast("double")
        / F.lit(DP_DOMAIN)
        - 0.5,
    )
    return u.select(
        "event_type",
        F.col("true_count").cast("long"),
        F.lit(DP_EPSILON).alias("epsilon"),
        stable_round4(
            F.col("true_count").cast("double") + F.expr(_DP_NOISE)
        ).alias("noisy_count"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# priv_randomized_response — local-DP bit collection with debiasing
# --------------------------------------------------------------------------

# Warner (1965) randomized response with truth probability 3/4
# (eps = ln(3) local DP): each user reports the true bit with p = 3/4,
# else a fair coin. E[obs] = 3/4 pi + 1/8, so the debiased estimate
# pi_hat = (8*obs - n) / (6*n) is an exact integer ratio.
_RR_TRUE = "(tp / n)"
_RR_EST = "((8.0 * rp - n) / (6.0 * n))"
_RR_ERR = f"(abs({_RR_EST} - {_RR_TRUE}))"


@register(
    "priv_randomized_response",
    oracle=f"""
    WITH ub AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS truth
        FROM events GROUP BY 1),
    coins AS (
        SELECT truth,
               {sql_hash_bucket("'rr1-' || CAST(user_id AS VARCHAR)", 4)}
                   AS c1,
               {sql_hash_bucket("'rr2-' || CAST(user_id AS VARCHAR)", 2)}
                   AS c2
        FROM ub),
    rep AS (
        SELECT truth,
               CASE WHEN c1 < 3 THEN truth ELSE c2 END AS reported
        FROM coins),
    st AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(truth) AS DOUBLE) AS tp,
               CAST(sum(reported) AS DOUBLE) AS rp
        FROM rep)
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(tp AS BIGINT) AS true_positives,
           CAST(rp AS BIGINT) AS reported_positives,
           {sql_stable_round4(_RR_TRUE)} AS true_rate,
           {sql_stable_round4(_RR_EST)} AS estimated_rate,
           {sql_stable_round4(_RR_ERR)} AS abs_error
    FROM st
    """,
)
def priv_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner's randomized response (1965) — the local-DP mechanism: each
    user reports whether they purchased TRUTHFULLY with p = 3/4, else
    answers a fair coin (eps = ln 3 per user; the analyst never sees a
    trustworthy individual bit), then the population rate is recovered
    by debiasing, pi_hat = (8*obs - n)/(6n). Completes the privacy kit:
    priv_dp_counts is central DP (noise at the aggregator),
    dq_k_anonymity/l_diversity/t_closeness audit the released table —
    this is the device-side mechanism.

    Determinism: the per-user coins are md5-buckets of salted user ids
    (the house rand() substitute — sample_deterministic's mechanism), so
    the "randomized" report is engine-exact and the whole mechanism is
    replayable; truth, reports, and the debiased estimate are exact
    integer ratios, one division each, stable_round4.

    Scale shape: one shuffle to per-user truth bits, a per-row coin map,
    one scalar aggregate. The mechanism column never leaves the row it
    was minted on — exactly how a device-local mechanism distributes.
    """
    e = load(spark, sf_dir, "events")
    ub = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("truth")
    )
    uid = F.col("user_id").cast("string")
    coins = ub.select(
        "truth",
        hash_bucket(F.concat(F.lit("rr1-"), uid), 4).alias("c1"),
        hash_bucket(F.concat(F.lit("rr2-"), uid), 2).alias("c2"),
    )
    rep = coins.select(
        "truth",
        F.when(F.col("c1") < 3, F.col("truth"))
        .otherwise(F.col("c2"))
        .alias("reported"),
    )
    st = rep.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("truth").cast("double").alias("tp"),
        F.sum("reported").cast("double").alias("rp"),
    )
    return st.selectExpr(
        "CAST(n AS BIGINT) AS n_users",
        "CAST(tp AS BIGINT) AS true_positives",
        "CAST(rp AS BIGINT) AS reported_positives",
        f"CAST({sql_stable_round4(_RR_TRUE)} AS DOUBLE) AS true_rate",
        f"CAST({sql_stable_round4(_RR_EST)} AS DOUBLE) AS estimated_rate",
        f"CAST({sql_stable_round4(_RR_ERR)} AS DOUBLE) AS abs_error",
    )


# --------------------------------------------------------------------------
# priv_noisy_max — eps-DP selection via report-noisy-max (discrete Laplace)
# --------------------------------------------------------------------------

# Geometric(1 - e^-1) inverse CDF as integer thresholds on a uniform
# md5-bucket in [0, 1e6): floor((1 - e^-(k+1)) * 1e6), k = 0..8, tail -> 9.
# The DIFFERENCE of two iid geometric draws is the discrete Laplace with
# scale 1/eps, eps = 1 (Inusah & Kozubowski 2006) — count sensitivity is 1
# per user-event, so argmax(count + noise) is eps-DP selection.
_NM_T = [632120, 864664, 950212, 981684, 993262, 997521, 999088, 999664,
         999876]
def _nm_geo(u: str) -> str:
    return (
        "CASE "
        + " ".join(f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_NM_T))
        + " ELSE 9 END"
    )


@register(
    "priv_noisy_max",
    oracle=f"""
    WITH counts AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1),
    draws AS (
        SELECT event_type, n,
               {sql_hash_bucket("'nm1-' || event_type", 1000000)} AS u1,
               {sql_hash_bucket("'nm2-' || event_type", 1000000)} AS u2
        FROM counts),
    noisy AS (
        SELECT event_type, n,
               n + ({_nm_geo('u1')}) - ({_nm_geo('u2')}) AS noisy_n
        FROM draws),
    mx AS (SELECT max(noisy_n) AS m FROM noisy)
    SELECT event_type, noisy_n,
           CASE WHEN noisy_n = m THEN 1 ELSE 0 END AS is_selected
    FROM noisy CROSS JOIN mx
    ORDER BY noisy_n DESC, event_type
    """,
)
def priv_noisy_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report-noisy-max eps-DP selection (eps = 1) of the most frequent
    event type: each candidate's count gets independent discrete-Laplace
    noise — the difference of two Geometric(1 - e^-1) draws (Inusah &
    Kozubowski 2006) — and the released answer is the argmax plus the
    noisy counts themselves (also DP by post-processing). Completes the
    privacy kit's SELECTION corner: priv_dp_counts releases noisy
    aggregates, priv_randomized_response is the device-local mechanism,
    this is the DP argmax a pipeline uses to pick a category to publish.

    Determinism: both geometric draws are integer-threshold inverse CDFs
    (literal thresholds floor((1-e^-(k+1))*1e6)) on salted md5-buckets of
    the candidate name — replayable, engine-exact, no float anywhere;
    true counts never leave the plan (only noisy_n and the argmax flag
    are projected out).

    Scale shape: one map-side-combinable count over the fact table; the
    mechanism itself runs on the |candidates|-row aggregate, and the max
    is a broadcast 1-row scalar.
    """
    e = load(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count("*").alias("n"))
    draws = counts.select(
        "event_type",
        "n",
        hash_bucket(
            F.concat(F.lit("nm1-"), F.col("event_type")), 1000000
        ).alias("u1"),
        hash_bucket(
            F.concat(F.lit("nm2-"), F.col("event_type")), 1000000
        ).alias("u2"),
    )
    noisy = draws.selectExpr(
        "event_type",
        f"n + ({_nm_geo('u1')}) - ({_nm_geo('u2')}) AS noisy_n",
    )
    mx = noisy.agg(F.max("noisy_n").alias("m"))
    return (
        noisy.crossJoin(F.broadcast(mx))
        .selectExpr(
            "event_type",
            "noisy_n",
            "CASE WHEN noisy_n = m THEN 1 ELSE 0 END AS is_selected",
        )
        .orderBy(F.col("noisy_n").desc(), "event_type")
    )
