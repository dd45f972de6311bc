"""Significance tests and experiment analysis.

Parametric, nonparametric and sequential tests, A/B design and variance
reduction, each a pure DataFrame plan with an exact DuckDB oracle twin:

- two-sample and k-sample tests: ml_mann_whitney_u, agg_anova_oneway,
  ml_two_proportion_ztest, agg_paired_ttest, events_logrank_test;
- paired and stratified association: ml_mcnemar_test (the two language
  classifiers of models.py), ml_cmh_test;
- rank correlation: ml_spearman_corr, ml_kendall_tau;
- experiment design and guardrails: ml_power_analysis, ml_srm_check,
  ml_sprt_ab, ml_tost_equivalence, ml_diff_in_diff;
- estimators with intervals: agg_cuped, agg_delta_method_ratio,
  agg_bootstrap_ci.

Determinism follows the house rules (CLAUDE.md): integer arithmetic until
one final division per output column, identical expression strings
interpolated into both engines, stable_round4 on every rational, md5
buckets as the cross-engine rand(). sqrt is IEEE correctly rounded, so
sqrt of an exact double is safe (the agg_corr_matrix precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..functions.exact import scaled_long
from ..tables import literal_frame, load
from .dedup import sql_stable_round4, stable_round4, tokens
from .models import NB_PRED_SQL, nb_doc_pred
from .sampling import hash_bucket
from .textstats import LANG_MARKERS, _marker_count_sql


# --------------------------------------------------------------------------
# agg_bootstrap_ci
# --------------------------------------------------------------------------

BOOT_B = 40  # resamples; 40 * 0.025 = 1 makes the CI ranks exact integers
# Poisson(1) CDF thresholds scaled to the 48-bit hash domain:
# floor(P(X <= k) * 2^48) for k = 0..7 (weights capped at 8; the tail
# beyond 8 has probability < 2^-17). Integer constants, identical in
# both engines — the draw w(u) = #{k: u >= T_k} needs no float at all.
BOOT_T = [
    103548857136060, 207097714272121, 258872142840152, 276130285696162,
    280444821410164, 281307728552965, 281451546410098, 281472091818260,
]

_BOOT_W = " + ".join(
    f"(CASE WHEN hv >= {t} THEN 1 ELSE 0 END)" for t in BOOT_T
)


@register(
    "agg_bootstrap_ci",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority AS segment,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    reps AS (
        SELECT segment, cents,
               CAST(list_sum([
                   (strpos('0123456789abcdef',
                           substr(md5(CAST(o_orderkey AS VARCHAR)
                                      || '|' || CAST(b.b AS VARCHAR)
                                      || '|bs1'), i, 1)) - 1)
                   * power(16, 12 - i)
                   for i in generate_series(1, 12)]) AS BIGINT) AS hv,
               b.b AS b
        FROM base CROSS JOIN generate_series(0, {BOOT_B - 1}) b(b)),
    wtd AS (SELECT segment, b, cents, {_BOOT_W} AS w FROM reps),
    bm AS (
        SELECT segment, b,
               CAST(sum(w * cents) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
                   AS mean_b
        FROM wtd GROUP BY 1, 2),
    rk AS (
        SELECT segment, mean_b,
               row_number() OVER (PARTITION BY segment
                                  ORDER BY mean_b, b) AS rn
        FROM bm),
    pick AS (
        SELECT segment,
               max(CASE WHEN rn = {BOOT_B // 40} THEN mean_b END) AS lo,
               max(CASE WHEN rn = {BOOT_B - BOOT_B // 40} THEN mean_b END)
                   AS hi
        FROM rk GROUP BY 1),
    pt AS (
        SELECT segment, count(*) AS n, sum(cents) AS sc
        FROM base GROUP BY 1)
    SELECT pt.segment, CAST(pt.n AS BIGINT) AS n_rows,
           {sql_stable_round4(
               'CAST(pt.sc AS DOUBLE) / CAST(pt.n AS DOUBLE)')}
               AS mean_cents,
           {sql_stable_round4('pick.lo')} AS ci_lo,
           {sql_stable_round4('pick.hi')} AS ci_hi
    FROM pt JOIN pick ON pick.segment = pt.segment
    ORDER BY pt.segment
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean order value per
    priority segment via the POISSON BOOTSTRAP (Chamandy et al., 2012;
    the streaming-friendly resampling of Kleiner et al.'s scalable
    bootstrap): each of {BOOT_B} resamples weights every row by an iid
    Poisson(1) draw, so a resample never needs n or a shuffle of the
    raw data — the single-pass trick that makes bootstrapping possible
    at 100 TB where sample-with-replacement cannot run.

    The draws are DETERMINISTIC: w = #(Poisson CDF thresholds <= the
    48-bit md5 of (orderkey, replicate, salt)), thresholds pre-scaled
    to integers — the whole mechanism is exact integer comparisons, so
    both engines produce identical resamples. Replicate means are one
    exact-int division each; the CI picks ranked replicates 1 and
    {BOOT_B - 1} of {BOOT_B} (2.5% / 97.5% with B chosen so the ranks
    are integers), tie-broken by replicate id.

    Scale shape: the {BOOT_B}x row expansion collapses map-side — the
    partial aggregate reduces to |segments| x {BOOT_B} partial sums
    before any shuffle (kept as an explode + ONE two-level aggregate
    rather than {BOOT_B * 2} aggregate columns, which would blow the
    whole-stage-codegen field budget — CLAUDE.md perf trap).
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("segment"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    reps = base.select(
        "segment",
        "cents",
        F.explode(
            F.sequence(F.lit(0), F.lit(BOOT_B - 1))
        ).alias("b"),
        "o_orderkey",
    ).select(
        "segment",
        "cents",
        "b",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("b").cast("string"),
                        F.lit("bs1"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hv"),
    )
    wtd = reps.withColumn("w", F.expr(_BOOT_W))
    bm = wtd.groupBy("segment", "b").agg(
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.sum("w").cast("double")
        ).alias("mean_b")
    )
    rk = bm.select(
        "segment",
        "mean_b",
        F.row_number()
        .over(W.partitionBy("segment").orderBy("mean_b", "b"))
        .alias("rn"),
    )
    pick = rk.groupBy("segment").agg(
        F.max(
            F.when(F.col("rn") == BOOT_B // 40, F.col("mean_b"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == BOOT_B - BOOT_B // 40, F.col("mean_b"))
        ).alias("hi"),
    )
    pt = base.groupBy("segment").agg(
        F.count("*").alias("n"), F.sum("cents").alias("sc")
    )
    return (
        pt.join(pick, "segment")
        .select(
            "segment",
            F.col("n").cast("long").alias("n_rows"),
            stable_round4(
                F.col("sc").cast("double") / F.col("n").cast("double")
            ).alias("mean_cents"),
            stable_round4(F.col("lo")).alias("ci_lo"),
            stable_round4(F.col("hi")).alias("ci_hi"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# ml_sprt_ab — Wald sequential probability ratio test per experiment arm
# --------------------------------------------------------------------------

# H0: p = 0.45 vs H1: p = 0.55, alpha = beta = 0.05. The four log terms
# are pre-quantized to integer millionths HERE (plain Python floor(ln·1e6))
# and inlined as literals into BOTH engines, so neither engine ever
# evaluates a logarithm — the whole test is integer arithmetic.
SPRT_POS = 200_670      # floor(ln(0.55/0.45) * 1e6)  per success
SPRT_NEG = -200_671     # floor(ln(0.45/0.55) * 1e6)  per failure
SPRT_UPPER = 2_944_438  # floor(ln((1-beta)/alpha) * 1e6) → accept H1
SPRT_LOWER = -2_944_439  # floor(ln(beta/(1-alpha)) * 1e6) → accept H0
SPRT_BUCKET = 4096      # arrival-order scan bucket width (prefix-sum scan)


@register(
    "ml_sprt_ab",
    oracle=f"""
    WITH obs AS (
        SELECT o_custkey % 2 AS arm, o_orderkey,
               CASE WHEN o_orderstatus = 'F'
                    THEN {SPRT_POS} ELSE {SPRT_NEG} END AS step
        FROM orders),
    cum AS (
        SELECT arm, o_orderkey,
               sum(step) OVER (PARTITION BY arm ORDER BY o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS llr,
               row_number() OVER (PARTITION BY arm
                                  ORDER BY o_orderkey) AS rn
        FROM obs),
    crossed AS (
        SELECT arm, rn, llr FROM cum
        WHERE llr >= {SPRT_UPPER} OR llr <= {SPRT_LOWER}),
    firstx AS (
        SELECT arm, min(rn) AS n_at_decision,
               arg_min(llr, rn) AS llr_at_decision
        FROM crossed GROUP BY arm),
    tot AS (SELECT arm, count(*) AS n_obs FROM obs GROUP BY arm)
    SELECT t.arm AS arm,
           CAST(t.n_obs AS BIGINT) AS n_obs,
           CAST(f.n_at_decision AS BIGINT) AS n_at_decision,
           CAST(f.llr_at_decision AS BIGINT) AS llr_at_decision_q,
           CASE WHEN f.llr_at_decision >= {SPRT_UPPER} THEN 'accept_h1'
                WHEN f.llr_at_decision <= {SPRT_LOWER} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM tot t LEFT JOIN firstx f ON f.arm = t.arm
    ORDER BY arm
    """,
)
def ml_sprt_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test (Wald 1945) per experiment
    arm: replay each arm's Bernoulli outcome stream (order finality, arms
    split by customer-key parity) in arrival order, accumulate the
    log-likelihood ratio, and report WHEN the test first crosses a
    decision boundary and which hypothesis it accepts — the sequential
    (early-stopping) counterpart of agg_ab_ttest's fixed-horizon test;
    this is how an experimentation platform stops an A/B test the moment
    evidence suffices instead of at a preplanned N.

    Determinism: all four log constants are pre-quantized integers
    inlined into BOTH engines (no runtime ln anywhere), so the cumulative
    LLR is an exact integer prefix sum and boundary crossings are integer
    compares; the first crossing index is unique by construction.

    Scale shape: the global per-arm running sum is the textbook
    non-distributable window, computed here as the two-level parallel
    prefix SCAN (the events_late_data_audit pattern, with + instead of
    max): per-(arm, bucket) sums via one hash aggregate, an exclusive
    prefix over the |buckets|-sized table (the only single-partition
    window, bounded by buckets), broadcast back, and a within-bucket
    running sum over bounded {SPRT_BUCKET}-row partitions. One shuffle on
    the bucket key; output is two rows.
    """
    o = load(spark, sf_dir, "orders")
    obs = o.select(
        (F.col("o_custkey") % 2).alias("arm"),
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", SPRT_POS)
        .otherwise(SPRT_NEG)
        .alias("step"),
        F.expr(f"o_orderkey div {SPRT_BUCKET}").alias("b"),
    )
    bagg = obs.groupBy("arm", "b").agg(
        F.sum("step").alias("bsum"), F.count(F.lit(1)).alias("bcnt")
    )
    wpre = W.partitionBy("arm").orderBy("b").rowsBetween(
        W.unboundedPreceding, -1
    )
    bpre = bagg.select(
        "arm",
        "b",
        F.coalesce(F.sum("bsum").over(wpre), F.lit(0)).alias("pre_sum"),
        F.coalesce(F.sum("bcnt").over(wpre), F.lit(0)).alias("pre_cnt"),
    )
    win = (
        W.partitionBy("arm", "b")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = (
        obs.join(F.broadcast(bpre), ["arm", "b"])
        .select(
            "arm",
            (F.col("pre_sum") + F.sum("step").over(win)).alias("llr"),
            (F.col("pre_cnt") + F.count(F.lit(1)).over(
                W.partitionBy("arm", "b")
                .orderBy("o_orderkey")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            )).alias("rn"),
        )
    )
    firstx = (
        cum.filter(
            (F.col("llr") >= SPRT_UPPER) | (F.col("llr") <= SPRT_LOWER)
        )
        .groupBy("arm")
        .agg(
            F.min("rn").alias("n_at_decision"),
            F.min_by("llr", "rn").alias("llr_at_decision"),
        )
    )
    tot = obs.groupBy("arm").agg(F.count(F.lit(1)).alias("n_obs"))
    return (
        tot.join(F.broadcast(firstx), "arm", "left")
        .select(
            "arm",
            F.col("n_obs").cast("long"),
            F.col("n_at_decision").cast("long"),
            F.col("llr_at_decision").cast("long").alias(
                "llr_at_decision_q"
            ),
            F.when(F.col("llr_at_decision") >= SPRT_UPPER, "accept_h1")
            .when(F.col("llr_at_decision") <= SPRT_LOWER, "accept_h0")
            .otherwise("continue")
            .alias("decision"),
        )
        .orderBy("arm")
    )


# --------------------------------------------------------------------------
# agg_cuped
# --------------------------------------------------------------------------

CUPED_SPLIT = "1998-01-01"  # pre-period covariate | post-period outcome

# Pooled regression-adjustment coefficient and its variance-reduction
# share, from exact integer sufficient statistics (cents):
#   theta = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx)      rho2 = theta^2*varx/vary
_CU_THETA = "((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0.0))"
_CU_RHO2 = (
    "((n * sxy - sx * sy) * (n * sxy - sx * sy)"
    " / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0))"
)
# Per-arm adjusted mean: mean_y_a - theta * (mean_x_a - pooled mean_x)
_CU_ADJ = f"(ya / na - {_CU_THETA} * (xa / na - sx / n))"

_CUPED_BASE_SQL = f"""
    base AS (
        SELECT o_custkey % 2 AS arm,
               CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{CUPED_SPLIT}'
                        THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '{CUPED_SPLIT}'
                        THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey, o_custkey % 2),
    pooled AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) / 100.0 AS sx,
               CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / 100.0 AS sy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) / 10000.0 AS sxx,
               CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) / 10000.0 AS sxy,
               CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) / 10000.0 AS syy
        FROM base),
    per_arm AS (
        SELECT arm, CAST(count(*) AS DOUBLE) AS na,
               CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) / 100.0 AS xa,
               CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / 100.0 AS ya
        FROM base GROUP BY arm)
"""


@register(
    "agg_cuped",
    oracle=f"""
    WITH {_CUPED_BASE_SQL}
    SELECT CAST(arm AS BIGINT) AS arm,
           CAST(na AS BIGINT) AS n_users,
           {sql_stable_round4('(ya / na)')} AS mean_y,
           {sql_stable_round4('(xa / na)')} AS mean_x,
           {sql_stable_round4(_CU_THETA)} AS theta,
           {sql_stable_round4(_CU_ADJ)} AS mean_y_cuped,
           {sql_stable_round4(_CU_RHO2)} AS var_reduction
    FROM per_arm CROSS JOIN pooled
    ORDER BY arm
    """,
)
def agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    Walker, WSDM 2013 — the standard sensitivity boost in industrial
    A/B platforms): per-customer PRE-period spend (orders before
    {CUPED_SPLIT}) is the covariate x, POST-period spend the outcome y,
    arms assigned deterministically by customer-key parity. The pooled
    adjustment theta = cov(x,y)/var(x) is estimated once, each arm's
    mean is shifted by -theta*(mean_x_arm - mean_x_pooled), and the
    realized variance reduction is rho^2 — identical arm means move
    closer to truth without touching the unbiased difference.

    Determinism: all six pooled moments are exact HUGEINT/DECIMAL(38)
    sums of per-customer cent totals (products of two < 2^40 cents
    values), unscaled by literal /100, /10000; theta / rho^2 / adjusted
    means are interpolated VERBATIM into both engines and pass through
    stable_round4.

    Scale shape: one customer-keyed aggregate over orders (the shuffle
    carries one row per customer), then a 1-row pooled stats aggregate
    cross-joined to the 2-row per-arm aggregate — the CUPED adjustment
    itself costs nothing beyond the per-user rollup any experiment
    readout already pays.
    """
    o = load(spark, sf_dir, "orders")
    cents = scaled_long(F.col("o_totalprice"), 100)
    split = F.lit(CUPED_SPLIT).cast("timestamp")
    base = (
        o.groupBy((F.col("o_custkey") % 2).alias("arm"), "o_custkey")
        .agg(
            F.sum(
                F.when(F.col("o_orderdate") < split, cents).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(F.col("o_orderdate") >= split, cents).otherwise(0)
            ).alias("y"),
        )
        # pooled moments + per-arm sums both read it: one shuffle, two
        # tiny aggregates over the cached per-customer frame
        .persist()
    )

    def dsum(expr: str, scale: float) -> F.Column:
        return (
            F.sum(F.expr(expr).cast("decimal(38,0)")).cast("double")
            / F.lit(scale)
        )

    pooled = base.agg(
        F.count("*").cast("double").alias("n"),
        dsum("x", 100.0).alias("sx"),
        dsum("y", 100.0).alias("sy"),
        dsum("x * x", 10000.0).alias("sxx"),
        dsum("x * y", 10000.0).alias("sxy"),
        dsum("y * y", 10000.0).alias("syy"),
    )
    per_arm = base.groupBy("arm").agg(
        F.count("*").cast("double").alias("na"),
        dsum("x", 100.0).alias("xa"),
        dsum("y", 100.0).alias("ya"),
    )
    return (
        per_arm.crossJoin(F.broadcast(pooled))
        .selectExpr(
            "CAST(arm AS BIGINT) AS arm",
            "CAST(na AS BIGINT) AS n_users",
            f"CAST({sql_stable_round4('(ya / na)')} AS DOUBLE) AS mean_y",
            f"CAST({sql_stable_round4('(xa / na)')} AS DOUBLE) AS mean_x",
            f"CAST({sql_stable_round4(_CU_THETA)} AS DOUBLE) AS theta",
            f"CAST({sql_stable_round4(_CU_ADJ)} AS DOUBLE) AS mean_y_cuped",
            f"CAST({sql_stable_round4(_CU_RHO2)} AS DOUBLE)"
            " AS var_reduction",
        )
        .orderBy("arm")
    )


# --------------------------------------------------------------------------
# ml_spearman_corr
# --------------------------------------------------------------------------

# Pearson over the doubled mid-ranks (rx2 = 2 * average rank, integer):
# the doubling cancels in the correlation, so rho_s is textbook-exact.
_SP_RHO = (
    "((n * sxy - sx * sy)"
    " / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0))"
)

# value-level mid-rank construction shared by both engines: with cum =
# running count through value v and c = count at v, the doubled average
# rank of the tied block is 2*cum - c + 1.
_SPEARMAN_SQL = """
    joint AS (
        SELECT CAST(round(l_quantity, 0) AS BIGINT) AS q,
               CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
    mq AS (
        SELECT q, 2 * sum(cq) OVER (ORDER BY q) - cq + 1 AS rx2
        FROM (SELECT q, sum(c) AS cq FROM joint GROUP BY q)),
    md AS (
        SELECT d, 2 * sum(cd) OVER (ORDER BY d) - cd + 1 AS ry2
        FROM (SELECT d, sum(c) AS cd FROM joint GROUP BY d)),
    st AS (
        SELECT CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) AS n,
               CAST(sum(CAST(c AS HUGEINT) * rx2) AS DOUBLE) AS sx,
               CAST(sum(CAST(c AS HUGEINT) * ry2) AS DOUBLE) AS sy,
               CAST(sum(CAST(c AS HUGEINT) * rx2 * rx2) AS DOUBLE) AS sxx,
               CAST(sum(CAST(c AS HUGEINT) * rx2 * ry2) AS DOUBLE) AS sxy,
               CAST(sum(CAST(c AS HUGEINT) * ry2 * ry2) AS DOUBLE) AS syy,
               CAST(count(*) AS BIGINT) AS cells
        FROM joint JOIN mq USING (q) JOIN md USING (d))
"""


@register(
    "ml_spearman_corr",
    oracle=f"""
    WITH {_SPEARMAN_SQL}
    SELECT CAST(n AS BIGINT) AS n_rows,
           cells AS n_cells,
           {sql_stable_round4(_SP_RHO)} AS spearman_rho
    FROM st
    """,
)
def ml_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between lineitem quantity and discount
    (Spearman 1904), with the textbook average-rank treatment of ties —
    the monotone-association counterpart of agg_corr_matrix's Pearson
    (rank correlation is what survives heavy-tailed money columns).

    The trick that makes it scale: NO fact row is ever ranked. Both
    columns live on bounded alphabets (50 quantities x 11 discounts),
    so the fact table collapses once into the (q, d) contingency table;
    mid-ranks come from prefix sums over the two marginals (alphabet-
    sized windows) and every Pearson sufficient statistic is a count-
    weighted sum over <= 550 cells. Doubled mid-ranks (2*cum - c + 1)
    are integers, so the sums are exact in DECIMAL(38)/HUGEINT; the
    doubling cancels in the correlation.

    Determinism: exact integer sums -> one rho expression interpolated
    verbatim into both engines; sqrt is IEEE correctly-rounded, so
    sqrt-of-exact-double matches bit-for-bit (agg_corr_matrix
    precedent). stable_round4 on the reported rho.

    Scale shape: one map-side-combined shuffle to the contingency
    table; everything downstream is alphabet-sized. At 100 TB the plan
    cost is exactly one fact scan + one tiny shuffle.
    """
    li = load(spark, sf_dir, "lineitem")
    joint = (
        li.groupBy(
            scaled_long(F.col("l_quantity"), 1).alias("q"),
            scaled_long(F.col("l_discount"), 100).alias("d"),
        )
        .agg(F.count("*").cast("long").alias("c"))
        .persist()  # joint + both marginals read it: one fact shuffle
    )
    mq = (
        joint.groupBy("q")
        .agg(F.sum("c").alias("cq"))
        .select(
            "q",
            (
                2 * F.sum("cq").over(W.orderBy("q"))
                - F.col("cq")
                + 1
            ).alias("rx2"),
        )
    )
    md = (
        joint.groupBy("d")
        .agg(F.sum("c").alias("cd"))
        .select(
            "d",
            (
                2 * F.sum("cd").over(W.orderBy("d"))
                - F.col("cd")
                + 1
            ).alias("ry2"),
        )
    )

    def dsum(expr: str) -> F.Column:
        return F.sum(F.expr(expr).cast("decimal(38,0)")).cast("double")

    st = (
        joint.join(F.broadcast(mq), "q")
        .join(F.broadcast(md), "d")
        .agg(
            dsum("c").alias("n"),
            dsum("c * rx2").alias("sx"),
            dsum("c * ry2").alias("sy"),
            dsum("c * rx2 * rx2").alias("sxx"),
            dsum("c * rx2 * ry2").alias("sxy"),
            dsum("c * ry2 * ry2").alias("syy"),
            F.count("*").cast("long").alias("cells"),
        )
    )
    return st.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        "cells AS n_cells",
        f"CAST({sql_stable_round4(_SP_RHO)} AS DOUBLE) AS spearman_rho",
    )


# --------------------------------------------------------------------------
# ml_mann_whitney_u
# --------------------------------------------------------------------------

# From doubled tie-averaged rank sum r12 = 2*R1: U1 = R1 - n1(n1+1)/2,
# E[U] = n1*n2/2, Var[U] = n1*n2/12 * ((n+1) - T/(n(n-1))) with the tie
# term T = sum(t^3 - t). All inputs exact integers; doubles only in the
# final interpolated expressions.
_MW_U1 = "((r12 - n1 * (n1 + 1)) / 2.0)"
_MW_VAR = (
    "(n1 * n2 / 12.0"
    " * ((n + 1.0) - tie / nullif(n * (n - 1.0), 0.0)))"
)
_MW_Z = f"(({_MW_U1} - n1 * n2 / 2.0) / nullif(sqrt({_MW_VAR}), 0.0))"

_MW_SQL = """
    vl AS (
        SELECT CAST(round(l_quantity, 0) AS BIGINT) AS q,
               CAST(count(*) AS BIGINT) AS c,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1
        FROM lineitem GROUP BY 1),
    rk AS (
        SELECT q, c, c1,
               2 * sum(c) OVER (ORDER BY q) - c + 1 AS r2
        FROM vl),
    st AS (
        SELECT CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) AS n,
               CAST(sum(CAST(c1 AS HUGEINT)) AS DOUBLE) AS n1,
               CAST(sum(CAST(c - c1 AS HUGEINT)) AS DOUBLE) AS n2,
               CAST(sum(CAST(c1 AS HUGEINT) * r2) AS DOUBLE) AS r12,
               CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS DOUBLE) AS tie
        FROM rk)
"""


@register(
    "ml_mann_whitney_u",
    oracle=f"""
    WITH {_MW_SQL}
    SELECT CAST(n1 AS BIGINT) AS n_returned,
           CAST(n2 AS BIGINT) AS n_kept,
           {sql_stable_round4(_MW_U1)} AS u_stat,
           {sql_stable_round4(_MW_Z)} AS z_score
    FROM st
    """,
)
def ml_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: do RETURNED lineitems
    (l_returnflag = 'R') come from a different quantity distribution
    than kept ones? (Mann & Whitney 1947.) The nonparametric sibling of
    agg_ab_ttest — no normality assumption, driven entirely by ranks —
    with the standard tie-averaged ranks and tie-corrected normal
    approximation z.

    Like ml_spearman_corr, NO fact row is ranked: quantity's 50-value
    alphabet means the whole test reduces to the value-level table
    (count + returned-count per value), a prefix sum over 50 ordered
    values for the doubled mid-ranks, and one weighted sum for the
    doubled rank sum r12 = 2*R1. U, E[U] and the tie term
    T = sum(t^3 - t) are then exact integers; z is a single
    interpolated double expression (IEEE sqrt of exact inputs).

    Scale shape: one map-side-combined aggregate to 50 rows; the window
    and final statistics are alphabet-sized. One fact scan, one tiny
    shuffle, regardless of table size.
    """
    li = load(spark, sf_dir, "lineitem")
    vl = li.groupBy(
        scaled_long(F.col("l_quantity"), 1).alias("q")
    ).agg(
        F.count("*").cast("long").alias("c"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        )
        .cast("long")
        .alias("c1"),
    )
    rk = vl.select(
        "c",
        "c1",
        (2 * F.sum("c").over(W.orderBy("q")) - F.col("c") + 1).alias(
            "r2"
        ),
    )

    def dsum(expr: str) -> F.Column:
        return F.sum(F.expr(expr).cast("decimal(38,0)")).cast("double")

    st = rk.agg(
        dsum("c").alias("n"),
        dsum("c1").alias("n1"),
        dsum("c - c1").alias("n2"),
        dsum("c1 * r2").alias("r12"),
        dsum("c * c * c - c").alias("tie"),
    )
    return st.selectExpr(
        "CAST(n1 AS BIGINT) AS n_returned",
        "CAST(n2 AS BIGINT) AS n_kept",
        f"CAST({sql_stable_round4(_MW_U1)} AS DOUBLE) AS u_stat",
        f"CAST({sql_stable_round4(_MW_Z)} AS DOUBLE) AS z_score",
    )


# --------------------------------------------------------------------------
# agg_anova_oneway
# --------------------------------------------------------------------------

ANOVA_MEAN_SCALE = 1_000_000  # group means quantized to 1e-6 cent

# ssb/sst in cents^2 from the quantized group means (t = sum n_g*m_g^2,
# nm2 = n*m^2, both DECIMAL-exact in 1e-12 cent^2):
_AN_SSB = f"((t - nm2) / {float(ANOVA_MEAN_SCALE) ** 2})"
_AN_SST = "(svv - s * s / n)"
_AN_F = (
    f"(CASE WHEN ({_AN_SST} - {_AN_SSB}) > 0 AND n > k AND k > 1"
    f" THEN ({_AN_SSB} / (k - 1.0))"
    f" / (({_AN_SST} - {_AN_SSB}) / (n - k)) ELSE NULL END)"
)
_AN_ETA2 = f"({_AN_SSB} / nullif({_AN_SST}, 0.0))"

_ANOVA_SQL = f"""
    grp AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS HUGEINT) AS sg,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                        * CAST(round(o_totalprice * 100, 0) AS HUGEINT))
                    AS HUGEINT) AS svvg
        FROM orders GROUP BY 1),
    qm AS (
        SELECT ng, svvg, sg,
               (sg * {ANOVA_MEAN_SCALE}) // ng AS mg
        FROM grp),
    st AS (
        SELECT CAST(sum(CAST(ng AS HUGEINT)) AS DOUBLE) AS n,
               CAST(count(*) AS DOUBLE) AS k,
               CAST(sum(sg) AS DOUBLE) / 100.0 AS s_d,
               CAST(sum(sg) AS HUGEINT) AS s_raw,
               CAST(sum(svvg) AS DOUBLE) AS svv,
               CAST(sum(ng * mg * mg) AS DOUBLE) AS t,
               CAST(sum(CAST(ng AS HUGEINT)) AS HUGEINT) AS n_raw
        FROM qm),
    fin AS (
        SELECT n, k, svv, t,
               CAST(s_d * 100.0 AS DOUBLE) AS s,
               CAST((s_raw * {ANOVA_MEAN_SCALE}) // n_raw AS DOUBLE)
                   AS m_q,
               CAST(n AS DOUBLE)
                   * CAST((s_raw * {ANOVA_MEAN_SCALE}) // n_raw AS DOUBLE)
                   * CAST((s_raw * {ANOVA_MEAN_SCALE}) // n_raw AS DOUBLE)
                   AS nm2
        FROM st)
"""


@register(
    "agg_anova_oneway",
    oracle=f"""
    WITH {_ANOVA_SQL}
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(k AS BIGINT) AS n_groups,
           {sql_stable_round4(_AN_F)} AS f_stat,
           {sql_stable_round4(_AN_ETA2)} AS eta_squared
    FROM fin
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five order priorities on order value
    (Fisher 1925): the k-group generalization of agg_ab_ttest. Reports
    the F statistic and eta^2 (the between-group share of variance).

    Determinism is the interesting part: SSB = sum_g n_g*(mean_g -
    mean)^2 naively sums k DOUBLES (one per group) — order-dependent
    across engines. Instead each group mean is quantized by EXACT
    integer division (sg * 1e6) div ng — the quotient fits int64
    because it is mean-sized, not sum-of-squares-sized (Spark's
    DECIMAL `div` returns LONG and silently wraps past 2^63, measured,
    so quantities that grow with SF^2 must never pass through it) —
    and sum_g n_g*m_g^2 accumulates in DECIMAL(38)/HUGEINT, exactly.
    The statistic is then defined on the 1e-6-cent-quantized means,
    identical on both engines; SST comes from exact raw moments.
    stable_round4 on F and eta^2.

    Scale shape: one map-side-combined aggregate to k = 5 rows carrying
    (n_g, sum, sum-of-squares); everything downstream is k-sized. One
    fact scan, one 5-row shuffle at any SF.
    """
    o = load(spark, sf_dir, "orders")
    cents = scaled_long(F.col("o_totalprice"), 100)
    grp = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum(cents.cast("decimal(38,0)")).alias("sg"),
        F.sum(cents.cast("decimal(38,0)") * cents).alias("svvg"),
    )
    qm = grp.select(
        "ng",
        "sg",
        "svvg",
        F.expr(f"(sg * {ANOVA_MEAN_SCALE}) div ng").alias("mg"),
    )
    st = qm.agg(
        F.sum(F.col("ng").cast("decimal(38,0)"))
        .cast("double")
        .alias("n"),
        F.count("*").cast("double").alias("k"),
        F.sum("sg").cast("double").alias("s"),
        F.sum("sg").alias("s_raw"),
        F.sum("svvg").cast("double").alias("svv"),
        F.sum(
            F.col("ng").cast("decimal(38,0)")
            * F.col("mg")
            * F.col("mg")
        )
        .cast("double")
        .alias("t"),
        F.sum(F.col("ng").cast("decimal(38,0)")).alias("n_raw"),
    )
    fin = st.select(
        "n",
        "k",
        "svv",
        "t",
        "s",
        (
            F.col("n")
            * F.expr(
                f"CAST((s_raw * {ANOVA_MEAN_SCALE}) div n_raw AS DOUBLE)"
            )
            * F.expr(
                f"CAST((s_raw * {ANOVA_MEAN_SCALE}) div n_raw AS DOUBLE)"
            )
        ).alias("nm2"),
    )
    return fin.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        "CAST(k AS BIGINT) AS n_groups",
        f"CAST({sql_stable_round4(_AN_F)} AS DOUBLE) AS f_stat",
        f"CAST({sql_stable_round4(_AN_ETA2)} AS DOUBLE) AS eta_squared",
    )


# --------------------------------------------------------------------------
# ml_kendall_tau — Kendall tau-b rank correlation (exact pair counting)
# --------------------------------------------------------------------------

# tau_b = (C - D) / sqrt((n0 - Tx)(n0 - Ty)) with n0 = n(n-1)/2 and tie
# terms Tx = sum t(t-1)/2. Doubling everything keeps integers: with
# nn2 = n(n-1), tx2 = sum t(t-1): tau_b = 2(C-D)/sqrt((nn2-tx2)(nn2-ty2)).
# All inputs exact integers cast to double (< 2^53 at any tested SF);
# the expression is identical IEEE arithmetic text in both engines.
# a fully-tied margin makes the denominator EXACTLY zero (tau
# undefined) — guard or ANSI mode throws on degenerate data:
_KT_TAU = ("(CASE WHEN (nn2 - tx2) * (nn2 - ty2) > 0 THEN (2.0 * (cc - dd)) / sqrt((nn2 - tx2) * (nn2 - ty2)) ELSE NULL END)")


@register(
    "ml_kendall_tau",
    oracle=f"""
    WITH joint AS (
        SELECT CAST(round(l_quantity, 0) AS BIGINT) AS q,
               CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
               CAST(count(*) AS HUGEINT) AS c
        FROM lineitem GROUP BY 1, 2),
    pairs AS (
        SELECT CAST(sum(CASE WHEN a.d < b.d THEN a.c * b.c ELSE 0 END)
                    AS DOUBLE) AS cc,
               CAST(sum(CASE WHEN a.d > b.d THEN a.c * b.c ELSE 0 END)
                    AS DOUBLE) AS dd
        FROM joint a JOIN joint b ON a.q < b.q),
    st AS (
        SELECT CAST(sum(c) AS DOUBLE) AS n,
               CAST(sum(c) * (sum(c) - 1) AS DOUBLE) AS nn2,
               CAST(count(*) AS BIGINT) AS cells
        FROM joint),
    tx AS (SELECT CAST(sum(cq * (cq - 1)) AS DOUBLE) AS tx2
           FROM (SELECT sum(c) AS cq FROM joint GROUP BY q)),
    ty AS (SELECT CAST(sum(cd * (cd - 1)) AS DOUBLE) AS ty2
           FROM (SELECT sum(c) AS cd FROM joint GROUP BY d))
    SELECT CAST(n AS BIGINT) AS n_rows,
           cells AS n_cells,
           CAST(cc AS BIGINT) AS concordant,
           CAST(dd AS BIGINT) AS discordant,
           {sql_stable_round4(_KT_TAU)} AS kendall_tau_b
    FROM pairs CROSS JOIN st CROSS JOIN tx CROSS JOIN ty
    """,
)
def ml_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation (Kendall 1938) between lineitem
    quantity and discount — the pair-counting companion of
    ml_spearman_corr: tau counts concordant minus discordant pairs, so
    it is robust to any monotone transform and has the cleanest
    interpretation of the rank trio (P[concordant] - P[discordant]).
    tau-b's denominator corrects for ties on both margins.

    The trick that makes an O(n^2) pair statistic scale: pairs are
    counted on the (q, d) CONTINGENCY TABLE, never on fact rows — both
    columns live on bounded alphabets (50 quantities x 11 discounts),
    so C and D are count-weighted sums over <= 550x550 cell pairs and
    the tie terms come from the two marginals. One fact-table shuffle,
    then alphabet-sized work, at any SF.

    Determinism: C, D, n(n-1), and the doubled tie terms are exact
    integers (HUGEINT/DECIMAL) cast once to double (< 2^53 at tested
    SFs); the tau expression is interpolated verbatim into both
    engines; sqrt is IEEE correctly-rounded (agg_corr_matrix
    precedent); stable_round4 on the reported tau.
    """
    li = load(spark, sf_dir, "lineitem")
    joint = (
        li.groupBy(
            scaled_long(F.col("l_quantity"), 1).alias("q"),
            scaled_long(F.col("l_discount"), 100).alias("d"),
        )
        .agg(F.count("*").cast("decimal(38,0)").alias("c"))
        .persist()  # pairs + marginals + totals: one fact shuffle
    )
    a = joint.select(
        F.col("q").alias("qa"), F.col("d").alias("da"), F.col("c").alias("ca")
    )
    b = joint.select(
        F.col("q").alias("qb"), F.col("d").alias("db"), F.col("c").alias("cb")
    )
    pairs = (
        a.join(F.broadcast(b), F.col("qa") < F.col("qb"))
        .agg(
            F.sum(
                F.when(F.col("da") < F.col("db"), F.col("ca") * F.col("cb"))
                .otherwise(F.lit(0).cast("decimal(38,0)"))
            )
            .cast("double")
            .alias("cc"),
            F.sum(
                F.when(F.col("da") > F.col("db"), F.col("ca") * F.col("cb"))
                .otherwise(F.lit(0).cast("decimal(38,0)"))
            )
            .cast("double")
            .alias("dd"),
        )
    )
    st = joint.agg(
        F.sum("c").cast("double").alias("n"),
        (F.sum("c") * (F.sum("c") - F.lit(1).cast("decimal(38,0)")))
        .cast("double")
        .alias("nn2"),
        F.count("*").cast("long").alias("cells"),
    )
    tx = (
        joint.groupBy("q")
        .agg(F.sum("c").alias("cq"))
        .agg(
            F.sum(
                F.col("cq") * (F.col("cq") - F.lit(1).cast("decimal(38,0)"))
            )
            .cast("double")
            .alias("tx2")
        )
    )
    ty = (
        joint.groupBy("d")
        .agg(F.sum("c").alias("cd"))
        .agg(
            F.sum(
                F.col("cd") * (F.col("cd") - F.lit(1).cast("decimal(38,0)"))
            )
            .cast("double")
            .alias("ty2")
        )
    )
    return (
        pairs.crossJoin(F.broadcast(st))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .selectExpr(
            "CAST(n AS BIGINT) AS n_rows",
            "cells AS n_cells",
            "CAST(cc AS BIGINT) AS concordant",
            "CAST(dd AS BIGINT) AS discordant",
            f"CAST({sql_stable_round4(_KT_TAU)} AS DOUBLE) AS kendall_tau_b",
        )
    )


# --------------------------------------------------------------------------
# ml_two_proportion_ztest — pooled two-proportion z (conversion compare)
# --------------------------------------------------------------------------

_ZP_P1, _ZP_P2 = "(x1 / nullif(n1, 0.0))", "(x2 / nullif(n2, 0.0))"
_ZP_POOL = "((x1 + x2) / nullif(n1 + n2, 0.0))"
_ZP_Z = (
    f"(({_ZP_P1} - {_ZP_P2})"
    f" / nullif(sqrt({_ZP_POOL} * (1.0 - {_ZP_POOL})"
    f" * (1.0 / nullif(n1, 0.0) + 1.0 / nullif(n2, 0.0))), 0.0))"
)


@register(
    "ml_two_proportion_ztest",
    oracle=f"""
    WITH st AS (
        SELECT
            CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
            CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                          AND o_orderstatus = 'F'
                     THEN 1 ELSE 0 END) AS DOUBLE) AS x1,
            CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                     THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
            CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                          AND o_orderstatus = 'F'
                     THEN 1 ELSE 0 END) AS DOUBLE) AS x2
        FROM orders)
    SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(x1 AS BIGINT) AS f_urgent,
           CAST(n2 AS BIGINT) AS n_low, CAST(x2 AS BIGINT) AS f_low,
           {sql_stable_round4(_ZP_P1)} AS p_urgent,
           {sql_stable_round4(_ZP_P2)} AS p_low,
           {sql_stable_round4(_ZP_Z)} AS z_stat
    FROM st
    """,
)
def ml_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test: is the order-finality RATE different
    between urgent and low-priority orders? The binary-outcome member of
    the experimentation kit — agg_ab_ttest compares means, ml_sprt_ab
    sequences, chi2 tests the whole table; this is the two-arm
    conversion-rate test an A/B readout actually quotes.

    Determinism: the four sufficient statistics are exact integer counts
    from ONE conditional aggregate over one scan; p1, p2, the pooled
    rate, and z are interpolated expression text over their exact-double
    casts, sqrt IEEE-exact, stable_round4 on every rational.

    Scale shape: a single map-side-combined scalar aggregate — no
    shuffle wider than one row at any SF.
    """
    o = load(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    low = F.col("o_orderpriority") == "5-LOW"
    fin = F.col("o_orderstatus") == "F"
    st = o.agg(
        F.sum(F.when(urgent, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(urgent & fin, 1).otherwise(0))
        .cast("double")
        .alias("x1"),
        F.sum(F.when(low, 1).otherwise(0)).cast("double").alias("n2"),
        F.sum(F.when(low & fin, 1).otherwise(0))
        .cast("double")
        .alias("x2"),
    )
    return st.selectExpr(
        "CAST(n1 AS BIGINT) AS n_urgent",
        "CAST(x1 AS BIGINT) AS f_urgent",
        "CAST(n2 AS BIGINT) AS n_low",
        "CAST(x2 AS BIGINT) AS f_low",
        f"CAST({sql_stable_round4(_ZP_P1)} AS DOUBLE) AS p_urgent",
        f"CAST({sql_stable_round4(_ZP_P2)} AS DOUBLE) AS p_low",
        f"CAST({sql_stable_round4(_ZP_Z)} AS DOUBLE) AS z_stat",
    )


# --------------------------------------------------------------------------
# ml_mcnemar_test — paired comparison of the two lang classifiers
# --------------------------------------------------------------------------

# continuity-corrected McNemar chi2 over the discordant counts: only the
# documents where the classifiers DISAGREE about being right carry
# information about which one is better.
_MC_CHI2 = (
    "(CASE WHEN b + c = 0 THEN 0.0"
    " ELSE (abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c) END)"
)


@register(
    "ml_mcnemar_test",
    oracle=f"""
    WITH {NB_PRED_SQL},
    ms AS (
        SELECT doc_id, lang,
               {_marker_count_sql(LANG_MARKERS['en'])} AS c_en,
               {_marker_count_sql(LANG_MARKERS['de'])} AS c_de,
               {_marker_count_sql(LANG_MARKERS['fr'])} AS c_fr,
               {_marker_count_sql(LANG_MARKERS['es'])} AS c_es
        FROM documents),
    mpred AS (
        SELECT doc_id,
               CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es
                         AND c_en > 0 THEN 'en'
                    WHEN c_de >= c_fr AND c_de >= c_es AND c_de > 0
                         THEN 'de'
                    WHEN c_fr >= c_es AND c_fr > 0 THEN 'fr'
                    WHEN c_es > 0 THEN 'es'
                    ELSE 'und' END AS marker_pred,
               lang
        FROM ms),
    paired AS (
        SELECT CASE WHEN nbp.lang_pred = nbp.lang_true
                    THEN 1 ELSE 0 END AS nb_ok,
               CASE WHEN mpred.marker_pred = mpred.lang
                    THEN 1 ELSE 0 END AS mk_ok
        FROM nbp JOIN mpred ON nbp.doc_id = mpred.doc_id),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(nb_ok * mk_ok) AS BIGINT) AS both_ok,
               CAST(sum(nb_ok * (1 - mk_ok)) AS DOUBLE) AS b,
               CAST(sum((1 - nb_ok) * mk_ok) AS DOUBLE) AS c,
               CAST(sum((1 - nb_ok) * (1 - mk_ok)) AS BIGINT) AS both_bad
        FROM paired)
    SELECT n AS n_docs, both_ok AS both_correct,
           CAST(b AS BIGINT) AS only_nb_correct,
           CAST(c AS BIGINT) AS only_marker_correct,
           both_bad AS both_wrong,
           {sql_stable_round4(_MC_CHI2)} AS mcnemar_chi2
    FROM st
    """,
)
def ml_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test (McNemar 1947) between the repo's TWO
    language classifiers — the learned naive-Bayes (nb_doc_pred) and the
    marker-stopword heuristic (text_lang_id's rule) — on the same
    documents: the discordant counts b (only NB right) and c (only the
    heuristic right) are the ONLY evidence about which classifier is
    better, and the continuity-corrected chi2 (|b-c|-1)^2/(b+c) is the
    significance of that difference. The model-selection test an eval
    harness runs before swapping classifiers in a curation pipeline —
    and the op that pins BOTH registered classifiers end to end in one
    hash.

    Determinism: both predictions are the registered deterministic ones
    (quantized-log argmax with tie-break; integer marker argmax with
    fixed priority); the 2x2 paired table is exact integer counts from
    one join + one conditional aggregate; chi2 is one division of exact
    doubles with an explicit b+c=0 guard, stable_round4.

    Scale shape: NB scoring is the token equi-join shape of
    ml_naive_bayes_lang; the heuristic is a shuffle-free per-doc map;
    the paired join keys on doc_id. Nothing wider than (docs x langs)
    ever shuffles.
    """
    nbp = nb_doc_pred(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    # Layered projections (round-10 optimization): higher-order-function
    # bodies run interpreted, so a single select inlines the tokenize
    # regex into every filter lambda AND every when-branch reference —
    # ~14 regexp_extract_all evaluations per row. Materializing toks,
    # then the four counts, as separate Projects (CollapseProject keeps
    # non-cheap producers with >1 consumer un-inlined) evaluates the
    # regex once and each marker filter once. Same expressions, same
    # values — oracle unchanged.
    mt = d.select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
    mc = mt.select(
        "doc_id",
        "lang",
        *[
            F.size(F.filter(F.col("toks"), lambda x: x.isin(*ws))).alias(
                f"c_{lang}"
            )
            for lang, ws in LANG_MARKERS.items()
        ],
    )
    c_en, c_de, c_fr, c_es = (
        F.col("c_en"),
        F.col("c_de"),
        F.col("c_fr"),
        F.col("c_es"),
    )
    marker = (
        F.when(
            (c_en >= c_de) & (c_en >= c_fr) & (c_en >= c_es) & (c_en > 0),
            "en",
        )
        .when((c_de >= c_fr) & (c_de >= c_es) & (c_de > 0), "de")
        .when((c_fr >= c_es) & (c_fr > 0), "fr")
        .when(c_es > 0, "es")
        .otherwise("und")
    )
    mpred = mc.select("doc_id", "lang", marker.alias("marker_pred"))
    paired = nbp.join(mpred, "doc_id").select(
        F.when(F.col("lang_pred") == F.col("lang_true"), 1)
        .otherwise(0)
        .alias("nb_ok"),
        F.when(F.col("marker_pred") == F.col("lang"), 1)
        .otherwise(0)
        .alias("mk_ok"),
    )
    st = paired.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("nb_ok") * F.col("mk_ok")).cast("long").alias("both_ok"),
        F.sum(F.col("nb_ok") * (1 - F.col("mk_ok")))
        .cast("double")
        .alias("b"),
        F.sum((1 - F.col("nb_ok")) * F.col("mk_ok"))
        .cast("double")
        .alias("c"),
        F.sum((1 - F.col("nb_ok")) * (1 - F.col("mk_ok")))
        .cast("long")
        .alias("both_bad"),
    )
    return st.selectExpr(
        "n AS n_docs",
        "both_ok AS both_correct",
        "CAST(b AS BIGINT) AS only_nb_correct",
        "CAST(c AS BIGINT) AS only_marker_correct",
        "both_bad AS both_wrong",
        f"CAST({sql_stable_round4(_MC_CHI2)} AS DOUBLE) AS mcnemar_chi2",
    )


# --------------------------------------------------------------------------
# events_logrank_test — two-arm log-rank test over the KM risk sets
# --------------------------------------------------------------------------

# Round-10 overflow sweep: was 1e12, which ceilinged the quantized
# per-time expectation (<= risk-set size * SCALE) at ~9.2e6 — near
# fixture scale. 1e6 buys ~9.2e12 risk-set headroom; the 1e-6 quantum
# stays two orders below the 4-decimal chi2 output rounding.
LR_SCALE = 1_000_000  # per-time E/V terms quantized at 1e-6
LR_CENSOR_GAP_S = 7 * 86400  # same censoring rule as events_kaplan_meier

# per-event-time expectation and variance terms (Mantel 1966), each ONE
# division of exact integers, quantized BEFORE the time sum. dt*n1
# widens through DECIMAL(19,0) (p1+p2 <= 38, the DuckDB bind cap):
# the LONG product wraps at ~3e9 deaths x risk-set rows, silently in
# Spark, as an ERROR in DuckDB; the decimal product converts to DOUBLE
# with the identical single rounding.
_LR_E1 = (
    f"CAST(floor({LR_SCALE}.0 *"
    " (CAST(CAST(dt AS DECIMAL(19,0)) * n1 AS DOUBLE) / nt))"
    " AS BIGINT)"
)
_LR_V = (
    f"CAST(floor({LR_SCALE}.0 *"
    " (CAST(CAST(dt AS DECIMAL(19,0)) * n1 AS DOUBLE) * n2 * (nt - dt)"
    " / (CAST(nt AS DOUBLE) * nt * (nt - 1.0)))) AS BIGINT)"
)
_LR_CHI2 = (
    f"(CASE WHEN sv > 0 THEN (o1 - se / {LR_SCALE}.0)"
    f" * (o1 - se / {LR_SCALE}.0) / (sv / {LR_SCALE}.0)"
    " ELSE NULL END)"
)


@register(
    "events_logrank_test",
    oracle=f"""
    WITH bounds AS (SELECT max(ts) AS mx FROM events),
    u AS (
        SELECT user_id,
               CAST(('0x' || substr(md5('lr-' || CAST(user_id AS VARCHAR)),
                     1, 8)) AS BIGINT) % 2 AS grp,
               CAST(floor((epoch(max(ts)) - epoch(min(ts))) / 86400.0)
                    AS BIGINT) AS dur_days,
               epoch(max(b.mx)) - epoch(max(ts)) > {LR_CENSOR_GAP_S}
                   AS churned
        FROM events CROSS JOIN bounds b
        GROUP BY user_id),
    t AS (SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS t1,
                 CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS t2
          FROM u),
    d AS (
        SELECT dur_days,
               CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS end1,
               CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS end2,
               CAST(sum(CASE WHEN grp = 0 AND churned THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1,
               CAST(sum(CASE WHEN grp = 1 AND churned THEN 1 ELSE 0 END)
                    AS BIGINT) AS d2
        FROM u GROUP BY dur_days),
    r AS (
        SELECT dur_days, d1, d2,
               t.t1 - coalesce(sum(end1) OVER (
                   ORDER BY dur_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n1,
               t.t2 - coalesce(sum(end2) OVER (
                   ORDER BY dur_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n2
        FROM d CROSS JOIN t),
    terms AS (
        SELECT d1, d1 + d2 AS dt, n1, n2, n1 + n2 AS nt
        FROM r WHERE d1 + d2 > 0 AND n1 + n2 >= 2),
    s AS (
        SELECT CAST(sum(d1) AS DOUBLE) AS o1,
               CAST(sum({_LR_E1}) AS DOUBLE) AS se,
               CAST(sum({_LR_V}) AS DOUBLE) AS sv,
               CAST(count(*) AS BIGINT) AS n_times
        FROM terms)
    SELECT t1 AS n_users_a, t2 AS n_users_b, n_times,
           CAST(o1 AS BIGINT) AS observed_a,
           {sql_stable_round4(f'(se / {LR_SCALE}.0)')} AS expected_a,
           {sql_stable_round4(_LR_CHI2)} AS logrank_chi2
    FROM s CROSS JOIN t
    """,
)
def events_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm log-rank test (Mantel 1966) over the Kaplan-Meier risk
    sets: users are split into deterministic A/B arms (salted md5
    parity — the house rand() substitute), and at every churn time the
    observed arm-A churn is compared to its hypergeometric expectation
    given the joint risk set. THE test that goes with a survival curve:
    events_kaplan_meier draws the curve, this says whether two cohorts'
    curves differ (chi2 ~ X2(1) under the null — and under this null
    split it should be small, the negative-control reading).

    Determinism: lifetimes, censoring, risk sets, and churn counts are
    the KM op's exact integers (same censor rule, same
    strictly-preceding cumulative risk-set construction, no self-join);
    each time's E and V terms are ONE division of exact integers
    quantized at 1e-6 BEFORE the time sum; chi2 is expression text
    with an explicit zero-variance guard.

    Scale shape: one user-keyed aggregate over the corpus, then
    everything runs on the |distinct lifetimes|-bounded curve table
    (single-partition windows over that tiny frame only).
    """
    e = load(spark, sf_dir, "events")
    bounds = e.agg(F.max("ts").alias("mx"))
    u = (
        e.join(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.floor(
                (
                    F.max(F.col("ts").cast("double"))
                    - F.min(F.col("ts").cast("double"))
                )
                / 86400.0
            )
            .cast("long")
            .alias("dur_days"),
            (
                F.max(F.col("mx").cast("double"))
                - F.max(F.col("ts").cast("double"))
                > LR_CENSOR_GAP_S
            ).alias("churned"),
        )
        .withColumn(
            "grp",
            hash_bucket(
                F.concat(F.lit("lr-"), F.col("user_id").cast("string")), 2
            ),
        )
    )
    t = u.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("t1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("t2"),
    )
    d = u.groupBy("dur_days").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("end1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("end2"),
        F.sum(F.when((F.col("grp") == 0) & F.col("churned"), 1).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when((F.col("grp") == 1) & F.col("churned"), 1).otherwise(0))
        .cast("long")
        .alias("d2"),
    )
    wprev = W.orderBy("dur_days").rowsBetween(W.unboundedPreceding, -1)
    r = d.crossJoin(F.broadcast(t)).select(
        "d1",
        "d2",
        (
            F.col("t1")
            - F.coalesce(F.sum("end1").over(wprev), F.lit(0))
        ).alias("n1"),
        (
            F.col("t2")
            - F.coalesce(F.sum("end2").over(wprev), F.lit(0))
        ).alias("n2"),
    )
    terms = r.filter(
        ((F.col("d1") + F.col("d2")) > 0)
        & ((F.col("n1") + F.col("n2")) >= 2)
    ).select(
        "d1",
        (F.col("d1") + F.col("d2")).alias("dt"),
        "n1",
        "n2",
        (F.col("n1") + F.col("n2")).alias("nt"),
    )
    s = terms.agg(
        F.sum("d1").cast("double").alias("o1"),
        F.sum(F.expr(_LR_E1)).cast("double").alias("se"),
        F.sum(F.expr(_LR_V)).cast("double").alias("sv"),
        F.count("*").cast("long").alias("n_times"),
    )
    return s.crossJoin(F.broadcast(t)).selectExpr(
        "t1 AS n_users_a",
        "t2 AS n_users_b",
        "n_times",
        "CAST(o1 AS BIGINT) AS observed_a",
        f"CAST({sql_stable_round4(f'(se / {LR_SCALE}.0)')} AS DOUBLE)"
        " AS expected_a",
        f"CAST({sql_stable_round4(_LR_CHI2)} AS DOUBLE) AS logrank_chi2",
    )


# --------------------------------------------------------------------------
# ml_cmh_test — Cochran-Mantel-Haenszel stratified association test
# --------------------------------------------------------------------------

# Round-10 overflow sweep: was 1e12 (quantized per-stratum expectation
# ceilinged at ~9.2e6 rows per stratum); 1e6 buys ~9.2e12. Same change
# and rationale as LR_SCALE above.
CMH_SCALE = 1_000_000

# per-stratum expectation and variance of the (urgent, finalized) cell
# under the stratum margins, quantized before the stratum sum. mt*n1
# widens through DECIMAL(19,0) — the LONG margin product wraps at ~3e9
# rows per margin (see _LR_E1).
_CMH_E = (
    f"CAST(floor({CMH_SCALE}.0 *"
    " (CAST(CAST(mt AS DECIMAL(19,0)) * n1 AS DOUBLE) / nt))"
    " AS BIGINT)"
)
_CMH_V = (
    f"CAST(floor({CMH_SCALE}.0 *"
    " (CAST(CAST(mt AS DECIMAL(19,0)) * n1 AS DOUBLE) * n2 * (nt - mt)"
    " / (CAST(nt AS DOUBLE) * nt * (nt - 1.0)))) AS BIGINT)"
)
_CMH_CHI2 = (
    f"(CASE WHEN sv > 0 THEN (o - se / {CMH_SCALE}.0)"
    f" * (o - se / {CMH_SCALE}.0) / (sv / {CMH_SCALE}.0)"
    " ELSE NULL END)"
)


@register(
    "ml_cmh_test",
    oracle=f"""
    WITH s2 AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS stratum,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS urgent,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS fin
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
    strata AS (
        SELECT stratum,
               CAST(sum(urgent) AS BIGINT) AS n1,
               CAST(sum(1 - urgent) AS BIGINT) AS n2,
               CAST(sum(urgent * fin) AS BIGINT) AS x1,
               CAST(sum(fin) AS BIGINT) AS mt,
               CAST(count(*) AS BIGINT) AS nt
        FROM s2 GROUP BY 1),
    ok AS (SELECT * FROM strata WHERE nt >= 2 AND n1 > 0 AND n2 > 0),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(x1) AS DOUBLE) AS o,
               CAST(sum({_CMH_E}) AS DOUBLE) AS se,
               CAST(sum({_CMH_V}) AS DOUBLE) AS sv
        FROM ok)
    SELECT n_strata,
           CAST(o AS BIGINT) AS observed_urgent_final,
           {sql_stable_round4(f'(se / {CMH_SCALE}.0)')}
               AS expected_urgent_final,
           {sql_stable_round4(_CMH_CHI2)} AS cmh_chi2
    FROM s
    """,
)
def ml_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test (1959) of the urgency-finality
    association STRATIFIED by order year: each year contributes its own
    2x2 table and the test pools the per-stratum (observed - expected)
    of the urgent-and-finalized cell — the Simpson's-paradox-proof
    version of ml_two_proportion_ztest (a marginal association can
    appear or vanish when a confounder like time is controlled; CMH
    answers "does the effect hold WITHIN every year").

    Determinism: the per-stratum margins are exact integer counts from
    one conditional aggregate; each stratum's hypergeometric E and V
    are one division of exact integers quantized at 1e-6 BEFORE the
    stratum sum (the log-rank discipline — CMH and log-rank are the
    same Mantel machinery over different slicings); chi2 is expression
    text with a zero-variance guard. Degenerate strata (single-arm or
    n<2) are excluded identically in both engines.

    Scale shape: one scan, one map-side-combined aggregate to the
    |years|-row strata table, scalar algebra after.
    """
    o = load(spark, sf_dir, "orders")
    s2 = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.year("o_orderdate").cast("long").alias("stratum"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("urgent"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("fin"),
    )
    strata = s2.groupBy("stratum").agg(
        F.sum("urgent").cast("long").alias("n1"),
        F.sum(1 - F.col("urgent")).cast("long").alias("n2"),
        F.sum(F.col("urgent") * F.col("fin")).cast("long").alias("x1"),
        F.sum("fin").cast("long").alias("mt"),
        F.count("*").cast("long").alias("nt"),
    )
    ok = strata.filter(
        (F.col("nt") >= 2) & (F.col("n1") > 0) & (F.col("n2") > 0)
    )
    s = ok.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("x1").cast("double").alias("o"),
        F.sum(F.expr(_CMH_E)).cast("double").alias("se"),
        F.sum(F.expr(_CMH_V)).cast("double").alias("sv"),
    )
    return s.selectExpr(
        "n_strata",
        "CAST(o AS BIGINT) AS observed_urgent_final",
        f"CAST({sql_stable_round4(f'(se / {CMH_SCALE}.0)')} AS DOUBLE)"
        " AS expected_urgent_final",
        f"CAST({sql_stable_round4(_CMH_CHI2)} AS DOUBLE) AS cmh_chi2",
    )


# --------------------------------------------------------------------------
# agg_delta_method_ratio
# --------------------------------------------------------------------------

# Ratio-metric readout R = sum(y)/sum(n) over USERS (not events), with the
# delta-method standard error that accounts for the user-level clustering
# (Deng, Knoblich & Lu, KDD 2018 — the correct SE for per-user ratio
# metrics in A/B platforms; the naive per-event SE is anti-conservative).
# All from six exact per-arm sums: k users, Sy, Sn, Syy, Snn, Syn.
#   R        = Sy / Sn
#   var_y    = (k*Syy - Sy^2) / (k*(k-1))      (sample, per user)
#   var_n    = (k*Snn - Sn^2) / (k*(k-1))
#   cov_yn   = (k*Syn - Sy*Sn) / (k*(k-1))
#   Var(R)   = (var_y - 2R cov + R^2 var_n) / (k * nbar^2),  nbar = Sn/k
_DM_R = "(sy / nullif(sn, 0.0))"
_DM_VY = "((k * syy - sy * sy) / nullif(k * (k - 1.0), 0.0))"
_DM_VN = "((k * snn - sn * sn) / nullif(k * (k - 1.0), 0.0))"
_DM_CV = "((k * syn - sy * sn) / nullif(k * (k - 1.0), 0.0))"
_DM_VAR = (
    f"(({_DM_VY} - 2.0 * {_DM_R} * {_DM_CV}"
    f" + {_DM_R} * {_DM_R} * {_DM_VN})"
    f" / nullif(k * (sn / k) * (sn / k), 0.0))"
)
_DM_SE = f"sqrt(nullif(greatest({_DM_VAR}, 0.0), 0.0))"


@register(
    "agg_delta_method_ratio",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id % 2 AS arm,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS y,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id, user_id % 2),
    arms AS (
        SELECT arm,
               CAST(count(*) AS DOUBLE) AS k,
               CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) / 100.0 AS sy,
               CAST(sum(CAST(n AS HUGEINT)) AS DOUBLE) AS sn,
               CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) / 10000.0
                   AS syy,
               CAST(sum(CAST(n AS HUGEINT) * n) AS DOUBLE) AS snn,
               CAST(sum(CAST(y AS HUGEINT) * n) AS DOUBLE) / 100.0 AS syn
        FROM per_user GROUP BY arm)
    SELECT CAST(arm AS BIGINT) AS arm,
           CAST(k AS BIGINT) AS n_users,
           CAST(sn AS BIGINT) AS n_events,
           {sql_stable_round4(_DM_R)} AS ratio,
           {sql_stable_round4(_DM_SE)} AS se_delta,
           {sql_stable_round4(f'({_DM_R} - 1.96 * {_DM_SE})')} AS ci_lo,
           {sql_stable_round4(f'({_DM_R} + 1.96 * {_DM_SE})')} AS ci_hi
    FROM arms
    """,
)
def agg_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method ratio-metric readout (value per event, randomized per
    USER): the experimentation-kit member for metrics whose numerator and
    denominator are both per-user sums — revenue per session, clicks per
    view. The naive SE treats events as iid and is anti-conservative
    under user clustering; the delta method Taylor-expands
    R = sum(y)/sum(n) around the user-level means and uses the user-level
    (co)variances instead (Deng, Knoblich & Lu, KDD 2018).

    Determinism: per-user y is an exact BIGINT cent sum; the six per-arm
    sufficient statistics are exact DECIMAL(38)/HUGEINT sums descaled by
    literal powers of 100; R / SE / CI expressions are interpolated
    VERBATIM into both engines and pass through stable_round4;
    zero-variance and single-user arms NULL-propagate via nullif instead
    of dividing by zero.

    Scale: one user-keyed partial agg over events (shuffle carries one
    row per user), then a 2-row arm rollup. The delta correction adds
    three extra sum columns to an aggregate the readout already runs.
    """
    e = load(spark, sf_dir, "events")
    cents = scaled_long(F.col("value"), 100)
    per_user = e.groupBy(
        (F.col("user_id") % 2).alias("arm"), "user_id"
    ).agg(
        F.sum(cents).alias("y"),
        F.count(F.lit(1)).alias("n"),
    )

    def dsum(expr: str, scale: float) -> F.Column:
        col = F.sum(F.expr(expr).cast("decimal(38,0)")).cast("double")
        return col / F.lit(scale) if scale != 1.0 else col

    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("double").alias("k"),
        dsum("y", 100.0).alias("sy"),
        dsum("n", 1.0).alias("sn"),
        dsum("y * y", 10000.0).alias("syy"),
        dsum("n * n", 1.0).alias("snn"),
        dsum("y * n", 100.0).alias("syn"),
    )
    return arms.selectExpr(
        "CAST(arm AS BIGINT) AS arm",
        "CAST(k AS BIGINT) AS n_users",
        "CAST(sn AS BIGINT) AS n_events",
        f"CAST({sql_stable_round4(_DM_R)} AS DOUBLE) AS ratio",
        f"CAST({sql_stable_round4(_DM_SE)} AS DOUBLE) AS se_delta",
        f"CAST({sql_stable_round4(f'({_DM_R} - 1.96 * {_DM_SE})')} "
        "AS DOUBLE) AS ci_lo",
        f"CAST({sql_stable_round4(f'({_DM_R} + 1.96 * {_DM_SE})')} "
        "AS DOUBLE) AS ci_hi",
    )


# --------------------------------------------------------------------------
# agg_paired_ttest — pre/post paired t on per-customer spend
# --------------------------------------------------------------------------

PT_SPLIT = "1998-01-01"

#   t = mean(d) / sqrt(var(d) / k),  d = post - pre cents per customer
_PT_MEAN = "(sd / k / 100.0)"
_PT_VAR = "((k * sdd - sd * sd) / nullif(k * (k - 1.0), 0.0) / 10000.0)"
_PT_T = (
    f"(({_PT_MEAN}) / sqrt(nullif(greatest({_PT_VAR}, 0.0), 0.0) / k))"
)


@register(
    "agg_paired_ttest",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '{PT_SPLIT}'
                        THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                        ELSE 0 END)
                  - sum(CASE WHEN o_orderdate < TIMESTAMP '{PT_SPLIT}'
                        THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS dd
        FROM orders GROUP BY o_custkey),
    agg AS (
        SELECT CAST(count(*) AS DOUBLE) AS k,
               CAST(sum(CAST(dd AS HUGEINT)) AS DOUBLE) AS sd,
               CAST(sum(CAST(dd AS HUGEINT) * dd) AS DOUBLE) AS sdd
        FROM per_cust)
    SELECT CAST(k AS BIGINT) AS n_customers,
           {sql_stable_round4(_PT_MEAN)} AS mean_diff,
           {sql_stable_round4(_PT_T)} AS t_stat
    FROM agg
    """,
)
def agg_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired (dependent-samples) t-test of post-vs-pre spend per
    customer around {PT_SPLIT} — each customer is their own control, the
    design agg_cuped approximates when no clean pairing exists; together
    with the unpaired agg_ab_ttest and the rank-based alternatives this
    completes the location-test kit. d = post - pre in exact cents per
    customer; customers with orders on only one side contribute their
    one-sided total (a zero on the missing side), the standard intent-
    to-treat convention.

    Determinism: per-customer differences are exact BIGINT cent sums;
    k/Sd/Sdd are HUGEINT/DECIMAL(38) reductions descaled by literal
    powers of 100; mean/t pass through shared verbatim expressions with
    nullif-guarded k<=1 and zero-variance cases.

    Scale: one customer-keyed partial agg, one 1-row reduction —
    experiment readout at the cost of the rollup it needs anyway.
    """
    o = load(spark, sf_dir, "orders")
    cents = scaled_long(F.col("o_totalprice"), 100)
    split = F.lit(PT_SPLIT).cast("timestamp")
    per_cust = o.groupBy("o_custkey").agg(
        (
            F.sum(
                F.when(F.col("o_orderdate") >= split, cents).otherwise(0)
            )
            - F.sum(
                F.when(F.col("o_orderdate") < split, cents).otherwise(0)
            )
        )
        .cast("long")
        .alias("dd")
    )
    agg = per_cust.agg(
        F.count("*").cast("double").alias("k"),
        F.sum(F.expr("dd").cast("decimal(38,0)"))
        .cast("double")
        .alias("sd"),
        F.sum(F.expr("dd * dd").cast("decimal(38,0)"))
        .cast("double")
        .alias("sdd"),
    )
    return agg.selectExpr(
        "CAST(k AS BIGINT) AS n_customers",
        f"CAST({sql_stable_round4(_PT_MEAN)} AS DOUBLE) AS mean_diff",
        f"CAST({sql_stable_round4(_PT_T)} AS DOUBLE) AS t_stat",
    )


# --------------------------------------------------------------------------
# ml_power_analysis — two-proportion sample-size calculator (A/B design)
# --------------------------------------------------------------------------

PWR_MDE = 0.02            # minimum detectable effect, absolute
PWR_Z_ALPHA = 1.959963985  # z_{0.975}: two-sided alpha = 0.05
PWR_Z_BETA = 0.8416212336  # z_{0.80}: power = 80%

_PWR_P2 = f"(p1 + {PWR_MDE})"
_PWR_N = (
    f"ceil(pow({PWR_Z_ALPHA} * sqrt(2.0 * ((p1 + {_PWR_P2}) / 2.0)"
    f" * (1.0 - (p1 + {_PWR_P2}) / 2.0))"
    f" + {PWR_Z_BETA} * sqrt(p1 * (1.0 - p1)"
    f" + {_PWR_P2} * (1.0 - {_PWR_P2})), 2)"
    f" / ({PWR_MDE} * {PWR_MDE}))"
)


@register(
    "ml_power_analysis",
    oracle=f"""
    WITH st AS (
        SELECT
            CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
            CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                          AND o_orderstatus = 'F'
                     THEN 1 ELSE 0 END) AS DOUBLE) AS x1
        FROM orders),
    base AS (SELECT n1, x1, x1 / nullif(n1, 0.0) AS p1 FROM st)
    SELECT CAST(n1 AS BIGINT) AS current_n,
           {sql_stable_round4('p1')} AS p_base,
           {sql_stable_round4(_PWR_P2)} AS p_alt,
           CAST({_PWR_N} AS BIGINT) AS n_per_arm,
           CAST(2 * {_PWR_N} AS BIGINT) AS total_n,
           n1 >= {_PWR_N} AS powered
    FROM base
    """,
)
def ml_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion SAMPLE-SIZE calculator — the design-side member of
    the experimentation kit (the others read out a finished test; this
    one answers "how many units do we need" BEFORE the test): per-arm
    n = (z_a*sqrt(2*pbar*qbar) + z_b*sqrt(p1q1 + p2q2))^2 / MDE^2 for the
    fixture's urgent-order finality rate as baseline, an absolute
    {PWR_MDE} MDE, two-sided alpha 0.05 and 80% power, plus whether the
    current arm size is already sufficient.

    Determinism: the z quantiles are LITERAL constants (no inverse-normal
    at runtime); everything else is +,*,/ and IEEE-correctly-rounded
    sqrt/pow(x,2) over identical exact-count-derived doubles, so the ceil
    lands on the same integer in both engines.

    Scale shape: one scalar conditional aggregate; nothing wider than a
    row moves."""
    o = load(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    fin = F.col("o_orderstatus") == "F"
    st = o.agg(
        F.sum(F.when(urgent, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(urgent & fin, 1).otherwise(0))
        .cast("double")
        .alias("x1"),
    )
    base = st.selectExpr("n1", "x1", "x1 / nullif(n1, 0.0) AS p1")
    return base.selectExpr(
        "CAST(n1 AS BIGINT) AS current_n",
        f"CAST({sql_stable_round4('p1')} AS DOUBLE) AS p_base",
        f"CAST({sql_stable_round4(_PWR_P2)} AS DOUBLE) AS p_alt",
        f"CAST({_PWR_N} AS BIGINT) AS n_per_arm",
        f"CAST(2 * {_PWR_N} AS BIGINT) AS total_n",
        f"n1 >= {_PWR_N} AS powered",
    )


# --------------------------------------------------------------------------
# ml_srm_check — sample-ratio-mismatch guardrail (chi-square vs 50/50)
# --------------------------------------------------------------------------

# chi2(1) critical value at p = 0.001 — the SRM alarm threshold the
# platforms use (Fabijan et al. 2019); literal so no distribution code runs
SRM_CHI2_CRIT = 10.828


@register(
    "ml_srm_check",
    oracle=f"""
    WITH arms AS (
        SELECT CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS nt,
               CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS nc
        FROM (SELECT DISTINCT user_id FROM events))
    SELECT CAST(nt AS BIGINT) AS n_treat,
           CAST(nc AS BIGINT) AS n_ctrl,
           floor((nt - nc) * (nt - nc) / (nt + nc) * 10000.0 + 0.5)
               / 10000.0 AS chi2,
           (nt - nc) * (nt - nc) / (nt + nc) > {SRM_CHI2_CRIT}
               AS srm_detected
    FROM arms
    """,
)
def ml_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (Fabijan et al. 2019 — the FIRST
    check every experimentation platform runs: if the observed 50/50
    assignment split deviates beyond chance, the experiment's telemetry
    is broken and every downstream readout is invalid): chi-square of
    the observed arm counts against the designed equal split,
    chi2 = (nt - nc)^2 / (nt + nc), alarmed at the p = 0.001 critical
    value {SRM_CHI2_CRIT} (literal — no distribution function runs).
    Completes the experimentation kit's GUARDRAIL corner next to the
    effect readouts (delta method, CUPED, SPRT, power, Qini).

    Determinism: arm counts are exact integers from one distinct-user
    conditional aggregate; the statistic is one division through the
    stable-round4 form; the alarm is an exact comparison.

    Scale shape: one distinct-shuffle on user_id collapsing to a 1-row
    scalar aggregate — nothing wider than a row moves after the
    distinct.
    """
    e = load(spark, sf_dir, "events")
    arms = (
        e.select("user_id")
        .distinct()
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)"
                " AS DOUBLE)"
            ).alias("nt"),
            F.expr(
                "CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)"
                " AS DOUBLE)"
            ).alias("nc"),
        )
    )
    return arms.selectExpr(
        "CAST(nt AS BIGINT) AS n_treat",
        "CAST(nc AS BIGINT) AS n_ctrl",
        "CAST(floor((nt - nc) * (nt - nc) / (nt + nc) * 10000.0 + 0.5)"
        " / 10000.0 AS DOUBLE) AS chi2",
        f"(nt - nc) * (nt - nc) / (nt + nc) > {SRM_CHI2_CRIT}"
        " AS srm_detected",
    )


# --------------------------------------------------------------------------
# ml_diff_in_diff — 2x2 difference-in-differences on the user panel
# --------------------------------------------------------------------------

# cell means quantized to integers at 1e-9 BEFORE the DiD subtraction;
# the SE uses the four exact cell variances (independent-cells DiD SE)
_DID_VAR = "((n{c} * syy{c} - sy{c} * sy{c}) / nullif(n{c} * (n{c} - 1.0), 0.0) / nullif(n{c}, 0.0))"
_DID_SE = (
    "sqrt(greatest("
    + " + ".join(_DID_VAR.format(c=c) for c in ("t1", "t0", "c1", "c0"))
    + ", 0.0))"
)
_DID_EST = "((mt1 - mt0) - (mc1 - mc0))"


@register(
    "ml_diff_in_diff",
    oracle=f"""
    WITH span AS (
        SELECT (CAST(floor(epoch(min(ts))) AS BIGINT)
                + CAST(floor(epoch(max(ts))) AS BIGINT)) // 2 AS mid
        FROM events),
    panel AS (
        SELECT user_id, CAST(user_id % 2 AS INT) AS treat,
               CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= mid
                    THEN 1 ELSE 0 END AS post,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events CROSS JOIN span),
    grid AS (
        SELECT u.user_id, u.treat, p.post
        FROM (SELECT DISTINCT user_id, treat FROM panel) u
        CROSS JOIN (SELECT unnest([0, 1]) AS post) p),
    per_up AS (
        SELECT g.user_id, g.treat, g.post,
               CAST(coalesce(sum(pl.y), 0) AS BIGINT) AS y
        FROM grid g LEFT JOIN panel pl
            ON pl.user_id = g.user_id AND pl.post = g.post
        GROUP BY 1, 2, 3),
    cells AS (
        SELECT treat, post,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
               CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
               CAST((sum(CAST(y AS HUGEINT)) * 1000000000)
                    // count(*) AS BIGINT) AS m_q
        FROM per_up GROUP BY 1, 2),
    wide AS (
        SELECT
            max(CASE WHEN treat = 1 AND post = 1 THEN n END) AS nt1,
            max(CASE WHEN treat = 1 AND post = 1 THEN sy END) AS syt1,
            max(CASE WHEN treat = 1 AND post = 1 THEN syy END) AS syyt1,
            max(CASE WHEN treat = 1 AND post = 1 THEN m_q END) AS mt1q,
            max(CASE WHEN treat = 1 AND post = 0 THEN n END) AS nt0,
            max(CASE WHEN treat = 1 AND post = 0 THEN sy END) AS syt0,
            max(CASE WHEN treat = 1 AND post = 0 THEN syy END) AS syyt0,
            max(CASE WHEN treat = 1 AND post = 0 THEN m_q END) AS mt0q,
            max(CASE WHEN treat = 0 AND post = 1 THEN n END) AS nc1,
            max(CASE WHEN treat = 0 AND post = 1 THEN sy END) AS syc1,
            max(CASE WHEN treat = 0 AND post = 1 THEN syy END) AS syyc1,
            max(CASE WHEN treat = 0 AND post = 1 THEN m_q END) AS mc1q,
            max(CASE WHEN treat = 0 AND post = 0 THEN n END) AS nc0,
            max(CASE WHEN treat = 0 AND post = 0 THEN sy END) AS syc0,
            max(CASE WHEN treat = 0 AND post = 0 THEN syy END) AS syyc0,
            max(CASE WHEN treat = 0 AND post = 0 THEN m_q END) AS mc0q
        FROM cells),
    calc AS (
        SELECT CAST(nt1 AS BIGINT) AS n_treat_post,
               CAST(nc1 AS BIGINT) AS n_ctrl_post,
               CAST(mt1q AS DOUBLE) / 1000000000.0 AS mt1,
               CAST(mt0q AS DOUBLE) / 1000000000.0 AS mt0,
               CAST(mc1q AS DOUBLE) / 1000000000.0 AS mc1,
               CAST(mc0q AS DOUBLE) / 1000000000.0 AS mc0,
               nt1 AS nt1_, syt1 AS syt1_, syyt1 AS syyt1_,
               nt0, syt0, syyt0, nc1, syc1, syyc1, nc0, syc0, syyc0
        FROM wide)
    SELECT n_treat_post, n_ctrl_post,
           floor(mt1 * 10000.0 + 0.5) / 10000.0 AS mean_treat_post,
           floor(mt0 * 10000.0 + 0.5) / 10000.0 AS mean_treat_pre,
           floor(mc1 * 10000.0 + 0.5) / 10000.0 AS mean_ctrl_post,
           floor(mc0 * 10000.0 + 0.5) / 10000.0 AS mean_ctrl_pre,
           floor({_DID_EST} * 10000.0 + 0.5) / 10000.0 AS did,
           floor({_DID_SE} * 10000.0
                 + 0.5) / 10000.0 AS did_se
    FROM (SELECT n_treat_post, n_ctrl_post, mt1, mt0, mc1, mc0,
                 nt1_ AS nt1, syt1_ AS syt1, syyt1_ AS syyt1,
                 nt0, syt0, syyt0, nc1, syc1, syyc1, nc0, syc0, syyc0
          FROM calc)
    """,
)
def ml_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 difference-in-differences (Card & Krueger 1994 framing) on the
    user panel: treat = id parity, periods split at the exact integer
    midpoint of the event-time span, outcome = per-user purchase count
    per period (zero-filled on the full user x period grid, so quiet
    users count). DiD = (treat post - pre) - (ctrl post - pre); the SE
    sums the four independent cell variances of the user-level means.
    The causal-inference member of the experimentation kit that handles
    a PRE-period — complements agg_cuped (variance reduction) with the
    parallel-trends identification readout.

    Determinism: the period cutoff is exact integer epoch arithmetic;
    per-user outcomes are exact integer counts on an explicit grid;
    cell means are integer divisions at 1e-9 BEFORE the DiD
    subtraction; sufficient statistics are exact HUGEINT/DECIMAL(38)
    sums; the SE expression text is interpolated verbatim into both
    engines; stable_round4 on every output rational.

    Scale shape: one scan for the span scalar (broadcast), one scan
    into a (user, period)-keyed partial agg, a broadcast 2-row period
    grid against the distinct-user frame, then a 4-row cell rollup
    pivoted to one row. Nothing wider than the user dimension shuffles.
    """
    e = load(spark, sf_dir, "events")
    span = e.agg(
        F.expr(
            "(CAST(unix_timestamp(min(ts)) AS BIGINT)"
            " + CAST(unix_timestamp(max(ts)) AS BIGINT)) div 2"
        ).alias("mid")
    )
    panel = e.crossJoin(F.broadcast(span)).selectExpr(
        "user_id",
        "CAST(user_id % 2 AS INT) AS treat",
        "CASE WHEN CAST(unix_timestamp(ts) AS BIGINT) >= mid"
        " THEN 1 ELSE 0 END AS post",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y",
    )
    users = panel.select("user_id", "treat").distinct()
    periods = literal_frame(spark, [(0,), (1,)], "post int")
    grid = users.crossJoin(F.broadcast(periods))
    counts = panel.groupBy("user_id", "post").agg(
        F.sum("y").alias("y_raw")
    )
    per_up = (
        grid.join(counts, ["user_id", "post"], "left")
        .select(
            "treat",
            "post",
            F.coalesce("y_raw", F.lit(0)).cast("long").alias("y"),
        )
    )
    cells = per_up.groupBy("treat", "post").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y"))
        .cast("double")
        .alias("syy"),
        F.expr(
            "CAST((sum(CAST(y AS DECIMAL(38,0))) * 1000000000)"
            " div count(*) AS BIGINT)"
        ).alias("m_q"),
    )

    def cell(tr, po, col):
        return (
            f"max(CASE WHEN treat = {tr} AND post = {po}"
            f" THEN {col} END)"
        )

    wide = cells.selectExpr(
        *(
            f"{cell(tr, po, col)} AS {col}{tag}"
            for tag, tr, po in (
                ("t1", 1, 1), ("t0", 1, 0), ("c1", 0, 1), ("c0", 0, 0)
            )
            for col in ("n", "sy", "syy", "m_q")
        )
    )
    calc = wide.selectExpr(
        "CAST(nt1 AS BIGINT) AS n_treat_post",
        "CAST(nc1 AS BIGINT) AS n_ctrl_post",
        "CAST(m_qt1 AS DOUBLE) / 1000000000.0 AS mt1",
        "CAST(m_qt0 AS DOUBLE) / 1000000000.0 AS mt0",
        "CAST(m_qc1 AS DOUBLE) / 1000000000.0 AS mc1",
        "CAST(m_qc0 AS DOUBLE) / 1000000000.0 AS mc0",
        "nt1", "syt1", "syyt1", "nt0", "syt0", "syyt0",
        "nc1", "syc1", "syyc1", "nc0", "syc0", "syyc0",
    )
    return calc.selectExpr(
        "n_treat_post",
        "n_ctrl_post",
        "CAST(floor(mt1 * 10000.0 + 0.5) / 10000.0 AS DOUBLE)"
        " AS mean_treat_post",
        "CAST(floor(mt0 * 10000.0 + 0.5) / 10000.0 AS DOUBLE)"
        " AS mean_treat_pre",
        "CAST(floor(mc1 * 10000.0 + 0.5) / 10000.0 AS DOUBLE)"
        " AS mean_ctrl_post",
        "CAST(floor(mc0 * 10000.0 + 0.5) / 10000.0 AS DOUBLE)"
        " AS mean_ctrl_pre",
        f"CAST(floor({_DID_EST} * 10000.0 + 0.5) / 10000.0 AS DOUBLE)"
        " AS did",
        f"CAST(floor({_DID_SE} * 10000.0 + 0.5) / 10000.0 AS DOUBLE)"
        " AS did_se",
    )


# --------------------------------------------------------------------------
# ml_tost_equivalence — two one-sided tests for arm equivalence
# --------------------------------------------------------------------------

TOST_Z = 1.645       # one-sided z at alpha = 0.05, literal
TOST_MARGIN_PCT = 1  # equivalence margin: 1% of the pooled mean

_TOST_SE = (
    "sqrt(greatest((n1 * s1q - s1 * s1) / nullif(n1 * n1 * (n1 - 1.0), 0.0)"
    " + (n0 * s0q - s0 * s0) / nullif(n0 * n0 * (n0 - 1.0), 0.0), 0.0))"
)
_TOST_DIFF = "(s1 / n1 - s0 / n0)"
_TOST_DELTA = f"(({TOST_MARGIN_PCT} / 100.0) * (s1 + s0) / (n1 + n0))"
_TOST_TLO = f"(({_TOST_DIFF} + {_TOST_DELTA}) / nullif({_TOST_SE}, 0.0))"
_TOST_THI = f"(({_TOST_DELTA} - {_TOST_DIFF}) / nullif({_TOST_SE}, 0.0))"


@register(
    "ml_tost_equivalence",
    oracle=f"""
    WITH base AS (
        SELECT CAST(o_custkey % 2 AS INT) AS arm,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    st AS (
        SELECT
            CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                AS n1,
            CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                AS n0,
            CAST(sum(CASE WHEN arm = 1 THEN CAST(cents AS HUGEINT)
                          ELSE 0 END) AS DOUBLE) / 100.0 AS s1,
            CAST(sum(CASE WHEN arm = 0 THEN CAST(cents AS HUGEINT)
                          ELSE 0 END) AS DOUBLE) / 100.0 AS s0,
            CAST(sum(CASE WHEN arm = 1 THEN CAST(cents AS HUGEINT) * cents
                          ELSE 0 END) AS DOUBLE) / 10000.0 AS s1q,
            CAST(sum(CASE WHEN arm = 0 THEN CAST(cents AS HUGEINT) * cents
                          ELSE 0 END) AS DOUBLE) / 10000.0 AS s0q
        FROM base)
    SELECT CAST(n1 AS BIGINT) AS n_arm1,
           CAST(n0 AS BIGINT) AS n_arm0,
           floor({_TOST_DIFF} * 10000.0 + 0.5) / 10000.0 AS mean_diff,
           floor({_TOST_DELTA} * 10000.0 + 0.5) / 10000.0 AS margin,
           floor({_TOST_TLO} * 10000.0 + 0.5) / 10000.0 AS t_lower,
           floor({_TOST_THI} * 10000.0 + 0.5) / 10000.0 AS t_upper,
           ({_TOST_TLO} > {TOST_Z}) AND ({_TOST_THI} > {TOST_Z})
               AS equivalent
    FROM st
    """,
)
def ml_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (Schuirmann 1987 — the NON-INFERIORITY
    readout: a significant t-test proves arms differ, TOST proves they
    DON'T, within a margin; the launch criterion for "this change is
    safe"): two one-sided Welch z-tests of the arm mean-value difference
    against ±{TOST_MARGIN_PCT}% of the pooled mean, equivalent iff BOTH
    reject at the literal one-sided z {TOST_Z}. Completes the
    experimentation kit's acceptance corner next to the difference
    readouts (ztest, delta method, SPRT) and the guardrails (SRM).

    Determinism: per-arm sufficient statistics are exact HUGEINT/
    DECIMAL(38) sums of integer cents descaled by literal powers of
    100; diff, margin, SE, and both t statistics are expression text
    interpolated VERBATIM into both engines; stable_round4 on every
    rational; degenerate arms NULL-propagate through nullif.

    Scale shape: ONE conditional scalar aggregate over orders — the
    whole test is six sums wide and one row tall; nothing wider than a
    row moves.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.expr("CAST(o_custkey % 2 AS INT)").alias("arm"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    st = base.agg(
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE)"
        ).alias("n1"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE)"
        ).alias("n0"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN CAST(cents AS DECIMAL(38,0))"
            " ELSE 0 END) AS DOUBLE) / 100.0"
        ).alias("s1"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN CAST(cents AS DECIMAL(38,0))"
            " ELSE 0 END) AS DOUBLE) / 100.0"
        ).alias("s0"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 1 THEN CAST(cents AS DECIMAL(38,0))"
            " * cents ELSE 0 END) AS DOUBLE) / 10000.0"
        ).alias("s1q"),
        F.expr(
            "CAST(sum(CASE WHEN arm = 0 THEN CAST(cents AS DECIMAL(38,0))"
            " * cents ELSE 0 END) AS DOUBLE) / 10000.0"
        ).alias("s0q"),
    )
    return st.selectExpr(
        "CAST(n1 AS BIGINT) AS n_arm1",
        "CAST(n0 AS BIGINT) AS n_arm0",
        f"CAST(floor({_TOST_DIFF} * 10000.0 + 0.5) / 10000.0 AS DOUBLE)"
        " AS mean_diff",
        f"CAST(floor({_TOST_DELTA} * 10000.0 + 0.5) / 10000.0 AS DOUBLE)"
        " AS margin",
        f"CAST(floor({_TOST_TLO} * 10000.0 + 0.5) / 10000.0 AS DOUBLE)"
        " AS t_lower",
        f"CAST(floor({_TOST_THI} * 10000.0 + 0.5) / 10000.0 AS DOUBLE)"
        " AS t_upper",
        f"({_TOST_TLO} > {TOST_Z}) AND ({_TOST_THI} > {TOST_Z})"
        " AS equivalent",
    )
