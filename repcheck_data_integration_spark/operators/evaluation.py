"""Classifier and ranking evaluation, and score calibration.

Metrics over a score column and a binary label (or the naive-Bayes
confusion matrix), each a pure DataFrame plan with an exact DuckDB oracle
twin:

- classification: ml_confusion_prf (per-class precision/recall/F1 of
  models.ml_naive_bayes_lang), ml_auc_roc, ml_auc_pr, ml_ks_statistic;
- ranking and targeting: ml_lift_gains, ml_qini_uplift;
- calibration: ml_calibration_bins, ml_brier_decomposition,
  ml_isotonic_calibration, ml_conformal_interval.

Determinism follows the house rules (CLAUDE.md): exact integer ranks and
counts, one division per output column after the last comparison,
stable_round4 on every rational.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..functions.kernels import hash_bucket, sql_hash_bucket
from ..tables import load
from .ckpt import pin
from .dedup import sql_stable_round4, stable_round4
from .models import NB_ORACLE, ml_naive_bayes_lang


# --------------------------------------------------------------------------
# ml_confusion_prf
# --------------------------------------------------------------------------


@register(
    "ml_confusion_prf",
    oracle=f"""
    WITH cm AS ({{nb}}),
    t AS (
        SELECT lang_true AS lang, sum(n_docs) AS n_true,
               sum(CASE WHEN lang_pred = lang_true THEN n_docs ELSE 0 END)
                   AS tp
        FROM cm GROUP BY 1),
    p AS (SELECT lang_pred AS lang, sum(n_docs) AS n_pred FROM cm GROUP BY 1),
    j AS (
        SELECT t.lang, t.n_true, t.tp, COALESCE(p.n_pred, 0) AS n_pred
        FROM t LEFT JOIN p ON p.lang = t.lang),
    m AS (
        SELECT j.*,
               {sql_stable_round4(
                   'CASE WHEN n_pred = 0 THEN 0.0 ELSE'
                   ' CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END')}
                   AS precision_,
               {sql_stable_round4(
                   'CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE)')}
                   AS recall_,
               {sql_stable_round4(
                   '2.0 * CAST(tp AS DOUBLE)'
                   ' / CAST(n_pred + n_true AS DOUBLE)')} AS f1_
        FROM j)
    SELECT lang, CAST(n_true AS BIGINT) AS n_true,
           CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
           precision_ AS precision, recall_ AS recall, f1_ AS f1,
           {sql_stable_round4('avg(f1_) OVER ()')} AS macro_f1
    FROM m ORDER BY lang
    """.replace("{{nb}}", "{nb}").format(nb=NB_ORACLE),
)
def ml_confusion_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 (+ macro-F1) derived from the
    naive-Bayes confusion matrix — the metric layer every classifier in
    the engine reports through (composes ml_naive_bayes_lang the same
    way the oracle composes its SQL as a CTE).

    F1 is computed as the EXACT integer form 2*tp / (n_pred + n_true)
    (algebraically 2PR/(P+R), but with one division instead of three,
    so no compounded rounding); a class never predicted gets
    precision 0 by convention rather than NULL. macro_f1 averages the
    ROUNDED per-class F1s so both engines average identical doubles.

    Scale shape: the confusion matrix is |langs|^2 rows out of the NB
    pipeline; everything here is arithmetic on that tiny relation.
    """
    cm = ml_naive_bayes_lang(spark, sf_dir)
    t = cm.groupBy(F.col("lang_true").alias("lang")).agg(
        F.sum("n_docs").alias("n_true"),
        F.sum(
            F.when(
                F.col("lang_pred") == F.col("lang_true"), F.col("n_docs")
            ).otherwise(0)
        ).alias("tp"),
    )
    p = cm.groupBy(F.col("lang_pred").alias("lang")).agg(
        F.sum("n_docs").alias("n_pred")
    )
    j = t.join(p, "lang", "left").withColumn(
        "n_pred", F.coalesce("n_pred", F.lit(0))
    )
    m = j.select(
        "lang",
        "n_true",
        "n_pred",
        "tp",
        stable_round4(
            F.when(F.col("n_pred") == 0, F.lit(0.0)).otherwise(
                F.col("tp").cast("double") / F.col("n_pred").cast("double")
            )
        ).alias("precision"),
        stable_round4(
            F.col("tp").cast("double") / F.col("n_true").cast("double")
        ).alias("recall"),
        stable_round4(
            2.0
            * F.col("tp").cast("double")
            / (F.col("n_pred") + F.col("n_true")).cast("double")
        ).alias("f1"),
    )
    return m.select(
        "lang",
        F.col("n_true").cast("long"),
        F.col("n_pred").cast("long"),
        F.col("tp").cast("long"),
        "precision",
        "recall",
        "f1",
        stable_round4(F.avg("f1").over(W.partitionBy())).alias("macro_f1"),
    ).orderBy("lang")


# --------------------------------------------------------------------------
# ml_auc_roc
# --------------------------------------------------------------------------

# Shared AUC formula over integer sufficient stats: s2r = sum over
# positives of (2*rank + ties - 1) == twice the tie-averaged positive
# rank-sum, so AUC = (s2r - P(P+1)) / (2 P N) with every term exact.
_AUC = (
    "(CAST(s2r AS DOUBLE) - CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) + 1.0))"
    " / nullif(2.0 * CAST(p AS DOUBLE) * CAST(q AS DOUBLE), 0.0)"
)


@register(
    "ml_auc_roc",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority AS segment,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    pooled AS (
        SELECT * FROM base
        UNION ALL
        SELECT '__all__' AS segment, pos, cents FROM base),
    r AS (
        SELECT segment, pos,
               rank() OVER (PARTITION BY segment ORDER BY cents) AS rk,
               count(*) OVER (PARTITION BY segment, cents) AS ce
        FROM pooled),
    s AS (
        SELECT segment, sum(pos) AS p, sum(1 - pos) AS q,
               sum(pos * (2 * rk + ce - 1)) AS s2r
        FROM r GROUP BY 1)
    SELECT segment,
           CAST(p AS BIGINT) AS n_pos,
           CAST(q AS BIGINT) AS n_neg,
           {sql_stable_round4(_AUC)} AS auc
    FROM s
    ORDER BY segment
    """,
)
def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney AUC of o_totalprice as a ranker for the binary label
    o_orderstatus = 'F', per o_orderpriority segment plus a pooled
    '__all__' row: does price predict order finality, and does the
    signal hold within each priority class?

    AUC == P(score_pos > score_neg) + 0.5 * P(tie), computed WITHOUT
    sampling pairs: rank-sum with exact tie correction. Twice the
    tie-averaged rank of a row is the integer 2*rank(<=) + ties - 1, and
    rank with ties sharing depends only on the value group — rk =
    off_cnt(cents) + 1, ce = the group count — so s2r collapses to the
    DISTINCT-value sum over (segment, cents) groups:
    s2r = sum_v pos_v * (2*off_v + c_v + 1), and
    AUC = (s2r - P(P+1)) / (2PN) needs one double division at the end.

    Scale shape (round-10 partitioned-window sweep): the old form ranked
    POOLED FACT ROWS with ``rank() OVER (PARTITION BY segment)`` — five
    priority partitions plus a constant '__all__' segment, i.e. a global
    single-task sort of the whole fact disguised as a partitioned window
    (invisible to the unpartitioned-window audit by construction), with
    Spark's IntegerType rank wrapping past 2^31 rows per segment while
    the BIGINT oracle keeps counting. Now: one map-side-combining
    aggregate to the distinct (segment, cents) stats, the pooled row
    derived at the DISTINCT level (no second fact pass), and per-segment
    offsets from prefix_offsets keyed by segment — every window
    partitioned by (segment, value bucket), no int rank anywhere.
    s2r ~ 2*P*N exceeds LONG at posture (the round-10 overflow class),
    so the positive count is DECIMAL(19,0)-widened before the multiply;
    DuckDB's BIGINT sum promotes to HUGEINT, exact on both sides, and
    both convert to DOUBLE once inside the shared AUC formula.
    """
    from .prefix import prefix_offsets

    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("segment"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    vg = base.groupBy("segment", "cents").agg(
        F.count(F.lit(1)).alias("c"), F.sum("pos").alias("pc")
    )
    pooled = vg.unionByName(
        vg.groupBy("cents")
        .agg(F.sum("c").alias("c"), F.sum("pc").alias("pc"))
        .select(F.lit("__all__").alias("segment"), "cents", "c", "pc")
    )
    offs = prefix_offsets(pooled, ["segment"], "cents", ["c"])
    s = (
        offs.groupBy("segment")
        .agg(
            F.sum("pc").cast("long").alias("p"),
            F.max("tot_c").alias("n"),
            F.sum(
                F.col("pc").cast("decimal(19,0)")
                * (2 * F.col("off_c") + F.col("c") + 1)
            ).alias("s2r"),
        )
        .withColumn("q", F.col("n") - F.col("p"))
    )
    return s.select(
        "segment",
        F.col("p").cast("long").alias("n_pos"),
        F.col("q").cast("long").alias("n_neg"),
        stable_round4(F.expr(_AUC)).alias("auc"),
    ).orderBy("segment")


# --------------------------------------------------------------------------
# ml_lift_gains
# --------------------------------------------------------------------------

LIFT_DECILES = 10


@register(
    "ml_lift_gains",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    r AS (
        SELECT pos,
               row_number() OVER (ORDER BY cents DESC, o_orderkey) AS rn,
               count(*) OVER () AS n, sum(pos) OVER () AS p
        FROM base),
    b AS (
        SELECT CAST((rn - 1) * {LIFT_DECILES} // n AS INT) + 1 AS decile,
               pos, n, p
        FROM r),
    g AS (
        SELECT decile, n, p, count(*) AS n_b, sum(pos) AS pos_b
        FROM b GROUP BY 1, 2, 3),
    c AS (
        SELECT decile, n, p, n_b, pos_b,
               sum(n_b) OVER (ORDER BY decile) AS cum_n,
               sum(pos_b) OVER (ORDER BY decile) AS cum_pos
        FROM g)
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_b AS BIGINT) AS n_bucket,
           CAST(pos_b AS BIGINT) AS n_pos,
           {sql_stable_round4(
               'CAST(cum_pos AS DOUBLE) / CAST(p AS DOUBLE)')} AS gain,
           {sql_stable_round4(
               'CAST(cum_pos * n AS DOUBLE) / CAST(cum_n * p AS DOUBLE)')}
               AS lift
    FROM c ORDER BY decile
    """,
)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table of o_totalprice as a ranker for the
    o_orderstatus = 'F' label: rank all rows by score descending, cut
    into {LIFT_DECILES} equal deciles, and report per decile the
    cumulative capture rate (gain = cum_pos / P) and lift
    (= capture / depth). The campaign-targeting companion of
    ml_auc_roc — AUC summarizes the whole curve, the lift table says
    what acting on the top k% actually buys.

    Determinism: the decile cut is the INTEGER (rn-1)*{LIFT_DECILES}
    div n over a fully tie-broken row_number (cents DESC, o_orderkey) —
    no percentile doubles anywhere; gains/lift are exact-integer ratios
    divided once. Scale shape (round-8 departition): the global rank is
    off_cnt(cents) + a PARTITIONED within-tie-group window (the lorenz /
    qini machinery, operators/prefix.py), so no single-task sort of the
    fact; the only whole-frame window left is the {LIFT_DECILES}-row
    cumsum over the decile grid.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    # round-8 departition: the global row_number over (cents DESC,
    # orderkey) is off_cnt (higher-cents count, from prefix_offsets over
    # DISTINCT cents) + a PARTITIONED within-tie-group window; n/p come
    # from the distinct-value table's 1-row aggregate instead of
    # whole-frame windows. The within-group numbering is still needed —
    # a decile boundary can split a tie group whose rows differ in pos.
    from .prefix import prefix_offsets

    vals = base.groupBy("cents").agg(
        F.count("*").alias("cnt"), F.sum("pos").alias("pos_c")
    )
    offs = prefix_offsets(
        vals, [], "cents", ["cnt", "pos_c"], ascending=False
    )
    r = (
        base.join(
            offs.select(
                "cents",
                "off_cnt",
                F.col("tot_cnt").alias("n"),
                F.col("tot_pos_c").alias("p"),
            ),
            "cents",
        )
        .withColumn(
            # LONG-safe within-tie numbering: count-over-frame, never the
            # IntegerType row_number counter (wraps past 2^31 rows in one
            # cents tie group — a constant promo price at posture)
            "rn_g",
            F.count(F.lit(1)).over(
                W.partitionBy("cents")
                .orderBy("o_orderkey")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .selectExpr("pos", "off_cnt + rn_g AS rn", "n", "p")
    )
    b = r.select(
        (
            F.expr(f"CAST((rn - 1) * {LIFT_DECILES} DIV n AS INT)") + 1
        ).alias("decile"),
        "pos",
        "n",
        "p",
    )
    g = b.groupBy("decile", "n", "p").agg(
        F.count("*").alias("n_b"), F.sum("pos").alias("pos_b")
    )
    c = g.select(
        "decile",
        "n",
        "p",
        "n_b",
        "pos_b",
        F.sum("n_b").over(W.orderBy("decile")).alias("cum_n"),
        F.sum("pos_b").over(W.orderBy("decile")).alias("cum_pos"),
    )
    return c.select(
        F.col("decile").cast("int"),
        F.col("n_b").cast("long").alias("n_bucket"),
        F.col("pos_b").cast("long").alias("n_pos"),
        stable_round4(
            F.col("cum_pos").cast("double") / F.col("p").cast("double")
        ).alias("gain"),
        stable_round4(
            # decimal before the multiply (round-10 overflow sweep):
            # cum_pos*n and cum_n*p are count×count products that wrap
            # LONG at ~3e9 rows each side; DECIMAL(19,0)*LONG is exact
            # and converts to DOUBLE with the same single rounding the
            # DuckDB twin's HUGEINT product gets. 10-row relation.
            (F.col("cum_pos").cast("decimal(19,0)") * F.col("n")).cast(
                "double"
            )
            / (F.col("cum_n").cast("decimal(19,0)") * F.col("p")).cast(
                "double"
            )
        ).alias("lift"),
    ).orderBy("decile")


# --------------------------------------------------------------------------
# ml_ks_statistic
# --------------------------------------------------------------------------


@register(
    "ml_ks_statistic",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    g AS (
        SELECT cents, sum(pos) AS p_c, sum(1 - pos) AS q_c
        FROM base GROUP BY 1),
    c AS (
        SELECT cents,
               sum(p_c) OVER (ORDER BY cents) AS cp,
               sum(q_c) OVER (ORDER BY cents) AS cq,
               sum(p_c) OVER () AS p, sum(q_c) OVER () AS q
        FROM g),
    d AS (
        SELECT cents, p, q, abs(cp * q - cq * p) AS dnum,
               row_number() OVER (
                   ORDER BY abs(cp * q - cq * p) DESC, cents) AS rn
        FROM c)
    SELECT CAST(p AS BIGINT) AS n_pos, CAST(q AS BIGINT) AS n_neg,
           CAST(cents AS BIGINT) AS ks_at_cents,
           {sql_stable_round4(
               'CAST(dnum AS DOUBLE) / nullif(CAST(p * q AS DOUBLE), 0.0)')} AS ks
    FROM d WHERE rn = 1
    """,
)
def ml_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov separation of the positive vs negative score
    distributions: KS = max over thresholds of |CDF_pos - CDF_neg|,
    with the achieving threshold — the credit-scoring standard that
    complements ml_auc_roc (AUC integrates separation, KS locates the
    single best operating point).

    Determinism: the CDF gap is the cross-multiplied integer
    |cp*Q - cq*P| (never a float subtraction), the argmax tie-breaks on
    the smaller threshold, and the single division happens after the
    max. Scale shape (round-8 departition): scores collapse to
    distinct-value counts, the CDF prefixes come from prefix_offsets'
    bucketed prefix scan (distinct cents ~ |orders|, so the old ordered
    cumsum window was a data-sized single task), and the argmax is a
    distributed TakeOrderedAndProject top-1 — no unpartitioned window
    at all.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    # round-8 departition: distinct o_totalprice cents ~ |orders| — the
    # ordered cumsum windows and the argmax row_number funneled a
    # data-sized relation through one task. CDF prefixes now come from
    # prefix_offsets (cp = off + own), totals from a broadcast 1-row
    # aggregate, and the argmax is orderBy().limit(1) —
    # TakeOrderedAndProject, a distributed top-1.
    from .prefix import prefix_offsets

    g = base.groupBy("cents").agg(
        F.sum("pos").alias("p_c"), F.sum(1 - F.col("pos")).alias("q_c")
    )
    offs = prefix_offsets(g, [], "cents", ["p_c", "q_c"], ascending=True)
    c = offs.select(
        "cents",
        F.col("tot_p_c").alias("p"),
        F.col("tot_q_c").alias("q"),
        (F.col("off_p_c") + F.col("p_c")).alias("cp"),
        (F.col("off_q_c") + F.col("q_c")).alias("cq"),
    )
    # DECIMAL cross-multiply (round-10 overflow sweep): cp*Q and cq*P
    # are cumulative-count × total-count products — LONG wraps at ~3e9
    # positives/negatives while the DuckDB twin stays exact in HUGEINT.
    # The decimal argmax ordering is the same total order the exact
    # integers have; the one division still happens after the max.
    d = c.select(
        "cents",
        "p",
        "q",
        F.abs(
            F.col("cp").cast("decimal(19,0)") * F.col("q")
            - F.col("cq").cast("decimal(19,0)") * F.col("p")
        ).alias("dnum"),
    )
    return d.orderBy(F.col("dnum").desc(), F.col("cents")).limit(1).select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("q").cast("long").alias("n_neg"),
        F.col("cents").cast("long").alias("ks_at_cents"),
        stable_round4(
            F.col("dnum").cast("double")
            / F.expr(
                "nullif(CAST(CAST(p AS DECIMAL(19,0)) * q AS DOUBLE), 0.0)"
            )
        ).alias("ks"),
    )


# --------------------------------------------------------------------------
# ml_calibration_bins
# --------------------------------------------------------------------------

CAL_BINS = 10


@register(
    "ml_calibration_bins",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    r AS (
        SELECT pos, rank() OVER (ORDER BY cents) AS rk,
               count(*) OVER () AS n
        FROM base),
    b AS (
        SELECT least(CAST((rk - 1) * {CAL_BINS} // (n - 1) AS INT),
                     {CAL_BINS - 1}) AS bin,
               pos, rk, n
        FROM r),
    g AS (
        SELECT bin, n, count(*) AS n_b, sum(pos) AS pos_b,
               sum(rk - 1) AS srk
        FROM b GROUP BY 1, 2),
    e AS (
        SELECT *, sum(abs(srk - pos_b * (n - 1))) OVER () AS ece_num
        FROM g)
    SELECT CAST(bin AS INT) AS bin,
           CAST(n_b AS BIGINT) AS n_bin,
           {sql_stable_round4(
               'CAST(srk AS DOUBLE) / (CAST(n - 1 AS DOUBLE)'
               ' * CAST(n_b AS DOUBLE))')} AS confidence,
           {sql_stable_round4(
               'CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)')} AS accuracy,
           {sql_stable_round4(
               'CAST(abs(srk - pos_b * (n - 1)) AS DOUBLE)'
               ' / (CAST(n - 1 AS DOUBLE) * CAST(n_b AS DOUBLE))')} AS gap,
           {sql_stable_round4(
               'CAST(ece_num AS DOUBLE)'
               ' / (CAST(n - 1 AS DOUBLE) * CAST(n AS DOUBLE))')} AS ece
    FROM e ORDER BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error for the
    percentile-calibrated score: prediction = percent_rank of the score
    (the rank transform IS the calibration map), cut into {CAL_BINS}
    equal-width bins; per bin the mean prediction (confidence) vs the
    empirical positive rate (accuracy), plus the n-weighted ECE
    repeated on every row.

    Every quantity is an exact integer ratio over the common
    denominator (n-1): confidence_b = sum(rank-1) / ((n-1) * n_b),
    |conf - acc| = |sum(rank-1) - pos_b*(n-1)| / ((n-1) * n_b), and
    ECE = sum_b |...| / ((n-1) * n) — the bin cut itself is integer
    (rk-1)*{CAL_BINS} div (n-1). No float enters before the final
    divisions. Scale shape (round-8 departition): the rank transform is
    reconstructed from prefix_offsets over the DISTINCT score values
    (ties share ranks, so rk-1 is exactly the smaller-value count) —
    no single-task sort of the fact anywhere; the only whole-frame
    window left is the ECE sum over the {CAL_BINS}-row grid.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    # round-8 departition (the rank-cut family): rank() with ties sharing
    # depends ONLY on cents — rk-1 = #rows with smaller cents = off_cnt
    # from prefix_offsets over the DISTINCT cents values; every row of a
    # cents group shares rk AND bin, so srk = cnt * (rk-1) per group. No
    # unpartitioned fact window anywhere; n comes from the checkpointed
    # distinct-value table, not a whole-frame window.
    from .prefix import prefix_offsets

    vg = base.groupBy("cents").agg(
        F.count("*").alias("cnt"), F.sum("pos").alias("pos_c")
    )
    offs = prefix_offsets(vg, [], "cents", ["cnt"], ascending=True)
    b = offs.select(
        F.least(
            F.expr(f"CAST(off_cnt * {CAL_BINS} DIV (tot_cnt - 1) AS INT)"),
            F.lit(CAL_BINS - 1),
        ).alias("bin"),
        "cnt",
        "pos_c",
        "off_cnt",
        F.col("tot_cnt").alias("n"),
    )
    # srk stays DECIMAL (round-10 overflow sweep, the brier lesson):
    # the per-bin rank mass is ~n_b*n, past LONG at the 1e10-row
    # posture — the old .cast("long") was a CHECKED cast in Spark 4 and
    # would have crashed there. The calibration-gap diff widens pos_b
    # through DECIMAL(19,0) for the same reason; every downstream read
    # is CAST(... AS DOUBLE), one rounding, same as the DuckDB twin's
    # HUGEINT arithmetic.
    g = b.groupBy("bin", "n").agg(
        F.sum("cnt").alias("n_b"),
        F.sum("pos_c").alias("pos_b"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("off_cnt")).alias(
            "srk"
        ),
    )
    gap_num = F.abs(
        F.col("srk")
        - F.col("pos_b").cast("decimal(19,0)") * (F.col("n") - 1)
    )
    e = g.withColumn("ece_num", F.sum(gap_num).over(W.partitionBy()))
    nm1 = (F.col("n") - 1).cast("double")
    return e.select(
        F.col("bin").cast("int"),
        F.col("n_b").cast("long").alias("n_bin"),
        stable_round4(
            F.col("srk").cast("double") / (nm1 * F.col("n_b").cast("double"))
        ).alias("confidence"),
        stable_round4(
            F.col("pos_b").cast("double") / F.col("n_b").cast("double")
        ).alias("accuracy"),
        stable_round4(
            gap_num.cast("double")
            / (nm1 * F.col("n_b").cast("double"))
        ).alias("gap"),
        stable_round4(
            F.col("ece_num").cast("double") / (nm1 * F.col("n").cast("double"))
        ).alias("ece"),
    ).orderBy("bin")


# --------------------------------------------------------------------------
# ml_auc_pr — average precision (area under the precision-recall curve)
# --------------------------------------------------------------------------

AP_SCALE = 1_000_000_000_000  # per-level term quantized at 1e-12

# Step-interpolated AP = sum over distinct score levels v (descending)
# of (p_v / P) * (tp_v / (tp_v + fp_v)): one multiply + one divide +
# floor, identical expression text in both engines, so the quantized
# term is bit-identical; the level sum is an integer sum.
# pv*tp and p*(tp+fp) widen through DECIMAL(19,0) before the multiply
# (round-10 overflow sweep): count x cumulative-count products wrap
# LONG at ~3e9 positives, silently in Spark, as an ERROR in DuckDB.
# The quantized term itself is a precision-weighted fraction <= 1, so
# AP_SCALE never ceilings.
_AP_TERM = (
    f"CAST(floor({AP_SCALE}.0 *"
    " (CAST(CAST(pv AS DECIMAL(19,0)) * tp AS DOUBLE)"
    " / CAST(CAST(p AS DECIMAL(19,0)) * (tp + fp) AS DOUBLE)))"
    " AS BIGINT)"
)


@register(
    "ml_auc_pr",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority AS segment,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    pooled AS (
        SELECT * FROM base
        UNION ALL
        SELECT '__all__' AS segment, pos, cents FROM base),
    vl AS (
        SELECT segment, cents,
               CAST(sum(pos) AS BIGINT) AS pv,
               CAST(sum(1 - pos) AS BIGINT) AS qv
        FROM pooled GROUP BY 1, 2),
    cum AS (
        SELECT segment, pv,
               sum(pv) OVER (PARTITION BY segment ORDER BY cents DESC) AS tp,
               sum(qv) OVER (PARTITION BY segment ORDER BY cents DESC) AS fp,
               sum(pv) OVER (PARTITION BY segment) AS p,
               sum(qv) OVER (PARTITION BY segment) AS q
        FROM vl),
    terms AS (
        SELECT segment, p, q, {_AP_TERM} AS tq FROM cum),
    s AS (
        SELECT segment, CAST(max(p) AS BIGINT) AS n_pos,
               CAST(max(q) AS BIGINT) AS n_neg,
               CAST(sum(tq) AS BIGINT) AS stq
        FROM terms GROUP BY 1)
    SELECT segment, n_pos, n_neg,
           {sql_stable_round4(f'(stq / {AP_SCALE}.0)')} AS avg_precision
    FROM s ORDER BY segment
    """,
)
def ml_auc_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (step-interpolated area under the precision-
    recall curve, the sklearn AP definition) of o_totalprice as a
    ranker for o_orderstatus = 'F', per priority segment plus a pooled
    '__all__' row — the class-imbalance-honest companion of
    ml_auc_roc: ROC AUC is blind to prevalence, AP is precisely the
    metric that collapses when positives are rare.

    Computed on the score VALUE-LEVEL table, never per pair: at each
    distinct score (descending) the recall increment is p_v/P and the
    precision tp/(tp+fp) comes from two running sums, so
    AP = sum p_v*tp / (P*(tp+fp)). Each term's numerator and
    denominator are exact integers < 2^53; the term is quantized at
    1e-12 by identical one-multiply-one-divide-floor IEEE text in both
    engines, and the level sum is an integer sum — no order-dependent
    double accumulation.

    Scale shape: one shuffle to the (segment, cents) level table, two
    alphabet-sized window sums per segment, one grouped sum. O(n log n)
    like the ROC twin, not O(P*N).
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("segment"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    pooled = base.unionByName(base.withColumn("segment", F.lit("__all__")))
    vl = pooled.groupBy("segment", "cents").agg(
        F.sum("pos").cast("long").alias("pv"),
        F.sum(1 - F.col("pos")).cast("long").alias("qv"),
    )
    wdesc = W.partitionBy("segment").orderBy(F.col("cents").desc())
    wall = W.partitionBy("segment")
    cum = vl.select(
        "segment",
        "pv",
        F.sum("pv").over(wdesc).alias("tp"),
        F.sum("qv").over(wdesc).alias("fp"),
        F.sum("pv").over(wall).alias("p"),
        F.sum("qv").over(wall).alias("q"),
    )
    terms = cum.select("segment", "p", "q", F.expr(_AP_TERM).alias("tq"))
    s = terms.groupBy("segment").agg(
        F.max("p").cast("long").alias("n_pos"),
        F.max("q").cast("long").alias("n_neg"),
        F.sum("tq").cast("long").alias("stq"),
    )
    return s.selectExpr(
        "segment",
        "n_pos",
        "n_neg",
        f"CAST({sql_stable_round4(f'(stq / {AP_SCALE}.0)')} AS DOUBLE)"
        " AS avg_precision",
    ).orderBy("segment")


# --------------------------------------------------------------------------
# ml_brier_decomposition — Murphy decomposition of the Brier score
# --------------------------------------------------------------------------

# Round-10 overflow sweep: was 1e12, which put the quantized REL term
# (<= n_b * SCALE) past BIGINT at just ~9.2e6 rows per bin — an sf100
# fixture would have breached it. 1e6 gives ~9.2e12-rows-per-bin
# headroom; the 1e-6 quantum is still two orders below the 4-decimal
# output rounding.
BRIER_SCALE = 1_000_000  # per-bin REL/RES terms quantized at 1e-6

# per-bin reliability and resolution terms (Murphy 1973): each is ONE
# division quantized to an integer BEFORE the 10-row bin sum so the sum
# is never order-dependent doubles. The interior rank/count masses
# (srk ~ n_b*n, pos_b*(n-1), pos_b*n - p*n_b) exceed 2^63 LONG at the
# 1e10-row posture, so the diffs are formed in DOUBLE from the start —
# identical in both engines (same expression text), bit-equal to the
# old exact-integer form wherever every mass fit 2^53, and gracefully
# approximate (never wrapped) beyond.
_BR_REL_T = (
    f"CAST(floor({BRIER_SCALE}.0 *"
    " ((CAST(srk AS DOUBLE) - CAST(pos_b AS DOUBLE) * (n - 1))"
    " * (CAST(srk AS DOUBLE) - CAST(pos_b AS DOUBLE) * (n - 1))"
    " / (CAST((n - 1) AS DOUBLE) * (n - 1) * n_b))) AS BIGINT)"
)
_BR_RES_T = (
    f"CAST(floor({BRIER_SCALE}.0 *"
    " ((CAST(pos_b AS DOUBLE) * n - CAST(p AS DOUBLE) * n_b)"
    " * (CAST(pos_b AS DOUBLE) * n - CAST(p AS DOUBLE) * n_b)"
    " / (CAST(n AS DOUBLE) * n * n_b))) AS BIGINT)"
)
_BR_UNC = "(p * (n - p) / (n * n))"


@register(
    "ml_brier_decomposition",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    r AS (
        SELECT pos, rank() OVER (ORDER BY cents) AS rk,
               count(*) OVER () AS n
        FROM base),
    bs AS (
        SELECT CAST(sum(CAST((rk - 1) - pos * (n - 1) AS HUGEINT)
                        * ((rk - 1) - pos * (n - 1))) AS DOUBLE) AS bnum
        FROM r),
    b AS (
        SELECT least(CAST((rk - 1) * 10 // (n - 1) AS INT), 9) AS bin,
               pos, rk, n
        FROM r),
    g AS (
        SELECT bin, n, CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(pos) AS BIGINT) AS pos_b,
               CAST(sum(rk - 1) AS BIGINT) AS srk
        FROM b GROUP BY 1, 2),
    p AS (SELECT CAST(sum(pos) AS BIGINT) AS p FROM r),
    terms AS (
        SELECT n, p, {_BR_REL_T} AS rel_t, {_BR_RES_T} AS res_t
        FROM g CROSS JOIN p),
    s AS (
        SELECT CAST(max(n) AS DOUBLE) AS n, CAST(max(p) AS DOUBLE) AS p,
               CAST(count(*) AS BIGINT) AS n_bins,
               CAST(sum(rel_t) AS DOUBLE) AS srel,
               CAST(sum(res_t) AS DOUBLE) AS sres
        FROM terms)
    SELECT CAST(n AS BIGINT) AS n_rows, n_bins,
           {sql_stable_round4(
               f'(bnum / (n * (n - 1.0) * (n - 1.0)))')} AS brier_score,
           {sql_stable_round4(f'(srel / ({BRIER_SCALE}.0 * n))')}
               AS reliability,
           {sql_stable_round4(f'(sres / ({BRIER_SCALE}.0 * n))')}
               AS resolution,
           {sql_stable_round4(_BR_UNC)} AS uncertainty
    FROM s CROSS JOIN bs
    """,
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the percentile-calibrated price-predicts-finality
    forecast, with Murphy's (1973) decomposition over the 10 calibration
    bins: Brier = reliability - resolution + uncertainty. Reliability is
    ml_calibration_bins' miscalibration squared and n-weighted;
    resolution rewards bins whose outcome rate differs from the base
    rate; uncertainty is the base-rate variance no forecaster can beat.
    The one-row diagnosis of WHY a probabilistic gate (quality
    classifier, dedup verifier) has the Brier it has.

    Determinism: the forecast is the integer rank transform
    (rk-1)/(n-1), so the raw Brier numerator sum((rk-1) - y(n-1))^2 is
    an exact HUGEINT/DECIMAL integer; each per-bin REL/RES term is one
    division quantized at 1e-6 BEFORE the 10-row
    sum (order-independent); uncertainty is expression text over exact
    counts. stable_round4 everywhere.

    Scale shape (round-8 departition): prefix_offsets over the distinct
    score values replaces the global fact rank (no unpartitioned window,
    no fact-sized persist), one 10-row bin aggregate, scalar algebra —
    ml_calibration_bins' plan plus one extra exact reduction.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    # round-8 departition (rank-cut family): rank() with ties sharing is
    # off_cnt(cents)+1 from prefix_offsets over the DISTINCT cents values
    # — the old form was a global fact rank funneled through one task,
    # AND its .persist() made the optimizer substitute InMemoryRelation
    # into every identical subtree, hiding the windows from the plan
    # audit for two rounds (the audit now recurses into cached plans).
    # Rows collapse to (cents, pos) groups: rk, bin, and every per-row
    # term are constant within a group, so each aggregate weights by the
    # group count. The compact group table is checkpointed once — the
    # numerator, the bins, and the base rate all branch from it without
    # re-scanning the fact.
    from .prefix import prefix_offsets

    vg = base.groupBy("cents", "pos").agg(F.count("*").alias("cnt"))
    cg = vg.groupBy("cents").agg(F.sum("cnt").alias("vc"))
    offs = prefix_offsets(cg, [], "cents", ["vc"], ascending=True)
    r = vg.join(
        offs.select(
            "cents",
            F.col("off_vc").alias("rkm1"),
            F.col("tot_vc").alias("n"),
        ),
        "cents",
    ).transform(pin)
    dev = (F.col("rkm1") - F.col("pos") * (F.col("n") - 1)).cast(
        "decimal(38,0)"
    )
    bs = r.agg(
        F.sum(
            dev
            * (F.col("rkm1") - F.col("pos") * (F.col("n") - 1))
            * F.col("cnt")
        )
        .cast("double")
        .alias("bnum")
    )
    b = r.select(
        F.least(
            F.expr("CAST(rkm1 * 10 DIV (n - 1) AS INT)"), F.lit(9)
        ).alias("bin"),
        "pos",
        "cnt",
        "rkm1",
        "n",
    )
    g = b.groupBy("bin", "n").agg(
        F.sum("cnt").cast("long").alias("n_b"),
        F.sum(F.col("pos") * F.col("cnt")).cast("long").alias("pos_b"),
        # srk stays DECIMAL: the within-bin rank mass is ~n_b*n, which
        # exceeds LONG at the 1e10-row posture — the old .cast("long")
        # was a CHECKED cast in Spark 4 and would have crashed there.
        # _BR_REL_T only ever reads CAST(srk AS DOUBLE).
        F.sum(F.col("rkm1").cast("decimal(38,0)") * F.col("cnt")).alias(
            "srk"
        ),
    )
    pt = r.agg(
        F.sum(F.col("pos") * F.col("cnt")).cast("long").alias("p")
    )
    terms = g.crossJoin(F.broadcast(pt)).selectExpr(
        "n", "p", f"{_BR_REL_T} AS rel_t", f"{_BR_RES_T} AS res_t"
    )
    s = terms.agg(
        F.max("n").cast("double").alias("n"),
        F.max("p").cast("double").alias("p"),
        F.count("*").cast("long").alias("n_bins"),
        F.sum("rel_t").cast("double").alias("srel"),
        F.sum("res_t").cast("double").alias("sres"),
    )
    return s.crossJoin(F.broadcast(bs)).selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        "n_bins",
        f"CAST({sql_stable_round4('(bnum / (n * (n - 1.0) * (n - 1.0)))')}"
        " AS DOUBLE) AS brier_score",
        f"CAST({sql_stable_round4(f'(srel / ({BRIER_SCALE}.0 * n))')}"
        " AS DOUBLE) AS reliability",
        f"CAST({sql_stable_round4(f'(sres / ({BRIER_SCALE}.0 * n))')}"
        " AS DOUBLE) AS resolution",
        f"CAST({sql_stable_round4(_BR_UNC)} AS DOUBLE) AS uncertainty",
    )


# --------------------------------------------------------------------------
# ml_isotonic_calibration — PAV via the minimax identity over the bins
# --------------------------------------------------------------------------

ISO_BINS = 10
# segment averages quantized to 1e-12 BEFORE the minimax lattice walk so
# max/min compare integers, never engine-ordered doubles
ISO_SCALE = 1_000_000_000_000


@register(
    "ml_isotonic_calibration",
    oracle=f"""
    WITH base AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders),
    r AS (
        SELECT pos, rank() OVER (ORDER BY cents) AS rk,
               count(*) OVER () AS n
        FROM base),
    b AS (
        SELECT least(CAST((rk - 1) * {ISO_BINS} // (n - 1) AS INT),
                     {ISO_BINS - 1}) AS bin, pos
        FROM r),
    g AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(pos) AS BIGINT) AS pos_b
        FROM b GROUP BY 1),
    segs AS (
        SELECT j.bin AS jb, k.bin AS kb,
               (sum(m.pos_b) * {ISO_SCALE}) // sum(m.n_b) AS aq
        FROM g j JOIN g k ON j.bin <= k.bin
        JOIN g m ON m.bin BETWEEN j.bin AND k.bin
        GROUP BY 1, 2),
    inner_min AS (
        SELECT i.bin, s.jb, min(s.aq) AS mn
        FROM g i JOIN segs s ON s.jb <= i.bin AND s.kb >= i.bin
        GROUP BY 1, 2),
    iso AS (
        SELECT bin, max(mn) AS iso_q FROM inner_min GROUP BY 1)
    SELECT g.bin, g.n_b AS n_bin, g.pos_b AS pos_bin,
           {sql_stable_round4(
               'CAST(g.pos_b AS DOUBLE) / CAST(g.n_b AS DOUBLE)')}
               AS raw_rate,
           {sql_stable_round4(
               f'CAST(iso.iso_q AS DOUBLE) / {ISO_SCALE}.0')}
               AS iso_rate
    FROM g JOIN iso ON g.bin = iso.bin
    ORDER BY g.bin
    """,
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) recalibration of the rank-score reliability curve,
    fitted relationally via the minimax identity iso(i) = max_{{j<=i}}
    min_{{k>=i}} ybar(j..k) — the closed form of pool-adjacent-violators
    (Robertson, Wright & Dykstra 1988), so no sequential pooling loop
    exists in the plan. Same rank-cut base as ml_calibration_bins; the
    output iso_rate is monotone non-decreasing in bin by construction
    (the property a downstream score consumer relies on).

    Determinism: bin stats are exact integer counts; every segment
    average over bins j..k is quantized to an integer at 1e-12 by exact
    integer division BEFORE the minimax max/min walk, so the lattice
    compares integers, never engine-ordered doubles; final rates are one
    double division each through stable_round4.

    Scale shape (round-8 departition): the bin cut comes from
    prefix_offsets over the distinct score values (no global fact rank
    — the old window was the 3.0x row in SCALE.md's 10x probe, hidden
    from the plan audit by a sibling op's persist); everything past the
    {ISO_BINS}-row bin aggregate is lattice algebra on O(bins^2) =
    {ISO_BINS * ISO_BINS} rows.
    """
    o = load(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    # round-8 departition (rank-cut family, same machinery as
    # ml_calibration_bins): rank() ties share, so the bin of every row
    # in a cents group is determined by off_cnt(cents) alone — compute
    # it with prefix_offsets over the DISTINCT values instead of a
    # global fact rank through one task.
    from .prefix import prefix_offsets

    vg = base.groupBy("cents").agg(
        F.count("*").alias("cnt"), F.sum("pos").alias("pos_c")
    )
    offs = prefix_offsets(vg, [], "cents", ["cnt"], ascending=True)
    b = offs.select(
        F.least(
            F.expr(f"CAST(off_cnt * {ISO_BINS} DIV (tot_cnt - 1) AS INT)"),
            F.lit(ISO_BINS - 1),
        ).alias("bin"),
        "cnt",
        "pos_c",
    )
    g = b.groupBy("bin").agg(
        F.sum("cnt").alias("n_b"), F.sum("pos_c").alias("pos_b")
    ).transform(pin)
    # ^ the minimax lattice references g FIVE times (j/k/m legs, the
    # inner-min probe, the final join) — unpinned, each leg re-ran the
    # entire prefix DAG; pinned, the lattice reads 10 cached rows
    j = g.select(F.col("bin").alias("jb"))
    k = g.select(F.col("bin").alias("kb"))
    m = g.select(
        F.col("bin").alias("mb"), F.col("n_b").alias("mn_b"),
        F.col("pos_b").alias("mpos_b"),
    )
    segs = (
        j.join(k, F.col("jb") <= F.col("kb"))
        .join(m, (F.col("mb") >= F.col("jb")) & (F.col("mb") <= F.col("kb")))
        .groupBy("jb", "kb")
        .agg(
            # DECIMAL before the multiply (round-10 overflow sweep):
            # sum(pos)*1e12 wraps LONG at just ~9.2e6 positives per
            # segment (sf100-adjacent); the quotient is a fraction at
            # 1e12 so the DIV result always fits. DuckDB's twin is
            # already exact (its sum() returns HUGEINT).
            F.expr(
                f"(CAST(sum(mpos_b) AS DECIMAL(19,0)) * {ISO_SCALE})"
                " div sum(mn_b)"
            ).alias("aq")
        )
    )
    inner_min = (
        g.select(F.col("bin"))
        .join(
            segs,
            (F.col("jb") <= F.col("bin")) & (F.col("kb") >= F.col("bin")),
        )
        .groupBy("bin", "jb")
        .agg(F.min("aq").alias("mn"))
    )
    iso = inner_min.groupBy("bin").agg(F.max("mn").alias("iso_q"))
    out = g.join(iso, "bin")
    return out.selectExpr(
        "bin",
        "n_b AS n_bin",
        "pos_b AS pos_bin",
        f"CAST({sql_stable_round4('CAST(pos_b AS DOUBLE) / CAST(n_b AS DOUBLE)')}"
        " AS DOUBLE) AS raw_rate",
        f"CAST({sql_stable_round4(f'CAST(iso_q AS DOUBLE) / {ISO_SCALE}.0')}"
        " AS DOUBLE) AS iso_rate",
    ).orderBy("bin")


# --------------------------------------------------------------------------
# ml_conformal_interval — split-conformal prediction intervals per group
# --------------------------------------------------------------------------

CONF_ALPHA_PCT = 10  # 90% marginal coverage


@register(
    "ml_conformal_interval",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority AS grp,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
               {sql_hash_bucket("'conf-' || CAST(o_orderkey AS VARCHAR)",
                                2)} AS fold
        FROM orders),
    mu AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n_train,
               CAST((sum(CAST(cents AS HUGEINT)) * 1000000) // count(*)
                    AS BIGINT) AS mean_micro
        FROM base WHERE fold = 0 GROUP BY 1),
    calib AS (
        SELECT b.grp, b.o_orderkey,
               abs(b.cents * 1000000 - m.mean_micro) AS resid_micro
        FROM base b JOIN mu m ON b.grp = m.grp
        WHERE b.fold = 1),
    ranked AS (
        SELECT grp, resid_micro,
               row_number() OVER (PARTITION BY grp
                                  ORDER BY resid_micro, o_orderkey) AS rk,
               count(*) OVER (PARTITION BY grp) AS n_cal
        FROM calib),
    qhat AS (
        SELECT grp, n_cal, resid_micro AS q_micro
        FROM ranked
        WHERE rk = least(
            CAST(ceil((n_cal + 1) * (100 - {CONF_ALPHA_PCT}) / 100.0)
                 AS BIGINT), n_cal)),
    cov AS (
        SELECT c.grp,
               CAST(sum(CASE WHEN c.resid_micro <= q.q_micro
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_in
        FROM calib c JOIN qhat q ON c.grp = q.grp
        GROUP BY 1)
    SELECT m.grp AS priority,
           m.n_train, q.n_cal,
           floor(m.mean_micro / 100000000.0 * 10000.0 + 0.5) / 10000.0
               AS center,
           floor(q.q_micro / 100000000.0 * 10000.0 + 0.5) / 10000.0
               AS half_width,
           floor(c.n_in * 1.0 / q.n_cal * 10000.0 + 0.5) / 10000.0
               AS calib_coverage
    FROM mu m JOIN qhat q ON m.grp = q.grp JOIN cov c ON c.grp = m.grp
    ORDER BY priority
    """,
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per order priority (Vovk et
    al. 2005; Lei et al. 2018 — the distribution-free uncertainty wrap
    modern ML serving puts around ANY point predictor): a deterministic
    md5 fold split, the fold-0 group mean as the predictor, fold-1
    absolute residuals as conformity scores, and the interval half-width
    is the ceil((n+1)(1-alpha))-th smallest calibration residual — rank
    selection, no distributional assumption. 90% marginal coverage is
    GUARANTEED by exchangeability; the calib_coverage column certifies
    it empirically on the calibration fold (>= 0.9 by construction of
    the rank pick).

    Determinism: fold assignment is a salted md5-bucket; the group mean
    is an exact integer division to micro-cents; residuals stay integer
    micro-cents; the oracle's quantile is a row_number pick with an
    orderkey tie-break, and the Spark side selects the SAME value from
    the distinct-residual offsets (ties share a value, so the rank-k
    value never depends on tie order); outputs descale once through the
    stable-round4 form.

    Scale shape (round-10 partitioned-window sweep): the old form
    ranked every calibration row inside 5 priority partitions — a
    fact-scaled single-task sort per priority, invisible to the
    unpartitioned-window audit, with row_number's IntegerType counter
    wrapping past 2^31 rows per priority. Now: a map-side-combining
    aggregate to distinct (grp, resid) counts, prefix_offsets keyed by
    grp (every window partitioned by (grp, value bucket)), and the rank-k
    pick is the value group with off < k <= off + c. Integer rank
    bounds via DIV/ceil kept textually identical to the oracle.
    """
    from .prefix import prefix_offsets
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5)
        .cast("long")
        .alias("cents"),
        hash_bucket(
            F.concat(F.lit("conf-"), F.col("o_orderkey").cast("string")), 2
        ).alias("fold"),
    )
    mu = (
        base.filter(F.col("fold") == 0)
        .groupBy("grp")
        .agg(
            F.count("*").alias("n_train"),
            F.expr(
                "CAST((sum(CAST(cents AS DECIMAL(38,0))) * 1000000)"
                " div count(*) AS BIGINT)"
            ).alias("mean_micro"),
        )
    )
    calib = (
        base.filter(F.col("fold") == 1)
        .join(F.broadcast(mu.select("grp", "mean_micro")), "grp")
        .select(
            "grp",
            "o_orderkey",
            F.abs(
                F.col("cents") * 1000000 - F.col("mean_micro")
            ).alias("resid_micro"),
        )
    )
    vg = calib.groupBy("grp", "resid_micro").agg(
        F.count(F.lit(1)).alias("c")
    )
    offs = prefix_offsets(vg, ["grp"], "resid_micro", ["c"])
    qhat = (
        offs.withColumn(
            "rk_t",
            F.expr(
                f"least(CAST(ceil((tot_c + 1)"
                f" * (100 - {CONF_ALPHA_PCT}) / 100.0) AS BIGINT), tot_c)"
            ),
        )
        .filter(
            (F.col("off_c") < F.col("rk_t"))
            & ((F.col("off_c") + F.col("c")) >= F.col("rk_t"))
        )
        .select(
            "grp",
            F.col("tot_c").alias("n_cal"),
            F.col("resid_micro").alias("q_micro"),
        )
    )
    cov = (
        calib.join(F.broadcast(qhat.select("grp", "q_micro")), "grp")
        .groupBy("grp")
        .agg(
            F.sum(
                F.when(F.col("resid_micro") <= F.col("q_micro"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_in")
        )
    )
    out = mu.join(qhat, "grp").join(cov, "grp")
    return out.selectExpr(
        "grp AS priority",
        "n_train",
        "n_cal",
        "CAST(floor(mean_micro / 100000000.0 * 10000.0 + 0.5) / 10000.0"
        " AS DOUBLE) AS center",
        "CAST(floor(q_micro / 100000000.0 * 10000.0 + 0.5) / 10000.0"
        " AS DOUBLE) AS half_width",
        "CAST(floor(n_in * 1.0 / n_cal * 10000.0 + 0.5) / 10000.0"
        " AS DOUBLE) AS calib_coverage",
    ).orderBy("priority")


# --------------------------------------------------------------------------
# ml_qini_uplift — Qini curve for uplift targeting by activity decile
# --------------------------------------------------------------------------

QINI_BINS = 10


@register(
    "ml_qini_uplift",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(user_id % 2 AS INT) AS treat,
               CAST(count(*) AS BIGINT) AS activity,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY 1),
    ranked AS (
        SELECT treat, conv,
               row_number() OVER (ORDER BY activity DESC, user_id) AS rk,
               count(*) OVER () AS n
        FROM per_user),
    binned AS (
        SELECT least(CAST((rk - 1) * {QINI_BINS} // n AS INT),
                     {QINI_BINS - 1}) AS bin, treat, conv
        FROM ranked),
    per_bin AS (
        SELECT bin,
               CAST(sum(treat) AS BIGINT) AS nt,
               CAST(sum(1 - treat) AS BIGINT) AS nc,
               CAST(sum(CASE WHEN treat = 1 THEN conv ELSE 0 END)
                    AS BIGINT) AS ct,
               CAST(sum(CASE WHEN treat = 0 THEN conv ELSE 0 END)
                    AS BIGINT) AS cc
        FROM binned GROUP BY 1),
    cum AS (
        SELECT bin,
               sum(nt) OVER w AS cnt_t, sum(nc) OVER w AS cnt_c,
               sum(ct) OVER w AS cum_ct, sum(cc) OVER w AS cum_cc
        FROM per_bin
        WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING))
    SELECT bin,
           CAST(cnt_t AS BIGINT) AS n_treat,
           CAST(cnt_c AS BIGINT) AS n_ctrl,
           CAST(cum_ct AS BIGINT) AS conv_treat,
           CAST(cum_cc AS BIGINT) AS conv_ctrl,
           floor((cum_ct - CAST(cum_cc AS DOUBLE) * cnt_t
                  / nullif(cnt_c, 0)) * 10000.0 + 0.5) / 10000.0
               AS qini
    FROM cum ORDER BY bin
    """,
)
def ml_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve (Radcliffe 2007 — THE uplift-modeling readout: how many
    INCREMENTAL conversions targeting the top-x% by a score buys over
    random): users randomize by id parity into treat/control, the
    targeting score is activity (event count), and per cumulative decile
    qini(x) = conv_t(x) - conv_c(x) * N_t(x)/N_c(x) — treated
    conversions minus the control conversions rescaled to the treated
    exposure. Completes the experimentation kit's TARGETING corner next
    to the average-effect readouts (delta method, CUPED, SPRT).

    Determinism: arms, conversions, and exposures are exact integers;
    the decile cut is integer rank arithmetic with a user_id tie-break;
    the single rescaling division is guarded by nullif and goes through
    the stable-round4 form.

    Scale shape (round-7 departition, VERDICT r6 "what's wrong" #2): the
    oracle's global ``row_number() OVER (ORDER BY activity DESC,
    user_id)`` is reconstructed WITHOUT a global sort — global rank =
    (#users with strictly higher activity) + (row_number within the
    equal-activity partition ordered by user_id). The offset table is a
    theta self-join over DISTINCT activity values (d ≪ |users|: activity
    is per-user event count, its support is small and heavy-tailed, so
    d² offset pairs are trivial at any corpus size and the frame
    broadcasts), and the within-activity window is PARTITIONED — no
    single-task sort of the user dimension anywhere. The {QINI_BINS}-row
    cumulative is a broadcast theta join over bins, not a window:
    tools/window_audit.py shows this op at 0 unpartitioned windows.
    """
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.expr("CAST(user_id % 2 AS INT)").alias("treat"),
        F.count("*").alias("activity"),
        F.expr(
            "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
        ).alias("conv"),
    ).transform(pin)
    # ^ materialized ONCE: the offset table, the total, and the rank
    # assignment all branch from this |users|-sized frame — without the
    # checkpoint each branch re-scans the events fact (8 scans at plan
    # level). "Touch the fact once" is the whole point of the op.
    # rank offsets per distinct activity: off(a) = #users with activity > a
    acts = per_user.groupBy("activity").agg(F.count("*").alias("cnt"))
    hi = acts.select(
        F.col("activity").alias("h_act"), F.col("cnt").alias("h_cnt")
    )
    off = (
        acts.join(F.broadcast(hi), F.col("h_act") > F.col("activity"), "left")
        .groupBy("activity")
        .agg(F.coalesce(F.sum("h_cnt"), F.lit(0)).alias("off"))
    )
    n_total = per_user.agg(F.count("*").alias("n"))
    ranked = (
        per_user.join(F.broadcast(off), "activity")
        .withColumn(
            # LONG-safe within-tie numbering (round-10 partitioned-window
            # sweep): activity is a per-user COUNT, so tie groups are
            # Zipf-massed (activity=1 alone can exceed 2^31 users at
            # posture) — count-over-frame, never the int row_number
            "rn",
            F.count(F.lit(1)).over(
                W.partitionBy("activity")
                .orderBy("user_id")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .join(F.broadcast(n_total))
        .selectExpr("treat", "conv", "off + rn AS rk", "n")
    )
    binned = ranked.selectExpr(
        f"least(CAST((rk - 1) * {QINI_BINS} DIV n AS INT),"
        f" {QINI_BINS - 1}) AS bin",
        "treat",
        "conv",
    )
    per_bin = binned.groupBy("bin").agg(
        F.sum("treat").alias("nt"),
        F.sum(1 - F.col("treat")).alias("nc"),
        F.sum(F.expr("CASE WHEN treat = 1 THEN conv ELSE 0 END")).alias(
            "ct"
        ),
        F.sum(F.expr("CASE WHEN treat = 0 THEN conv ELSE 0 END")).alias(
            "cc"
        ),
    )
    # cumulative over <= QINI_BINS rows via broadcast theta join (<= bin),
    # not an unpartitioned window; the 10-row frame is pinned so the
    # theta join's two references don't re-run the user aggregation
    per_bin = per_bin.transform(pin)
    pb = per_bin.select(
        F.col("bin").alias("p_bin"),
        F.col("nt").alias("p_nt"),
        F.col("nc").alias("p_nc"),
        F.col("ct").alias("p_ct"),
        F.col("cc").alias("p_cc"),
    )
    cum = (
        per_bin.join(F.broadcast(pb), F.col("p_bin") <= F.col("bin"))
        .groupBy("bin")
        .agg(
            F.sum("p_nt").alias("cnt_t"),
            F.sum("p_nc").alias("cnt_c"),
            F.sum("p_ct").alias("cum_ct"),
            F.sum("p_cc").alias("cum_cc"),
        )
    )
    return cum.selectExpr(
        "bin",
        "CAST(cnt_t AS BIGINT) AS n_treat",
        "CAST(cnt_c AS BIGINT) AS n_ctrl",
        "CAST(cum_ct AS BIGINT) AS conv_treat",
        "CAST(cum_cc AS BIGINT) AS conv_ctrl",
        "CAST(floor((cum_ct - CAST(cum_cc AS DOUBLE) * cnt_t"
        " / nullif(cnt_c, 0)) * 10000.0 + 0.5) / 10000.0 AS DOUBLE)"
        " AS qini",
    ).orderBy("bin")
