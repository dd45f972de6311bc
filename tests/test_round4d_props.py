"""Independent-reference tests for the continuation-3b operators: python
reimplementations (Durbin-Levinson, Kneser-Ney, log-rank from first
principles, the RR mechanism via hashlib) checked against
the Spark plans on tiny hand-built fixtures. The DuckDB twin shares the
operators' formula text, so only an independent reference catches a
formula-level error."""

from __future__ import annotations

import math
import os
import re
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from repcheck_data_integration_spark.operators.evaluation import (
    ml_auc_pr,
    ml_brier_decomposition,
)
from repcheck_data_integration_spark.operators.hypothesis import (
    events_logrank_test,
    ml_cmh_test,
)
from repcheck_data_integration_spark.operators.models import ml_lasso_cd
from repcheck_data_integration_spark.operators.privacy import (
    priv_randomized_response,
)
from repcheck_data_integration_spark.operators.textops import (
    text_kneser_ney_xent,
)
from repcheck_data_integration_spark.operators.timeseries import (
    ts_dominant_period,
    ts_pacf,
    ts_seasonal_strength,
)

from conftest import md5_bucket, round4


def _acf_ratios(xs, max_lag):
    n, s = len(xs), sum(xs)
    den = sum((n * x - s) ** 2 for x in xs)
    out = {}
    for k in range(1, max_lag + 1):
        num = sum(
            (n * xs[t] - s) * (n * xs[t + k] - s) for t in range(n - k)
        )
        out[k] = num / den
    return out


def test_pacf_durbin_levinson_reference(spark, tmp_path, events_daily):
    """PACF lags 1..3 must equal the python Durbin-Levinson closed forms
    over the exact centered ACF of the gap-filled series."""
    counts = [12, 3, 7, 15, 2, 9, 11, 4, 13, 6, 8, 14, 5, 10]
    events_daily(counts)
    row = ts_pacf(spark, str(tmp_path)).collect()[0]
    r = _acf_ratios(counts, 3)
    p11 = r[1]
    p22 = (r[2] - r[1] * r[1]) / (1 - r[1] * r[1])
    p21 = r[1] * (1 - p22)
    p33 = (r[3] - p21 * r[2] - p22 * r[1]) / (1 - p21 * r[1] - p22 * r[2])
    assert row["n_days"] == len(counts)
    assert row["pacf1"] == round4(p11)
    assert row["pacf2"] == round4(p22)
    assert row["pacf3"] == round4(p33)


def test_dominant_period_planted_cycle(spark, tmp_path, events_daily):
    """A strict period-3 series: the argmax over quantized ACF must match
    the python replica — and land on 3 (window-length effects make the
    shortest multiple the strict winner on this fixture)."""
    counts = ([30, 5, 10] * 7)[:21]
    events_daily(counts)
    row = ts_dominant_period(spark, str(tmp_path)).collect()[0]
    r = _acf_ratios(counts, 14)
    quant = {k: math.floor(1e12 * r[k]) for k in range(2, 15)}
    best = min(sorted(quant), key=lambda k: (-quant[k], k))
    assert row["dominant_period"] == best == 3
    assert row["acf_peak"] == round4(r[best])


def test_lasso_cd_python_replica_and_selection(spark, tmp_path, events_daily):
    """The four CD steps must match a python replica bit-for-bit at
    round4; on a strict weekly pattern the lag-7 coefficient must carry
    the signal."""
    counts = ([50, 4, 6, 8, 5, 7, 9] * 4)[:28]
    events_daily(counts)
    row = ml_lasso_cd(spark, str(tmp_path)).collect()[0]
    rows3 = [
        (counts[t], counts[t - 1], counts[t - 7])
        for t in range(7, len(counts))
    ]
    s11 = float(sum(x1 * x1 for _, x1, _ in rows3))
    s77 = float(sum(x7 * x7 for _, _, x7 in rows3))
    s17 = float(sum(x1 * x7 for _, x1, x7 in rows3))
    s1y = float(sum(x1 * y for y, x1, _ in rows3))
    s7y = float(sum(x7 * y for y, _, x7 in rows3))

    def soft(z, t):
        return z - t if z > t else (z + t if z < -t else 0.0)

    b1 = soft(s1y, s11 / 20.0) / s11
    b7 = soft(s7y - b1 * s17, s77 / 20.0) / s77
    b1 = soft(s1y - b7 * s17, s11 / 20.0) / s11
    b7 = soft(s7y - b1 * s17, s77 / 20.0) / s77
    assert row["beta_lag1"] == round4(b1)
    assert row["beta_lag7"] == round4(b7)
    assert row["beta_lag7"] > 0.5  # weekly signal carried by lag 7


def test_kneser_ney_python_reference(spark, tmp_path, write_table):
    """Per-doc KN cross-entropy must equal an independent python KN
    implementation (continuation counts and all)."""
    docs = [
        (0, "a b a b c", "en", "s", 9),
        (1, "b c b c a", "en", "s", 9),
        (2, "a b c a b", "en", "s", 9),
    ]
    write_table(
        "documents", docs,
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r["doc_id"]: r for r in
           text_kneser_ney_xent(spark, str(tmp_path)).collect()}
    doc_bi = {}
    corpus = Counter()
    for doc_id, text, *_ in docs:
        toks = re.findall(r"[a-z0-9]+", text)
        bg = Counter(zip(toks, toks[1:]))
        doc_bi[doc_id] = bg
        corpus.update(bg)
    c1 = Counter()
    n1w1 = Counter()
    n1w2 = Counter()
    for (w1, w2), c in corpus.items():
        c1[w1] += c
        n1w1[w1] += 1
        n1w2[w2] += 1
    bb = len(corpus)
    for doc_id, bg in doc_bi.items():
        n = sum(bg.values())
        ll = 0.0
        for (w1, w2), cnt in bg.items():
            c12 = corpus[(w1, w2)]
            p = ((4 * c12 - 3) * bb + 3 * n1w1[w1] * n1w2[w2]) / (
                4 * c1[w1] * bb
            )
            ll += cnt * math.log(p)
        assert out[doc_id]["n_bigrams"] == n
        assert out[doc_id]["kn_xent"] == round4(-ll / n), doc_id


def test_brier_murphy_identity_and_uncertainty(spark, tmp_path, write_table):
    """Separable data: binned Murphy identity rel - res + unc tracks the
    Brier score; a balanced base rate pins uncertainty at exactly 0.25."""
    rows = (
        [(i, i, "O", 10.0 + i, "P") for i in range(10)]
        + [(20 + i, i, "F", 100.0 + i, "P") for i in range(10)]
    )
    write_table(
        "orders", rows,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    )
    r = ml_brier_decomposition(spark, str(tmp_path)).collect()[0]
    assert r["uncertainty"] == 0.25
    # perfect separation: rank-calibrated forecast => tiny Brier, high res
    assert r["brier_score"] < 0.12
    assert abs(r["reliability"] - r["resolution"] + r["uncertainty"]
               - r["brier_score"]) < 0.02


def test_randomized_response_mechanism_replay(spark, tmp_path):
    """The reported count must equal a hashlib replay of the salted-md5
    coins — the mechanism is deterministic end to end."""
    rows, eid = [], 0
    truth = {}
    for uid in range(40):
        has = uid % 3 == 0
        truth[uid] = 1 if has else 0
        for et in (["purchase"] if has else ["view"]):
            rows.append((eid, "2024-03-01 10:00:00", uid, et, 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts_s", "user_id", "event_type", "value", "props"]
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    row = priv_randomized_response(spark, str(tmp_path)).collect()[0]
    reported = 0
    for uid, t in truth.items():
        c1 = md5_bucket(f"rr1-{uid}", 4)
        c2 = md5_bucket(f"rr2-{uid}", 2)
        reported += t if c1 < 3 else c2
    assert row["n_users"] == 40
    assert row["true_positives"] == sum(truth.values())
    assert row["reported_positives"] == reported
    n, rp = 40, reported
    assert row["estimated_rate"] == round4((8 * rp - n) / (6 * n))


def test_logrank_first_principles(spark, tmp_path):
    """Log-rank O/E/V must match a from-scratch python computation over
    users with known lifetimes, censoring, and hashlib-replayed arms."""
    # user u: events on day 0 and day dur[u]; corpus max day = 30 so
    # users with last event <= day 23 are churned (gap > 7 days)
    dur = {1: 2, 2: 2, 3: 5, 4: 8, 5: 8, 6: 12, 7: 15, 8: 20, 9: 28,
           10: 30, 11: 3, 12: 10}
    rows, eid = [], 0
    for u, d in dur.items():
        for day in (0, d):
            rows.append(
                (eid, f"2024-03-{day + 1:02d} 10:00:00", u, "t", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts_s", "user_id", "event_type", "value", "props"]
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    row = events_logrank_test(spark, str(tmp_path)).collect()[0]
    max_day = max(dur.values())
    grp = {u: md5_bucket(f"lr-{u}", 2) for u in dur}
    churned = {u: (max_day - d) * 86400 > 7 * 86400 for u, d in dur.items()}
    # risk sets on the joint duration grid
    times = sorted(set(dur.values()))
    o1 = se = sv = 0.0
    n_times = 0
    at_risk = dict(Counter(dur.values()))
    alive = dict(dur)
    for t in times:
        n1 = sum(1 for u, d in alive.items() if d >= t and grp[u] == 0)
        n2 = sum(1 for u, d in alive.items() if d >= t and grp[u] == 1)
        d1 = sum(1 for u, d in alive.items()
                 if d == t and grp[u] == 0 and churned[u])
        d2 = sum(1 for u, d in alive.items()
                 if d == t and grp[u] == 1 and churned[u])
        dt, nt = d1 + d2, n1 + n2
        if dt > 0 and nt >= 2:
            n_times += 1
            o1 += d1
            se += math.floor(1e12 * (dt * n1 / nt))
            sv += math.floor(
                1e12 * (dt * n1 * n2 * (nt - dt) / (nt * nt * (nt - 1.0)))
            )
    assert row["n_times"] == n_times
    assert row["observed_a"] == int(o1)
    assert row["expected_a"] == round4(se / 1e12)
    exp_chi2 = (o1 - se / 1e12) ** 2 / (sv / 1e12)
    assert row["logrank_chi2"] == round4(exp_chi2)


def test_auc_pr_brute_force_mixed(spark, tmp_path, write_table):
    """AP on a mixed ranking must equal the reference per-level loop."""
    labels_scores = [(1, 9.0), (0, 8.0), (1, 7.0), (1, 7.0), (0, 6.0),
                     (1, 5.0), (0, 5.0), (0, 4.0), (1, 3.0), (0, 2.0)]
    write_table(
        "orders",
        [(i, i, "F" if y else "O", s, "P")
         for i, (y, s) in enumerate(labels_scores)],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    )
    out = {r["segment"]: r for r in ml_auc_pr(spark, str(tmp_path)).collect()}
    # reference: iterate distinct scores descending
    by_score = defaultdict(lambda: [0, 0])
    for y, s in labels_scores:
        by_score[s][y] += 1
    P = sum(y for y, _ in labels_scores)
    tp = fp = 0
    ap_q = 0
    for s in sorted(by_score, reverse=True):
        neg, pos = by_score[s]
        tp += pos
        fp += neg
        ap_q += math.floor(1e12 * (pos * tp) / (P * (tp + fp)))
    assert out["P"]["avg_precision"] == round4(ap_q / 1e12)


def test_seasonal_strength_planted_weekly(spark, tmp_path, events_daily):
    """A strict weekly pattern (counts a function of dow only) must give
    seasonal_strength ~ 1; matching python eta-squared exactly."""
    counts = ([40, 4, 6, 8, 10, 12, 14] * 4)[:28]
    events_daily(counts)
    row = ts_seasonal_strength(spark, str(tmp_path)).collect()[0]
    # python reference with the same quantization
    groups = defaultdict(list)
    for d, c in enumerate(counts):
        groups[d % 7].append(c)
    n, s = len(counts), sum(counts)
    ss = sum(c * c for c in counts)
    sbq = sum(
        math.floor(1e6 * (sum(g) ** 2 / len(g))) for g in groups.values()
    )
    ssb = sbq / 1e6 - s * s / n
    sst = ss - s * s / n
    assert row["seasonal_strength"] == round4(ssb / sst)
    assert row["seasonal_strength"] > 0.99
    # perfect pattern: SSwithin can quantize to <= 0 -> F is NULL, not
    # an ANSI divide-by-zero crash
    assert row["f_stat"] is None or row["f_stat"] > 100


def test_cmh_python_reference(spark, tmp_path):
    """CMH O/E/chi2 must match a from-scratch python computation over
    two hand-built year strata with opposite margins."""
    rows = []
    k = 0
    # stratum 1993: urgent 6 (4 F), low 4 (1 F); 1995: urgent 3 (1 F),
    # low 7 (5 F)
    spec = [("1993", "1-URGENT", 6, 4), ("1993", "5-LOW", 4, 1),
            ("1995", "1-URGENT", 3, 1), ("1995", "5-LOW", 7, 5)]
    for year, pri, n, nf in spec:
        for i in range(n):
            rows.append(
                (k, k, "F" if i < nf else "O", 100.0, pri,
                 f"{year}-06-01")
            )
            k += 1
    df = spark.createDataFrame(
        rows,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority", "o_date_s"],
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
        F.col("o_date_s").cast("timestamp").alias("o_orderdate"),
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "orders.parquet")
    )
    row = ml_cmh_test(spark, str(tmp_path)).collect()[0]
    o = se = sv = 0.0
    for (n1, x1), (n2, x2) in [((6, 4), (4, 1)), ((3, 1), (7, 5))]:
        nt, mt = n1 + n2, x1 + x2
        o += x1
        se += math.floor(1e12 * (mt * n1 / nt))
        sv += math.floor(
            1e12 * (mt * n1 * n2 * (nt - mt) / (nt * nt * (nt - 1.0)))
        )
    assert row["n_strata"] == 2
    assert row["observed_urgent_final"] == int(o)
    assert row["expected_urgent_final"] == round4(se / 1e12)
    assert row["cmh_chi2"] == round4((o - se / 1e12) ** 2 / (sv / 1e12))
