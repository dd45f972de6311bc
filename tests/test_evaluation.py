"""Known-answer tests for the evaluation and calibration operators
(operators/evaluation.py): perfect, random and brute-force references the
DuckDB oracle twin can't state, since the twin runs the same formula."""

from __future__ import annotations

import math

from repcheck_data_integration_spark.operators.evaluation import (
    ml_auc_roc,
    ml_calibration_bins,
    ml_ks_statistic,
    ml_lift_gains,
)


def _orders(write_table, rows):
    """rows: (priority, status, totalprice)."""
    write_table(
        "orders",
        [(i, i, st, p, pri) for i, (pri, st, p) in enumerate(rows)],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    )


def test_auc_perfect_random_and_pooled(spark, tmp_path, write_table):
    """Segment A: every positive outranks every negative -> AUC 1.0.
    Segment B: all scores tied -> AUC exactly 0.5 (tie correction).
    The pooled row must equal the python rank-sum ground truth."""
    rows = (
        [("A", "F", 100.0 + i) for i in range(5)]
        + [("A", "O", 1.0 + i) for i in range(5)]
        + [("B", "F", 50.0)] * 3
        + [("B", "O", 50.0)] * 3
    )
    _orders(write_table, rows)
    out = {r["segment"]: r for r in ml_auc_roc(spark, str(tmp_path)).collect()}
    assert out["A"]["auc"] == 1.0
    assert out["B"]["auc"] == 0.5
    assert (out["A"]["n_pos"], out["A"]["n_neg"]) == (5, 5)

    # pooled ground truth: P(pos > neg) + 0.5 * P(tie), exhaustive pairs
    pos = [p for _, s, p in rows if s == "F"]
    neg = [p for _, s, p in rows if s != "F"]
    wins = sum(1 for a in pos for b in neg if a > b)
    ties = sum(1 for a in pos for b in neg if a == b)
    want = math.floor(
        (wins + 0.5 * ties) / (len(pos) * len(neg)) * 10000 + 0.5
    ) / 10000
    assert out["__all__"]["auc"] == want


def test_lift_gains_perfect_ranker_front_loads(spark, tmp_path, write_table):
    """40 rows, top decile = all 4 positives: gain hits 1.0 at decile 1
    and lift_1 = n/P = 10; deciles are exact 4-row cuts."""
    rows = [("A", "F", 1000.0 - i) for i in range(4)] + [
        ("A", "O", 500.0 - i) for i in range(36)
    ]
    _orders(write_table, rows)
    out = {r["decile"]: r for r in ml_lift_gains(spark, str(tmp_path)).collect()}
    assert len(out) == 10
    assert all(r["n_bucket"] == 4 for r in out.values())
    assert out[1]["n_pos"] == 4
    assert out[1]["gain"] == 1.0
    assert out[1]["lift"] == 10.0
    assert out[10]["gain"] == 1.0
    assert out[10]["lift"] == 1.0


def test_ks_statistic_disjoint_distributions(spark, tmp_path, write_table):
    """Fully separated scores -> KS = 1.0 exactly at the top negative
    score; equal distributions -> KS = 0."""
    rows = [("A", "F", 100.0 + i) for i in range(5)] + [
        ("A", "O", 10.0 + i) for i in range(5)
    ]
    _orders(write_table, rows)
    row = ml_ks_statistic(spark, str(tmp_path)).collect()[0]
    assert row["ks"] == 1.0
    assert row["ks_at_cents"] == int((10.0 + 4) * 100)

    rows2 = [("A", "F", 50.0), ("A", "O", 50.0)] * 5
    _orders(write_table, rows2)
    row2 = ml_ks_statistic(spark, str(tmp_path)).collect()[0]
    assert row2["ks"] == 0.0


def test_calibration_percentile_identity(spark, tmp_path, write_table):
    """Labels assigned by score percentile (top half positive) make the
    rank calibration nearly perfect in the extreme bins: accuracy is 0
    in the bottom bins and 1 in the top bins, and ECE equals the python
    replica of the integer formula."""
    n = 100
    rows = [("A", "F" if i >= n // 2 else "O", 100.0 + i) for i in range(n)]
    _orders(write_table, rows)
    out = ml_calibration_bins(spark, str(tmp_path)).collect()
    byb = {r["bin"]: r for r in out}
    assert byb[0]["accuracy"] == 0.0 and byb[9]["accuracy"] == 1.0
    # python replica: unique scores, rank = i+1, bin = i*10 // (n-1)
    import collections
    agg = collections.defaultdict(lambda: [0, 0, 0])  # n_b, pos_b, srk
    for i in range(n):
        bb = min((i * 10) // (n - 1), 9)
        agg[bb][0] += 1
        agg[bb][1] += 1 if i >= n // 2 else 0
        agg[bb][2] += i
    ece_num = sum(abs(srk - pos * (n - 1)) for (_, pos, srk) in agg.values())
    want = math.floor(ece_num / ((n - 1) * n) * 10000 + 0.5) / 10000
    assert out[0]["ece"] == want
    for r in out:
        nb, pos, srk = agg[r["bin"]]
        assert r["n_bin"] == nb
        assert r["confidence"] == math.floor(
            srk / ((n - 1) * nb) * 10000 + 0.5
        ) / 10000
