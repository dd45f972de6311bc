"""Known-answer tests for the round-4 continuation-3 tranche (rank/robust/
eval/ts operators) on tiny hand-built parquet fixtures — brute-force python
ground truths the DuckDB oracle twin can't state (the twin runs the SAME
formula, so a formula-level error would pass it; these references are
independent reimplementations)."""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from repcheck_data_integration_spark.operators.aggregates import (
    agg_lorenz_deciles,
    agg_trimmed_mean,
)
from repcheck_data_integration_spark.operators.evaluation import ml_auc_pr
from repcheck_data_integration_spark.operators.hypothesis import ml_kendall_tau
from repcheck_data_integration_spark.operators.textstats import (
    ml_cohen_kappa,
    text_code_detect,
)
from repcheck_data_integration_spark.operators.timeseries import (
    ts_adf_test,
    ts_dow_profile,
)
from repcheck_data_integration_spark.operators.windows import win_drawdown
from repcheck_data_integration_spark.streaming.batch_windows import (
    events_gesd_outliers,
)

from conftest import round4


def _brute_tau_b(pairs):
    n = len(pairs)
    c = d = 0
    for i in range(n):
        for j in range(i + 1, n):
            sx = pairs[i][0] - pairs[j][0]
            sy = pairs[i][1] - pairs[j][1]
            p = sx * sy
            if sx != 0 and sy != 0:
                if p > 0:
                    c += 1
                else:
                    d += 1
    from collections import Counter

    tx = sum(t * (t - 1) // 2 for t in Counter(x for x, _ in pairs).values())
    ty = sum(t * (t - 1) // 2 for t in Counter(y for _, y in pairs).values())
    n0 = n * (n - 1) // 2
    return (c - d) / math.sqrt((n0 - tx) * (n0 - ty)), c, d


def test_kendall_tau_matches_brute_force(spark, tmp_path, write_table):
    """Mixed list with ties on both margins: the contingency pair count
    must equal the O(n^2) brute force exactly (C, D, and tau-b)."""
    qd = [(1, 0), (1, 1), (2, 1), (2, 3), (3, 2), (3, 2), (4, 5), (5, 4),
          (5, 5), (2, 0)]
    write_table(
        "lineitem",
        [(float(q), d / 100.0) for q, d in qd],
        ["l_quantity", "l_discount"],
    )
    row = ml_kendall_tau(spark, str(tmp_path)).collect()[0]
    tau, c, d = _brute_tau_b(qd)
    assert row["concordant"] == c and row["discordant"] == d
    assert row["kendall_tau_b"] == round4(tau)
    assert row["n_rows"] == len(qd)


def test_kendall_tau_perfect_orders(spark, tmp_path, write_table):
    """Strictly increasing pairs -> tau exactly 1."""
    write_table(
        "lineitem",
        [(float(i), i / 100.0) for i in range(1, 7)],
        ["l_quantity", "l_discount"],
    )
    row = ml_kendall_tau(spark, str(tmp_path)).collect()[0]
    assert row["kendall_tau_b"] == 1.0 and row["discordant"] == 0


def test_drawdown_known_sequence(spark, tmp_path):
    """Prices 100, 300, 120, 250, 50: peak 300, worst drawdown 250 on the
    LAST day (300-50); the first date attaining it must be reported."""
    prices = [100.0, 300.0, 120.0, 250.0, 50.0]
    df = spark.createDataFrame(
        [(i, 1, f"2024-01-{i + 1:02d}", p) for i, p in enumerate(prices)],
        ["o_orderkey", "o_custkey", "o_date_s", "o_totalprice"],
    ).select(
        "o_orderkey",
        "o_custkey",
        F.col("o_date_s").cast("timestamp").alias("o_orderdate"),
        "o_totalprice",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "orders.parquet")
    )
    row = win_drawdown(spark, str(tmp_path)).collect()[0]
    assert row["n_orders"] == 5
    assert row["peak_cents"] == 30000
    assert row["max_drawdown_cents"] == 25000
    assert str(row["trough_date"]).startswith("2024-01-05")


def test_auc_pr_perfect_and_prevalence(spark, tmp_path, write_table):
    """Perfect ranker -> AP = 1. All-tied scores -> AP = prevalence."""
    rows = (
        [(i, i, "F", 100.0 + i, "1-URGENT") for i in range(4)]
        + [(10 + i, i, "O", 1.0 + i, "1-URGENT") for i in range(6)]
        + [(20 + i, i, "F", 50.0, "5-LOW") for i in range(3)]
        + [(30 + i, i, "O", 50.0, "5-LOW") for i in range(9)]
    )
    write_table(
        "orders",
        rows,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    )
    out = {r["segment"]: r for r in ml_auc_pr(spark, str(tmp_path)).collect()}
    assert out["1-URGENT"]["avg_precision"] == 1.0
    assert out["5-LOW"]["avg_precision"] == round4(3 / 12)


def test_trimmed_and_winsorized_known(spark, tmp_path, write_table):
    """10 values 10..100: k=1, trimmed mean = mean(20..90) = 55,
    winsorized = (20 + 20..90 + 90)/10 = 55."""
    vals = [float(v) for v in range(10, 101, 10)]
    write_table(
        "orders",
        [(i, i, "F", v, "P") for i, v in enumerate(vals)],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    )
    row = agg_trimmed_mean(spark, str(tmp_path)).collect()[0]
    assert row["trim_k"] == 1
    assert row["trimmed_mean"] == 55.0
    assert row["winsorized_mean"] == 55.0


def test_lorenz_deciles_known(spark, tmp_path, write_table):
    """10 customers with revenue 1..10: decile d holds customer d+1 and
    the cumulative share follows the exact partial sums of 55."""
    write_table(
        "orders",
        [(i, i, "F", float(i + 1), "P") for i in range(10)],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    )
    rows = agg_lorenz_deciles(spark, str(tmp_path)).collect()
    assert [r["decile"] for r in rows] == list(range(10))
    assert all(r["n_customers"] == 1 for r in rows)
    cum = 0
    for r in rows:
        cum += r["revenue_cents"]
        assert r["cum_revenue_share"] == round4(cum / 5500.0)


def test_gesd_finds_masking_outliers(spark, tmp_path, events_daily):
    """Two big outliers that would mask each other under a single z-pass:
    rounds 1 and 2 must pick them (largest first), round 3 a normal day."""
    counts = [20, 21] * 10 + [100, 95]
    events_daily(counts)
    rows = events_gesd_outliers(spark, str(tmp_path)).collect()
    assert [r["round"] for r in rows] == [1, 2, 3]
    assert rows[0]["day_index"] == 20 and rows[0]["day_count"] == 100
    assert rows[1]["day_index"] == 21 and rows[1]["day_count"] == 95
    assert rows[2]["day_count"] in (20, 21)
    assert rows[0]["r_stat"] > rows[2]["r_stat"]


def test_gesd_constant_remainder_null_r(spark, tmp_path, events_daily):
    """Degenerate: after removing the outliers the set is constant —
    the studentized R is undefined and must surface as NULL, never an
    ANSI divide-by-zero crash."""
    events_daily([20] * 20 + [100])
    rows = events_gesd_outliers(spark, str(tmp_path)).collect()
    assert rows[0]["day_count"] == 100 and rows[0]["r_stat"] is not None
    assert rows[1]["r_stat"] is None and rows[2]["r_stat"] is None


def test_adf_alternating_rejects_random_walk_does_not(spark, tmp_path, events_daily):
    """A strict period-2 series mean-reverts maximally -> unit root
    rejected with a very negative t; a monotone ramp (pure trend, dx
    constant) must NOT reject."""
    # noisy mean reversion (a perfectly alternating series would fit the
    # DF regression EXACTLY -> zero residual variance -> NULL t, so add
    # deterministic jitter to keep the residual alive)
    events_daily(
                  [(100 + 7 * (d % 3)) if d % 2 == 0 else (2 + 5 * (d % 5))
                   for d in range(24)])
    row = ts_adf_test(spark, str(tmp_path)).collect()[0]
    assert row["rejects_unit_root"] is True
    assert row["df_t_stat"] < -2.86
    events_daily([10 + 5 * d for d in range(20)])
    row = ts_adf_test(spark, str(tmp_path)).collect()[0]
    # dx is CONSTANT: zero residual variance, t undefined -> NULL t,
    # rejects coalesced to False (not an ANSI divide-by-zero crash)
    assert row["df_t_stat"] is None
    assert row["rejects_unit_root"] is False


def test_dow_profile_exact_median(spark, tmp_path, events_daily):
    """2024-03-01 is a Friday (dow 5). Days 1, 8, 15 (all Fridays) get
    counts 5, 11, 7 -> median 7; Saturdays get 4, 6 -> median 5.0."""
    counts = [0] * 15
    counts[0], counts[7], counts[14] = 5, 11, 7  # Fridays
    counts[1], counts[8] = 4, 6  # Saturdays
    events_daily([c if c else 1 for c in counts])
    out = {r["dow"]: r for r in ts_dow_profile(spark, str(tmp_path)).collect()}
    assert out[5]["n_days"] == 3 and out[5]["median_daily"] == 7.0
    assert out[6]["n_days"] == 2 and out[6]["median_daily"] == 5.0


def test_code_detect_thresholds(spark, tmp_path, write_table):
    """All-lexicon doc -> ratio 1.0, flagged; no-lexicon doc -> 0.0, not
    flagged; exactly-20% doc -> flagged (>= threshold)."""
    docs = [
        (0, "scan hash merge sort", "en", "s", 4),
        (1, "apple banana cherry date egg", "en", "s", 5),
        (2, "scan apple banana cherry date", "en", "s", 5),
    ]
    write_table(
        "documents", docs,
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r["doc_id"]: r for r in
           text_code_detect(spark, str(tmp_path)).collect()}
    assert out[0]["code_ratio"] == 1.0 and out[0]["is_code_like"]
    assert out[1]["code_ratio"] == 0.0 and not out[1]["is_code_like"]
    assert out[2]["code_tokens"] == 1 and out[2]["is_code_like"]


def test_cohen_kappa_perfect_agreement(spark, tmp_path, write_table):
    """Labels the marker rule recovers exactly -> po = 1, kappa = 1."""
    docs = [
        (0, "the a of and", "en", "s", 10),
        (1, "der die das und", "de", "s", 10),
        (2, "le la les et", "fr", "s", 10),
        (3, "el los las y", "es", "s", 10),
    ]
    write_table(
        "documents", docs,
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    row = ml_cohen_kappa(spark, str(tmp_path)).collect()[0]
    assert row["observed_agreement"] == 1.0
    assert row["cohen_kappa"] == 1.0
    assert row["n_docs"] == 4
