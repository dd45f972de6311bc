"""Known-answer tests for the time-series operators (operators/timeseries.py)
on tiny hand-built series: planted trends and lags, python replicas of
each statistic, and the exact median selection."""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from repcheck_data_integration_spark.operators.timeseries import (
    ts_autocorr,
    ts_cross_correlation,
    ts_ses_forecast,
    ts_theil_sen,
)


def test_autocorr_alternating_series_sign_pattern(spark, tmp_path):
    """A strict period-2 series must give negative ACF at odd lags and
    positive at even lags; a silent day inside the range is a ZERO, and
    its presence shows up in the lag alignment (gap-filled grid)."""
    rows = []
    eid = 0
    # days 0..13: counts alternate 10, 2, 10, 2, ... day 6 omitted => 0
    for d in range(14):
        if d == 6:
            continue
        n = 10 if d % 2 == 0 else 2
        for _ in range(n):
            rows.append((eid, f"2024-03-{d + 1:02d} 12:00:00", 7, "t", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts_s", "user_id", "event_type", "value", "props"]
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    out = {r["lag"]: r for r in ts_autocorr(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}
    assert out[1]["n_days"] == 14
    # python ground truth with the zero-filled grid
    xs = [(10 if d % 2 == 0 else 2) if d != 6 else 0 for d in range(14)]
    n, s = len(xs), sum(xs)
    den = sum((n * x - s) ** 2 for x in xs)
    for lag in range(1, 8):
        num = sum(
            (n * xs[t] - s) * (n * xs[t + lag] - s)
            for t in range(n - lag)
        )
        want = math.floor(num / den * 10000 + 0.5) / 10000
        assert out[lag]["acf"] == want, lag
    assert out[2]["acf"] > 0 > out[1]["acf"]


def test_theil_sen_recovers_planted_linear_trend(spark, tmp_path):
    """Weekly order counts c_w = 3 + 2w exactly -> every pairwise slope
    is 2, so median slope 2.0 and median residual intercept 3.0."""
    rows = []
    k = 0
    for w in range(8):
        for i in range(3 + 2 * w):
            # spread inside the week so the day->week floor matters
            day = w * 7 + (i % 7)
            rows.append((k, k, "O", 10.0, f"2024-01-{1:02d}", day))
            k += 1
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[5]) for r in rows],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "doff"],
    ).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,doff,0,0,0)")
        .alias("o_orderdate"),
        F.lit("1-URGENT").alias("o_orderpriority"),
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "orders.parquet")
    )
    row = ts_theil_sen(spark, str(tmp_path)).collect()[0]
    assert row["n_weeks"] == 8
    assert row["n_pairs"] == 8 * 7 // 2
    assert row["slope"] == 2.0
    assert row["intercept"] == 3.0


def test_cross_correlation_finds_planted_lead(spark, tmp_path):
    """clicks spike on day 3, purchases spike on day 5 over a flat
    baseline -> the CCF must peak exactly at lag +2 (clicks lead)."""
    rows = []
    eid = 0
    for d in range(14):
        n_click = 20 if d == 3 else 2
        n_buy = 20 if d == 5 else 2
        for _ in range(n_click):
            rows.append((eid, f"2024-03-{d + 1:02d} 10:00:00", 1, "click"))
            eid += 1
        for _ in range(n_buy):
            rows.append((eid, f"2024-03-{d + 1:02d} 11:00:00", 1, "purchase"))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts_s", "user_id", "event_type"]
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    out = {r["lag"]: r for r in
           ts_cross_correlation(spark, str(tmp_path)).collect()}
    assert set(out) == set(range(-7, 8))
    peak = max(out.values(), key=lambda r: r["ccf"])
    assert peak["lag"] == 2
    assert peak["ccf"] > 0.9
    assert out[2]["n_overlap"] == 14 - 2


def test_ses_forecast_constant_series_zero_error(spark, tmp_path):
    """A constant daily series: SES level == the constant, both MAEs 0;
    a step in the holdout is tracked by neither (equal MAEs)."""
    rows = []
    eid = 0
    for d in range(30):
        for _ in range(7):
            rows.append((eid, f"2024-03-{d + 1:02d} 09:00:00", 1, "t"))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts_s", "user_id", "event_type"]
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    row = ts_ses_forecast(spark, str(tmp_path)).collect()[0]
    assert row["n_train"] == 24 and row["n_test"] == 6
    assert row["ses_level"] == 7.0
    assert row["mae_ses"] == 0.0 and row["mae_naive"] == 0.0


# ---------------------------------------------------------------------------
# _median_center_avg — the round-9 bucketed exact median selection
# ---------------------------------------------------------------------------


def _ref_center_avg(values):
    """Reference: mean of the rows with 1-based rank in
    [(m+1)//2, m//2+1] of the sorted multiset — one value for odd m, the
    two central values for even m."""
    s = sorted(values)
    m = len(s)
    lo, hi = (m + 1) // 2, m // 2 + 1
    mid = s[lo - 1 : hi]
    return sum(mid) / len(mid)


def test_median_center_avg_matches_reference_shapes(spark):
    """Odd/even counts, duplicates, negatives, values clustered so the
    target ranks straddle a bucket boundary, and the all-equal degenerate
    (single-bucket) case — each against the sorted-list reference."""
    from repcheck_data_integration_spark.operators.timeseries import (
        _median_center_avg,
    )

    cases = [
        [5.0],                                   # singleton
        [2.0, 4.0],                              # even: mean of both
        [1.0, 2.0, 3.0],                         # odd
        [1.0, 1.0, 1.0, 1.0],                    # all equal (width 0)
        [-3.0, -1.0, 0.0, 2.0, 7.0, 7.0],        # even, negatives, ties
        [float(i) for i in range(1, 1001)],      # even, many buckets
        [float(i) for i in range(1, 1002)],      # odd, many buckets
        # heavy clustering: most mass in one bucket, median inside it
        [0.0] * 400 + [1e-9] * 300 + [1e6, 2e6],
        # ranks straddle two adjacent buckets: 500 small + 500 large,
        # centers are the max small and min large
        [float(i) for i in range(500)] + [1e5 + i for i in range(500)],
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], ["v"])
        got = _median_center_avg(df, "v").collect()[0]["avg"]
        assert got == _ref_center_avg(vals), vals[:5]


def test_median_center_avg_tie_order_irrelevant(spark):
    """The selected central VALUES depend only on the value multiset —
    permuting rows / tie columns never changes the result (the property
    that lets the selection skip a global tie-broken row_number)."""
    from repcheck_data_integration_spark.operators.timeseries import (
        _median_center_avg,
    )

    vals = [3.0, 1.0, 3.0, 2.0, 3.0, 1.0]  # even m, ties at the center
    a = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], ["v", "t"]
    )
    b = spark.createDataFrame(
        [(v, 99 - i) for i, v in enumerate(reversed(vals))], ["v", "t"]
    )
    ra = _median_center_avg(a, "v", "t").collect()[0]["avg"]
    rb = _median_center_avg(b, "v", "t").collect()[0]["avg"]
    assert ra == rb == _ref_center_avg(vals)


def test_median_center_avg_hypothesis_random_multisets(spark):
    """Randomized multisets (drawn once, deterministic seed) including
    integer-valued doubles and duplicates, odd and even sizes."""
    import random

    from repcheck_data_integration_spark.operators.timeseries import (
        _median_center_avg,
    )

    rng = random.Random(2609)
    for trial in range(6):
        m = rng.randrange(1, 60)
        vals = [
            float(rng.choice([rng.randrange(-50, 50), rng.uniform(-5, 5)]))
            for _ in range(m)
        ]
        df = spark.createDataFrame([(v,) for v in vals], ["v"]).repartition(4)
        got = _median_center_avg(df, "v").collect()[0]["avg"]
        assert got == _ref_center_avg(vals), (trial, m)


def test_median_center_avg_degenerate_width_guard(spark):
    """ADVICE r9: widths that are 0.0 by subnormal underflow or non-finite
    (±inf endpoints → inf span; Spark's NaN compares GREATER than 0, so a
    bare `width > 0` test would pass NaN through) must route every row to
    bucket 0 — the single-window degradation — instead of wrapping the
    int cast negative and scrambling rank offsets."""
    from repcheck_data_integration_spark.operators.timeseries import (
        _median_center_avg,
    )

    inf = float("inf")
    cases = [
        # inf span: (_mx - _mn) overflows to +inf → width inf
        ([-1.7e308, 1.7e308, 1.0, 2.0, 3.0], 2.0),
        # explicit ±inf endpoints, finite median
        ([-inf, 0.0, inf], 0.0),
        # NaN width: all values +inf → _mx - _mn = inf - inf = NaN
        ([inf, inf, inf], inf),
        # subnormal underflow: span/256 flushes to exactly 0.0
        ([5e-324, 1e-323, 1.5e-323], 1e-323),
        # even m across an inf span: mean of the two central values
        ([-1.7e308, -1.0, 1.0, 1.7e308], 0.0),
    ]
    for vals, want in cases:
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = _median_center_avg(df, "v").collect()[0]["avg"]
        assert got == want, (vals, got, want)


# ---------------------------------------------------------------------------
# ts_theil_sen span cap + sampled estimator (round-10, VERDICT r9 #4)
# ---------------------------------------------------------------------------


def _write_orders_weeks(spark, tmp, week_counts):
    """orders.parquet whose weekly count series is exactly week_counts
    (one date per week, 7-day spacing)."""
    import datetime
    import os

    base = datetime.date(2020, 1, 6)
    rows, k = [], 0
    for w, c in week_counts:
        for _ in range(c):
            rows.append((k, base + datetime.timedelta(days=7 * w)))
            k += 1
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate date"
    ).coalesce(2).write.mode("overwrite").parquet(
        os.path.join(tmp, "orders.parquet")
    )


def test_theil_sen_span_cap_fails_fast(spark, tmp_path):
    """Exact all-pairs Theil-Sen is O(span²) by algorithm: past
    TS_SEN_MAX_WEEKS the woven assert_true must fail the query instead
    of launching a multi-billion-pair join — and the sampled estimator
    must handle the same span (O(span·K) draws)."""
    import pytest

    from repcheck_data_integration_spark.operators.timeseries import (
        TS_SEN_MAX_WEEKS,
        ts_theil_sen,
        ts_theil_sen_sampled,
    )

    tmp = str(tmp_path)
    _write_orders_weeks(spark, tmp, [(0, 3), (TS_SEN_MAX_WEEKS + 100, 2)])
    with pytest.raises(Exception, match="capped at"):
        ts_theil_sen(spark, tmp).collect()
    row = ts_theil_sen_sampled(spark, tmp).collect()[0]
    assert row["n_weeks"] == TS_SEN_MAX_WEEKS + 101
    assert row["slope"] is not None


def test_theil_sen_sampled_recovers_trend_with_outliers(spark, tmp_path):
    """Estimator quality: on a slope-2 linear weekly series with three
    corrupted weeks (+500 orders), both the exact median and the sampled
    median must recover slope 2 — the sample keeps ≥K pairs per week, so
    3/100 outlier weeks stay a minority of sampled slopes."""
    from repcheck_data_integration_spark.operators.timeseries import (
        ts_theil_sen,
        ts_theil_sen_sampled,
    )

    tmp = str(tmp_path)
    counts = [
        (w, 50 + 2 * w + (500 if w in (10, 40, 70) else 0))
        for w in range(100)
    ]
    _write_orders_weeks(spark, tmp, counts)
    e = ts_theil_sen(spark, tmp).collect()[0]
    s = ts_theil_sen_sampled(spark, tmp).collect()[0]
    assert e["slope"] == 2.0
    assert abs(s["slope"] - 2.0) <= 0.05, s["slope"]
    assert 0 < s["n_pairs_sampled"] < e["n_pairs"]
