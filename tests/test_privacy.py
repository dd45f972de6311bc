"""Tests for the differential-privacy mechanisms (operators/privacy.py):
each release is replayed from the md5-driven noise in python."""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import functions as F

from repcheck_data_integration_spark.operators.privacy import (
    DP_EPSILON,
    priv_dp_counts,
)


def test_dp_counts_reproducible_inverse_cdf(spark, tmp_path):
    """The released value must equal the python replica of the salted
    inverse-CDF Laplace draw exactly — reproducibility is the point of
    the deterministic mechanism — and distinct groups get distinct
    noise."""
    rows = []
    eid = 0
    for et, n in [("alpha", 40), ("beta", 25)]:
        for _ in range(n):
            rows.append((eid, "2024-01-01 00:00:00", 1, et, 1.0, "{}"))
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
    out = {r["event_type"]: r for r in
           priv_dp_counts(spark, str(tmp_path)).collect()}

    def replica(et, c):
        h = int(hashlib.md5(f"{et}|dp1".encode()).hexdigest()[:12], 16)
        u = h / float(16**12) - 0.5
        arg = max(1.0 - 2.0 * abs(u), 1e-12)
        noise = (
            (-1.0 if u >= 0 else 1.0)
            * (1.0 / DP_EPSILON)
            * math.floor(math.log(arg) * 1e6 + 0.5)
            / 1e6
        )
        return math.floor((c + noise) * 10000 + 0.5) / 10000

    assert out["alpha"]["noisy_count"] == replica("alpha", 40)
    assert out["beta"]["noisy_count"] == replica("beta", 25)
    assert out["alpha"]["true_count"] == 40
    assert (out["alpha"]["noisy_count"] - 40) != (
        out["beta"]["noisy_count"] - 25
    )
