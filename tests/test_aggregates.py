"""Known-answer tests for the aggregate operators (operators/aggregates.py):
independent python or DuckDB references for the RFM percentile boundaries,
the KMV sketch and the Theil inequality index."""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from repcheck_data_integration_spark.operators.aggregates import (
    KMV_K,
    agg_kmv_sketch,
    agg_theil_index,
)


# --- RFM percentile boundary jitter (ADVICE r7) ----------------------------

# each case targets a failure mode of cross-engine linear interpolation at
# p*(n-1): exact .5 fractions, float-representation error in the position
# (0.2*6 = 1.2000000000000002 in binary), integer positions (no
# interpolation at all), all-ties, and a 90/10 split that puts three of the
# four boundaries inside one tie run
_JITTER_CASES = {
    "exact_half_fracs": [10, 11],
    "integer_positions": [0, 1, 2, 3, 4, 5],
    "float_error_position": list(range(7)),
    "float_error_longer": [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5],
    "all_ties": [42] * 13,
    "tie_run_boundary": [1] * 9 + [2],
    "big_ints_precision": [10**15 + k for k in (0, 1, 3, 7, 11)],
}


@pytest.mark.parametrize("name", sorted(_JITTER_CASES))
def test_rfm_percentile_boundary_jitter(spark, name):
    """Spark exact-percentile vs DuckDB quantile_cont, BIT equality on the
    four RFM quintile boundaries (agg_rfm_scores' cross-engine contract:
    the strict </> bucket comparisons then land identically because the
    metrics are exact integers a full unit away from any rounding)."""
    xs = _JITTER_CASES[name]
    sdf = spark.createDataFrame([(x,) for x in xs], "x long")
    got = list(
        sdf.agg(
            F.expr("percentile(x, array(0.2D, 0.4D, 0.6D, 0.8D))")
        ).first()[0]
    )
    lit = ", ".join(str(x) for x in xs)
    exp = list(
        duckdb.sql(
            f"SELECT quantile_cont(x, [0.2, 0.4, 0.6, 0.8]) FROM "
            f"(SELECT unnest([{lit}]::BIGINT[]) AS x)"
        ).fetchone()[0]
    )
    assert got == exp, (name, got, exp)


def test_kmv_exact_below_k_and_union_consistency(spark, tmp_path):
    """Every per-type member set here is smaller than k, so the sketch IS
    the set: estimates must equal exact counts, including the union row
    (whose sketch is merged from per-type sketches, never the raw data)."""
    rows = [
        (i, "2024-01-01 00:00:00", uid, et, 1.0, "{}")
        for i, (uid, et) in enumerate(
            [(u, "a") for u in range(10)] + [(u, "b") for u in range(5, 20)]
        )
    ]
    df = spark.createDataFrame(
        [(r[0], r[2], r[3]) for r in rows], ["event_id", "user_id", "event_type"]
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    out = {
        r["event_type"]: r
        for r in agg_kmv_sketch(spark, str(tmp_path)).collect()
    }
    assert out["a"]["exact_distinct"] == 10
    assert out["a"]["kmv_estimate"] == 10.0
    assert out["b"]["exact_distinct"] == 15
    assert out["b"]["kmv_estimate"] == 15.0
    # union: users 0..19 distinct = 20 < k, merged sketch stays exact
    assert out["__union__"]["exact_distinct"] == 20
    assert out["__union__"]["kmv_estimate"] == 20.0
    assert 20 < KMV_K


def test_theil_zero_for_equal_and_positive_for_skew(spark, tmp_path, write_table):
    """Equal per-customer revenue -> T = 0 (each term ln(1)); moving all
    revenue to one customer pushes T toward ln(n)."""
    rows = [(i, i % 4, "O", 100.0, "1-URGENT") for i in range(8)]
    write_table(
        "orders",
        [(r[0], r[1], r[2], r[3], r[4]) for r in rows],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    )
    row = agg_theil_index(spark, str(tmp_path)).collect()[0]
    assert row["n_customers"] == 4
    assert row["theil_t"] == 0.0

    rows2 = [(0, 0, "O", 1000.0, "x")] + [
        (i, i, "O", 0.01, "x") for i in range(1, 4)
    ]
    write_table(
        "orders",
        [(r[0], r[1], r[2], r[3], "1-URGENT") for r in rows2],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    )
    row2 = agg_theil_index(spark, str(tmp_path)).collect()[0]
    assert 1.0 < row2["theil_t"] < math.log(4) + 0.01
