"""Tests for the significance tests and experiment analyses
(operators/hypothesis.py) on tiny hand-built fixtures."""

from __future__ import annotations


def test_bootstrap_ci_brackets_mean_and_reproduces(spark, tmp_path, write_table):
    """The 95% Poisson-bootstrap CI must bracket the exact mean for a
    well-behaved sample, and the deterministic mechanism must reproduce
    identical intervals across runs."""
    rows = [("A", "O", 100.0 + (i % 11)) for i in range(200)]
    write_table(
        "orders",
        [(i, i, st, p, pri) for i, (pri, st, p) in enumerate(rows)],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    )
    from repcheck_data_integration_spark.operators.hypothesis import (
        agg_bootstrap_ci,
    )
    r1 = agg_bootstrap_ci(spark, str(tmp_path)).collect()[0]
    assert r1["n_rows"] == 200
    assert r1["ci_lo"] <= r1["mean_cents"] <= r1["ci_hi"]
    assert r1["ci_lo"] < r1["ci_hi"]
    r2 = agg_bootstrap_ci(spark, str(tmp_path)).collect()[0]
    assert (r1["ci_lo"], r1["ci_hi"]) == (r2["ci_lo"], r2["ci_hi"])
