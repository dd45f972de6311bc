"""Tests for the deterministic bucketed prefix scan (operators/prefix.py):
prefix_offsets must produce exactly the exclusive prefix sums a
single-task sort would."""

from __future__ import annotations

import random

import pytest

from repcheck_data_integration_spark.operators.prefix import prefix_offsets


def _brute(rows, asc, sum_cols):
    order = sorted(rows, key=lambda r: r["v"], reverse=not asc)
    acc = {c: 0 for c in sum_cols}
    exp = {}
    for r in order:
        exp[r["v"]] = {f"off_{c}": acc[c] for c in sum_cols}
        for c in sum_cols:
            acc[c] += r[c]
    return exp


@pytest.mark.parametrize("asc", [True, False])
def test_prefix_offsets_matches_bruteforce(spark, asc):
    rng = random.Random(8)
    vals = rng.sample(range(100000), 500)
    rows = [{"v": v, "cnt": (v % 7) + 1, "s": v * 3} for v in vals]
    df = spark.createDataFrame(rows)
    out = prefix_offsets(df, "v", ["cnt", "s"], ascending=asc, nbuckets=8)
    got = {r["v"]: r.asDict() for r in out.collect()}
    exp = _brute(rows, asc, ["cnt", "s"])
    assert set(got) == set(exp)
    for v, e in exp.items():
        assert got[v]["off_cnt"] == e["off_cnt"], (asc, v)
        assert got[v]["off_s"] == e["off_s"], (asc, v)
        # original columns survive untouched
        assert got[v]["cnt"] == (v % 7) + 1


def test_prefix_offsets_more_partitions_than_rows(spark):
    rows = [{"v": 5, "cnt": 2}, {"v": 3, "cnt": 4}, {"v": 9, "cnt": 1}]
    out = prefix_offsets(
        spark.createDataFrame(rows), "v", ["cnt"], ascending=True, nbuckets=16
    )
    got = {r["v"]: r["off_cnt"] for r in out.collect()}
    assert got == {3: 0, 5: 4, 9: 6}


def test_prefix_offsets_single_row(spark):
    df = spark.createDataFrame([{"v": 7, "cnt": 3}])
    row = prefix_offsets(df, "v", ["cnt"], nbuckets=4).collect()[0]
    assert row["off_cnt"] == 0 and row["cnt"] == 3


def test_prefix_offsets_clustered_and_negative_values(spark):
    """Degenerate domains: all values inside one bucket width (the skew
    worst case collapses to a single within-bucket window — still
    correct), and negative values (bucket id = (v - min) DIV width must
    stay non-negative)."""
    rows = [{"v": 1000000 + i, "cnt": i + 1} for i in range(50)]
    got = {
        r["v"]: r["off_cnt"]
        for r in prefix_offsets(
            spark.createDataFrame(rows), "v", ["cnt"], nbuckets=4096
        ).collect()
    }
    exp = _brute(rows, True, ["cnt"])
    assert got == {v: e["off_cnt"] for v, e in exp.items()}

    rows = [{"v": v, "cnt": 1} for v in (-100, -3, 0, 7, 250)]
    got = {
        r["v"]: r["off_cnt"]
        for r in prefix_offsets(
            spark.createDataFrame(rows), "v", ["cnt"], ascending=False,
            nbuckets=8,
        ).collect()
    }
    assert got == {250: 0, 7: 1, 0: 2, -3: 3, -100: 4}


def test_prefix_offsets_range_overflow_fails_loudly(spark):
    """A value range wider than the LONG domain wraps (max - min)
    negative; the woven assert_true must raise, never bucket garbage."""
    rows = [{"v": -(2**62), "cnt": 1}, {"v": 2**62, "cnt": 1}]
    df = spark.createDataFrame(rows)
    # ANSI mode already throws ARITHMETIC_OVERFLOW on (max - min); the
    # woven assert_true is the belt for non-ANSI sessions — either way
    # the failure is loud, never silent garbage buckets
    with pytest.raises(Exception, match="(?i)overflow|assert|LONG domain"):
        prefix_offsets(df, "v", ["cnt"], nbuckets=8).collect()
