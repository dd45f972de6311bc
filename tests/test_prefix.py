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
    out = prefix_offsets(df, [], "v", ["cnt", "s"], ascending=asc, nbuckets=8)
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
        spark.createDataFrame(rows), [], "v", ["cnt"], ascending=True,
        nbuckets=16,
    )
    got = {r["v"]: r["off_cnt"] for r in out.collect()}
    assert got == {3: 0, 5: 4, 9: 6}


def test_prefix_offsets_single_row(spark):
    df = spark.createDataFrame([{"v": 7, "cnt": 3}])
    row = prefix_offsets(df, [], "v", ["cnt"], nbuckets=4).collect()[0]
    assert row["off_cnt"] == 0 and row["cnt"] == 3


def test_prefix_offsets_clustered_and_negative_values(spark):
    """Degenerate domains: all values inside one bucket width (the skew
    worst case collapses to a single within-bucket window — still
    correct), and negative values (bucket id = floor((v - min) / width)
    must stay non-negative)."""
    rows = [{"v": 1000000 + i, "cnt": i + 1} for i in range(50)]
    got = {
        r["v"]: r["off_cnt"]
        for r in prefix_offsets(
            spark.createDataFrame(rows), [], "v", ["cnt"], nbuckets=4096
        ).collect()
    }
    exp = _brute(rows, True, ["cnt"])
    assert got == {v: e["off_cnt"] for v, e in exp.items()}

    rows = [{"v": v, "cnt": 1} for v in (-100, -3, 0, 7, 250)]
    got = {
        r["v"]: r["off_cnt"]
        for r in prefix_offsets(
            spark.createDataFrame(rows), [], "v", ["cnt"], ascending=False,
            nbuckets=8,
        ).collect()
    }
    assert got == {250: 0, 7: 1, 0: 2, -3: 3, -100: 4}


def test_prefix_offsets_full_long_range_exact(spark):
    """Values spanning the whole LONG domain (-2^63 .. 2^63-1, a range
    that wraps (max - min) in LONG arithmetic) get exact offsets and
    totals in both directions: the DOUBLE bucket only merges neighbors
    whose cast rounds together, never reorders them."""
    rng = random.Random(63)
    vals = {-(2**63), -(2**62), 2**62, 2**63 - 1, 2**63 - 2, 0, -1, 1}
    vals |= {rng.randrange(-(2**63), 2**63) for _ in range(40)}
    rows = [{"v": v, "cnt": (i % 5) + 1} for i, v in enumerate(sorted(vals))]
    df = spark.createDataFrame(rows, "v long, cnt long")
    for asc in (True, False):
        out = prefix_offsets(df, [], "v", ["cnt"], ascending=asc, nbuckets=8)
        got = {r["v"]: (r["off_cnt"], r["tot_cnt"]) for r in out.collect()}
        exp = _brute(rows, asc, ["cnt"])
        tot = sum(r["cnt"] for r in rows)
        assert got == {v: (e["off_cnt"], tot) for v, e in exp.items()}, asc
