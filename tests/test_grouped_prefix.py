"""operators/prefix.py — per-group prefix offsets and LONG-safe
bucketed ranks (round-10 fact-scaled-partitioned-window sweep).

Ground truth is the plain window formulation on small frames: the
helpers must be value-identical to ``row_number()/rank() OVER
(PARTITION BY grp ORDER BY ...)`` — they exist only to change the
PLAN shape (no fact-scaled window partition, no IntegerType rank
counter), never the numbers.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from repcheck_data_integration_spark.operators.prefix import (
    grouped_bucket_rank,
    prefix_offsets,
)


def _rows(seed, n, ngrp, vlo, vhi):
    rng = random.Random(seed)
    return [
        (f"g{rng.randrange(ngrp)}", rng.randrange(vlo, vhi), i)
        for i in range(n)
    ]


def _df(spark, rows):
    return spark.createDataFrame(rows, "grp string, v long, rid long")


def test_offsets_match_window_rank(spark):
    """off_c + 1 == rank() (ties share) per group, tot_c == group count,
    on a distinct-value relation with heavy duplication."""
    rows = _rows(1, 400, 3, 0, 25)
    vals = _df(spark, rows).groupBy("grp", "v").agg(F.count("*").alias("c"))
    got = prefix_offsets(vals, ["grp"], "v", ["c"], nbuckets=8)
    chk = got.withColumn(
        "rk_true",
        F.rank().over(W.partitionBy("grp").orderBy("v")),
    )
    # materialize via the distinct-value relation joined back: rank of a
    # value group == 1 + #rows in strictly-smaller groups == off_c + 1
    base = _df(spark, rows).withColumn(
        "rk_row", F.rank().over(W.partitionBy("grp").orderBy("v"))
    )
    truth = base.groupBy("grp", "v").agg(
        F.min("rk_row").alias("rk_true"), F.count("*").alias("n_true")
    )
    j = got.join(truth, ["grp", "v"]).collect()
    assert j, "empty join"
    for r in j:
        assert r["off_c"] + 1 == r["rk_true"], r
        assert r["c"] == r["n_true"], r
    tots = {r["grp"]: r["tot_c"] for r in got.collect()}
    cnts = {r["grp"]: r["cnt"] for r in
            _df(spark, rows).groupBy("grp").agg(F.count("*").alias("cnt")).collect()}
    assert tots == cnts


def test_offsets_descending(spark):
    rows = _rows(2, 300, 2, -40, 40)
    vals = _df(spark, rows).groupBy("grp", "v").agg(F.count("*").alias("c"))
    got = prefix_offsets(
        vals, ["grp"], "v", ["c"], ascending=False, nbuckets=16
    )
    base = _df(spark, rows).withColumn(
        "rk_row", F.rank().over(W.partitionBy("grp").orderBy(F.col("v").desc()))
    )
    truth = base.groupBy("grp", "v").agg(F.min("rk_row").alias("rk_true"))
    for r in got.join(truth, ["grp", "v"]).collect():
        assert r["off_c"] + 1 == r["rk_true"], r


def test_bucket_rank_matches_row_number(spark):
    """_rk must equal row_number() with the same tie-break chain, and be
    LongType (the whole point: Spark's row_number is IntegerType and
    wraps past 2^31 rows per partition; count-over-frame is LONG)."""
    rows = _rows(3, 500, 4, 0, 12)  # heavy ties: 12 values, 500 rows
    df = _df(spark, rows)
    got = grouped_bucket_rank(df, ["grp"], "v", ["rid"], nbuckets=8)
    assert dict(got.dtypes)["_rk"] == "bigint"
    truth = df.withColumn(
        "rk_true",
        F.row_number().over(W.partitionBy("grp").orderBy("v", "rid")),
    )
    j = got.join(truth, ["grp", "v", "rid"]).collect()
    assert len(j) == 500
    for r in j:
        assert r["_rk"] == r["rk_true"], r


def test_bucket_rank_range_pruning(spark):
    """lo/hi selection returns exactly the rows with rank in [lo, hi] —
    the grouped bucketed-selection shape (median / cap / rank-k)."""
    rows = _rows(4, 600, 3, 0, 1000)
    df = _df(spark, rows)
    got = grouped_bucket_rank(
        df, ["grp"], "v", ["rid"], nbuckets=8,
        lo="(_m + 1) DIV 2", hi="_m DIV 2 + 1",
    )
    truth = (
        df.withColumn(
            "rk_true",
            F.row_number().over(W.partitionBy("grp").orderBy("v", "rid")),
        )
        .withColumn("m", F.count("*").over(W.partitionBy("grp")))
        .filter(
            (F.col("rk_true") >= F.expr("(m + 1) DIV 2"))
            & (F.col("rk_true") <= F.expr("m DIV 2 + 1"))
        )
    )
    g = sorted((r["grp"], r["v"], r["rid"]) for r in got.collect())
    t = sorted((r["grp"], r["v"], r["rid"]) for r in truth.collect())
    assert g == t and g  # non-empty, exact central rows


def test_bucket_rank_cap_selection(spark):
    """Top-cap-per-group (sample_domain_cap shape): hi as a literal."""
    rows = _rows(5, 400, 3, 0, 10**9)
    df = _df(spark, rows)
    got = grouped_bucket_rank(
        df, ["grp"], "v", ["rid"], nbuckets=8, lo="1", hi="17"
    )
    truth = df.withColumn(
        "rk_true",
        F.row_number().over(W.partitionBy("grp").orderBy("v", "rid")),
    ).filter(F.col("rk_true") <= 17)
    g = sorted((r["grp"], r["v"], r["rid"], r["_rk"]) for r in got.collect())
    t = sorted((r["grp"], r["v"], r["rid"], r["rk_true"]) for r in truth.collect())
    assert g == t


def test_degenerate_single_value_group(spark):
    """All-equal values in one group: every row lands in bucket 0 (the
    documented degradation) and ranks 1..m by the tie-break alone;
    other groups are unaffected."""
    rows = [("a", 7, i) for i in range(50)] + [("b", i, i) for i in range(20)]
    df = _df(spark, rows)
    got = grouped_bucket_rank(df, ["grp"], "v", ["rid"], nbuckets=8)
    a = sorted(r["_rk"] for r in got.filter("grp = 'a'").collect())
    assert a == list(range(1, 51))
    b = {r["rid"]: r["_rk"] for r in got.filter("grp = 'b'").collect()}
    assert b == {i: i + 1 for i in range(20)}


def test_offsets_double_values(spark):
    """Floating order columns bucket correctly (emb_quantile_normalize
    shape): negative, positive and tied doubles."""
    rng = random.Random(6)
    rows = [
        (j, round(rng.uniform(-2, 2), 2), i)
        for i in range(300)
        for j in (1, 2)
    ]
    df = spark.createDataFrame(rows, "j int, v double, rid long")
    got = grouped_bucket_rank(df, ["j"], "v", ["rid"], nbuckets=16)
    truth = df.withColumn(
        "rk_true",
        F.row_number().over(W.partitionBy("j").orderBy("v", "rid")),
    )
    for r in got.join(truth, ["j", "v", "rid"]).collect():
        assert r["_rk"] == r["rk_true"], r
