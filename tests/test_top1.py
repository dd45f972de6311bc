"""Reference pins for functions/top1.py, the engine's one argmax encoding.

The struct form must pick the row ``row_number() == 1`` picks over the same
order under Spark's default NULL ordering (ties, NULL and NaN keys,
negative values, mixed ASC/DESC, date and string keys), the packed form
must agree with the struct form, and the packed form's woven domain and
headroom checks must fail with their named messages."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from repcheck_data_integration_spark.functions import top1
from repcheck_data_integration_spark.functions.top1 import ASC, DESC, Top1

NAN = float("nan")
D = dt.date

# (g, u, i, x, d, s): u is unique, so every order ending in u is total
ROWS = [
    # g=1: exact ties on i and x, broken by later keys
    (1, 1, 5, 2.0, D(2020, 1, 2), "b"),
    (1, 2, 5, 2.0, D(2020, 1, 2), "a"),
    (1, 3, 5, 2.0, D(2020, 1, 1), "a"),
    (1, 4, 3, -1.5, D(2021, 6, 1), "c"),
    # g=2: NULL and NaN keys, negatives
    (2, 5, None, NAN, D(2019, 5, 5), "z"),
    (2, 6, -7, None, D(2019, 5, 5), None),
    (2, 7, -7, -0.5, None, "y"),
    (2, 8, 0, -3.0, D(2018, 1, 1), "y"),
    # g=3: every numeric key NULL or NaN on some row
    (3, 9, None, None, None, None),
    (3, 10, None, NAN, D(2022, 2, 2), "m"),
    (3, 11, -2, NAN, D(2022, 2, 2), "m"),
    # g=4: a single row
    (4, 12, 1, 1.0, D(2000, 1, 1), "k"),
    # g=5: all-negative scores, NaN against -inf, an INT key at its
    # minimum (unary minus would overflow it; bitwise NOT cannot)
    (5, 13, -1, float("-inf"), D(2001, 1, 1), "p"),
    (5, 14, -9, NAN, D(2001, 1, 1), "p"),
    (5, 15, -9, -2.0, D(2001, 1, 2), "q"),
    (5, 16, -(2**31), 0.0, D(2001, 1, 3), "p"),
]
COLS = "g long, u long, i int, x double, d date, s string"

ORDERS = [
    [("x", DESC), ("u", ASC)],
    [("x", ASC), ("u", DESC)],
    [("i", DESC), ("s", ASC), ("u", ASC)],
    [("i", ASC), ("x", DESC), ("u", DESC)],
    [("d", DESC), ("x", ASC), ("u", ASC)],
    [("s", ASC), ("x", DESC), ("i", DESC), ("u", ASC)],
    [("d", ASC), ("s", ASC), ("x", DESC), ("u", DESC)],
    [("s", DESC), ("d", DESC), ("u", DESC)],
]


def _key(row) -> tuple:
    return tuple("nan" if isinstance(v, float) and math.isnan(v) else v
                 for v in row)


@pytest.fixture(scope="module")
def frame(spark):
    return spark.createDataFrame(ROWS, COLS)


@pytest.mark.parametrize("order", ORDERS, ids=lambda o: ",".join(
    f"{c}_{d}" for c, d in o))
def test_struct_form_picks_row_number_one(frame, order):
    fields = ["u", "i", "x", "d", "s"]
    spec = [F.col(c).desc() if d == DESC else F.col(c).asc()
            for c, d in order]
    want = (
        frame.withColumn(
            "rn", F.row_number().over(W.partitionBy("g").orderBy(*spec)))
        .filter("rn = 1")
        .select("g", *fields)
        .collect()
    )
    keys = [c for c, _ in order]
    t = Top1(frame, order, carry=[c for c in fields if c not in keys])
    got = frame.groupBy("g").agg(*(t[c] for c in fields)).collect()
    assert sorted(map(_key, got)) == sorted(map(_key, want))


def test_struct_form_rejects_unencodable_order(frame):
    with pytest.raises(TypeError, match="top1: cannot encode order"):
        Top1(frame, [("d", ASC), ("s", DESC)])


def test_packed_form_equals_struct_form(spark):
    k = 4
    h = top1.packed_headroom(k)
    rows = [
        (1, -5, 2), (1, -5, 1), (1, -3, 0),
        (2, -h, 3), (2, -h, 0), (2, h, 0),
        (3, h, 3), (3, h - 1, 3),
        (4, 0, 3), (4, 0, 0), (4, 1, 1),
    ]
    df = spark.createDataFrame(rows, "g long, score long, id long")
    t = Top1(df, [("score", ASC), ("id", ASC)])
    want = df.groupBy("g").agg(t["score"], t["id"])
    pk = top1.packed_min(F.col("score"), F.col("id"), k)
    got = df.groupBy("g").agg(
        top1.unpack_score(pk, k).alias("score"),
        top1.unpack_id(pk, k).alias("id"),
    )
    assert sorted(got.collect()) == sorted(want.collect())
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, -5, 1), (2, -h, 0), (3, h - 1, 3), (4, 0, 0)]


@pytest.mark.parametrize(
    "score, id_, message",
    [
        (0, 4, r"id outside \[0, 4\)"),
        (0, -1, r"id outside \[0, 4\)"),
        (top1.packed_headroom(4) + 1, 0, "score NULL or past"),
        (-top1.packed_headroom(4) - 1, 3, "score NULL or past"),
        (None, 0, "score NULL or past"),
    ],
)
def test_packed_form_fails_fast_outside_its_domain(spark, score, id_, message):
    df = spark.createDataFrame(
        [(1, 0, 0), (1, score, id_)], "g long, score long, id long")
    q = df.groupBy("g").agg(
        top1.packed_min(F.col("score"), F.col("id"), 4).alias("pk"))
    with pytest.raises(Exception, match=message):
        q.collect()
