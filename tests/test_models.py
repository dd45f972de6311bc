"""Known-answer tests for the fitted estimators and recommenders
(operators/models.py): planted coefficients, separable classes and python
replicas of each fit."""

from __future__ import annotations

import math

from repcheck_data_integration_spark.operators.models import (
    REC_MIN_CO,
    ml_decision_stump,
    ml_linreg_normal_eq,
    ml_naive_bayes_lang,
    rec_item_item_cosine,
)


def test_linreg_recovers_planted_coefficients(spark, tmp_path, write_table):
    """y = 7 + 2q + 3d exactly (all terms 2-decimal) -> the Cramer solve
    must return the planted betas with r2 == 1."""
    rows = []
    k = 0
    for q in range(1, 11):
        for d10 in range(0, 10):
            d = d10 / 100.0
            y = 7.0 + 2.0 * q + 3.0 * d
            rows.append((k, k, k, 1, float(q), round(y, 2), d, 0.0, "N", "O"))
            k += 1
    write_table(
        "lineitem",
        rows,
        [
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
        ],
    )
    row = ml_linreg_normal_eq(spark, str(tmp_path)).collect()[0]
    assert row["n_rows"] == 100
    assert row["beta_intercept"] == 7.0
    assert row["beta_quantity"] == 2.0
    assert row["beta_discount"] == 3.0
    assert row["r2"] == 1.0


def test_naive_bayes_separates_disjoint_vocab_langs(spark, tmp_path, write_table):
    """Two languages with disjoint vocabularies must classify perfectly
    (diagonal confusion matrix), regardless of class imbalance."""
    docs = [(i, "aa bb cc dd aa bb", "en") for i in range(6)] + [
        (10 + i, "xx yy zz xx yy", "fr") for i in range(3)
    ]
    write_table(
        "documents",
        [(d, t, lg, "s", len(t)) for d, t, lg in docs],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {
        (r["lang_true"], r["lang_pred"]): r["n_docs"]
        for r in ml_naive_bayes_lang(spark, str(tmp_path)).collect()
    }
    assert out == {("en", "en"): 6, ("fr", "fr"): 3}


def test_nb_packed_argmax_matches_struct_argmax(spark):
    """Round-11 wrap/tie pin for nb_doc_pred's packed-long argmax: the
    call it makes, top1.packed_min(-s, idx, 256), must equal the
    lexicographic (-s ASC, idx ASC) struct-min — i.e. highest s wins,
    ties to the smallest idx — at the documented score bound (|s| up to
    1e14 at 1e6 tokens/doc × 1e6 log-scale), at s = 0, and on exact
    ties. Pure expression pin over a literal frame (no fixture)."""
    from pyspark.sql import functions as F

    from repcheck_data_integration_spark.functions.top1 import (
        packed_min,
        unpack_id,
    )

    rows = [
        # (doc, s, idx): doc 1 — tie on the max s=-5 → idx 1 wins
        (1, -5, 2),
        (1, -5, 1),
        (1, -7, 0),
        # doc 2 — headroom magnitudes; -(-10**14) * 256 must not wrap
        (2, -(10**14), 3),
        (2, -(10**14) + 1, 0),
        # doc 3 — s = 0 boundary (empty doc, single lang, prior ln 1)
        (3, 0, 2),
        (3, -1, 0),
    ]
    df = spark.createDataFrame(rows, ["doc", "s", "idx"])
    packed = df.groupBy("doc").agg(
        unpack_id(packed_min(-F.col("s"), F.col("idx"), 256), 256).alias("idx")
    )
    struct = df.groupBy("doc").agg(
        F.min(F.struct((-F.col("s")).alias("n"), F.col("idx").alias("i")))
        .alias("m")
    ).select("doc", F.col("m.i").alias("idx"))
    got = {r["doc"]: r["idx"] for r in packed.collect()}
    want = {r["doc"]: r["idx"] for r in struct.collect()}
    assert got == want == {1: 1, 2: 0, 3: 2}


def test_stump_finds_planted_separating_threshold(spark, tmp_path, write_table):
    """Label == (quantity <= 5): the quantity stump at threshold 5 must
    have 0 errors and accuracy 1; the discount feature (constant within
    each class but overlapping) cannot reach 0."""
    rows = []
    k = 0
    for q in range(1, 11):
        for _ in range(4):
            flag = "R" if q <= 5 else "N"
            disc = 0.01 if k % 2 == 0 else 0.05  # uninformative
            rows.append((k, k, k, 1, float(q), 10.0, disc, 0.0, flag, "O"))
            k += 1
    write_table(
        "lineitem", rows,
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
         "l_quantity", "l_extendedprice", "l_discount", "l_tax",
         "l_returnflag", "l_linestatus"],
    )
    out = ml_decision_stump(spark, str(tmp_path)).collect()
    byfeat = {}
    for r in out:
        byfeat.setdefault(r["feature"], []).append(r)
    best_q = byfeat["l_quantity"][0]
    assert best_q["rk"] == 1
    assert best_q["threshold"] == 5
    assert best_q["errors"] == 0
    assert best_q["accuracy"] == 1.0
    assert best_q["n_left"] == 20 and best_q["n_right"] == 20
    assert best_q["baseline_errors"] == 20
    assert all(r["errors"] > 0 for r in byfeat["l_discount_pct"])


def test_item_item_cosine_known_baskets(spark, tmp_path, write_table):
    """Baskets {A,B} x2 and {A,C} x2: c_AB=2 and c_AC=2 survive the
    support floor, cosines match the closed form, and each item's
    neighbor list is ranked by cosine."""
    assert REC_MIN_CO == 2
    baskets = [(1, ["A", "B"]), (2, ["A", "B"]), (3, ["A", "C"]),
               (4, ["A", "C"]), (5, ["B"])]
    pk = {"A": 100, "B": 200, "C": 300}
    rows = []
    ln = 0
    for ok, items in baskets:
        for it in items:
            rows.append((ok, pk[it], 1, ln, 1.0, 1.0, 0.0, 0.0, "N", "O"))
            ln += 1
    write_table(
        "lineitem", rows,
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
         "l_quantity", "l_extendedprice", "l_discount", "l_tax",
         "l_returnflag", "l_linestatus"],
    )
    out = rec_item_item_cosine(spark, str(tmp_path)).collect()
    got = {(r["part"], r["neighbor"]): r for r in out}
    # c_A=4, c_B=3, c_C=2; cos(A,B)=2/sqrt(12), cos(A,C)=2/sqrt(8)
    r4 = lambda x: math.floor(x * 10000 + 0.5) / 10000
    assert got[(100, 200)]["cosine"] == r4(2 / math.sqrt(12))
    assert got[(100, 300)]["cosine"] == r4(2 / math.sqrt(8))
    assert got[(200, 100)]["co_count"] == 2
    # A's top neighbor is C (higher cosine), rank order enforced
    assert got[(100, 300)]["rk"] == 1 and got[(100, 200)]["rk"] == 2
