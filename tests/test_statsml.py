"""Behavioral tests for the round-4 statistics/privacy/similarity tranche
(operators/statsml.py) on tiny hand-built fixtures written as parquet
table dirs, exercising each registered query through its public
(spark, sf_dir) surface — properties the DuckDB oracle twin can't state
(known-answer recovery, filter completeness, estimator mergeability)."""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from repcheck_data_integration_spark.operators.statsml import (
    KMV_K,
    agg_kmv_sketch,
    dq_t_closeness,
    join_set_similarity,
    ml_linreg_normal_eq,
    ml_naive_bayes_lang,
    ts_autocorr,
)


def _write(spark, tmp_path, name, rows, cols):
    spark.createDataFrame(rows, cols).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(str(tmp_path), f"{name}.parquet"))


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


def test_t_closeness_zero_for_mirror_group_and_flags_skew(spark, tmp_path):
    """A group whose bucket distribution mirrors the global one has
    EMD exactly 0; a group concentrated at the far bucket maximizes it."""
    rows = []
    # group (1-URGENT, O): 50 rows in bucket 0, 50 in bucket 9 (mirror of
    # global only if the other group matches) — build two identical
    # groups so each mirrors the global exactly.
    oid = 0
    for pri in ["1-URGENT", "2-HIGH"]:
        for b, n in [(0, 50), (9, 50)]:
            for _ in range(n):
                rows.append(
                    (oid, oid, "O", b * 50000.0 + 1.0, "2024-01-01", pri)
                )
                oid += 1
    _write(
        spark,
        tmp_path,
        "orders",
        [
            (r[0], r[1], r[2], r[3], r[5])
            for r in rows
        ],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    )
    out = {
        (r["o_orderpriority"], r["o_orderstatus"]): r
        for r in dq_t_closeness(spark, str(tmp_path)).collect()
    }
    for k, r in out.items():
        assert r["emd"] == 0.0, k
        assert r["t_violation"] == 0, k

    # now skew one group entirely into bucket 9
    rows2 = [r for r in rows if r[5] == "1-URGENT"] + [
        (10_000 + i, 10_000 + i, "O", 9 * 50000.0 + 1.0, "x", "2-HIGH")
        for i in range(100)
    ]
    _write(
        spark,
        tmp_path,
        "orders",
        [(r[0], r[1], r[2], r[3], r[5]) for r in rows2],
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    )
    out2 = {
        (r["o_orderpriority"], r["o_orderstatus"]): r
        for r in dq_t_closeness(spark, str(tmp_path)).collect()
    }
    skewed = out2[("2-HIGH", "O")]
    # global: 50/200 in b0, 150/200 in b9; group: 0 in b0, 100 in b9.
    # cum diffs for b in 0..8: |0*200 - 50*100| = 5000 at every cut
    # -> emd = 9*5000 / (100*200*9) = 0.25
    assert skewed["emd"] == 0.25
    assert skewed["t_violation"] == 1
    assert out2[("1-URGENT", "O")]["emd"] > 0  # its mirror broke too


def test_set_similarity_matches_bruteforce_exactly(spark, tmp_path):
    """Prefix filtering must be lossless: the join's output equals the
    all-pairs ground truth computed here directly (the no-false-negative
    property that distinguishes it from minhash-LSH)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = [
        (0, base),
        (1, base + " lambda"),              # near-dup of 0
        (2, "one two three four five six seven eight nine ten"),
        (3, "totally different words entirely here now yes indeed ok fine"),
    ]
    _write(
        spark,
        tmp_path,
        "documents",
        [(d, t, "en", "s", len(t)) for d, t in docs],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in join_set_similarity(spark, str(tmp_path)).collect()
    }

    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    expect = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = sh(docs[i][1]), sh(docs[j][1])
            inter = len(a & b)
            union = len(a | b)
            if 2 * inter >= union:
                expect[(docs[i][0], docs[j][0])] = (
                    math.floor(inter / union * 10000 + 0.5) / 10000
                )
    assert got == expect
    assert (0, 1) in got  # the planted near-dup survived


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


def test_linreg_recovers_planted_coefficients(spark, tmp_path):
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
    _write(
        spark,
        tmp_path,
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


def test_naive_bayes_separates_disjoint_vocab_langs(spark, tmp_path):
    """Two languages with disjoint vocabularies must classify perfectly
    (diagonal confusion matrix), regardless of class imbalance."""
    docs = [(i, "aa bb cc dd aa bb", "en") for i in range(6)] + [
        (10 + i, "xx yy zz xx yy", "fr") for i in range(3)
    ]
    _write(
        spark,
        tmp_path,
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
