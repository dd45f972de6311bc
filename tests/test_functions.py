"""Unit tests for scalar kernels that DuckDB can't oracle."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from repcheck_data_integration_spark.functions.kernels import (
    multi_format_timestamp,
    normalize_division_id,
    unaccent,
    uuid5,
)


def test_uuid5_matches_stdlib(spark):
    names = ["bill_118_hr1", "ocd-division/country:us", "", "héllo wörld", "a_b_c"]
    df = spark.createDataFrame([(n,) for n in names], ["name"])
    got = {
        r["name"]: r["u"]
        for r in df.select("name", uuid5(F.col("name")).alias("u")).collect()
    }
    for n in names:
        assert got[n] == str(uuid.uuid5(uuid.NAMESPACE_OID, n)), n


def test_unaccent(spark):
    df = spark.createDataFrame([("éàüñç",), ("plain",), (None,)], ["s"])
    rows = df.select(unaccent(F.col("s")).alias("u")).collect()
    assert [r["u"] for r in rows] == ["eaunc", "plain", None]


def test_normalize_division_id(spark):
    df = spark.createDataFrame(
        [("ocd-jurisdiction/country:us/government",)], ["s"]
    )
    out = df.select(normalize_division_id(F.col("s")).alias("o")).collect()[0]["o"]
    # reference: scripts/utils.py:3-6
    assert out == "ocd-division/country:us"


def test_multi_format_timestamp(spark):
    df = spark.createDataFrame(
        [("2020-01-02",), ("2020-01-02 03:04:05",), ("garbage",)], ["s"]
    )
    out = [
        r["t"]
        for r in df.select(
            multi_format_timestamp(
                F.col("s"), ["yyyy-MM-dd", "yyyy-MM-dd HH:mm:ss"]
            ).alias("t")
        ).collect()
    ]
    assert out[0] is not None and out[1] is not None and out[2] is None


def test_zorder_key_is_morton_code(spark):
    """zkey must equal the reference bit-interleaving (x bits at even
    positions, y bits at odd)."""
    from repcheck_data_integration_spark.operators.spatial import zorder_key
    from pyspark.sql import functions as F

    def morton(x, y, bits=8):
        out = 0
        for b in range(bits):
            out |= ((x >> b) & 1) << (2 * b)
            out |= ((y >> b) & 1) << (2 * b + 1)
        return out

    pairs = [(0, 0), (1, 0), (0, 1), (3, 5), (96, 88), (255, 255)]
    df = spark.createDataFrame(pairs, ["x", "y"]).select(
        "x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")
    )
    got = {(r["x"], r["y"]): r["z"] for r in df.collect()}
    assert got == {(x, y): morton(x, y) for x, y in pairs}


def test_scaled_long_matches_spark_round_exactly(spark):
    """scaled_long is the drop-in for F.round(x*s, 0).cast('long') across
    every per-row hot path (round-6 sweep) — pin bit-equality against
    Spark's own round on adversarial values: negative, exact dyadic halves
    (1/128 * 1e6 = 7812.5), near-half ulp neighbors, money decimals."""
    from pyspark.sql import functions as F

    from repcheck_data_integration_spark.functions.exact import scaled_long

    vals = [
        0.0, 1.0, -1.0, 123.455, -123.455, 0.005, -0.005,
        1 / 128, -1 / 128, 0.4999999999999999, -0.4999999999999999,
        2.5e-7, -2.5e-7, 7812.5 / 1e6, -7812.5 / 1e6,
        987654.321, -987654.321, 1e-12, -1e-12,
    ]
    import random

    rng = random.Random(6)
    vals += [rng.uniform(-2, 2) for _ in range(2000)]
    vals += [rng.uniform(-200000, 200000) for _ in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    for s in (1, 100, 10000, 1000000):
        bad = (
            df.select(
                (F.round(F.col("v") * s, 0).cast("long")
                 != scaled_long(F.col("v"), s)).alias("d")
            )
            .filter("d")
            .count()
        )
        assert bad == 0, f"scale {s}: {bad} mismatches"


def test_exact_sum_floor_form_is_order_independent(spark):
    """exact_sum's floor(x*s+0.5) stays order-independent and matches the
    sequential python sum of scaled integers under any partitioning."""
    from pyspark.sql import functions as F

    from repcheck_data_integration_spark.functions.exact import exact_sum

    import math
    import random

    rng = random.Random(42)
    vals = [round(rng.uniform(-1000, 1000), 2) for _ in range(5000)]
    want = sum(math.floor(v * 100 + 0.5) for v in vals) / 100.0
    for nparts in (1, 7, 32):
        df = spark.createDataFrame([(v,) for v in vals], ["v"]).repartition(
            nparts
        )
        got = df.agg(exact_sum(F.col("v")).alias("s")).collect()[0]["s"]
        assert got == want, (nparts, got, want)


def test_gini_ranksum_no_bigint_wrap(spark):
    """VERDICT r9 #1: Spark's DIV returns BIGINT even on DECIMAL operands,
    so the round-9 form ``(dec(cnt)*(cnt+1)) DIV 2`` wrapped at cnt≈4.3e9
    (cnt=5e9 → -5946744071209551616). The fixed _gini_ranksum_expr halves
    the even factor in LONG before the one decimal multiply — exact at
    both parities of a 5e9-row tie group, no 5e9-row fixture needed."""
    from repcheck_data_integration_spark.operators.aggregates import (
        _gini_ranksum_expr,
    )

    cases = [
        # (cnt, off_cnt, exact cnt*off + cnt*(cnt+1)//2 from python ints)
        (5_000_000_000, 0),
        (5_000_000_001, 0),
        (5_000_000_000, 4_999_999_999),
        (4_294_967_296, 123_456_789),  # first wrapping magnitude
        (3, 2),
        (1, 0),
    ]
    df = spark.createDataFrame(
        [(c, o) for c, o in cases], "cnt long, off_cnt long"
    )
    rows = df.select(
        "cnt", "off_cnt", _gini_ranksum_expr().alias("rs")
    ).collect()
    for r in rows:
        want = r["cnt"] * r["off_cnt"] + r["cnt"] * (r["cnt"] + 1) // 2
        assert int(r["rs"]) == want, (r["cnt"], r["off_cnt"], r["rs"], want)
        assert int(r["rs"]) > 0


def test_gini_pivot_no_bigint_wrap(spark):
    """Round-10 continuation of VERDICT r9 #1: the r9 fix reached the
    rank-sum but the PIVOT still summed cnt*cents and multiplied n*t in
    LONG. Feed an offsets table whose total cents (1.2e19) and n*t both
    exceed Long.MAX and check the pivot against exact python rationals."""
    from fractions import Fraction

    from repcheck_data_integration_spark.operators.aggregates import (
        _gini_pivot,
    )

    # (cents, cnt, off_cnt) — ascending by cents, offsets consistent
    rows = [
        (1_500_000_000, 4_000_000_000, 0),
        (2_000_000_000, 3_000_000_000, 4_000_000_000),
    ]
    n = sum(c for _, c, _ in rows)
    t = sum(v * c for v, c, _ in rows)
    assert t > 2**63 - 1  # the case a LONG sum silently wraps
    iw = sum(
        v * (c * o + c * (c + 1) // 2) for v, c, o in rows
    )
    assert n * t > 2**63 - 1
    gini = Fraction(2 * iw, n * t) - Fraction(n + 1, n)
    want = float(
        Fraction(
            int(gini * 10000 + Fraction(1, 2)) if gini >= 0 else 0, 10000
        )
    )
    df = spark.createDataFrame(rows, "cents long, cnt long, off_cnt long")
    got = _gini_pivot(df).collect()[0]
    assert got["n_customers"] == n
    # total_cents is the BIGINT-cast output contract; past Long.MAX the
    # decimal->long cast nulls rather than wraps (and the gini itself
    # stays exact) — assert exactly that.
    assert got["total_cents"] is None
    assert abs(got["gini"] - want) < 1e-12, (got["gini"], want)


def test_abc_thresholds_no_bigint_wrap(spark):
    """agg_abc_pareto's class compare: `cum*100 <= t*80` wrapped LONG at
    the 100 TB revenue total (~2.2e18 cents -> t*80 ~ 1.8e20). The
    decimal floor-threshold form must (a) equal the exact python
    floor(t*pct/100) at wrap-scale totals and (b) preserve the compare
    boundary exactly on a dense small grid."""
    from repcheck_data_integration_spark.operators.aggregates import (
        _abc_threshold_expr,
    )

    totals = [2_200_000_000_000_000_000, 2**63 - 1, 97, 100, 5, 0]
    df = spark.createDataFrame(
        [(t,) for t in totals], "t_long long"
    ).select(F.col("t_long").cast("decimal(38,0)").alias("t"), "t_long")
    rows = df.select(
        "t_long",
        _abc_threshold_expr("t", 80).alias("t80"),
        _abc_threshold_expr("t", 95).alias("t95"),
    ).collect()
    for r in rows:
        assert int(r["t80"]) == r["t_long"] * 80 // 100, r
        assert int(r["t95"]) == r["t_long"] * 95 // 100, r
    # boundary identity: cum*100 <= t*pct  <=>  cum <= floor(t*pct/100)
    for t in range(0, 301):
        for cum in range(0, t + 1):
            for pct in (80, 95):
                assert (cum * 100 <= t * pct) == (cum <= t * pct // 100)


def test_bt_mm_term_no_bigint_wrap(spark):
    """ml_bradley_terry's MM terms n*S^2 and wins*S^2 wrap LONG at
    n > ~9.2e6 games per source pair (S=1e6); the decimal-DIV form must
    match exact python floor-division at wrap-scale counts."""
    cases = [
        (50_000_000, 1_000_000, 1_000_000),   # n*S^2 = 5e19 > Long.MAX
        (9_300_000, 2_000_000, 123_457),
        (1, 1_000_000, 1_000_000),
    ]
    df = spark.createDataFrame(cases, "n long, sqi long, sqj long")
    S = 1_000_000
    got = df.select(
        "n",
        "sqi",
        "sqj",
        F.expr(
            f"(CAST(n AS DECIMAL(38,0)) * {S} * {S}) div (sqi + sqj)"
        ).alias("term"),
    ).collect()
    for r in got:
        want = r["n"] * S * S // (r["sqi"] + r["sqj"])
        assert int(r["term"]) == want and want > 0, (r, want)


def test_quantized_stat_terms_no_bigint_wrap(spark):
    """Round-10 overflow sweep, expression-level pins at wrap-scale
    inputs for the shared oracle/Spark term strings: logrank/CMH E-term
    (dt*n1 decimal-widened), Theil term (x*n decimal-widened), PMI
    (cxy*nd, cx*cy decimal-widened), Brier REL (double-first masses).
    Each compares against exact python arithmetic."""
    import math

    from repcheck_data_integration_spark.operators.aggregates import (
        _THEIL_TERM,
        THEIL_SCALE,
    )
    from repcheck_data_integration_spark.operators.evaluation import (
        _BR_REL_T,
        BRIER_SCALE,
    )
    from repcheck_data_integration_spark.operators.hypothesis import (
        _LR_E1,
        LR_SCALE,
    )
    from repcheck_data_integration_spark.operators.textops import _PMI_Q

    # logrank E: dt*n1 = 2e10*1.5e10 = 3e20 >> Long.MAX
    lr = spark.createDataFrame(
        [(20_000_000_000, 15_000_000_000, 40_000_000_000)],
        "dt long, n1 long, nt long",
    ).selectExpr(f"{_LR_E1} AS e").collect()[0]["e"]
    want = math.floor(
        LR_SCALE * ((20_000_000_000 * 15_000_000_000) / 40_000_000_000)
    )
    assert lr == want and lr > 0

    # theil: x*n = 1e10 cents * 1e10 customers = 1e20 >> Long.MAX
    x, n, s = 10_000_000_000, 10_000_000_000, 10**15
    th = spark.createDataFrame(
        [(x, n, s)], "x long, n long, s long"
    ).selectExpr(f"{_THEIL_TERM} AS t").collect()[0]["t"]
    ratio = float(x * n) / float(s)
    assert th == math.floor(ratio * math.log(ratio) * float(THEIL_SCALE) + 0.5)
    assert th > 0

    # pmi: cx*cy = (5e9)^2 = 2.5e19 >> Long.MAX
    cxy, nd, cx, cy = 4_000_000_000, 6_000_000_000, 5_000_000_000, 5_000_000_000
    pm = spark.createDataFrame(
        [(cxy, nd, cx, cy)], "cxy long, nd long, cx long, cy long"
    ).selectExpr(f"{_PMI_Q} AS q").collect()[0]["q"]
    assert pm == math.floor(
        math.log(float(cxy * nd) / float(cx * cy)) * 1_000_000.0 + 0.5
    )

    # brier REL: srk ~ n_b*n = 1e9*1e10 = 1e19 exceeds LONG entirely
    # (srk arrives as DECIMAL), pos_b*(n-1) = 5e8*1e10 = 5e18 borderline
    srk, pos_b, nn, n_b = 10**19, 500_000_000, 10_000_000_000, 1_000_000_000
    br = (
        spark.createDataFrame(
            [(pos_b, nn, n_b)], "pos_b long, n long, n_b long"
        )
        .selectExpr(f"CAST({srk} AS DECIMAL(38,0)) AS srk", "*")
        .selectExpr(f"{_BR_REL_T} AS r")
        .collect()[0]["r"]
    )
    d = float(srk) - float(pos_b) * (nn - 1)
    want_br = math.floor(
        BRIER_SCALE * (d * d / (float(nn - 1) * (nn - 1) * n_b))
    )
    assert br == want_br and br > 0


def test_share_quantizer_products_no_bigint_wrap(spark):
    """The `(count * SCALE) div total` share-quantizer family (isotonic
    segment averages, markov empirical shares, calibration rank mass):
    the interior count*SCALE product must survive counts past
    Long.MAX/SCALE. Pins the decimal-widened forms against python
    floor-division."""
    df = spark.createDataFrame(
        [(20_000_000_000, 50_000_000_000)], "c long, t long"
    )
    # isotonic-style 1e12 quantizer: 2e10 * 1e12 = 2e22 >> Long.MAX
    got = df.selectExpr(
        "(CAST(c AS DECIMAL(19,0)) * 1000000000000) div t AS q"
    ).collect()[0]["q"]
    assert got == 20_000_000_000 * 10**12 // 50_000_000_000 == 400_000_000_000
    # markov-style 1e6 quantizer at 1e13 transitions
    got2 = spark.createDataFrame(
        [(10_000_000_000_000, 40_000_000_000_000)], "c long, t long"
    ).selectExpr(
        "(CAST(c AS DECIMAL(19,0)) * 1000000) div t AS q"
    ).collect()[0]["q"]
    assert got2 == 250_000
    # calibration gap: srk DECIMAL ~ n_b*n, pos_b*(n-1) decimal-widened
    from pyspark.sql import functions as F

    r = (
        spark.createDataFrame(
            [(500_000_000, 10_000_000_000)], "pos_b long, n long"
        )
        .selectExpr("CAST(12345678901234567890 AS DECIMAL(38,0)) AS srk", "*")
        .select(
            F.abs(
                F.col("srk")
                - F.col("pos_b").cast("decimal(19,0)") * (F.col("n") - 1)
            ).alias("g")
        )
        .collect()[0]["g"]
    )
    assert int(r) == abs(12345678901234567890 - 500_000_000 * 9_999_999_999)
