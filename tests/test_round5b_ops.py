"""Round-5 continuation unit tests: isotonic calibration, keep-first
sub-doc dedup, CIDR LPM, DP noisy-max, PMI collocations, Shapley
attribution, conformal intervals, RRF fusion, Qini — invariants on the
sf0.001 fixture plus known-answer cases on constructed corpora."""

from __future__ import annotations

import datetime as dt

from repcheck_data_integration_spark import registry

from conftest import SF_SMOKE as SF

registry.load_all_modules()


def test_isotonic_monotone_and_mean_preserving(spark, sf_dir):
    """PAV output is non-decreasing in bin, bounded in [0, 1], and
    preserves the count-weighted mean rate (the PAV fixed-point
    property), up to the 1e-12 quantize + round4."""
    rows = registry.QUERIES["ml_isotonic_calibration"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 10
    iso = [r["iso_rate"] for r in rows]
    assert iso == sorted(iso)
    assert all(0.0 <= v <= 1.0 for v in iso)
    w_raw = sum(r["n_bin"] * r["raw_rate"] for r in rows)
    w_iso = sum(r["n_bin"] * r["iso_rate"] for r in rows)
    assert abs(w_raw - w_iso) <= 1e-3 * sum(r["n_bin"] for r in rows)


def test_keep_first_partitions_hash_space(spark, sf_dir):
    """Across the corpus, exactly one instance per distinct segment hash
    survives: sum(n_kept) == |distinct hashes|, and every doc keeps at
    least zero, at most all, of its segments."""
    from repcheck_data_integration_spark.tables import load
    from pyspark.sql import functions as F

    rows = registry.QUERIES["dedup_paragraphs_keep_first"](
        spark, sf_dir
    ).collect()
    kept = sum(r["n_kept"] for r in rows)
    d = load(spark, sf_dir, "documents")
    n_hashes = (
        d.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, greatest(length(text)-1,0)"
                    " div 120), i -> md5(substr(text, i*120+1, 120)))"
                )
            ).alias("sh")
        )
        .distinct()
        .count()
    )
    assert kept == n_hashes
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_segs"]
        assert 0.0 <= r["kept_frac"] <= 1.0


def test_cidr_lpm_prefers_most_specific(spark, sf_dir):
    """Every routed row is one of the three levels; /16 networks sit
    inside a /8 that also exists, so their traffic proves LPM beat the
    shorter prefix; counts add up to the distinct-user total."""
    from repcheck_data_integration_spark.tables import load

    rows = registry.QUERIES["join_cidr_lookup"](spark, sf_dir).collect()
    levels = {r["prefix_len"] for r in rows}
    assert levels <= {"/16", "/8", "unrouted"}
    total = sum(r["n_users"] for r in rows)
    n_users = (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert total == n_users
    for r in rows:
        if r["prefix_len"] == "/16":
            assert r["network"].endswith(".0.0/16")
        if r["prefix_len"] == "/8":
            assert r["network"].endswith(".0.0.0/8")


def test_noisy_max_selects_and_replays(spark, sf_dir):
    """Exactly one selected candidate (max with name tie-break would
    still mark ties — assert >= 1 and that selected rows carry the max),
    noise is bounded by the geometric cap, and the mechanism replays
    bit-identically."""
    from repcheck_data_integration_spark.tables import load
    from pyspark.sql import functions as F

    q = registry.QUERIES["priv_noisy_max"]
    a = q(spark, sf_dir).collect()
    sel = [r for r in a if r["is_selected"] == 1]
    assert len(sel) >= 1
    mx = max(r["noisy_n"] for r in a)
    assert all(r["noisy_n"] == mx for r in sel)
    truth = {
        r["event_type"]: r["cnt"]
        for r in load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    for r in a:
        assert abs(r["noisy_n"] - truth[r["event_type"]]) <= 18
    assert a == q(spark, sf_dir).collect()


def test_pmi_collocations_find_planted_phrase(spark, tmp_path):
    """A phrase pair that always co-occurs adjacently ('zx qv') must
    out-lift common independent bigrams."""
    filler = "the data big fast slow table scan merge row key".split()
    rows = []
    for i in range(30):
        words = [filler[(i + j) % len(filler)] for j in range(20)]
        words.insert(5, "zx")
        words.insert(6, "qv")  # 'zx qv' adjacent in every doc
        rows.append((i, " ".join(words), "en", "s", 100))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = registry.QUERIES["text_pmi_collocations"](
        spark, str(tmp_path)
    ).collect()
    assert out[0]["w1"] == "zx" and out[0]["w2"] == "qv"
    assert out[0]["lift"] > 1.0
    lifts = [r["lift"] for r in out]
    assert lifts == sorted(lifts, reverse=True)


def test_shapley_attribution_credits_the_causal_channel(spark, tmp_path):
    """Constructed corpus: every converter touched ONLY 'click'; every
    non-converter touched only 'view'. All credit must go to click
    (phi_click == conversions, others 0), and efficiency must hold:
    sum(phi_x24) == 24 * (v(all) - v(empty))."""
    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(10):  # converters: click -> purchase
        rows.append((eid, t0, u, "click", 1.0, "{}")); eid += 1
        rows.append((eid, t0, u, "purchase", 1.0, "{}")); eid += 1
    for u in range(10, 25):  # non-converters: view only
        rows.append((eid, t0, u, "view", 1.0, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = {
        r["channel"]: r
        for r in registry.QUERIES["events_attribution_shapley"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == {"click", "error", "signup", "view"}
    assert out["click"]["phi"] == 10.0
    assert out["click"]["share"] == 1.0
    for c in ("error", "signup", "view"):
        assert out[c]["phi_x24"] == 0
    # efficiency on the real fixture too
    real = registry.QUERIES["events_attribution_shapley"](
        spark, SF
    ).collect()
    assert abs(sum(r["share"] for r in real) - 1.0) < 5e-4


def test_conformal_coverage_guarantee(spark, sf_dir):
    """The rank-picked half-width must cover >= 90% of calibration
    residuals in every group (the conformal guarantee, certified
    empirically), and widths are positive."""
    rows = registry.QUERIES["ml_conformal_interval"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["calib_coverage"] >= 0.90
        assert r["half_width"] > 0.0
        assert r["n_train"] > 0 and r["n_cal"] > 0


def test_hybrid_rrf_fuses_both_legs(spark, sf_dir):
    """The fused top list is ordered by the exact integer RRF score;
    every row carries at least one leg rank; a doc present in both legs
    outscores a doc with one equal-rank leg only."""
    rows = registry.QUERIES["llm_hybrid_rrf"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    scores = [r["rrf_q"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r["r_lex"] > 0 or r["r_dense"] > 0
        expected = 0
        if r["r_lex"] > 0:
            expected += 10**12 // (60 + r["r_lex"])
        if r["r_dense"] > 0:
            expected += 10**12 // (60 + r["r_dense"])
        assert r["rrf_q"] == expected


def test_qini_curve_properties(spark, sf_dir):
    """Cumulative exposures and conversions are non-decreasing; the last
    bin covers every user; qini(last) equals the overall incremental
    estimate computed directly."""
    rows = registry.QUERIES["ml_qini_uplift"](spark, sf_dir).collect()
    assert len(rows) == 10
    for a, b in zip(rows, rows[1:]):
        assert b["n_treat"] >= a["n_treat"]
        assert b["conv_treat"] >= a["conv_treat"]
    last = rows[-1]
    direct = last["conv_treat"] - last["conv_ctrl"] * last["n_treat"] / last["n_ctrl"]
    import math
    assert math.isclose(
        last["qini"],
        math.floor(direct * 10000.0 + 0.5) / 10000.0,
        abs_tol=1e-9,
    )


def test_diff_in_diff_identity(spark, sf_dir):
    """DiD equals the four cell means combined; SE positive; cells are
    the parity split of the distinct-user population."""
    rows = registry.QUERIES["ml_diff_in_diff"](spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    did = (r["mean_treat_post"] - r["mean_treat_pre"]) - (
        r["mean_ctrl_post"] - r["mean_ctrl_pre"]
    )
    assert abs(r["did"] - did) < 5e-4  # round4 on each term vs the combo
    assert r["did_se"] > 0.0
    assert r["n_treat_post"] > 0 and r["n_ctrl_post"] > 0


def test_tost_symmetric_under_identical_arms(spark, tmp_path):
    """Construct orders where both arms have IDENTICAL value
    distributions: diff == 0, both t statistics equal, and equivalence
    must be declared (margin > 0, se small)."""
    import datetime as dt2
    t0 = dt2.datetime(2024, 1, 1)
    rows = []
    for k in range(200):
        price = 100.0 + (k % 2) * 0.02  # tiny variance: margin >> se
        rows.append((2 * k, 2 * k, "F", price, t0, "3-MEDIUM"))      # arm 0
        rows.append((2 * k + 1, 2 * k + 1, "F", price, t0, "3-MEDIUM"))  # arm 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    r = registry.QUERIES["ml_tost_equivalence"](
        spark, str(tmp_path)
    ).collect()[0]
    assert r["mean_diff"] == 0.0
    assert r["t_lower"] == r["t_upper"]
    assert r["equivalent"] is True
    assert r["margin"] > 0.0


def test_ucb_explores_the_rare_arm(spark, tmp_path):
    """An arm with few pulls and mid rewards must outrank a heavily
    pulled arm with slightly higher mean — the exploration bonus at
    work — and exactly the max-ucb rows are flagged chosen."""
    import datetime as dt2
    t0 = dt2.datetime(2024, 1, 1)
    rows, eid = [], 0
    for _ in range(500):  # heavy arm: mean 1.0
        rows.append((eid, t0, eid % 7, "heavy", 1.0, "{}")); eid += 1
    for _ in range(5):    # rare arm: mean 0.9, huge bonus
        rows.append((eid, t0, eid % 7, "rare", 0.9, "{}")); eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = registry.QUERIES["ml_ucb_allocation"](
        spark, str(tmp_path)
    ).collect()
    assert out[0]["event_type"] == "rare"
    assert out[0]["is_chosen"] == 1
    assert out[1]["is_chosen"] == 0
    assert out[0]["mean_value"] < out[1]["mean_value"]  # optimism won
