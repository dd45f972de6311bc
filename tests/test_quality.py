"""Tests for the data-quality and privacy-audit operators
(operators/quality.py): t-closeness on a hand-built fixture."""

from __future__ import annotations

from repcheck_data_integration_spark.operators.quality import dq_t_closeness


def test_t_closeness_zero_for_mirror_group_and_flags_skew(spark, tmp_path, write_table):
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
    write_table(
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
    write_table(
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
