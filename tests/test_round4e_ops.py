"""Known-answer tests for the round-4e tranche: penny allocation,
sweep-line concurrency, growth accounting, CDC snapshot diff.

Tiny hand-computed fixtures — each op's algebra is checked against the
arithmetic done on paper, independent of the DuckDB oracle."""

from __future__ import annotations

import datetime as dt

from repcheck_data_integration_spark.operators.aggregates import (
    agg_penny_allocation,
)
from repcheck_data_integration_spark.operators.upsert import snk_cdc_delta
from repcheck_data_integration_spark.operators.windows import (
    win_max_concurrency,
)
from repcheck_data_integration_spark.streaming.batch_windows import (
    events_growth_accounting,
)


def test_penny_allocation_largest_remainder(spark, tmp_path, write_table):
    """Order 1: rebate 10c over equal thirds -> 4/3/3 (tie broken by
    linenumber). Order 2: weights 1:2 -> bases 3/6, the leftover penny
    goes to the larger remainder (line 2) -> 3/7."""
    write_table(
        "orders",
        [(1, 10.0), (2, 10.0)],
        ["o_orderkey", "o_totalprice"],
    )
    write_table(
        "lineitem",
        [(1, 1, 1.0), (1, 2, 1.0), (1, 3, 1.0), (2, 1, 1.0), (2, 2, 2.0)],
        ["l_orderkey", "l_linenumber", "l_extendedprice"],
    )
    out = {
        r["o_orderkey"]: r
        for r in agg_penny_allocation(spark, str(tmp_path)).collect()
    }
    r1, r2 = out[1], out[2]
    assert (r1["rebate_cents"], r1["allocated_cents"]) == (10, 10)
    assert (r1["max_line_cents"], r1["min_line_cents"]) == (4, 3)
    assert (r2["rebate_cents"], r2["allocated_cents"]) == (10, 10)
    assert (r2["max_line_cents"], r2["min_line_cents"]) == (7, 3)


def test_penny_allocation_sums_match_header_everywhere(spark, sf_dir):
    """The audit invariant on the real fixture: every order's allocated
    cents equal the header rebate exactly."""
    bad = (
        agg_penny_allocation(spark, sf_dir)
        .filter("allocated_cents <> rebate_cents")
        .count()
    )
    assert bad == 0


def test_max_concurrency_sweep(spark, tmp_path, write_table):
    """qty=1 -> 3-day transit [d, d+2]. Shipments on Jan 1 and Jan 2
    overlap (peak 2, first on Jan 2); the Jan 10 shipment is disjoint."""
    day = lambda d: dt.datetime(2024, 1, d)
    write_table(
        "lineitem",
        [(7, day(1), 1.0), (7, day(2), 1.0), (7, day(10), 1.0)],
        ["l_suppkey", "l_shipdate", "l_quantity"],
    )
    r = win_max_concurrency(spark, str(tmp_path)).collect()
    assert len(r) == 1
    epoch_day = int(day(2).timestamp()) // 86400
    assert r[0]["max_in_transit"] == 2
    assert r[0]["first_peak_day"] == epoch_day


def test_max_concurrency_same_day_handoff_nets_out(spark, tmp_path, write_table):
    """A shipment ending the day another starts: +1/-1 collapse BEFORE
    the running sum, so the handoff day counts 2 (inclusive interval
    overlap), and concurrency returns to 1 after."""
    day = lambda d: dt.datetime(2024, 1, d)
    # qty=1 -> [1,3]; second ships on day 3 -> [3,5]; overlap only day 3
    write_table(
        "lineitem",
        [(7, day(1), 1.0), (7, day(3), 1.0)],
        ["l_suppkey", "l_shipdate", "l_quantity"],
    )
    r = win_max_concurrency(spark, str(tmp_path)).collect()[0]
    assert r["max_in_transit"] == 2
    assert r["first_peak_day"] == int(day(3).timestamp()) // 86400


def test_growth_accounting_state_machine(spark, tmp_path, write_table):
    """u1 active days 1,2,4; u2 active day 2 only. Hand-traced table:
    d1: active 1 = new 1, churn 0; d2: active 2 (retained u1, new u2),
    churn 2 (u1 gaps to d4, u2 never returns); d4: resurrected u1."""
    base = dt.datetime(2024, 3, 1, 12)
    rows = [
        (1, base, 1),
        (2, base + dt.timedelta(days=1), 1),
        (3, base + dt.timedelta(days=3), 1),
        (4, base + dt.timedelta(days=1), 2),
    ]
    write_table("events", rows, ["event_id", "ts", "user_id"])
    out = {
        r["day_id"]: r
        for r in events_growth_accounting(spark, str(tmp_path)).collect()
    }
    d0 = min(out)
    assert [
        (r["active"], r["new_users"], r["retained"], r["resurrected"],
         r["churned_after"])
        for r in (out[d0], out[d0 + 1], out[d0 + 3])
    ] == [(1, 1, 0, 0, 0), (2, 1, 1, 0, 2), (1, 0, 0, 1, 1)]
    # identity: active = new + retained + resurrected on every day
    assert all(
        r["active"] == r["new_users"] + r["retained"] + r["resurrected"]
        for r in out.values()
    )


def test_cdc_delta_classification(spark, tmp_path, write_table):
    """Keys 1..15 -> old = not%3, new = not%5 with even-key price bumps
    and %7-key status flips: I={3,6,9,12}, D={5,10}, U={2,4,7,8,14}."""
    d = dt.datetime(1995, 1, 1)
    write_table(
        "orders",
        [(k, "O", 100.0, d) for k in range(1, 16)],
        ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
    )
    rows = snk_cdc_delta(spark, str(tmp_path)).collect()
    got = {t: {r["o_orderkey"] for r in rows if r["change_type"] == t}
           for t in ("I", "D", "U")}
    assert got["I"] == {3, 6, 9, 12}
    assert got["D"] == {5, 10}
    assert got["U"] == {2, 4, 7, 8, 14}
    by_key = {r["o_orderkey"]: r for r in rows}
    assert by_key[2]["new_total_cents"] == 10500  # even-key +500 bump
    assert by_key[7]["new_status"] == "X"  # %7 status flip
    assert by_key[3]["old_total_cents"] == -1  # insert has no old side
