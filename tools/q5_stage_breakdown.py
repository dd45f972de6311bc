"""q5 stage-level breakdown at sf10 (round-10, VERDICT r9 #7): publish
once WHERE the 3.1 s goes — scan / probe-join / broadcast tail / agg — so
the ≤4× target debate closes on evidence instead of re-measurement.

Stages (cumulative plans, min-of-N noop drains in one warm session):
  scan   — the four lineitem columns the join consumes, from the bucketed
           table (the floor: no plan can return q5 without materializing
           these)
  probe  — + the SHJ against the date+region-filtered orders⋈customer
           build side (co-located buckets, zero exchanges)
  bcast  — + the supplier/nation/region broadcast joins
  full   — the registered q5 (adds the 25-group aggregate + sort)

Usage: SPARK_GRAFT_SF_DIR=/tmp/repcheck_sf10 python tools/q5_stage_breakdown.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import drain, time_drains
from repcheck_data_integration_spark import registry
from repcheck_data_integration_spark.session import get_spark
from repcheck_data_integration_spark.tables import load, load_bucketed

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/repcheck_sf10")
TRIALS = int(os.environ.get("SPARK_GRAFT_TRIALS", "4"))


def region_bits(spark):
    region = load(spark, SF_DIR, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, SF_DIR, "nation")
    region_nations = [
        r["n_nationkey"]
        for r in nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        )
        .select("n_nationkey")
        .collect()
    ]
    return region, nation, region_nations


def build(spark, stage: str):
    region, nation, region_nations = region_bits(spark)
    li = load_bucketed(spark, SF_DIR, "lineitem", "l_orderkey").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    if stage == "scan":
        return li
    cust = (
        load(spark, SF_DIR, "customer")
        .filter(F.col("c_nationkey").isin(region_nations))
        .select("c_custkey", "c_nationkey")
    )
    orders = load_bucketed(spark, SF_DIR, "orders", "o_orderkey").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    ocust = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).hint("shuffle_hash")
    j = li.join(ocust, li.l_orderkey == ocust.o_orderkey).select(
        "l_suppkey", "l_extendedprice", "l_discount", "c_nationkey"
    )
    if stage == "probe":
        return j
    supp = load(spark, SF_DIR, "supplier").filter(
        F.col("s_nationkey").isin(region_nations)
    )
    b = (
        j.join(
            F.broadcast(supp),
            (j.l_suppkey == supp.s_suppkey)
            & (j.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_name", "l_extendedprice", "l_discount")
    )
    if stage == "bcast":
        return b
    raise ValueError(stage)


def main() -> None:
    registry.load_all_modules()
    spark = get_spark("q5-breakdown")
    q5 = registry.QUERIES["tpch_q5_local_supplier_volume"]
    # warm: bucketed layouts + codegen
    drain(build(spark, "scan"))
    drain(q5(spark, SF_DIR))
    out = {}
    for stage in ("scan", "probe", "bcast", "full"):
        trials = [
            round(t, 3)
            for t in time_drains(
                spark,
                lambda: q5(spark, SF_DIR) if stage == "full"
                else build(spark, stage),
                TRIALS,
            )
        ]
        out[stage] = {"min": min(trials), "trials": trials}
        print(f"# {stage}: {out[stage]}", file=sys.stderr)
    print(json.dumps({"sf_dir": SF_DIR, "stages": out}))
    spark.stop()


if __name__ == "__main__":
    main()
