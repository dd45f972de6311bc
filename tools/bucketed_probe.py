"""Bucketed-join probe (PERF.md evidence): the q3/q5 fact-fact join cost
is the orderkey SHUFFLE of lineitem x orders; with both tables stored
bucketed by that key (the standing 100 TB recommendation in
plans/tpch.py docstrings) the exchange disappears from the plan. This
tool materializes both tables bucketed into spark-warehouse once, then
times the join kernel both ways so the claim is measured, not asserted.

Usage: python tools/bucketed_probe.py [sf_dir] [n_buckets]

``n_buckets`` defaults to the session's shuffle partition count, the
count tables.load_bucketed writes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import drain, time_drains  # noqa: E402
from repcheck_data_integration_spark.session import get_spark  # noqa: E402
from repcheck_data_integration_spark.tables import (  # noqa: E402
    _bucket_count,
    load,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/repcheck_sf10"
    spark = get_spark("bucketed-probe")
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else _bucket_count(spark)

    def li():
        return load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
        )

    def orders():
        return load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )

    for name, df, key in (
        ("li_bkt", li(), "l_orderkey"),
        ("orders_bkt", orders(), "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(n_buckets, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(name)
        )

    def join_of(a, b):
        return a.join(b, a.l_orderkey == b.o_orderkey).select(
            "l_orderkey", "o_custkey", "l_extendedprice"
        )

    def plain():
        return join_of(li(), orders())

    def bucketed():
        return join_of(spark.table("li_bkt"), spark.table("orders_bkt"))

    for label, build in (("shuffle join", plain), ("bucketed join", bucketed)):
        warm = build()
        drain(warm)  # untimed: codegen and the file cache
        trials = time_drains(spark, build, 2)
        plan = warm._jdf.queryExecution().executedPlan().toString()
        n_exch = plan.count("Exchange")
        print(f"{label}: {round(min(trials), 2)}s  exchanges-in-plan={n_exch}")

    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.stop()


if __name__ == "__main__":
    main()
