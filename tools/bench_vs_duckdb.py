"""Head-to-head: Spark headline queries vs DuckDB running the oracle twins.

BASELINE.md defines the perf target as "within 2x of DuckDB executing the
oracle_sql() twins on the same parquet" at sf0.1.  This tool times both
sides per headline query and prints the ratio so optimization effort goes
where the gap is.

Usage: python tools/bench_vs_duckdb.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from bench import HEADLINE, drain, time_drains  # noqa: E402
from repcheck_data_integration_spark import registry  # noqa: E402
from repcheck_data_integration_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_connect(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    registry.load_all_modules()
    names = [n for n in HEADLINE if n in registry.QUERIES]
    if os.environ.get("BENCH_NAMES"):  # ad-hoc subset override
        names = [
            n
            for n in os.environ["BENCH_NAMES"].split(",")
            if n in registry.QUERIES
        ]

    # --- DuckDB side (oracle twins) ---
    duck: dict[str, float | None] = {}
    con = duck_connect(sf_dir)
    for name in names:
        sql = registry.ORACLE.get(name)
        if sql is None:
            duck[name] = None
            continue
        con.execute(sql).fetchall()  # warm the file cache
        t0 = time.time()
        con.execute(sql).fetchall()
        duck[name] = round(time.time() - t0, 3)
    con.close()

    # --- Spark side (same protocol as bench.py) ---
    spark = get_spark("bench-vs-duckdb")
    spark.range(1000).selectExpr("sum(id)").collect()
    warm_sf = "/root/testdata/sf0.001"
    for name in names:
        try:
            drain(registry.QUERIES[name](spark, warm_sf))
        except Exception as e:
            print(f"# warmup {name} skipped: {e}", file=sys.stderr)
    # min of two trials per query (same rationale as bench.py — single
    # shots swing 2-5x on this runner)
    sparkt: dict[str, float] = {}
    for name in names:
        # SYMMETRY with the DuckDB side, which gets one untimed
        # warm-the-file-cache run before its timed shot: give Spark the
        # same at the TARGET sf (the sf0.001 loop above only warms plan
        # compilation). This also absorbs one-time layout
        # materialization (tables.load_bucketed's bucketed write), which
        # is ingest-time table DDL on a cluster, not query cost —
        # without it the Spark trials read cold files against a warmed
        # DuckDB (measured: q3 at sf10 3.9 s cold-vs-warm, 1.2 s
        # warm-vs-warm).
        fn = registry.QUERIES[name]
        drain(fn(spark, sf_dir))
        # noop-sink drain (not .count()): DuckDB's fetchall materializes
        # every value, so the Spark side must evaluate every projected
        # column too or projection-heavy ratios flatter Spark.
        trials = time_drains(spark, lambda: fn(spark, sf_dir), 2)
        sparkt[name] = round(min(trials), 3)
    spark.stop()

    rows = []
    for name in names:
        d, s = duck[name], sparkt[name]
        ratio = round(s / d, 2) if d and d > 0 else None
        rows.append({"query": name, "duckdb_sec": d, "spark_sec": s, "ratio": ratio})
        flag = ""
        if ratio is not None and ratio > 2.0:
            flag = "  <-- OVER 2x"
        print(f"{name:32s} duck={d!s:>8} spark={s:>7.3f} ratio={ratio!s:>6}{flag}")
    total_d = sum(v for v in duck.values() if v)
    total_s = sum(sparkt.values())
    print(f"{'TOTAL (oracle-backed)':32s} duck={total_d:>8.3f} spark={total_s:>7.3f}")
    print(json.dumps({"sf_dir": sf_dir, "rows": rows}))


if __name__ == "__main__":
    main()
