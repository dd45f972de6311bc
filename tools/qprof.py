"""Per-query profiler for optimization rounds: capture explain("formatted")
and min-of-N noop-sink timings for named queries.

Usage:
    python tools/qprof.py [--tag before|after] [--trials N] [--plans-dir plans/r10] q1 q2 ...

Per CLAUDE.md measurement traps: the DataFrame is REBUILT per trial (a
re-collected DataFrame object reuses materialized shuffle map outputs and
reports fiction), the cache is cleared before each trial (a prior trial's
persisted relation would otherwise be read), and each query gets a labeled
job description. The plan is captured from a fresh build (pre-execution,
AQE initial plan).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import drain, time_drains  # noqa: E402
from repcheck_data_integration_spark import registry  # noqa: E402
from repcheck_data_integration_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default=None, help="suffix for plan files; omit to skip plan capture")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--plans-dir", default="plans/r10")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    registry.load_all_modules()
    spark = get_spark("qprof")
    # JVM/codegen warmup
    spark.range(1000).selectExpr("sum(id)").collect()

    results: dict[str, float] = {}
    for name in args.names:
        fn = registry.QUERIES[name]
        if args.tag:
            df = fn(spark, SF_DIR)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            os.makedirs(args.plans_dir, exist_ok=True)
            out = os.path.join(args.plans_dir, f"{name}_{args.tag}.txt")
            with open(out, "w") as f:
                f.write(txt)
            print(f"# plan -> {out}", file=sys.stderr)
        # warmup run at sf0.001 (codegen compile for this plan shape)
        try:
            drain(fn(spark, "/root/testdata/sf0.001"))
        except Exception as e:
            print(f"# warmup {name} skipped: {e}", file=sys.stderr)
        spark.sparkContext.setJobDescription(f"qprof:{name}")
        trials = [
            round(t, 3)
            for t in time_drains(spark, lambda: fn(spark, SF_DIR), args.trials)
        ]
        spark.sparkContext.setJobDescription(None)
        results[name] = min(trials)
        print(f"# {name}: min {min(trials)}s trials {trials}", file=sys.stderr)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
