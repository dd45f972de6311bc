"""Write the registry ops' expected output digests.

    python3 perfbench/expect.py

Run from the repository root. Each ``fixed_cost`` op's DuckDB oracle
twin runs over the committed fixtures (``perfbench/fixtures/``) and its
digest is written to ``perfbench/expected.json``. The benchmark's verify
pass then checks every Spark output against that file, so a run needs
neither DuckDB nor the oracle SQL. Rerun only when the fixtures or the
op list change.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import duckdb  # noqa: E402

from digest import digest  # noqa: E402
from workloads import FIXED_COST_OPS, FIXTURES, EXPECTED  # noqa: E402


def main() -> int:
    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    con = duckdb.connect()
    for f in sorted(os.listdir(FIXTURES)):
        con.sql(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(FIXTURES, f)}')")
    out = {}
    for name in FIXED_COST_OPS:
        rel = con.sql(registry.ORACLE[name])
        out[name] = list(digest(list(rel.columns), rel.fetchall()))
        print(f"{name}: {out[name][0]} rows", file=sys.stderr)
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
