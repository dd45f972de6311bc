"""Plan fingerprints: one hash per registered query.

Each hash covers the query's name, its oracle SQL, its output schema and
its normalized optimized logical plan at the sf0.001 smoke fixtures. The
queries are built the way tools/window_audit.py builds them: in plan-only
mode, each against an empty cache. A refactor that claims to change no
plan must leave every line of the output unchanged. Run it from the
repository root (Python data-source workers import the package from the
working directory):

    python tools/plan_fingerprint.py > before.txt
    # ... apply the refactor ...
    python tools/plan_fingerprint.py > after.txt
    diff before.txt after.txt

Output is ``name<TAB>hash`` per query, sorted by name. A query whose
builder raises is hashed over its error instead of its schema and plan.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import SMOKE_SF_DIR  # noqa: E402
from repcheck_data_integration_spark import registry  # noqa: E402
from window_audit import plan_only_frames  # noqa: E402

# Run-dependent text in a plan string: expression ids, the plan ids of
# exchanges inside cached physical plans, the per-process suffix of
# tables.load_bucketed table names, and absolute file paths.
_NORMALIZE = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(bkt_\w+?)_p\d+\b"), r"\1"),
    (re.compile(r"(?:file:)?(?<![\w.])/[\w.\-=]+(?:/[\w.\-=]+)*"), "<path>"),
)
# Spark's distinct-aggregate rewrite orders its Expand groups by a hash of
# expression ids, so the lines that carry its ``gid`` column are compared
# as token multisets.
_TOKENS = re.compile(r"[\s,\[\]()]+")


def normalize(text: str) -> str:
    for pattern, repl in _NORMALIZE:
        text = pattern.sub(repl, text)
    return "\n".join(
        " ".join(sorted(_TOKENS.split(line))) if "gid#" in line else line
        for line in text.split("\n")
    )


def fingerprint(name: str, body: str) -> str:
    text = "\0".join((name, registry.ORACLE.get(name, ""), normalize(body), ""))
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def fingerprints(spark, sf_dir: str) -> dict[str, str]:
    """{query_name: hash} for every registered query."""
    out: dict[str, str] = {}
    fails: dict[str, str] = {}
    for name, df in plan_only_frames(spark, sf_dir, fail_out=fails):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        out[name] = fingerprint(name, df.schema.json() + "\0" + plan)
    out.update({n: fingerprint(n, "error: " + e) for n, e in fails.items()})
    return out


if __name__ == "__main__":
    from repcheck_data_integration_spark.session import get_spark

    spark = get_spark("plan-fingerprint", shuffle_partitions=4)
    for name, digest in sorted(fingerprints(spark, SMOKE_SF_DIR).items()):
        print(f"{name}\t{digest}")
    spark.stop()
