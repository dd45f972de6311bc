"""Print one traced record, or the deltas between two.

    python3 perfbench/summary.py RECORD            # per-layer, per-op, self time
    python3 perfbench/summary.py BASE NEW          # NEW minus BASE

Records are the JSON files ``run.py --trace 1`` writes under
``.perfbench_runs/records/``. Per-op figures are medians over the run's
traced passes.
"""

from __future__ import annotations

import json
import statistics
import sys

OP_FIELDS = [
    ("op_s", lambda r: r["op_s"]),
    ("build_s", lambda r: r["build_s"]),
    ("drain_s", lambda r: r["drain_s"]),
    ("py4j", lambda r: r["py4j_calls"]),
    ("b.jobs", lambda r: r["build"].get("jobs", 0)),
    ("d.jobs", lambda r: r["drain"].get("jobs", 0)),
    ("d.tasks", lambda r: r["drain"].get("tasks", 0)),
    ("d.busy_s", lambda r: r["drain"].get("task_busy_s", 0.0)),
    ("udf.run_s", lambda r: r["udf"]["udf.run_s"]),
]


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def per_op(rec: dict) -> dict[str, dict[str, float]]:
    return {op: {name: statistics.median(fn(r) for r in rs) for name, fn in OP_FIELDS}
            for op, rs in rec["per_op"].items()}


def fmt(x: float) -> str:
    return f"{x:.4g}" if isinstance(x, float) else str(x)


def show(rec: dict) -> None:
    print(f"workload {rec['workload']}  seed {rec['seed']}  cores {rec['cores']}")
    print("\nper-layer")
    for k, v in rec["metrics"].items():
        print(f"  {k:28s} {fmt(v)}")
    ops = per_op(rec)
    print("\nper-op (median over traced passes)")
    print("  " + f"{'op':32s}" + "".join(f"{n:>11s}" for n, _ in OP_FIELDS))
    for op, row in sorted(ops.items(), key=lambda kv: -kv[1]["op_s"]):
        print("  " + f"{op:32s}" + "".join(f"{fmt(row[n]):>11s}" for n, _ in OP_FIELDS))
    print("\nself time by span name (whole run)")
    for k, v in sorted(rec["self_s"].items(), key=lambda kv: -kv[1]):
        print(f"  {k:28s} {v:.3f}")


def diff(base: dict, new: dict) -> None:
    print(f"{base['workload']} seed {base['seed']} -> {new['workload']} seed {new['seed']}")
    print(f"\n  {'metric':28s}{'base':>12s}{'new':>12s}{'delta':>12s}{'delta%':>9s}")
    for k, b in base["metrics"].items():
        n = new["metrics"].get(k)
        if n is None:
            continue
        pct = f"{100 * (n - b) / b:+.1f}" if b else ""
        print(f"  {k:28s}{fmt(b):>12s}{fmt(n):>12s}{fmt(n - b):>12s}{pct:>9s}")
    bo, no = per_op(base), per_op(new)
    print(f"\n  {'op':32s}{'field':>10s}{'base':>12s}{'new':>12s}{'delta':>12s}")
    for op in sorted(set(bo) & set(no)):
        for name, _ in OP_FIELDS:
            b, n = bo[op][name], no[op][name]
            if b != n:
                print(f"  {op:32s}{name:>10s}{fmt(b):>12s}{fmt(n):>12s}{fmt(n - b):>12s}")


def main(argv: list[str]) -> int:
    if len(argv) == 1:
        show(load(argv[0]))
    elif len(argv) == 2:
        diff(load(argv[0]), load(argv[1]))
    else:
        print(__doc__, file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
