"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload named in ``BENCHMARK.json`` at toy size, untraced and
traced, for one second of timed passes each, and checks that the result
line carries every end-to-end (untraced) or per-layer (traced) metric
with its unit, that every output check passed and that no op failed.
Exits 1 on the first problem. Takes a few minutes: each run starts its
own JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "toy"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        problems.append(f"correct={out['correct']} failed={out['failed']}"
                        f" attempted={out['attempted']}")
    want = spec["per_layer" if trace else "end_to_end"]
    for m in want:
        got = out["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(
                got.get("value"), (int, float)):
            problems.append(f"metric {m['name']}: {got}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems = check(spec, w["name"], trace)
            print(f"{w['name']} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for p in problems:
                print(f"  {p}")
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
