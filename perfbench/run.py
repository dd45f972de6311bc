"""Benchmark entry point.

    python3 perfbench/run.py --workload fixed_cost --seed 1 --seconds 12 --trace 0

Run from the repository root. One driver process, one closed-loop client:
each op is built (the program's query or pipeline function is called)
and then drained, and the next op starts when the drain returns. The run

1. loads the expected outputs: for ``fixed_cost`` the committed oracle
   digests of the committed fixtures (the seed only permutes op order);
   for ``civic_ingest`` it generates the inputs from ``--seed`` under a
   per-run directory (``.perfbench_runs/``) with their truth;
2. sets up twice: imports the program, starts a session and builds
   every op once, which pays layout writes, memo builds and
   construction-time jobs (the first set-up also launches the JVM);
3. executes the frames the second set-up built and checks them
   (untimed; this also warms the execution path);
4. runs the workload's untimed warm passes;
5. runs timed passes until ``--seconds`` have elapsed (at least one, and
   at least two with ``--trace 1``);
6. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``; traced and untraced passes alternate, in pairs whose
   order flips, and the difference of their walls is the tracing
   overhead). A run in which no op completed reports zeros and
   ``correct: false``.

Every set-up, op and pass is timed twice: by the wall clock and by the CPU
time of the whole process tree (this process, the JVM, the Python
workers). The end-to-end metrics are the CPU times, scaled by a speed
probe timed before every op; the wall times are per-layer metrics (see
README.md for why).

With ``--trace 1`` the spans and per-op counts are written to a record
under ``.perfbench_runs/records/``; ``perfbench/summary.py`` prints and
diffs records.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans as tr  # noqa: E402
import workloads  # noqa: E402

SETUPS = 2
PACKAGE = "repcheck_data_integration_spark"
# local[2]: the ops are latency-bound (drain.core_util 0.1-0.3 on four
# cores), so two task threads leave the host's other cores to the JVM's
# own threads instead of contending with them.
CORES = 2
# C1 only and the serial collector: Spark compiles new generated classes
# for every query, so with tiered C2 the compiler threads never settle
# (4.8 CPU-s of an 8.5 s timed window, after warm-up) and pass times kept
# drifting; background GC threads add CPU that varies from run to run.
JVM_OPTS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
# CPU seconds tr.speed_probe() takes on a core of a 4-core Intel Xeon KVM
# guest (a shared host), in its fastest stretch. End-to-end CPU times are
# scaled by REF_PROBE_S / (the run's median probe): the same host ran the
# probe and the workloads up to twice as slowly for minutes at a time.
REF_PROBE_S = 0.03

END_TO_END = [("setup_s", "s"), ("pass_cpu_s", "s")]

STAGE_JOB_KEYS = ["jobs", "stages", "tasks", "task_busy_s", "gc_s",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                  "fetch_wait_s", "failed_tasks"]
PER_LAYER = (
    [("wall_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
     ("setup_wall_s", "s"), ("retained_heap_mb", "MB"),
     ("session.start_s", "s"), ("registry.import_s", "s"),
     ("tables.layout_writes", "count"), ("tables.layout_write_s", "s"),
     ("ckpt.memo_builds", "count"), ("ckpt.memo_build_s", "s"),
     ("build.s", "s"), ("build.jobs", "count"), ("build.py4j_calls", "count"),
     ("build.share", "ratio"), ("drain.s", "s"), ("drain.jobs", "count"),
     ("drain.stages", "count"), ("drain.tasks", "count"),
     ("drain.task_busy_s", "s"), ("drain.core_util", "ratio"),
     ("drain.gc_s", "s"), ("drain.shuffle_write_mb", "MB"),
     ("drain.shuffle_read_mb", "MB"), ("drain.spill_mb", "MB"),
     ("drain.fetch_wait_s", "s"), ("drain.failed_tasks", "count"),
     ("udf.run_s", "s"), ("udf.start_s", "s"), ("udf.sent_mb", "MB"),
     ("udf.returned_mb", "MB")]
    + [(f"pipelines.{s}_s", "s") for s, _ in workloads.STAGES]
    + [("spatial.refine_pairs", "count"), ("spatial.refine_hit_ratio", "ratio"),
       ("resolve.pairs_scored", "count"), ("resolve.match_ratio", "ratio"),
       ("upsert.rows_written", "count"), ("upsert.write_mb", "MB"),
       ("upsert.write_amp", "ratio"), ("cache.rdds_left", "count"),
       ("cache.mem_mb_left", "MB"), ("host.probe_s", "s"), ("trace.overhead_s", "s")]
)


def med(xs) -> float:
    """Median, or 0.0 when there is nothing to take it of (every op of the
    run failed); such a run reports ``correct: false``."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def tail(samples: list[float]) -> tuple[float, int]:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it; the
    median when no such percentile exists (fewer than 40 samples)."""
    n = len(samples)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return statistics.quantiles(samples, n=100)[p - 1], p
    return med(samples), 50


class Bench:
    def __init__(self, args, root: str, run_dir: str) -> None:
        self.args = args
        self.root = root
        self.run_dir = run_dir
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.rng = random.Random(args.seed)
        self.tracer = tr.Tracer(f"{args.workload}-s{args.seed}", enabled=False)
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.probe = None
        self.py4j = None
        self.probes: list[float] = []

    def cpu(self) -> float:
        return tr.tree_cpu_s(os.getpid())

    # -- one op, one pass -------------------------------------------------
    def run_op(self, op, traced: bool, tag: str) -> dict | None:
        """Build and drain one op. Returns its timings, or None when it
        raised."""
        self.attempted += 1
        rec: dict = {"op": op.name}
        self.probes.append(tr.speed_probe())
        try:
            c0 = self.cpu()
            with self.tracer.span("op", op=op.name) as sp:
                if traced:
                    self.probe.group(f"{tag}:{op.name}:build")
                    calls = self.py4j.calls
                with self.tracer.span("build") as b:
                    outs = op.build(self.spark)
                if traced:
                    rec["py4j_calls"] = self.py4j.calls - calls
                    self.probe.group(f"{tag}:{op.name}:drain")
                with self.tracer.span("drain") as d:
                    op.drain(outs)
            rec["op_cpu_s"] = self.cpu() - c0
            rec["build_s"] = b["end"] - b["start"]
            rec["drain_s"] = d["end"] - d["start"]
            rec["op_s"] = sp["end"] - sp["start"]
            if traced:
                rec["build"] = self.probe.jobs(f"{tag}:{op.name}:build")
                rec["drain"] = self.probe.jobs(f"{tag}:{op.name}:drain")
                rec["udf"] = self.probe.udf()
                sp["attrs"].update(rec)
            return rec
        except Exception as exc:  # an op failure is counted, never fatal
            self.fail(tag, op, exc)
            return None

    def run_pass(self, traced: bool, tag: str) -> tuple[tuple[float, float, float], list]:
        """One pass over the workload's ops. Returns its wall and CPU (sums
        over its ops, so the speed probes between ops are left out) and the
        host's steal time during it, and the ops' records."""
        ops = list(self.wl.ops)
        if not self.wl.ordered:
            self.rng.shuffle(ops)
        recs = []
        if traced:
            self.probe.udf()  # drop executions of earlier passes
        steal0 = tr.steal_s()
        # the py4j counter and the pipeline probes are in place only
        # during traced passes, so untraced passes run the plain program
        with (self.py4j if traced else contextlib.nullcontext()), \
                (self.wl.probes() if traced else contextlib.nullcontext()), \
                self.tracer.span("pass", tag=tag):
            for op in ops:
                r = self.run_op(op, traced, tag)
                if r is not None:
                    recs.append(r)
        times = (sum(r["op_s"] for r in recs), sum(r["op_cpu_s"] for r in recs),
                 tr.steal_s() - steal0)
        self.wl.advance()
        return times, recs

    # -- session ----------------------------------------------------------
    def start_session(self):
        from repcheck_data_integration_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        return get_spark(
            "perfbench",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.local.dir": tmp,
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
            },
        )

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def construct(self, tag: str) -> list[tuple]:
        """Build every op once without draining: this pays the one-time
        layout writes, memo builds and construction-time jobs. Returns
        each op with the frames it built."""
        ops = list(self.wl.ops)
        if not self.wl.ordered:
            self.rng.shuffle(ops)
        built = []
        for op in ops:
            self.attempted += 1
            try:
                with self.tracer.span("construct.op", op=op.name):
                    built.append((op, op.build(self.spark)))
            except Exception as exc:  # counted, never fatal
                self.fail(tag, op, exc)
        return built

    def verify(self, built: list[tuple]) -> None:
        """Execute the frames of the last set-up and check them. This is
        the run's only output check, and it warms the execution path
        (codegen, Python workers) before timing."""
        for op, outs in built:
            try:
                with self.tracer.span("verify", op=op.name):
                    op.verify(outs)
            except Exception as exc:  # counted, never fatal
                self.fail("verify", op, exc)
        self.wl.advance()

    def fail(self, tag: str, op, exc: Exception) -> None:
        self.failed += 1
        msg = traceback.format_exception_only(type(exc), exc)[-1].strip()
        print(f"# FAIL {tag} {op.name}: {msg[:500]}", file=sys.stderr)

    def setup(self, i: int) -> dict:
        """Set-up ``i``: import the program, start a session and construct
        every op once. The first set-up launches the JVM and the
        SparkContext. The later ones re-import the program afresh (empty
        memos), drop the catalog's tables (the program's bucketed layouts)
        and open a new session on the running context, so every one-time
        build repeats."""
        if i:
            for m in [m for m in sys.modules if m.split(".")[0] == PACKAGE]:
                del sys.modules[m]
            for t in self.spark.catalog.listTables():
                self.spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
        c0 = self.cpu()
        with self.tracer.span("setup", i=i) as su:
            with self.tracer.span("registry.import") as imp:
                from repcheck_data_integration_spark import registry, tables

                registry.load_all_modules()
            with self.tracer.span("session.start") as ss:
                self.spark = self.spark.newSession() if i else self.start_session()
            with self.tracer.span("construct"):
                self.built = self.construct(f"setup{i}")
        cpu = self.cpu() - c0
        fc = tables.FIXED_COSTS
        layout = [v for k, v in fc.items() if k.startswith("bkt:")]
        memo = [v for k, v in fc.items() if "components:" in k]
        return {
            "setup_s": cpu,
            "setup_wall_s": su["end"] - su["start"],
            "registry.import_s": imp["end"] - imp["start"],
            "session.start_s": ss["end"] - ss["start"],
            "tables.layout_writes": len(layout),
            "tables.layout_write_s": sum(layout),
            "ckpt.memo_builds": len(memo),
            "ckpt.memo_build_s": sum(memo),
        }

    # -- the run ------------------------------------------------------------
    def run(self) -> dict:
        args = self.args
        traced_run = bool(args.trace)
        self.tracer.enabled = traced_run
        t0 = time.perf_counter()
        self.wl = workloads.make(args.workload, args.scale == "toy")
        self.wl.prepare(os.path.join(self.run_dir, "data"), args.seed)
        print(f"# inputs and expectations: {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        setup_rows = []
        with self.tracer.span("run"):
            for i in range(SETUPS):
                setup_rows.append(self.setup(i))
                print(f"# setup {i}: {setup_rows[-1]['setup_wall_s']:.3f}s wall, "
                      f"{setup_rows[-1]['setup_s']:.3f}s CPU", file=sys.stderr)
            with self.tracer.span("verify_pass") as vp:
                self.verify(self.built)
            print(f"# verify pass: {vp['end'] - vp['start']:.3f}s", file=sys.stderr)
            warm = [self.run_pass(traced=False, tag=f"warm{i}")[0]
                    for i in range(self.wl.warm_passes)]
            print(f"# warm passes (wall, CPU, steal): {fmt(warm)}", file=sys.stderr)
            if traced_run:
                self.probe = tr.OpProbe(self.spark)
                self.py4j = tr.Py4jCounter(self.spark)
            passes: dict[bool, list] = {False: [], True: []}
            recs_by_pass: list[list[dict]] = []
            samples: dict[str, list[dict]] = {}
            deadline = time.perf_counter() + args.seconds
            k = 0
            while True:
                # untraced/traced pairs in alternating order (U T T U U T
                # ...), so warm-up drift falls on both kinds alike
                traced = traced_run and k % 4 in (1, 2)
                self.tracer.enabled = traced
                times, recs = self.run_pass(traced=traced, tag=f"pass{k}")
                self.tracer.enabled = traced_run
                passes[traced].append(times)
                if traced:
                    recs_by_pass.append(recs)
                else:
                    for r in recs:
                        samples.setdefault(r["op"], []).append(r)
                k += 1
                if time.perf_counter() >= deadline and k >= 1 + traced_run:
                    break

            if traced_run:
                layer = self.per_layer(setup_rows, recs_by_pass, passes)
            print(f"# timed passes (wall, CPU, steal): {len(passes[False])} untraced "
                  f"{fmt(passes[False])}, {len(passes[True])} traced", file=sys.stderr)

        op_s = {o: [r["op_s"] for r in rs] for o, rs in samples.items()}
        op_cpu = {o: [r["op_cpu_s"] for r in rs] for o, rs in samples.items()}
        print(f"# per-op median wall: { {o: round(med(xs), 3) for o, xs in op_s.items()} }",
              file=sys.stderr)
        print(f"# per-op median CPU: { {o: round(med(xs), 3) for o, xs in op_cpu.items()} }",
              file=sys.stderr)
        flat = [x for xs in op_s.values() for x in xs]
        tail_v, p = tail(flat)
        print(f"# op_tail_s is p{p} of {len(flat)} op samples"
              f" ({sum(x > tail_v for x in flat)} beyond it)", file=sys.stderr)
        if traced_run:
            layer["op_tail_s"] = tail_v
            # the median over ops of each op's median latency: with few
            # distinct ops a pooled median jumps between two of them
            layer["op_p50_s"] = med(med(xs) for xs in op_s.values())
            self.write_record(layer, recs_by_pass)
            metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
        else:
            speed = REF_PROBE_S / med(self.probes)
            print(f"# speed probe: median {med(self.probes):.4f}s of {len(self.probes)}"
                  f" (scale {speed:.3f})", file=sys.stderr)
            values = {
                "setup_s": med(r["setup_s"] for r in setup_rows) * speed,
                "pass_cpu_s": med(cpu for _, cpu, _ in passes[False]) * speed,
            }
            metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        return {"correct": self.failed == 0 and bool(samples), "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    # -- per-layer aggregation ---------------------------------------------
    def per_layer(self, setup_rows, recs_by_pass, passes) -> dict:
        # what the session keeps, read before the counters run their jobs
        cache, heap = tr.cache_left(self.spark), tr.heap_used_mb(self.spark)
        out = {n: 0.0 for n, _ in PER_LAYER}
        out["retained_heap_mb"] = heap
        for key in setup_rows[0]:
            if key != "setup_s":
                out[key] = med(r[key] for r in setup_rows)

        def per_pass(fn):
            return med(fn(recs) for recs in recs_by_pass)

        out["build.s"] = per_pass(lambda rs: sum(r["build_s"] for r in rs))
        out["drain.s"] = per_pass(lambda rs: sum(r["drain_s"] for r in rs))
        out["build.jobs"] = per_pass(lambda rs: sum(r["build"].get("jobs", 0) for r in rs))
        out["build.py4j_calls"] = per_pass(lambda rs: sum(r["py4j_calls"] for r in rs))
        out["build.share"] = per_pass(
            lambda rs: ratio(sum(r["build_s"] for r in rs), sum(r["op_s"] for r in rs)))
        for key in STAGE_JOB_KEYS:
            out[f"drain.{key}"] = per_pass(
                lambda rs, key=key: sum(r["drain"].get(key, 0.0) for r in rs))
        out["drain.core_util"] = per_pass(
            lambda rs: ratio(sum(r["drain"].get("task_busy_s", 0.0) for r in rs),
                             sum(r["drain_s"] for r in rs) * self.cores))
        for key in tr.UDF_METRICS.values():
            out[key] = per_pass(lambda rs, key=key: sum(r["udf"][key] for r in rs))
        if isinstance(self.wl, workloads.CivicWorkload):
            for stage, _ in workloads.STAGES:
                out[f"pipelines.{stage}_s"] = per_pass(
                    lambda rs, s=stage: sum(r["op_s"] for r in rs if r["op"] == s))
            rows, mb = self.wl.last_write
            out["upsert.rows_written"] = rows
            out["upsert.write_mb"] = mb
            out["upsert.write_amp"] = ratio(mb * 2**20, self.wl.input_bytes)
            out.update(self.wl.counters(self.spark))
        out["cache.rdds_left"], out["cache.mem_mb_left"] = cache
        out["host.probe_s"] = med(self.probes)
        out["wall_s"] = med(wall for wall, _, _ in passes[False])
        out["trace.overhead_s"] = med(w for w, _, _ in passes[True]) - out["wall_s"]
        return out

    def write_record(self, layer: dict, recs_by_pass) -> None:
        rec_dir = os.path.join(self.root, ".perfbench_runs", "records")
        os.makedirs(rec_dir, exist_ok=True)
        path = os.path.join(
            rec_dir, f"{self.args.workload}-s{self.args.seed}-{int(time.time())}.json")
        per_op: dict[str, list] = {}
        for recs in recs_by_pass:
            for r in recs:
                per_op.setdefault(r["op"], []).append(r)
        with open(path, "w") as f:
            json.dump({"workload": self.args.workload, "seed": self.args.seed,
                       "cores": self.cores, "metrics": layer,
                       "self_s": self.tracer.self_times(),
                       "per_op": per_op, "spans": self.tracer.spans}, f)
        print(f"# trace record: {os.path.relpath(path, self.root)}", file=sys.stderr)


def fmt(passes: list[tuple]) -> list[tuple]:
    return [tuple(round(x, 2) for x in p) for p in passes]


def stop_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["fixed_cost", "civic_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--driver-mem", default="2g",
                    help="driver JVM heap (SPARK_GRAFT_DRIVER_MEM)")
    ap.add_argument("--scale", choices=["full", "toy"], default="full",
                    help="toy: smallest inputs, for the smoke test")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "registry.py")):
        print(f"perfbench: {PACKAGE}/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(root, ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    sys.path.insert(0, root)
    # Python workers import the package too: they need the root on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CORES, os.cpu_count() or 1))
    os.chdir(run_dir)  # keeps spark-warehouse/ and derby.log out of the tree
    bench = Bench(args, root, run_dir)
    try:
        result = bench.run()
    finally:
        bench.stop_session()
        stop_jvm()
        os.chdir(root)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
