"""Spans and counters recorded from outside the program.

Everything here wraps calls into the program's layers from outside;
nothing in the package is edited. A ``Tracer`` keeps spans in memory until the
run ends. ``OpProbe`` reads what Spark itself counted for one op: the
jobs of a job group from the status tracker, their stages from the
status store, and the Python-worker metrics from the SQL status store.
All of these stores work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import os
import re
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. Each span has a name, start, end, parent
    and the run id; attributes ride along as ``attrs``."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) spent so far by process ``root`` and
    every process under it, counting reaped children through their
    parent's ``cutime``/``cstime``: the driver, the JVM and the Python
    workers."""
    kids: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:  # exited while listing
            continue
        fields = s[s.rindex(")") + 2:].split()
        kids[int(fields[1])].append(int(d))
        ticks[int(d)] = sum(map(int, fields[11:15]))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def speed_probe() -> float:
    """CPU seconds this thread takes for a fixed pure-Python loop: how
    fast the host's cores run right now, independent of the program."""
    t0 = time.thread_time()
    x = 0
    for i in range(400_000):
        x = (x + i * i) & 0xFFFFFFF
    return time.thread_time() - t0


def steal_s() -> float:
    """Host steal time so far, summed over this machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class Py4jCounter:
    """Counts py4j round trips while entered, by wrapping the gateway
    client's ``send_command`` on the instance (the class is left alone).
    Outside the ``with`` block the client is untouched."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client

    def __enter__(self):
        orig = self._client.send_command

        def counted(*a, **k):
            self.calls += 1
            return orig(*a, **k)

        self._client.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        del self._client.send_command


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[0-9.]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")

# SQL status-store metric names of the Python-worker path
UDF_METRICS = {
    "time to run Python workers": "udf.run_s",
    "time to start Python workers": "udf.start_s",
    "data sent to Python workers": "udf.sent_mb",
    "data returned from Python workers": "udf.returned_mb",
}


def parse_metric(text: str) -> float:
    """Total of one SQL-metric string: either ``"1.4 s"`` or
    ``"total (min, med, max ...)\\n2.8 s (…)"``; sizes in bytes."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.search(line)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class OpProbe:
    """Per-op Spark-side counts for a job group, read after the op."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_exec = self._max_exec_id()

    def _max_exec_id(self) -> int:
        n = self.sql.executionsCount()
        return self.sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    def jobs(self, gid: str) -> dict[str, float]:
        """Job, stage and task counts and stage metrics of a job group."""
        tracker = self.sc.statusTracker()
        out = defaultdict(float)
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # stage skipped or evicted: no attempt
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["task_busy_s"] += st.executorRunTime() / 1e3
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                out["spill_mb"] += st.diskBytesSpilled() / 2**20
                out["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
        return dict(out)

    def udf(self) -> dict[str, float]:
        """Python-worker metrics summed over SQL executions since the last
        call (single closed-loop client, so they belong to this op). Two
        py4j calls per execution: the metric list and the values, each as
        one string."""
        out = {v: 0.0 for v in UDF_METRICS.values()}
        newest = self._max_exec_id()
        for eid in range(self.last_exec + 1, newest + 1):
            ex = self.sql.execution(eid)
            if ex.isEmpty():
                continue
            names = {int(acc): UDF_METRICS[name] for name, acc in
                     _PLAN_METRIC.findall(ex.get().metrics().mkString("\n"))
                     if name in UDF_METRICS}
            if not names:
                continue
            text = self.sql.executionMetrics(eid).toString()
            for acc, val in _METRIC_VALUE.findall(text):
                key = names.get(int(acc))
                if key is not None:
                    x = parse_metric(val)
                    out[key] += x / 2**20 if key.endswith("_mb") else x
        self.last_exec = newest
        return out


_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),\w+\)")
_METRIC_VALUE = re.compile(r"(\d+) -> (.*?)(?=, \d+ -> |\)$)", re.S)


def heap_used_mb(spark) -> float:
    """Driver JVM heap in use after forced GCs. Python is collected first,
    so py4j proxies that died release their JVM objects. In local mode the
    executors live in this JVM too, so cached blocks count."""
    import gc

    gc.collect()
    jvm = spark._jvm
    # the ContextCleaner frees broadcast and shuffle blocks only after a
    # GC has dropped their references, so collect again after it runs
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def cache_left(spark) -> tuple[int, float]:
    """Persistent RDDs still registered and their in-memory size (MB)."""
    sc = spark.sparkContext
    infos = sc._jsc.sc().getRDDStorageInfo()
    return (sc._jsc.getPersistentRDDs().size(),
            sum(i.memSize() for i in infos) / 2**20)
