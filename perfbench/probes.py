"""Layer probes: spans around the harness's calls into the engine, and
counters read from Spark's status stores after each op.

Nothing here reaches into the engine. A span times one harness call
(``cql.compile``, ``plan``, ``spark.action`` ...). After a traced op the
probe reads the op's jobs from ``statusTracker()`` (each op runs in its
own job group), the per-stage metrics from the JVM status store
(``lastStageAttempt``), and the Python-boundary node metrics from the SQL
status store's plan graph. Spans stay in memory until the run ends.

With tracing off every probe call is a no-op, so untraced runs time the
bare engine calls.
"""

from __future__ import annotations

import contextlib
import os
import re
import time
from collections import defaultdict

PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
            "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
            "AggregateInPandas", "WindowInPandas")
# SQL metric name on a Python node -> per-layer metric it feeds
PY_METRICS = {
    "time to run Python workers": "py.run_ms",
    "time to start Python workers": "py.start_ms",
    "data sent to Python workers": "py.sent_mb",
    "data returned from Python workers": "py.returned_mb",
    "number of output rows": "py.rows",
}
_UNIT = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "B": 1.0 / 2**20,
         "KiB": 1.0 / 2**10, "MiB": 1.0, "GiB": 2.0**10, "TiB": 2.0**20}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """First value of a formatted SQL metric: '2.0 s (...)' -> 2000 (ms),
    '117.5 KiB' -> 0.1147 (MiB), '15,000' -> 15000."""
    m = _NUM.match(text or "")
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc (0 if unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Probe:
    """Per-op spans and status-store counters for one run."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.values: dict[str, list[float]] = defaultdict(list)
        self._op: dict | None = None
        self._n = 0
        self._sql_seen = self._sql_store().executionsCount() if enabled else 0

    # -- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def op(self, kind: str):
        """One timed op. Runs in its own job group when tracing."""
        self._n += 1
        rec = {"op": self._n, "kind": kind, "ok": True}
        self._op = rec
        if self.enabled:
            self.sc.setJobGroup(f"perfbench-op{self._n}", kind)
        t0 = time.time()
        try:
            yield rec
        finally:
            rec["start"], rec["end"] = t0, time.time()
            self._op = None
            if self.enabled:
                self.sc.setJobGroup("perfbench-idle", "between ops")
                rec.update(self._op_counters(rec))
                self.ops.append(rec)

    def span(self, name: str):
        """A span inside the current op (a no-op when tracing is off)."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            op = self._op["op"] if self._op else 0
            self.spans.append({"op": op, "name": name, "start": t0,
                               "end": time.time()})

    def collect(self, df) -> list:
        """Run ``df`` to rows in the client, with plan and action spans."""
        if self.enabled:
            with self._span("plan"):
                df._jdf.queryExecution().executedPlan()
        with self.span("spark.action"):
            return df.collect()

    def record(self, name: str, value: float) -> None:
        """A per-layer value that is not a span (counts, ratios, bytes)."""
        self.values[name].append(float(value))

    # -- status stores -----------------------------------------------------

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _op_counters(self, rec: dict) -> dict:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(f"perfbench-op{rec['op']}")
        c: dict = defaultdict(float)
        c["spark.jobs"] = len(jobs)
        seen, intervals = set(), []
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    c["spark.tasks_skipped"] += sd.numTasks()
                    continue
                c["spark.stages"] += 1
                c["spark.tasks"] += sd.numCompleteTasks()
                c["spark.executor_run_ms"] += sd.executorRunTime()
                c["spark.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                c["spark.gc_ms"] += sd.jvmGcTime()
                c["spark.input_mb"] += sd.inputBytes() / 2**20
                c["spark.input_rows"] += sd.inputRecords()
                c["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                c["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                c["spark.spill_mb"] += (sd.memoryBytesSpilled()
                                        + sd.diskBytesSpilled()) / 2**20
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3,
                                      done.get().getTime() / 1e3))
        actions = [s for s in self.spans
                   if s["op"] == rec["op"] and s["name"] == "spark.action"]
        wait = 0.0
        for a in actions:
            wait += _uncovered(a["start"], a["end"], intervals)
        c["spark.driver_wait_ms"] = wait * 1e3
        sql = self._sql_store()
        n = sql.executionsCount()
        if n > self._sql_seen:
            it = sql.executionsList(self._sql_seen, n - self._sql_seen).iterator()
            while it.hasNext():
                self._python_nodes(sql, it.next().executionId(), c)
        c["spark.sql_execs"] = n - self._sql_seen
        self._sql_seen = n
        c["spark.persisted_rdds"] = self.sc._jsc.getPersistentRDDs().size()
        return dict(c)

    @staticmethod
    def _python_nodes(sql, eid: int, c: dict) -> None:
        metrics = sql.executionMetrics(eid)
        nodes = sql.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not any(node.name().startswith(p) for p in PY_NODES):
                continue
            c["py.nodes"] += 1
            it = node.metrics().iterator()
            while it.hasNext():
                m = it.next()
                key = PY_METRICS.get(m.name())
                val = metrics.get(m.accumulatorId())
                if key and val.isDefined():
                    c[key] += parse_sql_metric(val.get())

    # -- summary -------------------------------------------------------------

    def span_ms(self, name: str) -> list[float]:
        """Per-op total of a span's duration, over ops that ran it."""
        per: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] == name:
                per[s["op"]] += (s["end"] - s["start"]) * 1e3
        return list(per.values())

    def counter_mean(self, name: str) -> float:
        """Mean over traced ops of a status-store counter."""
        vals = [o.get(name, 0.0) for o in self.ops]
        return sum(vals) / len(vals) if vals else 0.0

    def coverage(self) -> list[float]:
        """Per op: share of its wall time that its direct spans cover."""
        out = []
        for o in self.ops:
            wall = o["end"] - o["start"]
            inner = sum(s["end"] - s["start"] for s in self.spans
                        if s["op"] == o["op"])
            out.append(inner / wall if wall > 0 else 1.0)
        return out


def _uncovered(start: float, end: float, intervals) -> float:
    """Length of [start, end] not covered by any of ``intervals``."""
    covered, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return max(0.0, (end - start) - covered)


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    process ``root`` and all its descendants: the driver, the JVM it
    launched and the JVM's Python workers."""
    cpu: dict[int, int] = {}
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed /proc
            continue
        cpu[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        children[int(f[1])].append(int(d))
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def rss_mb(spark) -> tuple[float, float]:
    """(driver Python, JVM) peak RSS in MB."""
    pid = jvm_pid(spark)
    return vm_hwm_mb(os.getpid()), vm_hwm_mb(pid) if pid else 0.0
