"""Layer metrics read from outside the package, plus the span recorder.

Every number here comes from what Spark already records: the status
tracker and status store (jobs, stages, executor time), each query's
`QueryExecution` (Catalyst phase times and the executed plan's SQL
metrics), and `StreamingQueryProgress` for the streaming jobs. Nothing is
instrumented inside the package.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# SQL metric names of the Python operators, per plan node class
_PY_OPERATORS = ("FlatMapGroupsInPandasExec", "MapInPandasExec",
                 "FlatMapGroupsInPandasWithStateExec")
_PY_UDFS = ("ArrowEvalPythonExec", "BatchEvalPythonExec")


class Tracer:
    """Spans around the benchmark's calls into each layer, kept in memory
    and written out once at the end. A disabled tracer records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _plan_nodes(plan):
    """Every node of an executed plan, through AQE stages, cached
    relations and subqueries."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif kind == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        else:
            stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))


class PythonMetrics:
    """Python-worker SQL metrics summed over executed plans. SQL metrics
    are cumulative accumulators and a cached plan is shared by every query
    that reads it, so each accumulator counts once, as the growth since it
    was last read."""

    def __init__(self):
        self._seen: dict[int, int] = {}

    def read(self, plan) -> dict[str, float]:
        out = {"op.boot_ms": 0.0, "op.init_ms": 0.0, "op.run_ms": 0.0,
               "op.bytes_sent": 0.0, "op.bytes_returned": 0.0,
               "udf.run_ms": 0.0, "udf.rows": 0.0, "udf.bytes": 0.0}
        for node in _plan_nodes(plan):
            kind = node.getClass().getSimpleName()
            if kind not in _PY_OPERATORS and kind not in _PY_UDFS:
                continue
            it = node.metrics().iterator()
            vals: dict[str, float] = {}
            while it.hasNext():
                kv = it.next()
                m = kv._2()
                mid, v = int(m.id()), int(m.value())
                vals[kv._1()] = v - self._seen.get(mid, 0)
                self._seen[mid] = v
            if kind in _PY_OPERATORS:
                out["op.boot_ms"] += vals.get("pythonBootTime", 0)
                out["op.init_ms"] += vals.get("pythonInitTime", 0)
                out["op.run_ms"] += vals.get("pythonTotalTime", 0)
                out["op.bytes_sent"] += vals.get("pythonDataSent", 0)
                out["op.bytes_returned"] += vals.get("pythonDataReceived", 0)
            else:
                out["udf.run_ms"] += vals.get("pythonTotalTime", 0)
                out["udf.rows"] += vals.get("pythonNumRowsReceived", 0)
                out["udf.bytes"] += (vals.get("pythonDataSent", 0)
                                     + vals.get("pythonDataReceived", 0))
        return out


def phases_ms(query_execution) -> dict[str, float]:
    """Catalyst analysis / optimization / planning time of one query."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = query_execution.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = float(kv._2().durationMs())
    return out


def stage_totals(sc, job_ids) -> dict[str, float]:
    """Stage-level executor metrics over the given jobs (status store)."""
    store = sc._jsc.sc().statusStore()
    out = {"stages": 0.0, "tasks": 0.0, "executor_run_ms": 0.0,
           "executor_cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_read_bytes": 0.0,
           "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}
    stage_ids: set[int] = set()
    for jid in job_ids:
        stage_ids.update(int(s) for s in _seq(store.job(jid).stageIds()))
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["executor_run_ms"] += sd.executorRunTime()
        out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
        out["gc_ms"] += sd.jvmGcTime()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def persisted_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


class ProcessTree:
    """This process and its descendants (the driver JVM and the Python
    workers it forks), read from /proc: peak summed resident memory,
    sampled in the background, and CPU seconds used so far."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._root = os.getpid()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _members(self) -> list[list[str]]:
        """/proc/<pid>/stat fields (after the command name) of the tree."""
        parent: dict[int, int] = {}
        stats: dict[int, list[str]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(entry)] = int(fields[1])
            stats[int(entry)] = fields
        out = []
        for pid, fields in stats.items():
            p = pid
            while p > 1 and p != self._root:
                p = parent.get(p, 0)
            if p == self._root:
                out.append(fields)
        return out

    def cpu_s(self) -> float:
        """User and system CPU of the tree, including reaped children.
        Time the host steals from this VM is not in it."""
        return sum(sum(int(f[i]) for i in (11, 12, 13, 14))
                   for f in self._members()) / self._tick

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = sum(int(f[21]) for f in self._members()) * self._page
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)
