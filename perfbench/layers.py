"""Spans and per-layer counters for the traced benchmark run.

Everything here is read from outside the program, around the calls the
benchmark makes into it: Spark's job status store (jobs and tasks per job
group), the SQL status store (per-operator SQL metrics of every execution
the call started), each DataFrame's ``queryExecution`` (planning phases,
plan shape), the block manager's storage info (persisted frames) and the
driver JVM's MXBeans (JIT and GC time). Nothing is read while a timed call
runs, so tracing adds no work inside a timed call; the time spent reading
counters between calls is itself measured and reported.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager

# SQL metric display names -> per-layer metric they feed
SQL_METRICS = {
    "shuffle bytes written": "plans.shuffle_write_mb",
    "shuffle records written": "plans.shuffle_records",
    "fetch wait time": "plans.shuffle_fetch_wait_ms",
    "spill size": "plans.spill_mb",
    "time to start Python workers": "functions.python_boot_ms",
    "time to initialize Python workers": "functions.python_init_ms",
    "time to run Python workers": "functions.python_exec_ms",
    "data sent to Python workers": "functions.python_sent_mb",
    "data returned from Python workers": "functions.python_received_mb",
}
CODEGEN_METRIC = "plans.codegen_pipeline_ms"  # WholeStageCodegen "duration"
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
         "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}
_MB = 1e6
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\) )?(\w+)", re.M)  # operator name per plan line


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric value ('4.4 KiB', '1,024', 'total (min, med,
    max ...)\\n1.2 s (...)') as bytes, milliseconds or a plain count."""
    line = text.split("\n")[1] if "\n" in text else text
    parts = line.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _UNIT[parts[1]] if len(parts) > 1 else value


class Tracer:
    """Spans kept in memory: name, start, end, parent span id and the run
    id every span shares. ``enabled=False`` records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "name": name, "start": time.time(), **attrs}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)


class Layers:
    """Counter snapshots from the driver JVM. Every read adds its own wall
    time to ``overhead_s``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._app_store = self._jsc.statusStore()
        self._mf = self._sc._jvm.java.lang.management.ManagementFactory
        self.overhead_s = 0.0

    @contextmanager
    def _timed(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def _drain(self) -> None:
        # SQL and job stores are filled by the listener bus, asynchronously
        self._jsc.listenerBus().waitUntilEmpty()

    def last_execution_id(self) -> int:
        with self._timed():
            self._drain()
            n = int(self._sql_store.executionsCount())
            if n == 0:
                return -1
            return int(self._sql_store.executionsList(n - 1, 1).apply(0).executionId())

    def jvm(self) -> dict:
        with self._timed():
            gc = sum(max(0, int(b.getCollectionTime()))
                     for b in self._mf.getGarbageCollectorMXBeans())
            jit = int(self._mf.getCompilationMXBean().getTotalCompilationTime())
            return {"jit_ms": jit, "gc_ms": gc}

    def jobs(self, group: str) -> dict:
        """Jobs launched under a job group and the tasks they ran."""
        with self._timed():
            self._drain()
            ids = self._sc.statusTracker().getJobIdsForGroup(group)
            tasks = 0
            for jid in ids:
                job = self._app_store.job(jid)
                tasks += int(job.numTasks()) - int(job.numSkippedTasks())
            return {"jobs": len(ids), "tasks": tasks}

    def executions_since(self, after_id: int) -> dict:
        """Summed SQL metrics of every execution with id > after_id."""
        out = dict.fromkeys([*SQL_METRICS.values(), CODEGEN_METRIC], 0.0)
        with self._timed():
            self._drain()
            pos = int(self._sql_store.executionsCount()) - 1
            while pos >= 0:
                eid = int(self._sql_store.executionsList(pos, 1).apply(0).executionId())
                if eid <= after_id:
                    break
                pos -= 1
                values = self._sql_store.executionMetrics(eid)
                nodes = self._sql_store.planGraph(eid).allNodes()
                for j in range(nodes.size()):
                    node = nodes.apply(j)
                    codegen = node.name().startswith("WholeStageCodegen")
                    metrics = node.metrics()
                    for k in range(metrics.size()):
                        m = metrics.apply(k)
                        name = m.name()
                        key = CODEGEN_METRIC if codegen and name == "duration" else SQL_METRICS.get(name)
                        if key is None:
                            continue
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            out[key] += parse_sql_metric(v.get())
        for key in out:
            if key.endswith("_mb"):
                out[key] /= _MB
        return out

    def plan(self, df) -> dict:
        """Planning phases and shape of the DataFrame's own query execution
        (planned here if no action has planned it yet)."""
        with self._timed():
            qe = df._jdf.queryExecution()
            text = qe.executedPlan().toString()
            # an executed adaptive plan prints its final and initial plans
            text = text.split("== Initial Plan ==")[0]
            phases = qe.tracker().phases()
            out = {}
            for phase in ("analysis", "optimization", "planning"):
                p = phases.get(phase)
                out[f"plans.{phase}_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
            nodes = _NODE.findall(text)
            out["plans.exchanges"] = float(nodes.count("Exchange"))
            out["plans.broadcasts"] = float(nodes.count("BroadcastExchange"))
            return out

    def storage(self) -> dict[int, float]:
        """Persisted RDD id -> stored MB (memory plus disk)."""
        with self._timed():
            out = {}
            for info in self._jsc.getRDDStorageInfo():
                if info.numCachedPartitions() > 0:
                    out[int(info.id())] = (info.memSize() + info.diskSize()) / _MB
            return out
