"""Phase timing and, in traced runs, per-job-group counters read from
Spark's own status stores.

Every phase of an op (``build``/``action`` for queries; ``extract``,
``validate_raw``, ``operators``, ``validate_merged``, ``merge_write``,
``gold_read`` for ETL batches) is timed by the benchmark around its calls
into the package. With tracing on, each (op, phase) also runs under its own
Spark job group. After the phase the listener bus is drained (it is
asynchronous: without the drain the stage and SQL metrics come back
incomplete), then:

- the group's jobs give stage counters from ``statusStore().lastStageAttempt``;
- SQL executions are mapped to the group through their job ids, and the
  Python-worker node metrics (Spark 4.1: ``time to start/initialize/run
  Python workers``, ``data sent to/returned from Python workers``) are
  summed over the plan nodes that carry them.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

PY_METRICS = {
    "time to start Python workers": "python_worker.start_s",
    "time to initialize Python workers": "python_worker.init_s",
    "time to run Python workers": "python_worker.run_s",
    "data sent to Python workers": "python_worker.bytes_sent",
    "data returned from Python workers": "python_worker.bytes_returned",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store renders it: a bare value (``48 ms``,
    ``1,024``) or, for multi-task stages, ``total (min, med, max ...)``
    followed by a line that starts with the total."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class Spans:
    """Times phases; with ``traced`` also reads Spark's counters per phase."""

    def __init__(self, spark, traced: bool):
        self.traced = traced
        self.overhead_s = 0.0  # benchmark time spent reading counters
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._exec_seen = 0

    @contextmanager
    def phase(self, op: dict, name: str):
        """Time one phase of ``op``; append its span to ``op['phases']``."""
        group = f"op{op['id']}:{op['name']}:{name}"
        if self.traced:
            self._sc.setJobGroup(group, group)
        span = {"phase": name, "group": group}
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span["start"], span["end"] = t0, time.perf_counter()
            op["phases"].append(span)
            if self.traced:
                t1 = time.perf_counter()
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                span.update(self._counters(group))
                self.overhead_s += time.perf_counter() - t1

    @contextmanager
    def untimed(self, name: str):
        """Benchmark-side work (output checks) in its own job group, so it
        never lands in an op's counters."""
        if self.traced:
            self._sc.setJobGroup(f"bench:{name}", name)
        try:
            yield
        finally:
            if self.traced:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _counters(self, group: str) -> dict:
        self.drain()
        tracker = self._sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(group))
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        c = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "scan_rows": 0,
        }
        store = self._jsc.statusStore()
        for sid in stages:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numTasks()
            c["executor_run_s"] += sd.executorRunTime() / 1e3
            c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            c["gc_s"] += sd.jvmGcTime() / 1e3
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.diskBytesSpilled()
            c["scan_rows"] += sd.inputRecords()
        c.update(self._python_metrics(jobs))
        return c

    def _python_metrics(self, jobs: set) -> dict:
        out = {k: 0.0 for k in PY_METRICS.values()}
        total = self._sql.executionsCount()
        if total <= self._exec_seen:
            return out
        execs = self._sql.executionsList(self._exec_seen, total - self._exec_seen)
        self._exec_seen = total
        it = execs.iterator()
        while it.hasNext():
            ex = it.next()
            ex_jobs = {int(j) for j in ex.jobs().keys().toList().mkString(",").split(",") if j}
            if not ex_jobs & jobs:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            nodes = self._sql.planGraph(ex.executionId()).allNodes()
            for i in range(nodes.size()):
                metrics = nodes.apply(i).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = PY_METRICS.get(m.name())
                    v = values.get(m.accumulatorId()) if key else None
                    if v is not None and v.isDefined():
                        out[key] += parse_metric(v.get())
        return out

    def caching(self) -> dict:
        """Persisted RDDs alive now and the bytes they hold (memory + disk)."""
        t1 = time.perf_counter()
        infos = self._jsc.getRDDStorageInfo()
        cached = sum(i.memSize() + i.diskSize() for i in infos)
        out = {"relations": self._sc._jsc.getPersistentRDDs().size(), "bytes": cached}
        self.overhead_s += time.perf_counter() - t1
        return out
