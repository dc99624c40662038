"""Spans and Spark counters for the traced run, read from outside the program.

The benchmark labels every call it makes into the package with a Spark job
group, keeps spans (name, start, end, parent, group) in memory, and after
each call reads what Spark itself recorded for that group:

- job, stage and task counts from the status tracker;
- task time, shuffle and spill bytes per stage from the application status
  store;
- operator metrics (rows out, bytes, sort time, files scanned) from the SQL
  status store, which keeps them with the UI off.

With tracing off every method is a no-op, so the end-to-end numbers are
measured without it; the traced run's own end-to-end numbers, minus those of
an untraced run, are the tracing overhead.
"""

from __future__ import annotations

import contextlib
import re
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
# executions read back per call; one call of the benchmark runs far fewer
_RECENT_EXECUTIONS = 200


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it ('1,200', '3.1 KiB',
    'total (min, med, max ...)\\n969 ms (...)') → bytes, seconds or a
    count."""
    text = text.split("\n")[-1].strip()
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0  # time spent reading Spark's stores
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._sc = spark.sparkContext
        if enabled:
            jsc = self._sc._jsc.sc()
            self._bus = jsc.listenerBus()
            self._store = jsc.statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._last_execution = -1

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a block; with ``group``, label its Spark jobs too."""
        if not self.enabled:
            yield
            return
        if group is not None:
            self._sc.setJobGroup(group, name, False)
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "group": group, "parent": parent})
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[sid].update(start=start - self._t0, end=end - self._t0)
            if group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, group: str) -> dict[str, float]:
        """What Spark recorded for the jobs of ``group``: job/stage/task
        counts, task seconds, and SQL operator metrics summed by
        '<operator>.<metric>' (plus 'write.<operator>.<metric>' inside
        executions that write files)."""
        if not self.enabled:
            return {}
        t = time.perf_counter()
        self._bus.waitUntilEmpty(10_000)
        tracker = self._sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(group))
        out: dict[str, float] = defaultdict(float)
        out["jobs"] = len(jobs)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped: its shuffle output was reused
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["task_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        for name, value in self._sql_metrics(jobs):
            out[name] += value
        self.self_s += time.perf_counter() - t
        return dict(out)

    def _sql_metrics(self, jobs: set[int]):
        # executions come in id order; those up to the last one seen were
        # read by an earlier call
        n = self._sql.executionsCount()
        executions = self._sql.executionsList(max(0, n - _RECENT_EXECUTIONS), _RECENT_EXECUTIONS)
        fresh = []
        for i in reversed(range(executions.size())):
            e = executions.apply(i)
            if e.executionId() <= self._last_execution:
                break
            fresh.append(e)
        if fresh:
            self._last_execution = fresh[0].executionId()
        for e in reversed(fresh):
            ejobs = e.jobs().keySet().toList()
            if not any(ejobs.apply(k) in jobs for k in range(ejobs.size())):
                continue
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            names = [nodes.apply(k).name() for k in range(nodes.size())]
            writes = any(nm.startswith("Execute InsertInto") for nm in names)
            for k, node_name in enumerate(names):
                op = node_name.split(" ")[0]
                metrics = nodes.apply(k).metrics()
                for m in range(metrics.size()):
                    pm = metrics.apply(m)
                    v = values.get(pm.accumulatorId())
                    if not v.isDefined():
                        continue
                    value = parse_metric(v.get())
                    yield f"{op}.{pm.name()}", value
                    if writes:
                        yield f"write.{op}.{pm.name()}", value

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM, from /proc."""
        pid = self._sc._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0
