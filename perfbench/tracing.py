"""Traced run: spans around the calls into each layer, plus Spark's own
per-stage, per-task and per-operator (SQL) metrics for every operation.

Spans are kept in memory and written out when the run ends. Spark
metrics are read after each operation from the status store: stage
and task data through the status tracker's job groups, and SQL metrics
from every SQL execution started during the operation. Python time is
the CPU time of the Python worker processes over the operation, read
from /proc: Spark's 'time to run Python workers' SQL metric was seen to
exceed the operation's wall time times its cores (12.4 s in a 0.71 s
operation on 3 cores), so it is not used.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import statistics
import time

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE = re.compile(r"([0-9.]+)\s*([A-Za-z]+)")
# SQL metrics summed into a per-op metric
_ARROW_METRICS = ("data sent to Python workers", "data returned from Python workers")


def parse_size(text: str) -> float:
    """Bytes of a formatted SQL size metric: '12.3 MiB', or the total
    after the 'total (min, med, max ...)' header line."""
    m = _VALUE.search(text.split("\n")[-1])
    return float(m.group(1)) * _SIZE.get(m.group(2), 0) if m else 0.0


class Tracer:
    """Span recorder plus the Spark metric reader for one session."""

    def __init__(self):
        self.tree = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.spark = None
        self._sql_seen = -1
        self._group_seq = 0
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr by a span-recording wrapper until unwrap()."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def nested(self, parent: str, name: str) -> float:
        """Time in spans `name` whose parent span is named `parent`."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name
            and s["parent"] is not None
            and self.spans[s["parent"]]["name"] == parent
        )

    # ------------------------------------------------------ spark metrics

    def attach(self, spark, tree) -> None:
        """Read metrics of this session; `tree` is its ProcessTree."""
        self.spark, self.tree = spark, tree
        self._sql_seen = self._last_execution_id()

    def _python_cpu(self) -> dict:
        skip = {self.tree.jvm_pid, os.getpid()}
        return {p: v for p, v in self.tree.snapshot().items() if p not in skip}

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _last_execution_id(self) -> int:
        ex = self._sql_store().executionsList()
        n = ex.size()
        return ex.apply(n - 1).executionId() if n else -1

    def run_op(self, name: str, fn) -> tuple[dict, object]:
        """Run one operation under a span and a fresh job group; return
        its wall time and the Spark metrics of the jobs it started, and
        what the operation returned."""
        sc = self.spark.sparkContext
        self._group_seq += 1
        group = f"{name}#{self._group_seq}"
        sc.setJobGroup(group, group)
        cpu0 = self._python_cpu()
        try:
            with self.span(name) as rec:
                result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        out = {
            "wall_s": rec["end"] - rec["start"],
            "python_s": self.tree.cpu_seconds(cpu0, self._python_cpu()),
        }
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.update(self._stage_metrics(group))
        out.update(self._sql_metrics())
        return out, result

    def _stage_metrics(self, group: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = sorted(
            {s for j in jobs for s in (tracker.getJobInfo(j).stageIds or [])}
        )
        shuffle = gc = spill = 0
        longest, longest_run = None, -1
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # a stage the listener never registered
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            shuffle += sd.shuffleWriteBytes()
            gc += sd.jvmGcTime()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sd.executorRunTime() > longest_run:
                longest, longest_run = sd, sd.executorRunTime()
        skew = 1.0
        if longest is not None:
            tasks = store.taskList(longest.stageId(), longest.attemptId(), 100000)
            durs = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durs.append(float(d.get()))
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)
        return {
            "jobs": len(jobs),
            "shuffle_mb": shuffle / 1e6,
            "gc_s": gc / 1e3,
            "spill_mb": spill / 1e6,
            "task_skew": skew,
        }

    def _sql_metrics(self) -> dict:
        """Bytes to and from Python, summed over the final plan of every
        SQL execution started since the last call."""
        store = self._sql_store()
        ex = store.executionsList()
        arrow_bytes = 0.0
        last = self._sql_seen
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= self._sql_seen:
                continue
            last = max(last, eid)
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                ms = nodes.apply(n).metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    if m.name() not in _ARROW_METRICS:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        arrow_bytes += parse_size(v.get())
        self._sql_seen = last
        return {"arrow_mb": arrow_bytes / 1e6}
