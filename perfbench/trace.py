"""Spans and Spark counts taken around calls into the package's layers.

A span records name, start, end and parent. While tracing is on, each span
tags its Spark jobs with its own job group, and at its end reads, for those
jobs, counts from ``statusTracker()`` and the JVM status stores: jobs,
stages, executor run time, input, shuffle and spill bytes, and rows that
crossed the Python (Arrow) boundary. Spans stay in memory and are written
out when the run ends. With tracing off, :meth:`Tracer.span` only yields.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

_PYTHON_NODES = ("Python", "Pandas", "InArrow")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _count(text: str | None) -> int:
    """A SUM metric as the SQL status store renders it (``"12,345"``)."""
    if not text:
        return 0
    head = text.splitlines()[-1].split(" ")[0].replace(",", "")
    return int(head) if head.isdigit() else 0


class Tracer:
    """Span recorder for one run; ``enabled`` may be toggled between spans."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._next_execution = 0

    @contextmanager
    def span(self, name: str, python: bool = False, **attrs):
        """Time one call into a layer. ``python=True`` also counts rows
        through Python-evaluation plan nodes (costs a plan-graph walk)."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None, **attrs}
        group = f"pb-{rec['id']}"
        self._settle()
        first_execution = self._execution_frontier()
        sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"pb-{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._settle()
            rec.update(self._job_counts(group))
            rec["python_rows"] = (
                self._python_rows(first_execution) if python else 0
            )
            self.spans.append(rec)

    def _settle(self) -> None:
        # status stores are fed by the asynchronous listener bus
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _job_counts(self, group: str) -> dict:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out = dict(jobs=0, stages=0, run_ms=0, input_bytes=0, input_rows=0,
                   shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
        for job in sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            for sid in _seq(store.job(job).stageIds()):
                stage = store.lastStageAttempt(sid)
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["run_ms"] += stage.executorRunTime()
                out["input_bytes"] += stage.inputBytes()
                out["input_rows"] += stage.inputRecords()
                out["shuffle_read_bytes"] += stage.shuffleReadBytes()
                out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                out["spill_bytes"] += stage.diskBytesSpilled()
        return out

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _execution_frontier(self) -> int:
        """Id of the next SQL execution to start (ids are sequential)."""
        sql = self._sql_store()
        while sql.execution(self._next_execution).isDefined():
            self._next_execution += 1
        return self._next_execution

    def _python_rows(self, first_execution: int) -> int:
        """Rows out of Python-evaluation nodes in SQL executions started
        since ``first_execution``."""
        sql = self._sql_store()
        rows = 0
        for eid in range(first_execution, self._execution_frontier()):
            metrics = sql.executionMetrics(eid)
            for node in _seq(sql.planGraph(eid).allNodes()):
                if not any(k in node.name() for k in _PYTHON_NODES):
                    continue
                for m in _seq(node.metrics()):
                    if m.name() == "number of output rows":
                        v = metrics.get(m.accumulatorId())
                        rows += _count(v.get() if v.isDefined() else None)
        return rows

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
