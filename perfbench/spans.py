"""Tracing from outside the engine: spans around public calls, and the
Spark status-store figures for the jobs, stages and SQL executions a span
caused.

Spans live in memory (`Tracer.spans`) and are written out with the run's
report.  A disabled tracer records nothing, so untraced runs pay no cost.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_time(self, idx: int) -> float:
        """Duration minus the union of the direct children's intervals."""
        s = self.spans[idx]
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == idx)
        covered, cursor = 0.0, s.start
        for a, b in kids:
            a, b = max(a, cursor), min(b, s.end)
            if b > a:
                covered += b - a
                cursor = b
        return s.duration - covered

    def to_list(self) -> list[dict]:
        return [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "run_id": s.run_id,
                 "self_s": self.self_time(i)}
                for i, s in enumerate(self.spans)]


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('12.2 s', '1,233.1 KiB', '3,042', or the
    'total (min, med, max ...)\\n<total> (...)' form) -> bytes, seconds or
    a plain count."""
    line = text.split("\n")[-1].strip()
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Ledger:
    """High-water marks of the status stores; `since(mark)` sums what
    happened after the mark."""
    jobs: int = -1
    stages: int = -1
    executions: int = -1


class SparkStores:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def _stages(self):
        seq = self._app.stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def _jobs(self):
        seq = self._app.jobsList(None)
        return [seq.apply(i) for i in range(seq.size())]

    def _executions(self):
        seq = self._sql.executionsList()
        return [seq.apply(i).executionId() for i in range(seq.size())]

    def mark(self) -> Ledger:
        return Ledger(max((j.jobId() for j in self._jobs()), default=-1),
                      max((s.stageId() for s in self._stages()), default=-1),
                      max(self._executions(), default=-1))

    def since(self, mark: Ledger) -> dict:
        """Jobs, tasks, failures and bytes after `mark`, plus every SQL node
        metric as (node name, node description, metric name, value)."""
        stages = [s for s in self._stages() if s.stageId() > mark.stages]
        out = {
            "jobs": sum(1 for j in self._jobs() if j.jobId() > mark.jobs),
            "tasks": sum(s.numCompleteTasks() + s.numFailedTasks()
                         for s in stages),
            "failed_tasks": sum(s.numFailedTasks() for s in stages),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "output_bytes": sum(s.outputBytes() for s in stages),
            "sql": [],
        }
        for eid in self._executions():
            if eid <= mark.executions:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out["sql"].append((node.name().strip(), node.desc(),
                                           m.name(), parse_metric(v.get())))
        return out


def sql_sum(figures: dict, node: str, metric: str) -> float:
    """Sum of one SQL metric over the nodes whose name starts with `node`."""
    return sum(v for n, _, m, v in figures["sql"]
               if n.startswith(node) and m == metric)
