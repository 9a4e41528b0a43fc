"""In-memory spans and Spark SQL metrics for the traced benchmark run.

A span records a name, start, end, parent and job id; the tracer keeps them
in memory and writes them out once, when the run ends. A span's self time is
its duration minus the part of that interval its child spans cover.

``SqlMetrics`` reads Spark's own per-operator metrics from the session's SQL
status store (works with the UI disabled): every SQL execution that ran
during a span is attached to it, summed per ``operator/metric`` name.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    job: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``span()`` nests by the dynamic call structure."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.job: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.job, dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.named(name))

    def write(self, path: str) -> None:
        rows = [
            dict(asdict(s), id=i, self_s=st)
            for i, (s, st) in enumerate(zip(self.spans, self_times(self.spans)))
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1, default=str)


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals,
    each child clipped to the parent's interval."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.duration - covered)
    return out


# ------------------------------------------------------------ SQL metrics

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0,
         "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float | None:
    """Spark's formatted metric string → number in base units (bytes,
    seconds, counts). Task-level metrics read ``total (min, med, max)\\n
    <total> (...)``; the total is taken. Averages carry no total: None."""
    line = text.strip().splitlines()[-1]
    if line.startswith("("):
        return None
    head = line.split(" (")[0].strip()
    m = re.fullmatch(r"(-?[\d,.]+)\s*([A-Za-zµ]*)", head)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return value
    if unit in _SIZE:
        return value * _SIZE[unit]
    return value * _TIME[unit]


class SqlMetrics:
    """Reads per-operator metrics of finished SQL executions."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()
        self._sc = spark.sparkContext._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        """Execution count once every finished event is processed."""
        self._sc.listenerBus().waitUntilEmpty()
        return self._store.executionsCount()

    def executions(self, mark: int) -> list[dict]:
        """Executions after ``mark``: id, Spark job ids and their
        ``operator/metric`` values summed per name."""
        self._sc.listenerBus().waitUntilEmpty()
        n = self._store.executionsCount()
        execs = self._store.executionsList(mark, n - mark)
        out = []
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            jobs, it = [], ex.jobs().keysIterator()
            while it.hasNext():
                jobs.append(int(it.next()))
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            metrics: dict[str, float] = {}
            for k in range(nodes.size()):
                node = nodes.apply(k)
                node_metrics = node.metrics()
                for j in range(node_metrics.size()):
                    m = node_metrics.apply(j)
                    v = values.get(m.accumulatorId())
                    x = parse_metric(v.get()) if v.isDefined() else None
                    if x is not None:
                        key = f"{node.name().strip()}/{m.name()}"
                        metrics[key] = metrics.get(key, 0.0) + x
            out.append({"id": eid, "jobs": jobs, "metrics": metrics})
        return out

    def stages(self, job_ids: list[int]) -> list[dict]:
        """Per stage of ``job_ids`` that ran tasks: id, tasks, run time (s)."""
        out = []
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                sd = self._sc.statusStore().lastStageAttempt(sid)
                if sd.numCompleteTasks() > 0:
                    out.append({
                        "stage": sid,
                        "tasks": sd.numCompleteTasks(),
                        "run_s": sd.executorRunTime() / 1e3,
                    })
        return out

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))


def sum_metrics(executions: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for ex in executions:
        for k, v in ex["metrics"].items():
            out[k] = out.get(k, 0.0) + v
    return out
