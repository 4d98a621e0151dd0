"""Spark SQL metrics without the UI: a parser for the formatted metric
strings and a reader over the driver's status stores.

With ``spark.ui.enabled=false`` the SQL listener still records every
execution, its plan graph and its accumulated metrics in
``SQLAppStatusStore``, and the core listener records stages and tasks in
``AppStatusStore``.  Both are reachable through py4j; values arrive as
the strings the UI would print (``"11 ms"``, ``"5,000"``,
``"1869.3 KiB"``, or a multi-line ``total (min, med, max ...)`` block),
so :func:`parse_metric` turns them back into numbers in base units
(seconds, bytes, counts).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
         "min": 60.0, "h": 3600.0}
_NUM = r"-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?"
_QTY = re.compile(rf"^\s*({_NUM})\s*([A-Za-z]*)\s*$")
_WHERE = re.compile(r"\(stage\s+(\d+)\.(\d+):\s*task\s+(\d+)\)")


@dataclass(frozen=True)
class MetricValue:
    """One SQL metric in base units.  ``total`` is None for metrics that
    only report a distribution (averages); ``stage_id``/``task_id`` name
    the task that produced ``max`` when Spark reports it."""
    total: float | None
    min: float | None = None
    med: float | None = None
    max: float | None = None
    stage_id: int | None = None
    stage_attempt: int | None = None
    task_id: int | None = None


def parse_quantity(text: str) -> float:
    """``"11 ms"`` -> 0.011, ``"1869.3 KiB"`` -> 1914163.2, ``"5,000"``
    -> 5000.0.  Raises ValueError on anything else."""
    m = _QTY.match(text)
    if not m:
        raise ValueError(f"not a metric quantity: {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


def parse_metric(text: str) -> MetricValue:
    """Parse one formatted SQL metric value.

    Single values (``"11 ms"``) give ``total`` only.  The per-task form
    ``"total (min, med, max (stageId: taskId))\\n1.2 s (230 ms, 244 ms,
    274 ms (stage 161.0: task 3))"`` gives all four plus the location of
    the max; the average form ``"(min, med, max (stageId: taskId)):\\n(1,
    1, 1 (stage 128.0: task 267))"`` has no total."""
    text = text.strip()
    if "\n" not in text:
        return MetricValue(total=parse_quantity(text))
    header, body = text.split("\n", 1)
    body = body.strip()
    where = _WHERE.search(body)
    stage = attempt = task = None
    if where:
        stage, attempt, task = (int(g) for g in where.groups())
        body = body[:where.start()] + body[where.end():]
    has_total = header.startswith("total")
    total_part, sep, dist = body.partition("(")
    if not sep:
        raise ValueError(f"malformed metric distribution: {text!r}")
    parts = [p for p in dist.replace(")", "").split(",") if p.strip()]
    if len(parts) != 3:
        raise ValueError(f"expected min, med, max in {text!r}")
    lo, med, hi = (parse_quantity(p) for p in parts)
    total = parse_quantity(total_part) if has_total else None
    return MetricValue(total=total, min=lo, med=med, max=hi,
                       stage_id=stage, stage_attempt=attempt, task_id=task)


# ---------------------------------------------------------------------------
# status-store reader


@dataclass
class PlanNode:
    node_id: int
    name: str
    desc: str
    metrics: dict[str, MetricValue]


@dataclass
class Execution:
    execution_id: int
    description: str
    start_ms: int
    end_ms: int
    stage_ids: list[int]
    nodes: list[PlanNode] = field(default_factory=list)


@dataclass
class StageSummary:
    stage_id: int
    num_tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    task_run_s: list[float]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


class StatusReader:
    """Reads finished SQL executions, their plan metrics, and their stages
    from the live driver.  Call :meth:`settle` before reading so queued
    listener events (a job that just ended) have been applied."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._jsc.statusStore()

    def settle(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def last_execution_id(self) -> int:
        self.settle()
        ids = [e.executionId() for e in _seq(self._sql.executionsList())]
        return max(ids) if ids else -1

    def executions_after(self, after_id: int) -> list[Execution]:
        """Completed executions with id > ``after_id``, oldest first,
        with plan-node metrics parsed."""
        self.settle()
        out = []
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= after_id:
                continue
            done = _opt(e.completionTime())
            if done is None:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = []
            for n in _seq(self._sql.planGraph(eid).allNodes()):
                parsed = {}
                for m in _seq(n.metrics()):
                    raw = _opt(values.get(m.accumulatorId()))
                    if raw:
                        try:
                            parsed[m.name()] = parse_metric(raw)
                        except ValueError:
                            pass
                nodes.append(PlanNode(n.id(), n.name(), n.desc(), parsed))
            stage_ids = sorted(int(s) for s in _seq(e.stages().toSeq()))
            out.append(Execution(eid, e.description() or "",
                                 int(e.submissionTime()), int(done.getTime()),
                                 stage_ids, nodes))
        out.sort(key=lambda x: x.execution_id)
        return out

    def stage(self, stage_id: int, with_tasks: bool = False
              ) -> StageSummary | None:
        from py4j.protocol import Py4JJavaError
        try:
            s = self._app.lastStageAttempt(stage_id)
        except Py4JJavaError:           # evicted from the store, or skipped
            return None
        task_run: list[float] = []
        if with_tasks:
            for t in _seq(self._app.taskList(stage_id, s.attemptId(),
                                             1 << 20)):
                tm = _opt(t.taskMetrics())
                if tm is not None:
                    task_run.append(tm.executorRunTime() / 1e3)
        return StageSummary(
            stage_id=stage_id,
            num_tasks=s.numCompleteTasks(), failed_tasks=s.numFailedTasks(),
            run_s=s.executorRunTime() / 1e3,
            cpu_s=s.executorCpuTime() / 1e9,
            gc_s=s.jvmGcTime() / 1e3,
            task_run_s=task_run)
