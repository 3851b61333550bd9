"""Layer spans and Spark-side counters, read from outside the engine.

A :class:`Tracer` records one span per call into a layer: name, start,
end and the enclosing span.  While a span is open its name is the Spark
job group, so every job the layer launches can be attributed afterwards
from Spark's own status store (stage run time, shuffle and output bytes,
task counts).  SQL metrics of the executed plans the benchmark holds
(Python worker boot/init/UDF time, Arrow bytes, aggregate sort
fallbacks) are added with :meth:`Tracer.add_plan`.  Everything stays in
memory until the traced operation ends; :func:`write_trace` then writes
the spans and stage rows out as JSON.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# SQL metric name in the executed plan -> (counter, scale to s or MB)
_PLAN_METRICS = {
    "pythonBootTime": ("python_boot_s", 1e-3),
    "pythonInitTime": ("python_init_s", 1e-3),
    "pythonTotalTime": ("python_udf_s", 1e-3),
    "pythonDataSent": ("arrow_sent_mb", 1e-6),
    "pythonDataReceived": ("arrow_recv_mb", 1e-6),
    "numTasksFallBacked": ("agg_fallback_tasks", 1.0),
}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    child_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


@dataclass
class Tracer:
    """Spans plus job-group labels for one traced operation."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    plan_counters: dict[str, dict[str, float]] = field(
        default_factory=lambda: defaultdict(lambda: defaultdict(float))
    )
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        sc.setJobGroup(name, name)
        try:
            yield
        finally:
            sp = self.spans[idx]
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.end - sp.start
                sc.setJobGroup(self.spans[parent].name, self.spans[parent].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def add_plan(self, layer: str, df) -> None:
        """Add the SQL metrics of ``df``'s executed plan to ``layer``."""
        for name, value in plan_metrics(df._jdf.queryExecution().executedPlan()):
            if name in _PLAN_METRICS:
                key, scale = _PLAN_METRICS[name]
                self.plan_counters[layer][key] += value * scale

    def self_time(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += sp.self_s
        return out

    def calls(self, name: str) -> int:
        return sum(1 for sp in self.spans if sp.name == name)


def plan_metrics(plan):
    """(metric name, raw value) of every node of an executed plan,
    descending through adaptive plans, query stages and cached relations."""
    todo = [plan]
    while todo:
        node = todo.pop()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            yield kv._1(), kv._2().value()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
        children = node.children().iterator()
        while children.hasNext():
            todo.append(children.next())


def _seq(scala_seq) -> list:
    out = []
    it = scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


@dataclass
class StageRow:
    stage_id: int
    group: str | None
    run_s: float
    shuffle_write_mb: float
    output_mb: float
    tasks: int
    start: float
    end: float


@dataclass
class JobRow:
    job_id: int
    group: str | None


def status_snapshot(spark, after_job: int = -1) -> tuple[list[JobRow], list[StageRow]]:
    """Completed jobs with id > ``after_job`` and their completed stages.

    Stage times are wall-clock seconds since the epoch; ``run_s`` is the
    summed executor run time of the stage's tasks.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs: list[JobRow] = []
    stage_group: dict[int, str | None] = {}
    for j in _seq(store.jobsList(None)):
        jid = j.jobId()
        if jid <= after_job:
            continue
        group = _opt(j.jobGroup())
        jobs.append(JobRow(jid, group))
        for sid in _seq(j.stageIds()):
            stage_group[int(sid)] = group
    gw = sc._gateway
    stages_raw = store.stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )
    stages: list[StageRow] = []
    for s in _seq(stages_raw):
        sid = s.stageId()
        if sid not in stage_group or s.status().toString() != "COMPLETE":
            continue
        stages.append(
            StageRow(
                stage_id=sid,
                group=stage_group[sid],
                run_s=s.executorRunTime() / 1e3,
                shuffle_write_mb=s.shuffleWriteBytes() / 1e6,
                output_mb=s.outputBytes() / 1e6,
                tasks=s.numTasks(),
                start=_opt(s.submissionTime()).getTime() / 1e3,
                end=_opt(s.completionTime()).getTime() / 1e3,
            )
        )
    return jobs, stages


def last_job_id(spark) -> int:
    ids = [j.jobId() for j in _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None))]
    return max(ids, default=-1)


def busy_union_s(stages: list[StageRow], start: float, end: float) -> float:
    """Length of the part of [start, end] during which any stage ran."""
    spans = sorted((max(s.start, start), min(s.end, end)) for s in stages)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def write_trace(path: str, tracer: Tracer, stages: list[StageRow]) -> None:
    """Spans, per-layer plan counters and stage rows of one traced run."""
    with open(path, "w") as f:
        json.dump(
            {
                "spans": [asdict(sp) for sp in tracer.spans],
                "plan_counters": tracer.plan_counters,
                "stages": [asdict(st) for st in stages],
            },
            f,
            indent=1,
        )
