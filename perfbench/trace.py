"""Spans and per-call Spark stage metrics for the benchmark harness.

Every call the harness makes into the package goes through
:meth:`Recorder.call`. With tracing off it only times the call. With
tracing on it also

- runs the call under its own Spark job group,
- reads that group's stages from the status store once the listener bus
  has drained (wall, executor CPU, completed tasks, shuffle write bytes,
  memory + disk spill, job count),
- records a span ``(name, start, end, parent, pass_id)`` in memory,
- adds the time this bookkeeping took to ``trace_s``, the tracing
  overhead of the pass.

Spans are written out by the harness when the run ends; nothing is
written while a pass is being timed.
"""

from __future__ import annotations

import time
from collections import defaultdict
from dataclasses import asdict, dataclass

#: stage metrics recorded for every traced call, with their units
STAGE_METRICS = {
    "wall_s": "s",
    "cpu_s": "s",
    "tasks": "count",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "jobs": "count",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    pass_id: int


class Recorder:
    """Times calls; when ``traced``, also collects spans and stage metrics.

    ``per_pass[pass_id][name][metric]`` sums the metrics of every call
    with that name inside one pass (drift runs one ``drift.psi`` per
    column, for example). ``trace_s[pass_id]`` is the time the pass spent
    in tracing bookkeeping rather than in the calls."""

    def __init__(self, spark, traced: bool) -> None:
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self.per_pass: dict[int, dict[str, dict[str, float]]] = {}
        self.pass_id = -1
        self.trace_s: dict[int, float] = {}
        self._group_seq = 0

    def begin_pass(self, pass_id: int, traced: bool) -> None:
        self.pass_id = pass_id
        self.traced = traced
        self.per_pass[pass_id] = defaultdict(lambda: defaultdict(float))
        self.trace_s[pass_id] = 0.0

    def call(self, name: str, fn):
        """Run ``fn()`` as the call ``name``; returns its result."""
        sc = self.spark.sparkContext
        group = None
        t_in = time.perf_counter()
        if self.traced:
            self._group_seq += 1
            group = f"perfbench-{self.pass_id}-{self._group_seq}"
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            t1 = time.perf_counter()
            row = self.per_pass[self.pass_id][name]
            row["wall_s"] += t1 - t0
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                for k, v in group_stage_metrics(self.spark, group).items():
                    row[k] += v
                self.spans.append(Span(name, t0, t1, "pass", self.pass_id))
                self.trace_s[self.pass_id] += (
                    t0 - t_in + time.perf_counter() - t1)

    def end_pass(self, t0: float, t1: float) -> None:
        """Record the span of a traced pass, the parent of its calls."""
        if self.traced:
            self.spans.append(Span("pass", t0, t1, None, self.pass_id))

    def spans_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _listener_drained(spark) -> None:
    """Block until the status store has seen every event posted so far,
    so a stage that just finished is counted with its final metrics."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def group_stage_metrics(spark, group: str) -> dict[str, float]:
    """Sum the stage metrics of every job in ``group``."""
    from py4j.protocol import Py4JJavaError

    _listener_drained(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_METRICS, 0.0)
    out.pop("wall_s")
    seen: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else []):
            if stage_id in seen:
                continue
            seen.add(stage_id)
            try:
                st = store.lastStageAttempt(int(stage_id))
            except Py4JJavaError:  # the store evicted the stage
                continue
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += (st.memoryBytesSpilled()
                                   + st.diskBytesSpilled())
    return out


def cached_bytes(spark) -> int:
    """Memory + disk bytes of every cached RDD block in the session."""
    _listener_drained(spark)
    rdds = spark.sparkContext._jsc.sc().statusStore().rddList(True)
    total = 0
    for i in range(rdds.size()):
        r = rdds.apply(i)
        total += r.memoryUsed() + r.diskUsed()
    return total
