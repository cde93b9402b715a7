"""Spans around library calls, with Spark's own metrics for each span.

Each span runs under its own Spark job group.  When the span closes, the
tracer waits for the listener bus to drain and reads, from the status
store (which is kept with ``spark.ui.enabled=false`` too), the jobs of that
group, their stages' metrics and the SQL "files read" metric of the
queries those jobs ran.  Spans stay in memory; ``dump`` writes them out
once, at the end of the run.

A disabled tracer costs one attribute test per span and sets no job group,
so the untraced run measures the library alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    self_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    max_task_s: float = 0.0
    final_stage_tasks: int = 0
    files_read: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur_s(self) -> float:
        return self.end - self.start


#: stage-level sums a span reports (span field → StageData getter, scale)
_STAGE_SUMS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._spark = spark
        self._sc = spark.sparkContext
        self._execs_seen = 0

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        """Time one call.  A span without ``trace_id`` joins its parent's."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            trace_id=trace_id or (parent.trace_id if parent else name),
            parent=parent.id if parent else None,
            start=0.0,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobGroup(self._group(sp), name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._read_spark_metrics(sp)

    @staticmethod
    def _group(sp: Span) -> str:
        return f"perfbench-span-{sp.id}"

    def _read_spark_metrics(self, sp: Span) -> None:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = sorted(self._sc.statusTracker().getJobIdsForGroup(self._group(sp)))
        sp.jobs = len(job_ids)
        last_stage = None
        for job_id in job_ids:
            stage_ids = self._sc.statusTracker().getJobInfo(job_id).stageIds
            for sid in stage_ids:
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                sp.stages += 1
                sp.tasks += st.numCompleteTasks()
                for attr, getter, scale in _STAGE_SUMS:
                    setattr(sp, attr, getattr(sp, attr) + getattr(st, getter)() * scale)
                tasks = store.taskList(sid, st.attemptId(), st.numTasks())
                for i in range(tasks.size()):
                    m = tasks.apply(i).taskMetrics()
                    if m.isDefined():
                        sp.max_task_s = max(sp.max_task_s, m.get().executorRunTime() / 1e3)
                if last_stage is None or sid > last_stage[0]:
                    last_stage = (sid, st.numTasks())
        if last_stage is not None:
            sp.final_stage_tasks = last_stage[1]
        sp.files_read = self._files_read(set(job_ids))

    def _files_read(self, job_ids: set[int]) -> int:
        """Sum of the "number of files read" SQL metric over the queries
        that ran the given jobs (queries not seen by an earlier span)."""
        sql = self._spark._jsparkSession.sharedState().statusStore()
        count = sql.executionsCount()
        if count <= self._execs_seen or not job_ids:
            self._execs_seen = count
            return 0
        execs = sql.executionsList(self._execs_seen, count - self._execs_seen)
        self._execs_seen = count
        total = 0
        for i in range(execs.size()):
            ex = execs.apply(i)
            if not any(ex.jobs().contains(j) for j in job_ids):
                continue
            values = sql.executionMetrics(ex.executionId())
            nodes = sql.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() == "number of files read":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += int(str(v.get()).replace(",", ""))
        return total

    def finish(self) -> None:
        """Fill in self time: duration minus the time child spans cover."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        for sp in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(sp.id, []), key=lambda c: c.start):
                if cur_end is None or c.start > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = c.start, c.end
                else:
                    cur_end = max(cur_end, c.end)
            if cur_end is not None:
                covered += cur_end - cur_start
            sp.self_s = sp.dur_s - covered

    def span_dicts(self) -> list[dict]:
        return [{**asdict(sp), "dur_s": sp.dur_s} for sp in self.spans]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.span_dicts()}, f, indent=1)
