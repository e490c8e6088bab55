"""Spans around the benchmark's calls into each engine layer.

A span records name, start, end and parent, and, for the Spark jobs that
ran while it was the innermost span, the aggregated stage metrics of
those jobs. Jobs are tied to a span by a Spark job group; the stage
figures come from the application status store, which is populated
with ``spark.ui.enabled=false`` too.

Spans stay in memory and are written out once, when the run ends. A
disabled tracer yields no span and queries nothing, so the untimed
(``--trace 0``) run pays nothing for it.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    stats: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, cores: int):
        self.enabled = enabled
        self.cores = cores
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the session whose jobs the spans will group."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(name, 0.0, 0.0, parent)
        self.spans.append(span)
        group = f"perfbench-{sid}"
        self._sc.setJobGroup(group, name)
        self._stack.append(sid)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(f"perfbench-{parent}", self.spans[parent].name)
            t0 = time.perf_counter()
            span.stats = self._stage_stats(group, span.seconds)
            self.overhead_s += time.perf_counter() - t0

    def _stage_stats(self, group: str, wall: float) -> dict:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        as_list = self._sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        stage_ids: set[int] = set()
        jobs = 0
        for job in as_list(store.jobsList(None)):
            g = job.jobGroup()
            if g.isDefined() and g.get() == group:
                jobs += 1
                ids = job.stageIds().mkString(",")
                stage_ids.update(int(s) for s in ids.split(",") if s)
        out = dict(jobs=jobs, stages=0, tasks=0, executor_s=0.0, gc_s=0.0,
                   shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
        task_s: list[float] = []
        no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        for st in as_list(store.stageList(None, False, False, no_quantiles, None)):
            if st.stageId() not in stage_ids or st.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += st.diskBytesSpilled() / MB
            for task in as_list(store.taskList(st.stageId(), st.attemptId(), 1 << 30)):
                m = task.taskMetrics()
                if m.isDefined():
                    task_s.append(m.get().executorRunTime() / 1000.0)
        out["task_max_s"] = max(task_s, default=0.0)
        out["task_median_s"] = statistics.median(task_s) if task_s else 0.0
        out["core_busy_frac"] = out["executor_s"] / (wall * self.cores) if wall > 0 else 0.0
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def median_of(spans: list[Span], key: str | None = None) -> float:
    """Median span duration (``key`` None) or median of one stage stat; 0 when no span."""
    if not spans:
        return 0.0
    return statistics.median(s.seconds if key is None else s.stats.get(key, 0.0) for s in spans)
