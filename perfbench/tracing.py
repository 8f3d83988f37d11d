"""Spans around the benchmark's calls into the program, one Spark job
group per span, and the stage metrics of each group read from the JVM
status store once the measured phase is over.

With tracing off every method is a pass-through, so untraced ops run
the same code with no extra Spark work.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import StorageLevel


@dataclass
class Span:
    op: int
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 0.0  # largest max/median task duration of a stage

    def add(self, other: "StageTotals") -> None:
        for k, v in other.__dict__.items():
            if k == "task_skew":
                self.task_skew = max(self.task_skew, v)
            else:
                setattr(self, k, getattr(self, k) + v)


@dataclass
class Tracer:
    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    stages: dict[str, StageTotals] = field(
        default_factory=lambda: defaultdict(StageTotals))
    groups: list[tuple[str, str]] = field(default_factory=list)  # name, id
    _stack: list[int] = field(default_factory=list)
    _op: int = -1
    _ids: itertools.count = field(default_factory=itertools.count)

    @contextmanager
    def op(self, op_id: int):
        """Root span of one op; spans opened inside it are its children."""
        self._op = op_id
        with self.span("op"):
            yield

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"span-{next(self._ids)}-{name}"
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, name)
        idx = len(self.spans)
        self.spans.append(Span(self._op, name, time.perf_counter(), 0.0,
                               self._stack[-1] if self._stack else None))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if outer is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(outer, outer)
            self.groups.append((name, group))

    def materialise(self, df):
        """Prefix materialisation of a lazy layer, traced runs only: the
        rows are computed and kept, so the span around this call holds
        that layer's work and the next layer reads the kept rows."""
        if not self.enabled:
            return df
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.write.format("noop").mode("overwrite").save()
        return df

    def collect_stages(self) -> None:
        """Read every span's stage metrics. The status store is filled by
        the asynchronous listener bus, so wait until the bus has
        delivered every event first."""
        if not self.groups:
            return
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        for name, group in self.groups:
            self.stages[name].add(self._stage_totals(group))
        self.groups.clear()

    def _stage_totals(self, group: str) -> StageTotals:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        t = StageTotals()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            info = sc.statusTracker().getJobInfo(jid)
            if info is None:
                continue
            t.jobs += 1
            for sid in info.stageIds:
                seq = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                      False, no_quantiles)
                it = seq.iterator()
                while it.hasNext():
                    d = it.next()
                    t.stages += 1
                    t.tasks += d.numTasks()
                    t.executor_run_s += d.executorRunTime() / 1e3
                    t.executor_cpu_s += d.executorCpuTime() / 1e9
                    t.gc_s += d.jvmGcTime() / 1e3
                    t.shuffle_read_bytes += d.shuffleReadBytes()
                    t.shuffle_write_bytes += d.shuffleWriteBytes()
                    t.spill_bytes += (d.memoryBytesSpilled()
                                      + d.diskBytesSpilled())
                    t.task_skew = max(t.task_skew,
                                      self._skew(store, sid, d.attemptId()))
        return t

    @staticmethod
    def _skew(store, sid: int, attempt: int) -> float:
        durs = []
        it = store.taskList(sid, attempt, 100000).iterator()
        while it.hasNext():
            d = it.next().duration()
            if d.isDefined():
                durs.append(d.get())
        if len(durs) < 2:
            return 0.0
        durs.sort()
        med = durs[len(durs) // 2]
        return durs[-1] / med if med > 0 else 0.0

    # -- summaries ------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's children excluded."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def spark_totals(self) -> StageTotals:
        t = StageTotals()
        for v in self.stages.values():
            t.add(v)
        return t
