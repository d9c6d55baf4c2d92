"""Spans and Spark counters for the traced run.

Spans are recorded by the benchmark around its own calls into each engine
layer (name, start, end, parent, operation id); they stay in memory and are
written out when the run ends.  Each operation runs under its own Spark job
group, so the jobs, stages and stage metrics it caused can be read back
from Spark's status store once it returns.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


@dataclass
class SparkCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0           # executor run time, summed over tasks
    input_rows: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "SparkCounts") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    spark: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: str = "setup"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def begin_op(self, op: str) -> None:
        self.op = op
        if self.enabled:
            self.spark.sparkContext.setJobGroup(op, op)

    def op_counts(self, op: str) -> SparkCounts:
        """Jobs, stages and stage metrics of every Spark job run under ``op``."""
        from py4j.protocol import Py4JError

        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Py4JError:  # best effort: without it, metrics may lag a little
            pass
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        c = SparkCounts()
        for job in tracker.getJobIdsForGroup(op):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            c.jobs += 1
            for sid in info.stageIds:
                try:
                    sd = store.stageAttempt(sid, 0, False, None, False, None)._1()
                except Py4JError:  # stage never attempted (skipped)
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                c.stages += 1
                c.tasks += sd.numCompleteTasks()
                c.run_ms += sd.executorRunTime()
                c.input_rows += sd.inputRecords()
                c.input_bytes += sd.inputBytes()
                c.shuffle_write_bytes += sd.shuffleWriteBytes()
                c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return c

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump({
                **extra,
                "self_s": self.self_times(),
                "spans": [
                    {"name": s.name, "start_s": s.start - t0, "end_s": s.end - t0,
                     "parent": s.parent, "op": s.op}
                    for s in self.spans
                ],
            }, f, indent=1)
