"""Spans around the benchmark's calls into each engine layer.

A ``Tracer`` always times its spans (the end-to-end metrics are built
from those wall times). With ``spark_attrib=True`` it also runs each
span's Spark jobs under a job group of their own, so that after the
run the jobs, stages, tasks, executor time and shuffle bytes of every
span can be read back from Spark's status store. Spans are kept in
memory and written out once, when the run ends.

Self time is a span's duration minus the part of it covered by its
children.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.dur - covered(kids.get(i, []), s.start, s.end) for i, s in enumerate(spans)
    ]


class Tracer:
    def __init__(self, spark_attrib: bool = False):
        self.spark_attrib = spark_attrib
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach the SparkContext whose jobs the spans attribute."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        idx = len(self.spans)
        s = Span(name, 0.0, parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(s)
        self._stack.append(idx)
        if self.spark_attrib and self._sc is not None:
            self._sc.setJobGroup(f"pb{idx}", name, False)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.spark_attrib and self._sc is not None:
                tracker = self._sc._jsc.statusTracker()
                s.jobs = [int(j) for j in tracker.getJobIdsForGroup(f"pb{idx}")]
                if self._stack:
                    parent = self._stack[-1]
                    self._sc.setJobGroup(f"pb{parent}", self.spans[parent].name, False)
                else:
                    self._sc._jsc.clearJobGroup()
            # Anchor the span on the wall clock too, to line it up with
            # Spark's job timestamps (epoch milliseconds).
            s.attrs["wall_end"] = time.time()

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "self": st,
                        "parent": s.parent,
                        "jobs": s.jobs,
                        "attrs": s.attrs,
                    }
                    for s, st in zip(self.spans, selfs)
                ],
                fh,
            )


@dataclass
class SparkWork:
    """What a span's jobs did, summed over their completed stages."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


class StatusReader:
    """Reads job and stage records from the driver's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._stage_cache: dict[int, tuple] = {}

    def _stage(self, sid: int) -> tuple:
        if sid not in self._stage_cache:
            jvm = self._gw.jvm
            seq = self._store.stageData(
                sid,
                False,
                jvm.java.util.ArrayList(),
                False,
                self._gw.new_array(jvm.double, 0),
            )
            row = [0, 0, 0, 0, 0, 0, 0, 0]
            for i in range(seq.size()):
                st = seq.apply(i)
                if str(st.status().toString()) != "COMPLETE":
                    continue
                row[0] += 1
                row[1] += st.numCompleteTasks()
                row[2] += st.executorRunTime()
                row[3] += st.executorCpuTime()
                row[4] += st.jvmGcTime()
                row[5] += st.shuffleReadBytes()
                row[6] += st.shuffleWriteBytes()
                row[7] += st.outputBytes()
            self._stage_cache[sid] = tuple(row)
        return self._stage_cache[sid]

    def work(self, job_ids: list[int]) -> SparkWork:
        w = SparkWork(jobs=len(job_ids))
        for jid in job_ids:
            job = self._store.job(jid)
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                w.job_intervals.append(
                    (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                n, tasks, run_ms, cpu_ns, gc_ms, srb, swb, ob = self._stage(
                    int(stage_ids.apply(i))
                )
                w.stages += n
                w.tasks += tasks
                w.executor_run_s += run_ms / 1000.0
                w.executor_cpu_s += cpu_ns / 1e9
                w.gc_s += gc_ms / 1000.0
                w.shuffle_read_bytes += srb
                w.shuffle_write_bytes += swb
                w.output_bytes += ob
        return w


def span_jobs(spans: list[Span], idx: int) -> list[int]:
    """Job ids of a span and all of its descendants."""
    out = list(spans[idx].jobs)
    for i, s in enumerate(spans):
        if s.parent == idx:
            out.extend(span_jobs(spans, i))
    return out
