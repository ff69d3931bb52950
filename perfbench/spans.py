"""Spans around layer calls, and Spark's status store read over py4j.

A :class:`Tracer` records one span per layer call made by the
benchmark (name, layer, wall-clock start and end, parent span).  After
the traced work, :func:`read_jobs` takes every job from Spark's status
store (``sc.statusStore()``) with its submission/completion times, job
group and per-stage task metrics, and :func:`attribute` hands each job
to the innermost span whose interval holds the job's submission time —
attribution by time interval, not by job group, because jobs submitted
from driver thread pools carry no group.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    #: counts recorded at the boundary (rows, bytes, files, ...)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans nest by call structure.  A
    disabled tracer records nothing and costs one branch per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, time.time(), parent=parent)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(span: Span, intervals: list[tuple[float, float]]) -> float:
    """Part of ``span`` covered by ``intervals`` (clipped to the span)."""
    clipped = [
        (max(s, span.start), min(e, span.end))
        for s, e in intervals
        if e > span.start and s < span.end
    ]
    return union_length(clipped)


def self_time(spans: list[Span], i: int) -> float:
    """A span's duration minus the part its child spans cover."""
    kids = [(sp.start, sp.end) for sp in spans if sp.parent == i]
    return spans[i].dur - covered(spans[i], kids)


@dataclass
class Job:
    job_id: int
    submitted: float  # seconds since the epoch
    completed: float
    group: str | None
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    input_records: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def _opt(o):
    """A scala.Option from py4j as a Python value or None."""
    return o.get() if o.isDefined() else None


def read_jobs(spark) -> list[Job]:
    """Every job the status store retains, with its stage metrics.
    Drains the listener bus first so the store has seen every event.
    Input and output bytes are left out: for local parquet files the
    store's input bytes count a small fraction of the bytes read."""
    jsc = spark.sparkContext._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 - private API; fall back to a pause
        time.sleep(0.5)
    store = jsc.statusStore()
    seq = store.jobsList(None)
    jobs = []
    for i in range(seq.size()):
        jd = seq.apply(i)
        sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
        if sub is None:
            continue
        job = Job(
            job_id=jd.jobId(),
            submitted=sub.getTime() / 1000.0,
            completed=(done.getTime() if done is not None else sub.getTime()) / 1000.0,
            group=_opt(jd.jobGroup()),
        )
        ids = jd.stageIds()
        for k in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Exception:  # noqa: BLE001 - stage never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            job.stages += 1
            job.tasks += st.numTasks()
            job.task_s += st.executorRunTime() / 1000.0
            job.input_records += st.inputRecords()
            job.shuffle_bytes += st.shuffleWriteBytes()
            job.spill_bytes += st.diskBytesSpilled()
        jobs.append(job)
    return jobs


#: the status store stamps jobs in whole milliseconds
_MS = 0.001


def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """Span index → jobs submitted inside it (innermost span wins).
    Jobs submitted outside every span are left out."""
    out: dict[int, list[Job]] = {i: [] for i in range(len(spans))}
    for job in jobs:
        best = None
        for i, sp in enumerate(spans):
            if sp.start - _MS <= job.submitted <= sp.end:
                if best is None or spans[best].dur > sp.dur:
                    best = i
        if best is not None:
            out[best].append(job)
    return out


def jobs_under(spans: list[Span], owned: dict[int, list[Job]], i: int) -> list[Job]:
    """Jobs of span ``i`` and of every span nested below it."""
    found = list(owned[i])
    for k, sp in enumerate(spans):
        if sp.parent == i:
            found += jobs_under(spans, owned, k)
    return found


def driver_gap(span: Span, jobs: list[Job]) -> float:
    """Call time during which no job of the call was running."""
    return span.dur - covered(span, [(j.submitted, j.completed) for j in jobs])


def block_bytes(spark) -> int:
    """Bytes held by persisted and checkpointed RDD blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(r.memSize()) + int(r.diskSize()) for r in infos)
