"""Spans and Spark job-group accounting for the traced run.

A span is a timed interval around one call into an engine layer.  Each
span sets its own Spark job group, so every job the call starts (also
from broadcast threads, which inherit the group) is attributed to it.
Right after the span ends, the reader drains the listener bus and reads
the group's jobs from ``statusTracker()`` and their stages from the
in-process status store: the store only retains the most recent jobs
and stages, so a later read could miss them.

A tracer that is not ``active`` records nothing and sets no job group,
so the untraced run pays one generator step per span.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field
from typing import Optional

from py4j.protocol import Py4JJavaError

_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"
_INTERRUPT = "spark.job.interruptOnCancel"


@dataclass
class SparkWork:
    """What a job group ran: counts and executor totals over the last
    attempt of every stage that ran (stages AQE skipped are absent)."""

    jobs: int = 0
    jobs_not_succeeded: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_records: int = 0
    shuffle_read_records: int = 0

    def add(self, other: "SparkWork") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def read_group(sc, group: str) -> SparkWork:
    """Jobs and stage totals of one job group, read from the status
    store.  Waits for the listener bus first so the group's last job
    and stage events are applied.  A stage with no attempt in the store
    (skipped by AQE or a reused exchange) is skipped, not raised."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    work = SparkWork()
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        if info.status != "SUCCEEDED":
            # cancelled by AQE or failed: not counted as work done
            work.jobs_not_succeeded += 1
            continue
        work.jobs += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if st.numCompleteTasks() == 0:
                continue
            work.stages += 1
            work.tasks += st.numTasks()
            work.exec_run_s += st.executorRunTime() / 1e3
            work.exec_cpu_s += st.executorCpuTime() / 1e9
            work.shuffle_write_bytes += st.shuffleWriteBytes()
            work.input_records += st.inputRecords()
            work.shuffle_read_records += st.shuffleReadRecords()
    return work


@dataclass
class Span:
    span_id: int
    op_id: Optional[int]
    parent: Optional[int]
    name: str
    start: float
    end: float = 0.0
    work: SparkWork = field(default_factory=SparkWork)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory while ``active``; :meth:`dump` writes
    them as JSON lines."""

    def __init__(self, sc, active: bool = False) -> None:
        self.sc = sc
        self.active = active
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: Optional[int] = None):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        sc = self.sc
        prior = [sc.getLocalProperty(k) for k in (_GROUP, _DESC, _INTERRUPT)]
        sp = Span(next(self._ids), op_id, parent.span_id if parent else None,
                  name, time.perf_counter())
        self._stack.append(sp)
        sc.setJobGroup(f"perfbench-{sp.span_id}", name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            for k, v in zip((_GROUP, _DESC, _INTERRUPT), prior):
                sc.setLocalProperty(k, v)
            sp.work = read_group(sc, f"perfbench-{sp.span_id}")
            self.spans.append(sp)

    def total_work(self, root: Span) -> SparkWork:
        """Spark work of a span and all its descendants."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        total = SparkWork()
        todo = [root]
        while todo:
            s = todo.pop()
            total.add(s.work)
            todo.extend(kids.get(s.span_id, []))
        return total

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = {"span_id": s.span_id, "op_id": s.op_id,
                       "parent": s.parent, "name": s.name,
                       "start": s.start, "end": s.end, **asdict(s.work)}
                f.write(json.dumps(rec) + "\n")
