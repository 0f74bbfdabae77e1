"""In-memory span tracer for the traced benchmark run.

Spans are recorded around calls into the package's layers by wrapping public
module attributes from the outside; the package itself is not edited. Each
span carries its name, start, end, parent span and the operation it belongs
to (a build or a browse request), and the Spark jobs submitted while it is
the innermost span on its thread. Jobs are attributed through per-span job
groups: PySpark's pinned-thread mode keeps local properties per Python
thread, so the build's concurrent table families are told apart.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    op: str | None = None
    thread: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover.

    Children on other threads may overlap each other, so the covered part is
    the union of the children's intervals clipped to the parent's.
    """
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        ivs = sorted(
            (max(c.start, s.start), min(c.end if c.end is not None else c.start, end))
            for c in children.get(s.id, [])
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.id] = (end - s.start) - covered
    return out


class Tracer:
    """Records spans; with a SparkContext, also tags jobs per span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._unresolved: list[Span] = []
        # parent of spans opened on a thread with no open span (the build's
        # family threads start with an empty stack)
        self.root: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: str | None = None):
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            sp = Span(
                id=len(self.spans),
                name=name,
                start=0.0,
                parent=parent.id if parent else None,
                op=op if op is not None else (parent.op if parent else None),
                thread=threading.get_ident(),
            )
            self.spans.append(sp)
        stack.append(sp)
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, f"perfbench-{sp.id}")
            with self._lock:
                self._unresolved.append(sp)
        sp.start = time.perf_counter()
        self._charge(sp.start - t0)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    JOB_GROUP, f"perfbench-{stack[-1].id}" if stack else None
                )
            self._charge(time.perf_counter() - sp.end)

    def wrap(self, module, attr: str, name: str, on_return=None) -> None:
        """Replace ``module.attr`` by a version that runs inside a span.
        ``on_return(span, args, kwargs, result)`` may add counts to the span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
            if on_return is not None:
                t0 = time.perf_counter()
                on_return(sp, args, kwargs, result)
                self._charge(time.perf_counter() - t0)
            return result

        setattr(module, attr, traced)

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.bookkeeping_s += seconds

    def resolve_jobs(self, older_than: float = 0.5) -> None:
        """Fill job, stage and task counts of spans that ended at least
        ``older_than`` seconds ago, from the status tracker. The listener bus
        is asynchronous, so a span that just ended may miss its last events;
        the tracker also forgets old jobs, so call this as work goes on."""
        if self.sc is None:
            return
        t0 = time.perf_counter()
        with self._lock:
            ready = [s for s in self._unresolved
                     if s.end is not None and t0 - s.end >= older_than]
            ids = {s.id for s in ready}
            self._unresolved = [s for s in self._unresolved if s.id not in ids]
        tracker = self.sc.statusTracker()
        for sp in ready:
            stage_ids = set()
            job_ids = tracker.getJobIdsForGroup(f"perfbench-{sp.id}")
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            tasks = 0
            for sid in stage_ids:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
            sp.jobs, sp.stages, sp.tasks = len(job_ids), len(stage_ids), tasks
        self._charge(time.perf_counter() - t0)

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans], f
            )
