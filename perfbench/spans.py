"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, request id).  Spans are recorded
from OUTSIDE the program: `wrap` replaces an attribute (a bound method
on one engine instance, or a module function) by a timing wrapper and
`restore` puts every original back.  Each span runs its Spark jobs
under its own job group, so the jobs and tasks a layer launched are
counted exactly from the status tracker; a job belongs to the innermost
open span.

Nothing is written while the run measures: spans stay in a list and
are summarized (self time, jobs, tasks per layer) when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object, bool]] = []
        self.request: int | None = None
        self._pending: list[Span] = []

    # -- recording ------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, self.request, 0.0)
        s.group = f"perfbench-{s.sid}"
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s.sid)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setJobGroup("perfbench-untraced", "outside any span")
            self._pending.append(s)

    def resolve_jobs(self) -> None:
        """Read job and task counts of the spans closed since the last
        call.  Called between operations, outside any latency sample, so
        the status tracker still holds every job (it keeps the last
        1000)."""
        st = self.sc.statusTracker()
        for s in self._pending:
            for jid in st.getJobIdsForGroup(s.group):
                s.jobs += 1
                info = st.getJobInfo(jid)
                for stage in info.stageIds if info else ():
                    si = st.getStageInfo(stage)
                    s.tasks += si.numTasks if si else 0
        self._pending.clear()

    # -- wrapping ---------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, post=None) -> None:
        """Replace owner.attr by a wrapper that records span `name`.
        `post(result)` may replace the result (the traced run uses it to
        materialize a lazy DataFrame inside the layer's span)."""
        orig = getattr(owner, attr)
        own = attr in vars(owner) if hasattr(owner, "__dict__") else True

        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                return post(out) if post is not None else out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig, own))

    def restore(self) -> None:
        for owner, attr, orig, own in reversed(self._patched):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patched.clear()

    # -- summaries --------------------------------------------------------

    def self_time(self, s: Span) -> float:
        """Duration minus the part covered by child spans (children run
        sequentially inside their parent: one caller thread)."""
        return s.dur - sum(self.spans[c].dur for c in s.children)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, s: Span):
        yield s
        for c in s.children:
            yield from self.subtree(self.spans[c])

    def table(self) -> list[str]:
        """Calls, total and median self time, jobs and tasks per span name."""
        lines = [f"{'span':34s} {'calls':>6s} {'self_s':>9s} {'p50_self_s':>10s} {'jobs':>6s} {'tasks':>7s}"]
        for name in dict.fromkeys(s.name for s in self.spans):
            ss = self.by_name(name)
            selfs = sorted(self.self_time(s) for s in ss)
            lines.append(
                f"{name:34s} {len(ss):6d} {sum(selfs):9.4f} {selfs[len(selfs) // 2]:10.4f} "
                f"{sum(s.jobs for s in ss):6d} {sum(s.tasks for s in ss):7d}"
            )
        return lines

    def span_cost(self, n: int = 200) -> float:
        """Median cost of opening and closing one empty span (records
        nothing)."""
        costs = []
        for _ in range(n):
            t0 = time.perf_counter()
            with self.span("calibrate"):
                pass
            costs.append(time.perf_counter() - t0)
        self.spans.clear()
        self._pending.clear()
        return sorted(costs)[n // 2]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "name": s.name,
                            "parent": s.parent,
                            "request": s.request,
                            "start": s.start,
                            "end": s.end,
                            "self": self.self_time(s),
                            "jobs": s.jobs,
                            "tasks": s.tasks,
                        }
                    )
                    + "\n"
                )
