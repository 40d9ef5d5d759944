"""Spans and counters for the traced run, recorded from the benchmark's own
files around the calls into each layer of the adapter.

A span records its name, start, end, parent span and request id.  Spans
stay in memory (``Tracer.spans``) and are written out when the run ends.
py4j round trips are counted by wrapping
``py4j.clientserver.ClientServerConnection.send_command`` and attributing
each call to the thread that made it; Spark job, stage and task counts come
from ``statusTracker()`` under a ``setJobGroup(<request id>)`` that the
traced handler (or the analytics client) sets before the work starts.

Nothing here is installed in an untraced run: a workload's ``instrument``
patches module attributes through :meth:`Tracer.wrap` and
:meth:`Tracer.patch`, and :meth:`Tracer.uninstall` restores them.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None
    py4j: int  # py4j round trips made on this span's thread inside it


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.requests: dict[str, dict] = {}  # rid -> per-request counters
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._roots: dict[str, int] = {}  # rid -> root span id
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- per-thread state -----------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_rid(self) -> str | None:
        stack = self._stack()
        return stack[-1][1] if stack else None

    def py4j_count(self) -> int:
        return getattr(self._local, "py4j", 0)

    def count_py4j(self) -> None:
        if not getattr(self._local, "muted", False):
            self._local.py4j = self.py4j_count() + 1

    @contextmanager
    def muted(self):
        """py4j calls the tracer itself makes are not the request's work."""
        self._local.muted = True
        try:
            yield
        finally:
            self._local.muted = False

    # -- spans ----------------------------------------------------------------

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        stack = self._stack()
        if stack:
            parent, parent_rid = stack[-1]
            rid = rid or parent_rid
        else:
            parent = self._roots.get(rid) if rid else None
        sid = next(self._ids)
        if parent is None and rid is not None:
            self._roots[rid] = sid
        stack.append((sid, rid))
        p0 = self.py4j_count()
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent, rid, self.py4j_count() - p0))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper (undone by
        :meth:`uninstall`)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, value) -> None:
        # a class keeps its plain function, not the bound lookup result
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, value)

    def install_py4j_counter(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command, *args, **kwargs):
            tracer.count_py4j()
            return orig(conn, command, *args, **kwargs)

        self.patch(ClientServerConnection, "send_command", send_command)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark counts -----------------------------------------------------------

    def record_spark(self, sc, rid: str) -> None:
        """Jobs, stages and tasks run under job group ``rid``."""
        with self.muted():
            st = sc.statusTracker()
            jobs = st.getJobIdsForGroup(rid)
            stages = tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None:
                        stages += 1
                        tasks += si.numTasks
        self.note(rid, spark_jobs=len(jobs), spark_stages=stages, spark_tasks=tasks)

    def note(self, rid: str, **counts) -> None:
        with self._lock:
            self.requests.setdefault(rid, {}).update(counts)

    # -- analysis ---------------------------------------------------------------

    def trees(self) -> dict[str, list[Span]]:
        """Spans grouped by request id."""
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.rid is not None:
                out.setdefault(s.rid, []).append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "requests": self.requests},
                f,
            )


def self_times(spans: list[Span], clip: bool = True) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its child
    spans cover.  With ``clip``, each span is first clipped to its parent's
    (clipped) interval, since a server span can end a moment after the
    client has read the reply; so the self times of a request add up to its
    root exactly.  Without it, they add up to the root only as far as the
    spans nest: a child sticking out of its parent, or overlapping a
    sibling, puts the sum off."""
    by_id = {s.id: s for s in spans}
    clipped: dict[int, tuple[float, float]] = {}

    def interval(s: Span) -> tuple[float, float]:
        if s.id not in clipped:
            a, b = s.start, s.end
            if clip and s.parent in by_id:
                pa, pb = interval(by_id[s.parent])
                a, b = max(a, pa), min(b, pb)
            clipped[s.id] = (a, max(a, b))
        return clipped[s.id]

    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent in by_id:
            children.setdefault(s.parent, []).append(interval(s))
    out = {}
    for s in spans:
        a, b = interval(s)
        covered = 0.0
        cur_start = cur_end = None
        for ca, cb in sorted(children.get(s.id, ())):
            if cb <= ca:
                continue
            if cur_end is None or ca > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = ca, cb
            else:
                cur_end = max(cur_end, cb)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (b - a) - covered
    return out
