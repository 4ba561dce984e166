"""In-memory span tracer for the node benchmark.

Spans are recorded only from the benchmark's side of each layer boundary:
either at a call site in the workload code (``Tracer.span``) or by
wrapping a public callable of the package for the length of the traced
run (``Tracer.wrap``), which catches calls the package makes internally
(``DegDB.insert_json`` calling ``sign_triples``, the HTTP server calling
``DegDB.query_json``). Nothing under the package is edited.

Each span records name, start, end, parent span, op id, thread and the
Spark jobs that ran inside it. Jobs are counted exactly: every span sets
its own Spark job group on entry and restores the parent's on exit, so a
job is charged to the innermost open span; a span's inclusive count is
its own group's jobs plus its children's.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import random
import threading
import time
from dataclasses import dataclass, field

#: chance that a root span after the first of its name is traced
SAMPLE = 0.5


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    jobs: int = 0  # inclusive of children
    traced: bool = True
    attrs: dict = field(default_factory=dict)
    child_time: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - self.child_time


class Tracer:
    """Collects spans while ``enabled``; a disabled tracer passes calls
    straight through.

    Tracing is decided per operation: a root span (one opened with no
    span open on its thread) is traced when it is the first root of its
    name and otherwise with probability ``SAMPLE``, so every kind of
    operation is traced at least once and one run yields traced and
    untraced operations under the same conditions; the difference
    between them is the tracing overhead.
    An untraced root still records its own start and end, but nothing
    below it and no Spark job group."""

    def __init__(self, spark, seed: int):
        self._rng = random.Random(seed)
        self._seen_roots: set[str] = set()
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []
        self.enabled = False

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, force: bool | None = None, **attrs):
        """Record one span; yields it (or None when nothing is recorded)
        so the caller can attach attributes such as row counts. ``force``
        overrides the sampling decision of a root span."""
        if not self.enabled or getattr(self._local, "suppressed", False):
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is None:
            with self._lock:
                if force is not None:
                    traced = force
                else:
                    traced = name not in self._seen_roots or self._rng.random() < SAMPLE
                    self._seen_roots.add(name)
            if not traced:
                yield from self._untraced_root(name, attrs)
                return
        sp = Span(
            id=next(self._ids),
            name=name,
            op=parent.op if parent else next(self._ops),
            parent=parent.id if parent else None,
            thread=threading.get_ident(),
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        stack.append(sp)
        group = f"bench-span-{sp.id}"
        self._set_group(group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            own_jobs = self._jobs(group)
            sp.jobs += own_jobs
            self._set_group(f"bench-span-{parent.id}" if parent else None)
            if parent is not None:
                parent.child_time += sp.duration
                parent.jobs += sp.jobs
            with self._lock:
                self.spans.append(sp)

    def _untraced_root(self, name: str, attrs: dict):
        sp = Span(id=next(self._ids), name=name, op=next(self._ops), parent=None,
                  thread=threading.get_ident(), start=time.perf_counter(),
                  traced=False, attrs=dict(attrs))
        self._local.suppressed = True
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._local.suppressed = False
            with self._lock:
                self.spans.append(sp)

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def _jobs(self, group: str) -> int:
        return len(self._tracker.getJobIdsForGroup(group))

    # --------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper until ``unwrap``.
        ``attrs_of(args, kwargs, result)`` may return span attributes."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            with tracer.span(name) as sp:
                result = original(*args, **kwargs)
                if sp is not None and attrs_of is not None:
                    sp.attrs.update(attrs_of(args, kwargs, result))
                return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ----------------------------------------------------------- output
    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": sp.id, "name": sp.name, "op": sp.op,
                    "parent": sp.parent, "thread": sp.thread,
                    "start": sp.start, "end": sp.end,
                    "self_s": sp.self_time, "jobs": sp.jobs, "traced": sp.traced,
                    "attrs": sp.attrs,
                }, default=str) + "\n")
