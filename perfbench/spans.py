"""Spans recorded from the benchmark's side of the program's layer
boundaries.

``Tracer.wrap`` replaces a module-level function with a wrapper that opens
a span around each call; ``Tracer.restore`` puts the originals back.  A span
holds its name, start, end, parent and iteration id, and while it is open
the Spark jobs its thread submits carry its id in the ``perfbench.span``
local property, so the event log attributes each job to the span that
launched it.  Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from eventlog import SPAN_PROPERTY


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    iteration: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, iteration: str):
        self.spark = spark
        self.iteration = iteration
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple] = []
        self._lock = threading.Lock()
        self.root: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1].id if stack else (self.root.id if self.root else None)
        with self._lock:
            sid = f"{self.iteration}:{next(self._ids)}"
        sp = Span(sid, name, parent, self.iteration, time.time(), attrs=dict(attrs))
        if self.root is None:
            self.root = sp
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(SPAN_PROPERTY)
        sc.setLocalProperty(SPAN_PROPERTY, sid)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sc.setLocalProperty(SPAN_PROPERTY, prev)
            sp.end = time.time()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, module, attr: str, name: str | None = None, on_return=None) -> None:
        """Trace every call of ``module.attr``; ``on_return(span, args,
        kwargs, result)`` may record counts on the span."""
        orig = getattr(module, attr)
        label = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(label) as sp:
                out = orig(*args, **kwargs)
                if on_return is not None:
                    on_return(sp, args, kwargs, out)
                return out

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def restore(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    # -- analysis ----------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.named(name))

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_seconds(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted(
            (max(c.start, sp.start), min(c.end, sp.end)) for c in self.children(sp)
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return sp.seconds - covered

    def subtree_ids(self, sp: Span) -> set[str]:
        kids: dict[str, list[str]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s.id)
        out, todo = set(), [sp.id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(kids.get(sid, []))
        return out

    def to_json(self) -> list[dict]:
        return [asdict(s) | {"seconds": round(s.seconds, 6)} for s in self.spans]
