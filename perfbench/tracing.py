"""Spans recorded at the benchmark's side of each layer boundary.

The tracer wraps engine callables (module functions, class methods)
from the outside: the engine's code is not edited, and an untraced run
installs no wrapper at all. Spans live in memory until the run ends.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover. Children are clipped to the parent and merged
    first, so overlapping children (parallel pipelines) are not
    subtracted twice."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            a, b = max(s.start, p.start), min(s.end, p.end)
            if b > a:
                children[s.parent].append((a, b))
    out = {}
    for s in spans:
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(children.get(s.sid, [])):
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.sid] = (s.end - s.start) - covered
    return out


class Tracer:
    """Collects spans with name, start, end, parent and op id.

    The parent of a span is the innermost open span on the same thread;
    a span opened on a thread with none open (the engine's parallel
    bulk pipelines) takes the current op's root span as parent.
    ``overhead_s`` accumulates the tracer's own bookkeeping time."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._op: int | None = None
        self._op_root: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op: int | None = None):
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        if op is not None:
            self._op, self._op_root = op, sid
        parent = stack[-1] if stack else (self._op_root if sid != self._op_root else None)
        stack.append(sid)
        start = time.time()
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self._op))
            if op is not None:
                self._op = self._op_root = None
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str | None, result_wrapper=None) -> None:
        """Replace ``owner.attr`` with a version spanned as ``name`` (no
        span when None) until ``unwrap_all``. ``result_wrapper(result)``
        may wrap what the call returns (a builder callable that runs
        later)."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            if name is None:
                result = original(*args, **kwargs)
            else:
                with tracer.span(name):
                    result = original(*args, **kwargs)
            return result_wrapper(result) if result_wrapper else result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, spanned)

    def spanned_callable(self, fn, name: str):
        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return spanned

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def layer_totals(self, ops: set[int]) -> dict[str, tuple[float, int]]:
        """Per span name over spans of ``ops``: (self seconds, calls)."""
        selfs = self_times(self.spans)
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for s in self.spans:
            if s.op in ops:
                out[s.name][0] += selfs[s.sid]
                out[s.name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}
