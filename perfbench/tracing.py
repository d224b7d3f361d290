"""In-memory spans around calls into the engine's layers.

A span is (id, name, start, end, parent, run). ``run`` ties together the
spans of one operation (one commit, one read). Spans are kept in memory and
summarised when the run ends; the self time of a span is its duration minus
the time its direct children cover.

With tracing off every hook is a no-op: ``span`` yields at once and no
wrapper is installed, so the end-to-end run executes the engine unchanged.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import statistics
import threading
import time
from dataclasses import dataclass
from typing import Any, Callable, Iterator


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def quiet(self) -> Iterator[None]:
        """Record no spans in this thread inside the block: for counts the
        benchmark takes through the same (wrapped) public calls."""
        prev = getattr(self._local, "quiet", False)
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = prev

    @contextlib.contextmanager
    def span(self, name: str, run: str | None = None) -> Iterator[Span | None]:
        if not self.enabled or getattr(self._local, "quiet", False):
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(next(self._ids), name, time.perf_counter(), 0.0,
                 parent.id if parent else None,
                 run or (parent.run if parent else name))
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def record(self, name: str, start: float, end: float, run: str) -> None:
        """Add a span measured elsewhere (e.g. between two callbacks)."""
        if self.enabled:
            with self._lock:
                self.spans.append(Span(next(self._ids), name, start, end, None, run))

    def wrap(self, owner: Any, attr: str, name: str,
             run_of: Callable[..., str] | None = None,
             after: Callable[..., None] | None = None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until ``unwrap``.
        ``after(result, *args, **kwargs)`` runs inside the span's parent
        context once the call returned, for counts taken at the boundary;
        its cost is excluded from the span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, run_of(*args, **kwargs) if run_of else None):
                result = orig(*args, **kwargs)
            if after is not None:
                after(result, *args, **kwargs)
            return result

        self._patches.append((owner, attr, owner.__dict__.get(attr)))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, prev in reversed(self._patches):
            if prev is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, prev)
        self._patches.clear()

    # ---------------------------------------------------------------- summary
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        return s.duration - sum(c.duration for c in self.spans if c.parent == s.id)

    def descendants(self, s: Span, name: str) -> list[Span]:
        """Outermost descendants of ``s`` called ``name``."""
        by_parent: dict[int | None, list[Span]] = {}
        for c in self.spans:
            by_parent.setdefault(c.parent, []).append(c)
        out, todo = [], list(by_parent.get(s.id, []))
        while todo:
            c = todo.pop()
            if c.name == name:
                out.append(c)
            else:
                todo.extend(by_parent.get(c.id, []))
        return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")
