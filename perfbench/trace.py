"""Spans recorded from the benchmark around calls into the package.

``Tracer.wrap`` replaces a module or class attribute with a wrapper that
records a span (name, start, end, parent) and, inside the call,
sets ``spark.jobGroup.id`` to the span's name so the event log can
attribute the Spark jobs the call runs. The property is set on the calling
thread, which matters for ``ParquetStore.write_batch``: the engine runs it
on plain pool threads that do not inherit the client thread's properties.
A span that starts on such a thread takes the innermost open span of the
client thread as its parent.

Functions that only build a lazy DataFrame are wrapped with ``lazy=True``:
their spans measure plan-building time and count calls, not execution.
Untraced runs never construct a Tracer, so they run the package unpatched.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    start: float
    end: float = 0.0
    lazy: bool = False
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # the tracer's own bookkeeping time
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client_stack = self._stack()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, lazy: bool = False, **attrs):
        t_enter = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else (self._client_stack[-1] if self._client_stack else None)
        with self._lock:
            sp = Span(name, len(self.spans), parent.id if parent else None, 0.0, lazy=lazy, attrs=attrs)
            self.spans.append(sp)
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        with self._lock:
            self.overhead_s += sp.start - t_enter
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            with self._lock:
                self.overhead_s += time.perf_counter() - sp.end

    def wrap(self, owner, attr: str, name: str, lazy: bool = False, pre=None, post=None):
        """Patch ``owner.attr``. ``pre(*args, **kw)`` returns span attrs
        known before the call; ``post(span, result)`` records attrs from
        the result."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kw):
            with tracer.span(name, lazy=lazy, **(pre(*args, **kw) if pre else {})) as sp:
                result = original(*args, **kw)
                if post:
                    post(sp, result)
                return result

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # ---------------------------------------------------------------- reads
    def named(self, name: str, t0: float | None = None, t1: float | None = None) -> list[Span]:
        """Closed spans called ``name`` that started in [t0, t1]
        (perf_counter seconds)."""
        return [
            s
            for s in self.spans
            if s.name == name
            and s.end
            and (t0 is None or s.start >= t0)
            and (t1 is None or s.start <= t1)
        ]

    def self_seconds(self, sp: Span) -> float:
        """``sp``'s duration minus the part its child spans cover."""
        kids = sorted(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in self.spans
            if c.parent == sp.id and c.end
        )
        covered, edge = 0.0, sp.start
        for a, b in kids:
            a = max(a, edge)
            if b > a:
                covered += b - a
                edge = b
        return sp.seconds - covered
