"""Spans taken from outside the program.

``Tracer.wrap`` replaces one public method on one object with a wrapper
that records a span (name, start, end, parent) around each call. Nothing
in the program changes: the wrapper is an instance attribute, so calls
through ``self.method(...)`` inside the library see it too, and
``unwrap_all`` restores the class method.

A span's self time is its duration minus the durations of its direct
children, so every span equals its self time plus its child spans.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._wrapped: list[tuple[object, str]] = []

    def wrap(self, obj: object, method: str, name: str) -> None:
        fn = getattr(obj, method)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = Span(name, self._stack[-1] if self._stack else None)
            self._stack.append(span)
            span.start = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                self._stack.pop()
                if span.parent is not None:
                    span.parent.children.append(span)
                self.spans.append(span)

        setattr(obj, method, traced)
        self._wrapped.append((obj, method))

    def unwrap_all(self) -> None:
        for obj, method in reversed(self._wrapped):
            delattr(obj, method)
        self._wrapped = []

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def total(self, prefix: str) -> float:
        return sum(s.dur for s in self.named(prefix))

    def nesting_ok(self) -> bool:
        """Every child lies inside its parent, so no self time is
        negative."""
        return all(
            s.start <= c.start and c.end <= s.end for s in self.spans for c in s.children
        )
