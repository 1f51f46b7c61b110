"""Span recorder for the traced run.

Spans are recorded by the benchmark around its calls into the engine's
modules — wrapped methods of the injected store/log objects and wrapped
module-level functions — never inside product code. Each span keeps its
name, start, end, parent span and the tick/batch/request id of the unit
it belongs to. Spans stay in memory and are written out at the end.

A layer's self time is its span durations minus the parts covered by its
child spans. ``Tracer.on`` can be toggled while the run goes, so one run
yields traced and untraced samples of the same workload.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    unit: object


class Tracer:
    def __init__(self) -> None:
        self.on = False
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.unit: object = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    def count(self, name: str, n: float = 1) -> None:
        if self.on:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    def sample(self, name: str, value: float) -> None:
        if self.on:
            with self._lock:
                self.samples.setdefault(name, []).append(value)

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else -1
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), 0.0, parent, self.unit))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.time()

    # -- instrumentation -----------------------------------------------------

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` (a module function or a bound method of an
        injected object) by a spanned wrapper; ``after(result, *args)``
        may record counts. ``restore`` undoes every wrap."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None and tracer.on:
                after(out, *args, **kwargs)
            return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- analysis ------------------------------------------------------------

    def durations_ms(self, name: str, t0: float = 0.0, t1: float = float("inf")) -> list[float]:
        return [
            (s.end - s.start) * 1000.0
            for s in self.spans
            if s.name == name and s.end and t0 <= s.start < t1
        ]

    def self_ms(self, t0: float = 0.0, t1: float = float("inf")) -> list[tuple[str, float]]:
        """(name, self time) of each span that started in [t0, t1): its
        duration minus its direct children's (children nest, so a sum
        suffices)."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0 and s.end:
                child_ms[s.parent] += (s.end - s.start) * 1000.0
        return [
            (s.name, (s.end - s.start) * 1000.0 - child_ms[i])
            for i, s in enumerate(self.spans)
            if s.end and t0 <= s.start < t1
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {"name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "unit": s.unit},
                        default=str,
                    )
                    + "\n"
                )
