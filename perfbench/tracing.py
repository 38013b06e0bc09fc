"""In-memory spans and counts for the traced run.

Spans are recorded by the benchmark around calls into the engine's layers:
either directly (``with tracer.span(...)``) or by wrapping a layer's public
function or method for the length of the traced phase (``tracer.wrap``).
Nothing in the engine changes; the wrappers are removed by ``unwrap``.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        # one entry per span: [name, start_s, end_s, parent index, op id]
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op_id: int | None = None
        self.enabled = True  # wrappers pass straight through when False
        self._stack: list[int] = []
        self._wrapped: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter() - self.t0, None, parent, self.op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter() - self.t0

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def inside(self, name: str) -> bool:
        """True when a span called ``name`` is open."""
        return any(self.spans[i][0] == name for i in self._stack)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span called
        ``name``; ``after(tracer, result, *args)`` may add counts."""
        original = owner.__dict__[attr]

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            with self.span(name):
                result = original(*args, **kwargs)
            if after is not None:
                after(self, result, *args)
            return result

        setattr(owner, attr, wrapper)
        self._wrapped.append((owner, attr, original))

    def unwrap(self) -> None:
        while self._wrapped:
            owner, attr, original = self._wrapped.pop()
            setattr(owner, attr, original)

    # -- analysis -----------------------------------------------------------
    def _durations(self) -> list[float]:
        return [(s[2] if s[2] is not None else s[1]) - s[1] for s in self.spans]

    def _under(self, idx: int, ancestor: str) -> bool:
        p = self.spans[idx][3]
        while p is not None:
            if self.spans[p][0] == ancestor:
                return True
            p = self.spans[p][3]
        return False

    def self_time_s(self, name: str, under: str | None = None) -> float:
        """Total self time of spans called ``name`` (duration minus the time
        their direct children cover; children never overlap here), limited
        to spans below an ``under`` span when given."""
        dur = self._durations()
        child = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                child[s[3]] += dur[i]
        return sum(
            dur[i] - child[i]
            for i, s in enumerate(self.spans)
            if s[0] == name and (under is None or self._under(i, under))
        )

    def total_s(self, name: str, op_id: int | None = None) -> float:
        dur = self._durations()
        return sum(
            dur[i]
            for i, s in enumerate(self.spans)
            if s[0] == name and (op_id is None or s[4] == op_id)
        )

    def dump(self, path: str) -> None:
        doc = {
            "spans": [
                {"name": s[0], "start": s[1], "end": s[2], "parent": s[3], "op": s[4]}
                for s in self.spans
            ],
            "counts": dict(self.counts),
        }
        with open(path, "w") as f:
            json.dump(doc, f)
