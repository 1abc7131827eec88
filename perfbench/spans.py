"""Span recording from outside the package.

A :class:`Tracer` wraps public functions of the engine's layers by
replacing module attributes, so no package code changes. A name that a
module bound at import time (``from x import f``) is replaced in every
loaded ``fintech_etl_spark`` module that holds it, not only where it is
defined.

Spans are ``(id, name, start, end, parent, op)`` tuples kept in memory
and written out once at the end. A span's self time is its duration
minus the part of its interval that its child spans cover, so the self
times of one operation's spans add up to the operation's wall time.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "fintech_etl_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records nested spans on one thread. ``enabled=False`` makes every
    method a no-op, so the untraced run pays nothing for the hooks."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        if op is not None:
            self._op = op
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if op is not None:
                self._op = None

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` and every import-time binding of the same
        object in loaded package modules."""
        if not self.enabled:
            return
        orig = getattr(module, attr)
        traced = self.wrap(orig, name)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if mod is not module and not mname.startswith(PACKAGE):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._undo.append((mod, key, val))
                    setattr(mod, key, traced)

    def patch_method(self, cls, attr: str, name: str) -> None:
        if not self.enabled:
            return
        orig = cls.__dict__[attr]
        self._undo.append((cls, attr, orig))
        setattr(cls, attr, self.wrap(orig, name))

    def unpatch(self) -> None:
        for obj, key, val in reversed(self._undo):
            setattr(obj, key, val)
        self._undo.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: duration minus the union of the child
    intervals, each clipped to the parent."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.id] = (s.end - s.start) - covered
    return out
