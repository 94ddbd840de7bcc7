"""In-memory spans around calls into the program's layers.

Spans are kept in a list while the benchmark runs and written out once at
the end. ``patched`` wraps public functions of the program's modules for
the duration of a block, so calls the library makes internally (for
example ``run_resumable`` calling ``run_pipeline``) are recorded too; the
modules' files are never touched.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it covered by its children."""
        s = self.spans[sid]
        covered, cur = 0.0, s["start"]
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == sid and c["end"] is not None)
        for a, b in kids:
            a = max(a, cur)
            if b > a:
                covered += b - a
                cur = b
        return (s["end"] - s["start"]) - covered

    def total(self, name: str, parent: int | None = None) -> float:
        """Summed duration of spans called ``name`` (under ``parent``)."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None
                   and (parent is None or s["parent"] == parent))

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Wrap ``getattr(module, attr)`` in a span called ``name`` for each
        ``(module, attr, name)`` while the block runs."""
        saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
        try:
            for (m, a, name), (_, _, fn) in zip(targets, saved):
                setattr(m, a, self._wrap(fn, name))
            yield self
        finally:
            for m, a, fn in saved:
                setattr(m, a, fn)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return inner

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{**s, "self_s": self.self_time(s["id"])}
                       for s in self.spans if s["end"] is not None], f)


def call_cost(n: int = 20000) -> float:
    """Seconds a call wrapped by ``Tracer.patched`` takes over a plain call:
    the cost of one span."""
    def fn():
        return None

    wrapped = Tracer()._wrap(fn, "cost")
    t0 = time.perf_counter()
    for _ in range(n):
        wrapped()
    t1 = time.perf_counter()
    for _ in range(n):
        fn()
    t2 = time.perf_counter()
    return max(0.0, ((t1 - t0) - (t2 - t1)) / n)
