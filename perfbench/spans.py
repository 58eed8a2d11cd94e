"""In-memory spans for the traced run.

A span has a name, start, end and the id of the span open around it.
Spans stay in memory and are written as one JSON file at the end. Counts
are recorded at the same boundaries. ``self_ms`` of a name is its spans'
total duration minus the time covered by their direct child spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def wrap(self, fn, name: str, count=None):
        """``fn`` recorded as span ``name``; ``count(args)`` adds to the
        counter ``name + '.items'``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if count is not None:
                self.count(name + ".items", count(args))
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def calls_and_self_ms(self, name: str) -> tuple[int, float]:
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        own = [s for s in self.spans if s["name"] == name]
        self_s = sum(s["end"] - s["start"] - child_time[s["id"]] for s in own)
        return len(own), self_s * 1000.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


@contextlib.contextmanager
def patched(tracer: Tracer, targets: dict):
    """Temporarily replace ``module.attr`` for each ``(module, attr) ->
    (span name, count)`` entry with a traced wrapper; restore on exit."""
    saved = []
    try:
        for (obj, attr), (name, count) in targets.items():
            orig = getattr(obj, attr)
            saved.append((obj, attr, orig))
            setattr(obj, attr, tracer.wrap(orig, name, count))
        yield tracer
    finally:
        for obj, attr, orig in reversed(saved):
            setattr(obj, attr, orig)
