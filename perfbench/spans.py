"""In-memory spans for the traced run.

A span records one call from the benchmark into a layer of the program:
``(id, parent, op, name, start, end)`` with ``perf_counter`` seconds. ``op``
groups the spans of one operation (a pass, a query, a micro-batcher
lifetime). Spans stay in a list and are written out once, when the run ends.

A layer's self time is the sum of its spans' durations minus the parts of
each span that its child spans cover.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        # Offset that turns epoch seconds (Spark's job timestamps) into
        # this tracer's perf_counter clock.
        self.epoch_offset = time.time() - time.perf_counter()

    def add(self, name: str, op, start: float, end: float, parent: int | None = None) -> int:
        sid = next(self._ids)
        self.spans.append((sid, parent, op, name, start, end))
        return sid

    @contextmanager
    def span(self, name: str, op, parent: int | None = None):
        sid = next(self._ids)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            self.spans.append((sid, parent, op, name, start, time.perf_counter()))

    def wrap(self, obj, method: str, name: str, op) -> None:
        """Time every call of ``obj.method`` as a span, by shadowing the
        bound method with an instance attribute (the class is untouched)."""
        inner = getattr(obj, method)
        spans, ids, clock = self.spans, self._ids, time.perf_counter

        def traced(*args, **kwargs):
            sid = next(ids)
            start = clock()
            try:
                return inner(*args, **kwargs)
            finally:
                spans.append((sid, None, op, name, start, clock()))

        setattr(obj, method, traced)

    def named(self, name: str) -> list[tuple]:
        return [s for s in self.spans if s[3] == name]

    def self_time(self, name: str) -> float:
        children = defaultdict(list)
        for s in self.spans:
            if s[1] is not None:
                children[s[1]].append((s[4], s[5]))
        total = 0.0
        for sid, _, _, _, start, end in self.named(name):
            covered = [(max(a, start), min(b, end)) for a, b in children.get(sid, ())]
            total += (end - start) - union_length([c for c in covered if c[0] < c[1]])
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "fields": ["id", "parent", "op", "name", "start_s", "end_s"],
                "spans": self.spans,
            }, f)
