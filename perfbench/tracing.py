"""Spans around the calls the benchmark makes into the program's layers.

Wrappers are installed from here on public functions of `streams_spark`
(the program itself is not edited). A span is (op, name, start, end,
parent); spans stay in memory and are written out when the run ends.
Recording is on only while a measured op runs; `span_cost` measures
what one recorded span adds to a call.
"""

from __future__ import annotations

import functools
import json
import time
import types
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []  # [op, name, start, end, parent index]
        self.active = False
        self.op = -1
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        index = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([self.op, name, time.perf_counter(), None, parent])
        self._stack.append(index)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[index][3] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` by a wrapper that records a span per call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def span_cost(self, calls: int = 20_000) -> float:
        """Seconds one recorded span adds to a call: a wrapped no-op with
        recording on against the bare no-op."""
        target = types.SimpleNamespace(call=lambda: None)
        bare = target.call
        self.wrap(target, "call", "calibrate")
        saved, self.spans, self.active = self.spans, [], True
        t0 = time.perf_counter()
        for _ in range(calls):
            target.call()
        t1 = time.perf_counter()
        for _ in range(calls):
            bare()
        t2 = time.perf_counter()
        self.spans, self.active = saved, False
        return max(0.0, (t1 - t0) - (t2 - t1)) / calls

    def count(self, op: int) -> int:
        return sum(1 for s in self.spans if s[0] == op)

    def times(self, op: int) -> tuple[dict[str, float], dict[str, float]]:
        """Per span name of one op: (total time, self time), where self
        time is the duration minus the part its child spans cover."""
        mine = [(i, s) for i, s in enumerate(self.spans) if s[0] == op]
        covered = defaultdict(float)
        for _, (_, _, start, end, parent) in mine:
            if parent is not None:
                covered[parent] += end - start
        total, own = defaultdict(float), defaultdict(float)
        for i, (_, name, start, end, _) in mine:
            total[name] += end - start
            own[name] += end - start - covered[i]
        return dict(total), dict(own)

    def dump(self, path: str) -> None:
        keys = ("op", "name", "start", "end", "parent")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)
