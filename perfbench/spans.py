"""In-memory spans around the benchmark's calls into each engine layer.

A span records a name (the layer and the public function called), its
start and end, the span it ran under and the id of the benchmark
operation it belongs to. Spans stay in memory and are written out once
at exit, with a self-time table: a span's self time is its duration
minus the part its child spans cover.

With tracing off, ``Tracer.span`` returns a shared no-op context, so
the untraced run pays one attribute check per call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    op: str | None
    name: str
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, name: str, op: str | None = None):
        """Context manager timing one call into layer ``name``. ``op``
        names the benchmark operation; nested spans inherit it."""
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, op)

    @contextlib.contextmanager
    def _span(self, name: str, op: str | None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(next(self._ids), parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None),
                 name, time.perf_counter())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.spans.append(s)

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """name -> (calls, total seconds, self seconds)."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            row = out[s.name]
            row[0] += 1
            row[1] += s.end - s.start
            row[2] += s.end - s.start - covered
        return {k: tuple(v) for k, v in out.items()}

    def table(self) -> str:
        rows = sorted(self.self_times().items(), key=lambda kv: -kv[1][2])
        lines = [f"{'span':<48} {'calls':>7} {'total_s':>9} {'self_s':>9}"]
        lines += [f"{k:<48} {n:>7} {t:>9.3f} {st:>9.3f}" for k, (n, t, st) in rows]
        return "\n".join(lines)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
