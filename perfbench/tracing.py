"""In-memory spans recorded around the benchmark's calls into each
layer, and the Spark job group that labels every operation.

A span is (name, start, end, parent, op). Spans stay in memory; the run
writes them once, at exit, next to its report. A span given an ``op`` sets that op as the Spark
job group for the jobs started inside it and restores the enclosing
op's group on exit, so every job of a traced run carries the label of
the innermost operation that started it. With tracing off,
:meth:`Tracer.span` neither sets a job group nor records anything, so
the untraced run pays no bookkeeping.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ops: list[str | None] = [None]
        self.spark = None  # set once the session exists

    def _group(self, op: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(GROUP, op)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Time ``name``; when ``op`` is given, label the Spark jobs
        started inside with job group ``op``."""
        if not self.enabled:
            yield
            return
        if op is not None:
            self._ops.append(op)
            self._group(op)
        rec = {
            "name": name,
            "op": op or self._ops[-1],
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if op is not None:
                self._ops.pop()
                self._group(self._ops[-1])

    def overhead_us(self, n: int = 200) -> float:
        """Mean cost of one labelled span, in microseconds (the records
        it leaves behind are dropped again)."""
        keep = len(self.spans)
        t0 = time.perf_counter()
        for i in range(n):
            with self.span("tracing.probe", op="tracing.probe"):
                pass
        dt = time.perf_counter() - t0
        del self.spans[keep:]
        return dt / n * 1e6
