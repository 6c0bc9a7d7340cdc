"""Spans around the benchmark's calls into boltspark layers.

A span records name, start, end, parent span and op id.  Spans stay in
memory and are written out when the run ends.  With tracing off every
``span`` is an empty context manager, so the untraced run measures the
program alone.  Layer names are the span name up to the first dot.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self._thread = threading.get_ident()
        self.spark = spark
        self.spans: list[dict] = []
        self.op_id = None
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self._groups = 0

    def span(self, name: str):
        """Span context manager (yields the span record, or None).  Only the
        thread that made the tracer records spans: set-up jobs that run on
        helper threads are not traced."""
        if self.enabled and threading.get_ident() == self._thread:
            return self._span(name)
        return nullcontext()

    @contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        group = None
        if not self._stack and self.spark is not None:
            # top-level span: tag its Spark jobs so they can be counted
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self.spark.sparkContext.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                tracker = self.spark.sparkContext.statusTracker()
                rec["jobs"] = len(tracker.getJobIdsForGroup(group))

    @staticmethod
    def annotate(rec, **kw) -> None:
        """Attach values to a span (``rec`` is None with tracing off)."""
        if rec is not None:
            rec.update(kw)

    def patch(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` in a span, for calls the program makes through
        the module attribute (restored by ``restore``)."""
        orig = getattr(module, attr)

        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(module, attr, wrapped)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def span_cost_s(self, n: int = 20000) -> float:
        """Wall cost of one span (open + close) with no work inside."""
        saved, self.spans, spark, self.spark = self.spans, [], self.spark, None
        try:
            t = time.perf_counter()
            for _ in range(n):
                with self._span("probe"):
                    pass
            return (time.perf_counter() - t) / n
        finally:
            self.spans, self.spark = saved, spark

    def named(self, name: str, since: int = 0) -> list[dict]:
        return [s for s in self.spans[since:] if s["name"] == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """A layer's self time: its spans' wall minus the wall its child
        spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]
                                                - child[s["id"]])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
