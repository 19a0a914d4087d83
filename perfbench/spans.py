"""In-memory spans around calls into the package's layers.

A span records name, start, end, parent span (an index into ``spans``)
and operation id. Spans stay in memory; the traced run's result carries
them out when the run ends. A layer's self time is its spans' durations
minus the parts their child spans cover.
When tracing is off, ``span`` records nothing.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, keep=lambda span: True) -> dict[str, float]:
        """Total self time per span name, in seconds, over the spans
        ``keep`` accepts."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and keep(s):
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if keep(s):
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)
