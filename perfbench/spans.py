"""In-memory spans around the benchmark's calls into each layer.

A span has a name (the layer, e.g. ``sources.kafka``), a start and an end
(perf_counter seconds), the id of the span that caused it and the run id
all spans of one run share. Spans stay in memory until ``dump``. A layer's
self time is the time its spans cover minus the part their child spans
cover. With tracing off, ``span`` records nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": 0.0, "end": 0.0, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_time_s": self.self_times(), **extra}, fh, indent=1)
