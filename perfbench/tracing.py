"""Spans around the benchmark's calls into the program's layers.

A span is opened by the benchmark around one call into a public function
of a layer (``core``, ``pipeline``, ``queries``) or around one Spark
action (``spark``); no span is opened inside ``xqspark/``. The layer is
the part of the span name before the first dot. Spans stay in memory
and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_seconds(self, runs: set[int]) -> dict[str, float]:
        """Seconds per layer over the spans of ``runs``: each span's
        duration minus the time its direct children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["run"] not in runs:
                continue
            layer = s["name"].split(".", 1)[0]
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
