"""In-memory spans around the benchmark's calls into each layer.

A span records name, trace id (one per increment), parent span,
start and end. While a span is open its name is also the Spark job
group of every job the calling thread starts, which is how the event
log parser attributes operator metrics to the layer. Spans are kept
in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace: str, **attrs):
        """Time a layer call. The job group is `trace/name`."""
        group = f"{trace}/{name}"
        prev = self.sc.getLocalProperty("spark.jobGroup.id") if self.sc else None
        if self.sc:
            self.sc.setJobGroup(group, name)
        rec = {
            "name": name, "trace": trace, "group": group,
            "parent": self._stack[-1] if self._stack else None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self.sc:
                if prev is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def named(self, name: str, trace: str) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["trace"] == trace and "end" in s
        ]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f, indent=1)
