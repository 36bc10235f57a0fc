"""In-memory spans, written out with the run's layer metrics once the run
ends."""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, run id) at layer boundaries. An
    untraced run records only the session-start span; spans around the
    program's calls are opened only in the traced pass."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "start": time.perf_counter(), "end": None,
             "parent": parent, "run_id": self.run_id}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part its children cover, summed by name.
        Children of one span run one after another, so their durations add."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child[i])
        return out

    def dump(self, path: str, metrics: dict[str, float]) -> None:
        """Spans plus the run's layer metrics (counts and times)."""
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, "metrics": metrics}, fh)
