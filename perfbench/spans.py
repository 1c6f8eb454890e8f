"""In-memory spans around calls into the program's layers.

A span records (name, start, end, parent, run id). Spans stay in memory
and are written out once, when the run ends. A disabled tracer records
nothing, so traced and untraced runs go through the same code.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": idx, "name": name, "parent": parent,
                           "run_id": self.run_id, "start": time.monotonic(),
                           "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.monotonic()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, tuple[float, float, int]]:
        """name -> (total seconds, self seconds, calls). Self time is a
        span's duration minus the time its child spans cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        table: dict[str, tuple[float, float, int]] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            total, own, calls = table.get(s["name"], (0.0, 0.0, 0))
            table[s["name"]] = (total + dur, own + dur - child_time[s["id"]], calls + 1)
        return table

    def format_table(self) -> str:
        rows = sorted(self.self_times().items(), key=lambda kv: -kv[1][1])
        lines = [f"{'span':<48} {'calls':>5} {'total_s':>9} {'self_s':>9}"]
        for name, (total, own, calls) in rows:
            lines.append(f"{name:<48} {calls:>5} {total:>9.3f} {own:>9.3f}")
        return "\n".join(lines)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)
