"""In-memory span recorder for the benchmark's traced runs.

A span is recorded around each call the benchmark makes into a library
layer: name (``<layer>.<call>``), start, end, parent span and the id of
the op that caused it. Spans stay in memory and are written out once, at
the end of the run. With tracing off every ``span()`` is a no-op context,
so untraced runs pay one attribute test per call.
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
        self.op_id: int | None = None
        self.op_name: str | None = None

    @contextmanager
    def op(self, op_id: int, name: str):
        """Tag every span opened inside with one op id."""
        self.op_id, self.op_name = op_id, name
        try:
            with self.span(f"bench.{name}"):
                yield
        finally:
            self.op_id = self.op_name = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "layer": name.split(".", 1)[0],
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op_id, "op_name": self.op_name,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, op_names: set[str] | None = None) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of it its
        children cover, summed over spans of the selected ops. Spans on one
        thread nest without overlap, so children's durations simply add."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            if op_names is not None and s["op_name"] not in op_names:
                continue
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1,
                      default=str)
