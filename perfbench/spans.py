"""In-memory span recorder for the traced benchmark run.

A span is (name, layer, start, end, parent, run id). Spans are recorded
around the benchmark's own calls into each engine layer, kept in memory and
written out once at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._run_id = "setup"

    def op(self, run_id) -> "Tracer":
        """Start the root span of one operation; closed by ``close_op``."""
        self._run_id = run_id
        self._stack = []
        self.spans.append({"name": "op", "layer": "bench", "start": time.perf_counter(),
                           "end": None, "parent": None, "run": run_id})
        self._stack.append(len(self.spans) - 1)
        return self

    def close_op(self, wall: float) -> None:
        root = self.spans[self._stack[0]]
        root["end"] = root["start"] + wall
        self._stack = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "layer": layer, "start": time.perf_counter(),
               "end": None, "parent": parent, "run": self._run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def probe(self, name: str) -> None:
        """Following spans belong to the named direct-call probe."""
        self._run_id = f"probe:{name}"
        self._stack = []

    def self_times(self) -> dict:
        """(run kind, layer) -> summed self time in seconds: each span's
        duration minus the part its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            kind = "probe" if str(s["run"]).startswith("probe:") else "op"
            out[(kind, s["layer"])] += s["end"] - s["start"] - child[i]
        return dict(out)

    def durations(self, name: str, run_filter=None) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name
                and (run_filter is None or run_filter(s["run"]))]

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump({
                "spans": [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                          for s in self.spans],
                "self_time_s": {f"{k}.{layer}": v
                                for (k, layer), v in self.self_times().items()},
            }, f, indent=0)


class _NullTracer:
    """Tracing off: spans cost one context-manager enter/exit."""

    @contextlib.contextmanager
    def span(self, name, layer):
        yield None


NULL_TRACER = _NullTracer()
