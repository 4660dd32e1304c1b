"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, start, end, the span that was open when it started
(same thread) and a request id shared by the spans of one request. Spans
stay in memory and are written out once, when the run ends. With tracing
off, ``span`` returns a shared no-op context manager.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager, nullcontext

_NOOP = nullcontext()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def span(self, name: str, rid=None):
        return self._span(name, rid) if self.enabled else _NOOP

    @contextmanager
    def _span(self, name: str, rid):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = parent["rid"]
        rec = {"id": None, "name": name, "parent": parent["id"] if parent else None,
               "rid": rid, "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def record(self, name: str, start: float, end: float, rid=None, parent=None) -> int:
        """Add a span measured elsewhere (another thread or process on the
        same monotonic clock); returns its id."""
        if not self.enabled:
            return -1
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "parent": parent, "rid": rid,
                               "start": start, "end": end})
        return sid

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def self_time_by_name(self, under: str | None = None) -> dict[str, float]:
        """Total self time per span name, optionally only inside the
        subtree of spans named ``under``."""
        selft = self.self_times()
        by_id = {s["id"]: s for s in self.spans}

        def inside(s):
            while s is not None:
                if s["name"] == under:
                    return True
                s = by_id.get(s["parent"])
            return False

        out: dict[str, float] = {}
        for s in self.spans:
            if under is None or inside(s):
                out[s["name"]] = out.get(s["name"], 0.0) + selft[s["id"]]
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        selft = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self": selft[s["id"]]}) + "\n")
