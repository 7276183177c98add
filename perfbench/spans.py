"""In-memory spans for the traced run.

A span records name, start, end, thread, its parent span and counts. Spans
stay in memory and are written out once, at exit. Spans opened on a thread
with no open span of its own (the pipeline's parallel-stage threads) take
the innermost span opened by ``root`` as parent, so thread overlap is kept.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: list[int] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        stack = self._stack()
        parent = stack[-1] if stack else (self._root[-1] if self._root else None)
        rec = {
            "id": None, "parent": parent, "name": name,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(), "end": None, "counts": dict(counts),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    @contextlib.contextmanager
    def root(self, name: str, **counts):
        """A span that also parents spans from threads it starts."""
        with self.span(name, **counts):
            self._root.append(self._stack()[-1])
            try:
                yield
            finally:
                self._root.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def busy(self, *names: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] in names)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total seconds, and self seconds (duration
        minus the part of it that child spans cover)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            covered, cur = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, cur), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur = b
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += s["end"] - s["start"] - covered
        return out

    def report(self) -> str:
        rows = sorted(self.self_times().items(), key=lambda kv: -kv[1]["self_s"])
        lines = [f"{'span':<34}{'count':>7}{'total_s':>10}{'self_s':>10}"]
        lines += [
            f"{name:<34}{a['count']:>7}{a['total_s']:>10.3f}{a['self_s']:>10.3f}"
            for name, a in rows
        ]
        return "\n".join(lines)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
