"""In-memory spans, written out once when the run ends.

A span is ``name``, ``start``/``end`` (epoch seconds), the span that caused
it and free-form attributes; every span of one run carries the run's id.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid

from .stats import clip, union_length


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._kids: dict[int, list[int]] = {}

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "run": self.run_id, "id": sid, "parent": parent, "name": name,
            "start": start, "end": end, **attrs,
        })
        self._kids.setdefault(parent, []).append(sid)
        return sid

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Times the ``with`` body; yields the span id so children can
        name it as parent."""
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def children(self, sid: int) -> list[dict]:
        return [self.spans[k] for k in self._kids.get(sid, ())]

    def self_time(self, sid: int) -> float:
        """Span duration minus the part its children cover."""
        s = self.spans[sid]
        kids = [(c["start"], c["end"]) for c in self.children(sid)]
        return (s["end"] - s["start"]) - union_length(
            clip(kids, s["start"], s["end"]))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


class NullTracer:
    """Untraced runs: same interface, records nothing."""

    run_id = None

    def add(self, *a, **k) -> None:
        return None

    @contextlib.contextmanager
    def span(self, *a, **k):
        yield None
