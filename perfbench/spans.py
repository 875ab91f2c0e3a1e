"""In-memory spans for the traced run, plus the streaming progress listener.

Spans are recorded only by the benchmark, around its calls into the
engine's public functions; each micro-batch progress event that Spark's
``StreamingQueryListener`` reports becomes a child span of the drain that
was running when its trigger started. Everything stays in memory until
:meth:`Tracer.write` dumps it as JSON at the end of the run.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        s = self.add(name, parent, time.time(), None, **attrs)
        try:
            yield s
        finally:
            s["end"] = time.time()

    def add(self, name: str, parent: dict | None, start: float, end: float | None, **attrs) -> dict:
        s = {"id": len(self.spans), "parent": None if parent is None else parent["id"],
             "name": name, "start": start, "end": end, **attrs}
        self.spans.append(s)
        return s

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as fh:
            json.dump([{**s, "self": own[s["id"]]} for s in self.spans], fh)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report, as parsed JSON.

    Spark delivers listener events asynchronously, so :meth:`settle` waits
    until no new report has arrived for a short quiet period."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._reports: list[dict] = []
        self._last = time.time()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        report = json.loads(event.progress.json)
        report["_start"] = _epoch(report["timestamp"])
        with self._lock:
            self._reports.append(report)
            self._last = time.time()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._last = time.time()

    def settle(self, quiet_s: float = 0.5, max_s: float = 5.0) -> list[dict]:
        deadline = time.time() + max_s
        while time.time() < deadline:
            with self._lock:
                if time.time() - self._last >= quiet_s:
                    break
            time.sleep(0.05)
        with self._lock:
            return list(self._reports)
