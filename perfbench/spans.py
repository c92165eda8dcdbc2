"""Spans for the traced run, kept in memory and written when it ends.

A span is (name, start, end, parent, trace id) with epoch-second
times.  Spans come from the benchmark's own files: around its calls
into each layer, from the generator's and collector's records, and
from a StreamingQueryListener.  With tracing off every call is a no-op.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()  # the listener adds from its own thread

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            span_id = next(self._ids)
            self.spans.append(
                {
                    "trace_id": self.trace_id,
                    "span_id": span_id,
                    "parent": parent,
                    "name": name,
                    "start": start,
                    "end": end,
                    **attrs,
                }
            )
        return span_id

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Times the block; yields the span id children can name as parent."""
        if not self.enabled:
            yield None
            return
        span_id = self.add(name, time.time(), 0.0, parent, **attrs)
        try:
            yield span_id
        finally:
            self.spans[span_id - 1]["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class BatchSpans(StreamingQueryListener):
    """One span per micro-batch, parented to the caller's query span."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.parent: int | None = None

    def onQueryStarted(self, event):  # noqa: N802 (listener API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = json.loads(event.progress.json)
        start = _epoch(p["timestamp"])
        self.tracer.add(
            "stream.batch",
            start,
            start + p["durationMs"].get("triggerExecution", 0) / 1000.0,
            self.parent,
            batch_id=p["batchId"],
            input_rows=p["numInputRows"],
            duration_ms=p["durationMs"],
        )

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
