"""In-memory span recorder for the traced run, written out as Zipkin V2 JSON.

Spans are kept in memory while the benchmark runs and written once at the
end, so recording costs a list append.  Every operation the benchmark
drives (a query request, a registry row, a store build, a stream drain)
is its own trace: its spans share one trace id, and the operation's span
is the root of that trace.  The file is one JSON array, one span per
line, which ``sources/json_spans.py:read_json_v2`` loads.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time

SERVICE = "perfbench"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _next_id(self) -> int:
        with self._lock:
            return next(self._ids)

    @contextlib.contextmanager
    def span(self, name: str, **tags):
        """Record ``name`` around the body.  Nested calls on the same
        thread become children; an outermost call starts a new trace."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = self._next_id()
        trace_id = parent["trace"] if parent else sid
        frame = {"id": sid, "trace": trace_id}
        stack.append(frame)
        start = time.time_ns() // 1000
        try:
            yield
        finally:
            end = time.time_ns() // 1000
            stack.pop()
            span = {
                "traceId": f"{trace_id:016x}",
                "id": f"{sid:016x}",
                "name": name,
                "timestamp": start,
                "duration": max(end - start, 1),
                "localEndpoint": {"serviceName": SERVICE},
                "tags": {k: str(v) for k, v in tags.items()},
            }
            if parent:
                span["parentId"] = f"{parent['id']:016x}"
            with self._lock:
                self.spans.append(span)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            fh.write("[\n")
            fh.write(",\n".join(json.dumps(s, sort_keys=True) for s in self.spans))
            fh.write("\n]\n")


class NoTracer:
    """Stand-in for the untraced run: recording is a no-op."""

    spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **tags):
        yield
