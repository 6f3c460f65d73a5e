"""In-memory spans around the benchmark's calls into each layer.

Spans are kept in a list and written out as JSON lines when the run ends.
With tracing off, ``Tracer`` is never created and callers use ``NOOP``,
whose ``span`` costs one context-manager entry.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        parent = getattr(self._local, "current", None)
        self._local.current = sid
        t0 = time.perf_counter()
        try:
            yield attrs
        finally:
            t1 = time.perf_counter()
            self._local.current = parent
            with self._lock:
                self.spans.append(
                    {"id": sid, "parent": parent, "name": name, "start": t0, "end": t1, **attrs}
                )

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span timed by other code (the sink wrapper's calls)."""
        with self._lock:
            self.spans.append(
                {"id": next(self._ids), "parent": None, "name": name,
                 "start": start, "end": end, **attrs}
            )

    def dump(self, path: str) -> None:
        with self._lock, open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Noop:
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs


NOOP = _Noop()
