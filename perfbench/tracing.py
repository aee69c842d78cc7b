"""In-memory spans around calls into the program's layers.

A span has a name, a start, an end, a parent and the id of the pass it
belongs to.  Spans are kept in a list and written out once, when the run
ends.  ``NULL`` is the tracer of untraced runs: its spans record nothing.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        span = {"id": len(self.spans), "name": name, "pass": self.pass_id,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(), "end": None}
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _NullTracer:
    pass_id = None
    _span = contextlib.nullcontext()

    def span(self, name: str):
        return self._span


NULL = _NullTracer()
