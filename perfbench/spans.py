"""In-memory spans, written out as JSON when the benchmark ends."""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block; the innermost open span is
        its parent. Yields the span dict so the block can add counts."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter() - self.t0, "end": None, **attrs}
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter() - self.t0
