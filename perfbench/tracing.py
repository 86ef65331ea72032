"""In-memory spans recorded around calls into each layer.

A span has a name, start, end, the span that caused it and a run id shared
by every span of one sample. Spans stay in memory and are written out once,
when the benchmark ends. A span's self time is its duration minus the part
of its interval that its child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Collects spans for one process. Disabled tracers record nothing, so
    the traced and untraced code paths are the same calls."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                Span(sid, name, start, time.perf_counter(), parent, self.run_id)
            )

    def wrap(self, fn, name: str):
        """`fn` with a span around every call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Summed self time per span name, in seconds."""
    children: dict[tuple[str, int], list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault((s["run_id"], s["parent"]), []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = sorted(
            children.get((s["run_id"], s["id"]), ()), key=lambda k: k["start"]
        )
        covered, edge = 0.0, s["start"]
        for k in kids:
            lo, hi = max(k["start"], edge), min(k["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def write_spans(path: str, spans: list[dict]) -> None:
    with open(path, "w") as f:
        json.dump(spans, f)
