"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's own code around each call into a
program layer, plus spans built after the fact from Spark's
``StreamingQueryProgress.durationMs``.  Each span has a name, start, end
(seconds on ``time.monotonic``), parent span id and run id.  Nothing is
written until ``dump`` at the end of the run."""

from __future__ import annotations

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
    run: str


class Recorder:
    """Collects spans; ``enabled=False`` makes every call a no-op so the
    untraced run executes the same code path."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent inside the recorder itself

    def _new(self, name: str, start: float, end: float, parent: int | None) -> Span:
        s = Span(len(self.spans), name, start, end, parent, self.run_id)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.monotonic()
        parent = self._stack[-1] if self._stack else None
        s = self._new(name, 0.0, 0.0, parent)
        self._stack.append(s.id)
        t1 = time.monotonic()
        s.start = t1
        try:
            yield s
        finally:
            t2 = time.monotonic()
            s.end = t2
            self._stack.pop()
            self.overhead_s += (t1 - t0) + (time.monotonic() - t2)

    def current(self) -> int | None:
        """Id of the innermost open span."""
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> Span | None:
        """Record a span measured elsewhere (e.g. from query progress)."""
        if not self.enabled:
            return None
        t0 = time.monotonic()
        s = self._new(name, start, end, parent)
        self.overhead_s += time.monotonic() - t0
        return s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval covered by its
    children (overlapping children counted once)."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


def self_times_by_name(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + self_time(s, kids.get(s.id, []))
    return out

