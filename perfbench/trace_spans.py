"""In-memory spans recorded by the benchmark around its calls into the
program, written out once when the run ends."""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass


def covered_seconds(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Spans of one run. Disabled, ``span`` is a no-op so the untraced run
    pays nothing for it."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, start, time.time(), parent, self.run_id))

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a span rebuilt after the fact (rounds from MANIFEST times,
        Spark jobs from the status store)."""
        sid = next(self._ids)
        self.spans.append(Span(sid, name, start, end, parent, self.run_id))
        return sid

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by that span's children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = covered_seconds(
                (max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.id, [])
            )
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [asdict(s) for s in self.spans],
                    "self_time_s": self.self_times(),
                    **extra,
                },
                f,
                indent=1,
            )
