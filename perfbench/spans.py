"""In-memory spans recorded by the benchmark around its calls into layers.

A span has a name, start, end, parent and the run id. Spans stay in memory
and are written out once, at the end of the run. A layer's self time is its
span's duration minus the part of that interval covered by its children.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass
from typing import Dict, Iterator, List, Optional


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]
    run_id: str


def _covered(intervals: List[tuple]) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Tracer:
    """Records nested spans; ``enabled=False`` makes every span a no-op so
    the untraced run pays nothing."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self, root: Optional[int] = None) -> Dict[str, float]:
        """Sum of self time per span name; with ``root`` (a span index),
        over the spans below that span only."""
        children: Dict[int, List[tuple]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: Dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if root is not None and root not in self.ancestors(i):
                continue
            own = (s.end - s.start) - _covered(children.get(i, []))
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def ancestors(self, i: int) -> List[int]:
        out = []
        parent = self.spans[i].parent
        while parent is not None:
            out.append(parent)
            parent = self.spans[parent].parent
        return out

    def write(self, f) -> None:
        """Append the spans to an open file, one JSON object per line."""
        for i, s in enumerate(self.spans):
            f.write(json.dumps(dict(asdict(s), id=i)) + "\n")
