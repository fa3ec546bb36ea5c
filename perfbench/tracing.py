"""In-memory spans: name, layer, start, end, parent and request id.

Spans are kept in a list and written out once, when the benchmark ends.
A layer's self time is the duration of its spans minus the part of each
span that its child spans cover.  For a top-level span (one query, one
micro-batch) the part no child covers is its uncovered remainder.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    request: str


class Tracer:
    """Records spans when enabled; when disabled every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, request: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, layer, time.time(), 0.0, parent, request))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def add(self, name: str, layer: str, start: float, end: float,
            request: str, parent: int | None = None) -> int:
        """Record a span measured elsewhere (e.g. rebuilt from a progress record)."""
        sid = len(self.spans)
        if self.enabled:
            self.spans.append(Span(sid, name, layer, start, end, parent, request))
        return sid

    def _children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    @staticmethod
    def _covered(span: Span, kids: list[Span]) -> float:
        """Length of the union of the children's intervals inside ``span``."""
        iv = sorted((max(k.start, span.start), min(k.end, span.end)) for k in kids)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def summary(self) -> dict:
        """Self time per layer and the uncovered remainder of top-level spans."""
        kids = self._children()
        self_s: dict[str, float] = {}
        top: dict[str, dict[str, float]] = {}
        for s in self.spans:
            dur = s.end - s.start
            own = dur - self._covered(s, kids.get(s.id, []))
            self_s[s.layer] = self_s.get(s.layer, 0.0) + own
            if s.parent is None and s.id in kids:
                t = top.setdefault(s.name, {"count": 0, "wall_s": 0.0, "uncovered_s": 0.0})
                t["count"] += 1
                t["wall_s"] += dur
                t["uncovered_s"] += own
        for t in top.values():
            t["uncovered_frac"] = t["uncovered_s"] / t["wall_s"] if t["wall_s"] else 0.0
        return {"self_s": self_s, "top_level": top, "spans": len(self.spans)}

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"summary": self.summary(), **extra,
                       "spans": [asdict(s) for s in self.spans]}, f)
