"""In-memory spans for the traced run.

A span is (name, start, end, parent, run id), times in epoch seconds.
Call spans wrap each call the benchmark makes into the engine; Spark job
spans (from the AppStatusStore) and micro-batch spans (from the stream
progress recorder) are added afterwards and nest under the innermost
span that contains their start.  A span's layer is its name up to the
first ``:`` (``job:17`` -> ``job``).  Self time is a span's duration
minus the part of it that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a
    no-op, so the untraced run pays only a boolean test per call."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.run_id))
        idx = len(self.spans) - 1
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.time()

    def add(self, name: str, start: float, end: float) -> None:
        """Add a finished span, nested by time under the innermost span
        whose interval contains ``start``."""
        if not self.enabled:
            return
        parent = None
        for i, s in enumerate(self.spans):
            if s.start <= start <= s.end and (
                parent is None or s.start >= self.spans[parent].start
            ):
                parent = i
        self.spans.append(Span(name, start, end, parent, self.run_id))

    def self_time(self, since: float = 0.0) -> dict[str, float]:
        """Seconds per layer not covered by the layer's child spans,
        over the spans that started at or after epoch second ``since``."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.start < since:
                continue
            covered = union_length(
                (max(a, s.start), min(b, s.end)) for a, b in children.get(i, [])
            )
            out[s.layer] = out.get(s.layer, 0.0) + max(s.end - s.start - covered, 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **asdict(s)}) + "\n")
