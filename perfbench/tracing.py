"""Spans recorded from the benchmark's side of each layer boundary.

``Tracer`` keeps spans in memory (name, start, end, parent, call id).
``install`` wraps, at runtime, the entry points the extraction job calls
into the writer, the extraction dataflow and the band index, and returns
a function that restores them; nothing in the package is edited.
``attribute`` hangs each Spark job (or SQL execution) from the event log
on the innermost span whose window contains it.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass

__all__ = ["Span", "Tracer", "install", "attribute", "union_s"]

#: event-log times are whole milliseconds; widen span windows by this
_SLACK_S = 0.002


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    call: int

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._calls = 0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._calls += 1
        s = Span(len(self.spans), name, time.time(), 0.0,
                 parent.sid if parent else None,
                 parent.call if parent else self._calls)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def wrap(self, fn, name):
        """``fn`` traced under ``name`` (a string, or a callable of the
        call's arguments that returns one)."""
        tracer = self

        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def self_time(self, span: Span) -> float:
        return span.dur - sum(c.dur for c in self.children(span))


def install(tracer: Tracer):
    """Wrap the layer entry points; returns the function that puts the
    originals back."""
    from resume_parser_service_spark.operators import incremental
    from resume_parser_service_spark.pipeline import run as run_mod
    from resume_parser_service_spark.pipeline.writer import SnapshotTable

    saved = []

    def patch(owner, attr, name):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(orig, name))

    patch(SnapshotTable, "resume_filter", "writer.resume_filter")
    patch(SnapshotTable, "commit",
          lambda tbl, *a, **k: "writer.commit:" + os.path.basename(tbl.root))
    patch(SnapshotTable, "compact", "writer.compact")
    patch(SnapshotTable, "expire_snapshots", "writer.expire")
    patch(SnapshotTable, "point_lookup", "writer.point_lookup")
    patch(run_mod, "enrich_extracted", "extract.enrich")
    # plan building on the driver: the job's extraction dataflow and the
    # band-index operators it imports at call time
    patch(run_mod, "extract_pages", "extract.plan")
    patch(run_mod, "validate_extracted", "extract.plan")
    patch(incremental, "band_signatures", "index.plan")
    patch(incremental, "seen_and_pairs", "index.plan")

    def restore() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
    return restore


def attribute(spans: list[Span], jobs) -> dict[int, list]:
    """span id -> the jobs whose [start, end] lies inside the span and
    inside none of its descendants (the innermost containing span)."""
    out: dict[int, list] = {}
    for job in jobs:
        best = None
        for s in spans:
            if (s.start - _SLACK_S <= job.start
                    and job.end <= s.end + _SLACK_S
                    and (best is None or s.start >= best.start)):
                best = s
        if best is not None:
            out.setdefault(best.sid, []).append(job)
    return out


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals (AQE can run jobs
    side by side, so their walls must not be summed)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
