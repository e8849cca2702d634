"""Spans recorded from outside the program, around its public calls.

``Tracer`` keeps spans in memory: name, start, end, parent span and the
operation they belong to. While a span is open, the Spark job
description is ``pb/<op>/<span name>``, so every Spark job, stage and
task in the event log can be charged to the layer that caused it.

``instrument`` replaces, for the duration of a ``with`` block, the
module attributes and methods that ``pipeline.run_pipeline`` and the
dedup operators call, with wrappers that open a span around each call.
Nothing in the library is edited.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float | None = None
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(spans: list[Span], idx: int) -> float:
    """A span's duration minus the part of it its child spans cover."""
    s = spans[idx]
    children = [(c.start, c.end) for c in spans
                if c.parent == idx and c.end is not None]
    return s.duration - covered(children, s.start, s.end)


class Tracer:
    """In-memory span recorder that labels Spark jobs with the open span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = "setup"
        self._stack: list[int] = []
        self._sc = None
        self._phase: int | None = None

    def bind(self, spark_context) -> None:
        """Label jobs of this SparkContext from now on (None: stop)."""
        self._sc = spark_context

    def _describe(self) -> None:
        if self._sc is not None:
            name = self.spans[self._stack[-1]].name if self._stack else None
            self._sc.setJobDescription(f"pb/{self.op}/{name}" if name else None)

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.op, time.perf_counter(), parent=parent))
        self._stack.append(len(self.spans) - 1)
        self._describe()
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        # close anything left open inside it (a call that raised)
        while self._stack and self._stack[-1] != idx:
            self.spans[self._stack.pop()].end = self.spans[idx].end
        if self._stack:
            self._stack.pop()
        if self._phase is not None and self.spans[self._phase].end is not None:
            self._phase = None
        self._describe()

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[int]:
        idx = self.open(name)
        try:
            yield idx
        finally:
            self.close(idx)

    def begin_phase(self, name: str) -> None:
        """Open a span that the next ``end_phase`` closes. Used for a
        stretch of ``run_pipeline`` that has no public call of its own."""
        self.end_phase()
        self._phase = self.open(name)

    def end_phase(self) -> None:
        if self._phase is not None:
            self.close(self._phase)
            self._phase = None

    def wrap(self, name: str, fn: Callable, after: Callable[[], None] | None = None,
             before: Callable[[], None] | None = None,
             note: Callable[..., dict] | None = None) -> Callable:
        """``fn`` inside a span; ``note(*args)`` after the call returns
        attributes to keep on the span."""
        @functools.wraps(fn)
        def traced(*args: Any, **kwargs: Any) -> Any:
            if before is not None:
                before()
            with self.span(name) as idx:
                out = fn(*args, **kwargs)
                if note is not None:
                    self.spans[idx].attrs.update(note(*args))
            if after is not None:
                after()
            return out
        return traced


@contextlib.contextmanager
def instrument(tracer: Tracer) -> Iterator[None]:
    """Wrap the layer boundaries of ``run_pipeline`` and the dedup
    operators with spans, and restore the originals on exit.

    The stretch between ``Router.write_all`` returning and
    ``partition_cursors`` starting is the aggregate phase (sink
    read-back, ``hourly_counts`` and the aggregate write).
    """
    from logstash_integration_jdbc_spark import pipeline
    from logstash_integration_jdbc_spark.operators import dedup
    from logstash_integration_jdbc_spark.operators.router import Router
    from logstash_integration_jdbc_spark.sources.loader import DimensionLoader
    from logstash_integration_jdbc_spark.sources.value_tracking import ValueTracker

    patches = [
        (pipeline, "incremental_scan", "scan.plan", {}),
        (pipeline, "parse_tool_calls", "parse.plan", {}),
        (pipeline, "build_lookups", "lookup.plan", {}),
        (pipeline, "enrich", "lookup.plan", {}),
        (Router, "write_all", "router.write",
         {"after": lambda: tracer.begin_phase("aggregate")}),
        (pipeline, "hourly_counts", "aggregate.hourly_counts", {}),
        (pipeline, "partition_cursors", "scan.cursors", {"before": tracer.end_phase}),
        (ValueTracker, "write", "checkpoint.write", {}),
        (DimensionLoader, "refresh", "loader.refresh",
         {"note": lambda loader: {"rows": loader.last_count}}),
        (dedup, "minhash_band_buckets", "dedup.band", {}),
        (dedup, "minhash_lsh_candidates", "dedup.candidates", {}),
    ]
    saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _, _ in patches]
    try:
        for owner, attr, name, hooks in patches:
            setattr(owner, attr, tracer.wrap(name, owner.__dict__[attr], **hooks))
        yield
    finally:
        for owner, attr, original in saved:
            setattr(owner, attr, original)
