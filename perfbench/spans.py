"""In-memory span tracer, installed from the benchmark's own files.

Wrappers go around the calls into each layer — ``sources.load_table``,
``streaming.events_stream``, ``streaming.run_available_now``, the public
functions of ``operators.graph`` and ``DataStreamWriter.start`` — by
rebinding every module attribute that holds the original function, so
both ``from ..sources import load_table`` and call-time
``from ..operators.graph import pagerank`` imports see the wrapper.
:meth:`Tracer.remove` puts every original back.

Each span records its name, start, end, parent span, query id and the
Spark job-id counter at both ends (jobs are numbered in launch order
within a SparkContext, and the benchmark runs one query at a time, so
the difference is the jobs launched inside the span).
"""

from __future__ import annotations

import inspect
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

PACKAGE = "stream_processing_with_flink_study_spark"


@dataclass
class Span:
    id: int
    name: str
    query: str
    parent: int | None
    start: float
    job0: int
    end: float = 0.0
    job1: int = 0


@dataclass
class Tracer:
    next_job_id: Callable[[], int]
    spans: list[Span] = field(default_factory=list)
    # (query id, StreamingQuery) for every DataStreamWriter.start call
    streams: list[tuple[str, Any]] = field(default_factory=list)
    query: str = ""
    _stack: list[int] = field(default_factory=list)
    _undo: list[tuple[Any, str, Any]] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        s = Span(
            id=len(self.spans),
            name=name,
            query=self.query,
            parent=self._stack[-1] if self._stack else None,
            start=time.perf_counter(),
            job0=self.next_job_id(),
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            s.job1 = self.next_job_id()

    def _wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def _rebind(self, orig: Callable, wrapper: Callable) -> None:
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, orig))

    def install(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from stream_processing_with_flink_study_spark.operators import graph
        from stream_processing_with_flink_study_spark.sources import batch
        from stream_processing_with_flink_study_spark.streaming import pipelines, sources

        targets = {
            "sources.load_table": batch.load_table,
            "streaming.events_stream": sources.events_stream,
            "streaming.run_available_now": pipelines.run_available_now,
        }
        for attr, fn in vars(graph).items():
            if inspect.isfunction(fn) and fn.__module__ == graph.__name__ and not attr.startswith("_"):
                targets[f"operators.graph.{attr}"] = fn
        for name, fn in targets.items():
            self._rebind(fn, self._wrap(name, fn))

        start = DataStreamWriter.start
        tracer = self

        def traced_start(writer, *args, **kwargs):
            with tracer.span("streaming.start"):
                q = start(writer, *args, **kwargs)
            tracer.streams.append((tracer.query, q))
            return q

        DataStreamWriter.start = traced_start
        self._undo.append((DataStreamWriter, "start", start))

    def remove(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover.
    Children of one parent never overlap (one thread, nested calls)."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + (s.end - s.start)
    return {s.id: (s.end - s.start) - child_s.get(s.id, 0.0) for s in spans}
