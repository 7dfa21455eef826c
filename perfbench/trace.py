"""Spans around calls into the engine's layers, recorded from outside.

A span is (name, start, end, parent, op id).  Spans stay in memory and
are written out once, at exit.  The benchmark's own code opens spans
with :meth:`Tracer.span` around its direct calls (a whole op, an RPC
together with the collect of its reply); :func:`instrument` wraps the
engine functions that other engine functions call (a query building
its tables, an execution collecting its results), so that those show
up as child spans without any change to the engine.  Untraced runs never call
:func:`instrument` and use a disabled tracer, whose spans cost one
attribute test.

A span's layer is the part of its name before the first dot; a
layer's self time is its spans' durations minus the time their direct
children cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    op: int  # op id shared by every span of one op, -1 outside ops

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1

    @contextlib.contextmanager
    def _record(self, name: str):
        idx = len(self.spans)
        span = Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else -1, self.op)
        self.spans.append(span)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            span.end = time.perf_counter()

    def span(self, name: str):
        if self.enabled:
            return self._record(name)
        return contextlib.nullcontext()

    def span_cost_s(self, n: int = 20_000) -> float:
        """Seconds one span adds to a call: a wrapped no-op, traced,
        minus the same call bare (median of five batches of ``n``)."""
        scratch = Tracer(enabled=True)
        bare = lambda: None  # noqa: E731
        wrapped = _wrap(scratch, "x.y", bare)
        costs = []
        for _ in range(5):
            t0 = time.perf_counter()
            for _ in range(n):
                wrapped()
            t1 = time.perf_counter()
            for _ in range(n):
                bare()
            t2 = time.perf_counter()
            scratch.spans.clear()
            costs.append(((t1 - t0) - (t2 - t1)) / n)
        return sorted(costs)[2]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "op": s.op}) + "\n")


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's layer boundaries in spans, process-wide."""
    from pyspark.sql import DataFrameReader, DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame  # what a local session returns

    from libmr_spark import queries, session
    from libmr_spark.core import builder, partitioner
    from libmr_spark.operators import relational
    from libmr_spark.sources import readers, sinks

    targets = [
        # (owners sharing the attribute, attribute, span name)
        ([session], "get_spark", "session.get_spark"),
        ([session], "ensure_package_shipped", "session.ship_package"),
        ([readers, queries], "load_table", "readers.load_table"),
        ([readers, queries], "kv_table", "readers.kv_table"),
        ([DataFrameReader], "parquet", "readers.open_parquet"),
        ([builder.ExecutionBuilder], "create_execution", "builder.create_execution"),
        ([builder.Execution], "run", "builder.run"),
        ([partitioner], "slot_col", "partitioner.slot_col"),
        ([relational, queries], "as_of_join", "operators.as_of_join"),
        ([relational, queries], "top_k", "operators.top_k"),
        ([sinks], "merge_upsert", "sinks.merge_upsert"),
        ([sinks], "write_parquet", "sinks.write_parquet"),
        ([DataFrame], "collect", "spark.collect"),
        ([DataFrame], "toPandas", "spark.to_pandas"),
        ([DataFrameWriter], "save", "spark.save"),
        ([DataFrameWriter], "parquet", "spark.write_parquet"),
    ]
    for owners, attr, name in targets:
        wrapped = _wrap(tracer, name, getattr(owners[0], attr))
        for owner in owners:
            setattr(owner, attr, wrapped)
    for name, q in queries.QUERIES.items():
        q.fn = _wrap(tracer, f"queries.{name}", q.fn)
