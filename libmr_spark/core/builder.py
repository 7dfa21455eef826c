"""ExecutionBuilder — LibMR's pipeline programming model compiled to
Spark DataFrames.

Reference model: a client composes named steps
``reader → map/filter/accumulate → reshuffle/collect`` into an
execution (builder API ``/root/reference/src/mr.h:116-145``,
``/root/reference/src/mr.c:336-450``; typed Rust front-end
``/root/reference/rust_api/libmr/execution_builder.rs:38-132``), the
pipeline is distributed to every shard and records are pulled through
the step chain (``/root/reference/src/mr.c:926-970``).

Here the same chain is *compiled into a Catalyst logical plan*:

* relational steps become DataFrame transformations (whole-stage
  codegen, predicate pushdown, column pruning — all free),
* arbitrary-Python steps become Arrow-batched ``mapInPandas`` stages
  with LibMR's per-record error channel
  (``/root/reference/src/mr.c:954-957``: a step error turns the record
  into an ErrorRecord and the pipeline keeps running),
* error records travel in-band, in the ``__mr_error__`` column, to the
  end of the plan: later Python steps and relational filters pass them
  through, and relational maps and accumulates carry them past
  themselves, null-padded,
* ``Execution.run`` evaluates the plan once, in one Spark job, and
  splits the collected rows into results and errors,
* ``reshuffle`` is a hash repartition (the reference routes records by
  CRC16 slot — ``/root/reference/src/mr.c:736-785``),
* ``collect`` gathers to one task (the reference gathers to the
  initiating shard — ``/root/reference/src/mr.c:812-862``).

Everything the reference hand-builds for distribution — topology,
serialization, retries, completion barriers (~70% of its code) — is
supplied by Spark's scheduler/shuffle and deliberately NOT rebuilt.
"""

from __future__ import annotations

import contextvars
import dataclasses
import datetime
import decimal
import threading
import uuid
from dataclasses import dataclass
from itertools import repeat
from typing import Any, Callable, Iterator

import numpy as np
import pandas as pd
from pandas.api.extensions import ExtensionDtype
from pandas.core.dtypes.cast import maybe_box_native
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _create_row

from .registry import GLOBAL_REGISTRY, PyAccumulator, Registry, StepImpl, StepType

ERROR_COL = "__mr_error__"

#: Error string raised on timeout; matches the reference's
#: "execution max idle reached" (/root/reference/src/mr.c:1306-1331).
MAX_IDLE_ERROR = "execution max idle reached"


class ExecutionError(RuntimeError):
    pass


def run_with_job_group_timeout(spark: SparkSession, work: Callable[[], Any], timeout_ms: int, error_msg: str) -> Any:
    """Run ``work`` (which triggers Spark jobs) with a deadline: the jobs
    are tagged with a job group and cancelled on the cluster if the
    deadline passes, then ``ExecutionError(error_msg)`` is raised. This
    is the Spark analog of the reference's event-loop delay-task timers
    (execution max-idle /root/reference/src/mr.c:1306-1331, remote-task
    timeout /root/reference/src/mr.c:2085-2099). ``work`` runs in a copy
    of the caller's context, so frames it freezes land in the caller's
    ``layout.materialised()`` scope."""
    sc = spark.sparkContext
    group = f"libmr-timeout-{uuid.uuid4().hex}"
    out: dict[str, Any] = {}

    def target():
        sc.setJobGroup(group, "libmr_spark timed work", interruptOnCancel=True)
        try:
            out["value"] = work()
        except Exception as e:  # surfaced below
            out["exc"] = e

    t = threading.Thread(target=contextvars.copy_context().run, args=(target,), daemon=True)
    t.start()
    t.join(timeout_ms / 1000.0)
    if t.is_alive():
        sc.cancelJobGroup(group)
        raise ExecutionError(error_msg)
    if "exc" in out:
        raise out["exc"]
    return out["value"]


@dataclass
class ExecutionResult:
    """The reference's done-callback contract: ``(results, errors)``
    (``/root/reference/src/mr.h:65-69``). ``errors`` are record-level
    error strings; a failing step yields ``(0 results, N errors)``
    with the execution still completing normally
    (``/root/reference/tests/mr_test_module/pytests/test_errors.py:5-25``).
    """

    results: list
    errors: list[str]


@dataclass
class _Step:
    step_type: StepType
    name: str | None
    args: Any
    impl: StepImpl | Callable | None = None
    key: Any = None  # reshuffle key expression(s)


def _resolve(registry: Registry, step_type: StepType, name_or_fn, relational_default=True) -> StepImpl:
    if isinstance(name_or_fn, str):
        return registry.get(step_type, name_or_fn)
    if isinstance(name_or_fn, StepImpl):
        return name_or_fn
    if isinstance(name_or_fn, PyAccumulator):
        return StepImpl(name=f"<py:{step_type.value}>", step_type=step_type, fn=name_or_fn, relational=False)
    return StepImpl(
        name=f"<inline:{step_type.value}>",
        step_type=step_type,
        fn=name_or_fn,
        relational=relational_default,
    )


# Types whose values pandas' ``maybe_box_native`` returns unchanged: an
# object column holding only these needs no per-cell boxing.
_NATIVE_TYPES = frozenset(
    {type(None), str, bytes, bool, int, float, decimal.Decimal, list, tuple, dict, np.ndarray,
     datetime.date, datetime.datetime, datetime.timedelta, pd.Timestamp, pd.Timedelta}
)


def _column_values(s: pd.Series) -> list:
    """``s`` as a list of the values pandas' records-orient ``to_dict`` gives.
    Numpy columns unbox through ``tolist()``. Object columns are boxed
    cell by cell only when they hold a type that boxing would change
    (numpy scalars, ``pd.NA``); extension columns always are."""
    if isinstance(s.dtype, ExtensionDtype):
        return [maybe_box_native(v) for v in s]
    vals = s.tolist()
    if s.dtype == object and not _NATIVE_TYPES.issuperset(map(type, vals)):
        return [maybe_box_native(v) for v in vals]
    return vals


def _records(pdf: pd.DataFrame) -> Iterator[tuple[str | None, dict]]:
    """The one per-record loop of the Python stages: yield ``(error,
    record)`` for each row of ``pdf``, where ``error`` is the row's
    ERROR_COL value (None when the column is absent) and ``record`` is
    the row without ERROR_COL, equal to its records-orient ``to_dict`` dict."""
    names, columns, errors = [], [], repeat(None)
    for name, s in pdf.items():
        if name == ERROR_COL:
            errors = s.tolist()
        else:
            names.append(name)
            columns.append(_column_values(s))
    rows = zip(*columns) if columns else repeat((), len(pdf))
    return zip(errors, (dict(zip(names, row)) for row in rows))


def _error_rows(cols: list[str], errors: list[str]) -> pd.DataFrame:
    """Error records null-padded to ``cols`` (the reference's ErrorRecord)."""
    return pd.DataFrame({**{c: [None] * len(errors) for c in cols}, ERROR_COL: errors})


def _py_map_stage(df: DataFrame, fn: Callable, args: Any, out_schema: str | None) -> DataFrame:
    """Wrap a per-record Python mapper in mapInPandas with the error
    channel. Output = mapped columns (nulled on error) + ERROR_COL."""
    if out_schema is None:
        out_schema = ", ".join(f"`{c}` {t}" for c, t in df.dtypes if c != ERROR_COL)
    # parse the DDL rather than splitting on ',' — field types like
    # decimal(18,2) or map<string,int> contain commas
    out_cols = [f.name for f in StructType.fromDDL(out_schema).fields]
    null_row = (None,) * len(out_cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows, errors = [], []
            for err, rec in _records(pdf):
                if err is None:
                    try:
                        mapped = fn(rec, args) if args is not None else fn(rec)
                        rows.append([mapped.get(c) for c in out_cols])
                    except Exception as e:  # record-level error, keep going
                        err = str(e)
                if err is not None:
                    rows.append(null_row)
                errors.append(err)
            columns = list(zip(*rows)) if rows else [()] * len(out_cols)
            yield pd.DataFrame({**dict(zip(out_cols, map(list, columns))), ERROR_COL: errors})

    return df.mapInPandas(run, schema=f"{out_schema}, {ERROR_COL} string")


def _py_filter_stage(df: DataFrame, fn: Callable, args: Any) -> DataFrame:
    """Per-record Python predicate with the error channel; loops rows
    like the reference's pipelined filter (its ``src/mr.c:864-889``).
    Kept rows leave by position; error rows leave null-padded."""
    cols = [c for c in df.columns if c != ERROR_COL]
    schema = ", ".join(f"`{c}` {t}" for c, t in df.dtypes if c != ERROR_COL) + f", {ERROR_COL} string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep, errors = [], []
            for i, (err, rec) in enumerate(_records(pdf)):
                if err is None:
                    try:
                        if fn(rec, args) if args is not None else fn(rec):
                            keep.append(i)
                        continue
                    except Exception as e:
                        err = str(e)
                errors.append(err)
            yield pdf.iloc[keep].assign(**{ERROR_COL: None})
            if errors:
                yield _error_rows(cols, errors)

    return df.mapInPandas(run, schema=schema)


def _py_accumulate_stage(df: DataFrame, acc: PyAccumulator, global_fold: bool) -> DataFrame:
    """LibMR accumulate: streaming fold, one emitted record per shard;
    empty input emits nothing (/root/reference/src/mr.c:787-810,794-798).
    Error records bypass the fold and pass through, null-padded.

    Per-partition fold via mapInPandas; a global fold (accumulate after
    collect) first gathers to a single partition, mirroring the
    reference's collect-then-fold-at-initiator.
    """
    if global_fold:
        df = df.coalesce(1)
    carries_errors = ERROR_COL in df.columns
    schema = f"{acc.schema}, {ERROR_COL} string" if carries_errors else acc.schema
    out_cols = [f.name for f in StructType.fromDDL(acc.schema).fields] if carries_errors else []

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state = acc.zero
        seen = False
        for pdf in batches:
            errors = []
            for err, rec in _records(pdf):
                if err is not None:
                    errors.append(err)
                    continue
                seen = True
                state = acc.fn(state, rec)
            if errors:
                yield _error_rows(out_cols, errors)
        if seen:
            row = acc.finish(state) if acc.finish else state
            if not isinstance(row, dict):
                raise ExecutionError("PyAccumulator must fold to a dict (or provide finish())")
            if carries_errors:
                row = {**row, ERROR_COL: None}
            yield pd.DataFrame([row])

    return df.mapInPandas(run, schema=schema)


def _carry_errors(src: DataFrame, step: Callable[[DataFrame], DataFrame], shared: list[DataFrame]) -> DataFrame:
    """Apply the relational ``step`` to the good rows of ``src`` and carry
    its error rows past the step, null-padded to the step's output, in the
    same plan. ``src`` is then read by two branches; it goes on ``shared``
    so that ``Execution.run`` persists it and the steps upstream of it
    still run once per record."""
    if ERROR_COL not in src.columns:
        return step(src)
    shared.append(src)
    out = step(src.filter(F.col(ERROR_COL).isNull()).drop(ERROR_COL))
    if ERROR_COL not in out.columns:
        out = out.withColumn(ERROR_COL, F.lit(None).cast("string"))
    padded = [F.lit(None).cast(f.dataType).alias(f.name) for f in out.schema.fields if f.name != ERROR_COL]
    return out.unionByName(src.filter(F.col(ERROR_COL).isNotNull()).select(*padded, ERROR_COL))


class Execution:
    """A compiled pipeline: one DataFrame whose error records travel
    in-band to the end in ERROR_COL (the reference's ErrorRecords, its
    ``src/mr.c:954-957``). ``run()`` evaluates it in one Spark job and
    splits the collected rows into results and errors;
    ``dataframe()`` and ``errors_dataframe()`` are lazy filters of it."""

    def __init__(self, spark: SparkSession, df: DataFrame, shared: list[DataFrame], max_idle_ms: int | None):
        self.spark = spark
        self._df = df
        self._shared = shared  # frames read by two branches of the plan
        self.max_idle_ms = max_idle_ms
        self.execution_id = uuid.uuid4().hex  # ≈ shardId+counter id (/root/reference/src/mr.c:452-464)

    def dataframe(self) -> DataFrame:
        """The distributed results (stays lazy — preferred at scale)."""
        if ERROR_COL in self._df.columns:
            return self._df.filter(F.col(ERROR_COL).isNull()).drop(ERROR_COL)
        return self._df

    def errors_dataframe(self) -> DataFrame | None:
        if ERROR_COL not in self._df.columns:
            return None
        return self._df.filter(F.col(ERROR_COL).isNotNull()).select(F.col(ERROR_COL).alias("error"))

    def run(self) -> ExecutionResult:
        """Execute and gather ``(results, errors)`` to the driver —
        the reference's done-callback (/root/reference/src/mr.c:1014-1057).
        ``max_idle_ms`` maps to job-group cancellation (the reference
        kills idle executions after maxIdle — /root/reference/src/mr.c:26-28,1306-1331).
        """
        if self.max_idle_ms is None:
            return self._run()
        return run_with_job_group_timeout(self.spark, self._run, self.max_idle_ms, MAX_IDLE_ERROR)

    def _run(self) -> ExecutionResult:
        # Persisting a frame that two branches read makes each of its
        # partitions compute once: the second reader waits on the block's
        # write lock, then reads the block. Frames the caller had already
        # cached are left as they are. This lazy persist is the one cache
        # call outside core/layout.py: it lives for this one action and
        # is released below, which keeps an execution at one job.
        persisted = [d for d in self._shared if d.storageLevel == StorageLevel.NONE]
        for d in persisted:
            d.persist()
        try:
            # a fresh Dataset: a Dataset fixes its physical plan, cache
            # lookups included, at its first action
            rows = self._df.select("*").collect()
        finally:
            for d in persisted:
                d.unpersist()
        cols = self._df.columns
        if ERROR_COL not in cols:
            return ExecutionResult(rows, [])
        i = cols.index(ERROR_COL)
        fields = cols[:i] + cols[i + 1 :]
        results, errors = [], []
        for r in rows:
            if r[i] is None:
                results.append(_create_row(fields, r[:i] + r[i + 1 :]))
            else:
                errors.append(r[i])
        return ExecutionResult(results, errors)


class ExecutionBuilder:
    """Fluent pipeline builder, mirroring
    ``create_builder(reader).map(m).filter(f).reshuffle().collect()
    .accumulate(a).create_execution()``
    (``/root/reference/rust_api/libmr/execution_builder.rs:38-132``)."""

    def __init__(
        self,
        spark: SparkSession,
        reader,
        args: Any = None,
        registry: Registry | None = None,
    ):
        self.spark = spark
        self.registry = registry or GLOBAL_REGISTRY
        self._steps: list[_Step] = []
        self._max_idle_ms: int | None = None
        if isinstance(reader, DataFrame):
            impl = StepImpl("<df>", StepType.READER, lambda s, a: reader)
            self._steps.append(_Step(StepType.READER, "<df>", None, impl))
        else:
            impl = _resolve(self.registry, StepType.READER, reader)
            self._steps.append(_Step(StepType.READER, impl.name, args, impl))

    # -- pipeline steps ------------------------------------------------
    def map(self, fn, args: Any = None, *, relational: bool | None = None, out_schema: str | None = None):
        impl = _resolve(self.registry, StepType.MAPPER, fn, relational_default=relational is not False)
        # copy before overriding — _resolve may return the registry-owned
        # instance, and a per-call override must not rewrite the global step
        if relational is not None and impl.relational != relational:
            impl = dataclasses.replace(impl, relational=relational)
        if out_schema is not None and impl.out_schema != out_schema:
            impl = dataclasses.replace(impl, out_schema=out_schema)
        self._steps.append(_Step(StepType.MAPPER, impl.name, args, impl))
        return self

    def filter(self, fn, args: Any = None, *, relational: bool | None = None):
        impl = _resolve(self.registry, StepType.FILTER, fn, relational_default=relational is not False)
        if relational is not None and impl.relational != relational:
            impl = dataclasses.replace(impl, relational=relational)
        self._steps.append(_Step(StepType.FILTER, impl.name, args, impl))
        return self

    def accumulate(self, fn, args: Any = None):
        impl = _resolve(self.registry, StepType.ACCUMULATOR, fn)
        if isinstance(impl.fn, PyAccumulator) and impl.relational:
            impl = dataclasses.replace(impl, relational=False)
        self._steps.append(_Step(StepType.ACCUMULATOR, impl.name, args, impl))
        return self

    def reshuffle(self, key=None, num_partitions: int | None = None):
        """Hash-repartition by ``key`` (column name/Column/list). The
        reference routes by each record's hashTag slot
        (/root/reference/src/mr.c:736-785); Murmur3 hash partitioning
        is the Spark-native equivalent (SURVEY §1.4)."""
        s = _Step(StepType.RESHUFFLE, None, num_partitions, None)
        s.key = key
        self._steps.append(s)
        return self

    def collect(self):
        """Gather to the initiator (/root/reference/src/mr.c:812-862).
        Compiled as: global scope for a following accumulate; a
        single-partition gather for Python steps that follow."""
        self._steps.append(_Step(StepType.COLLECT, None, None, None))
        return self

    def max_idle(self, ms: int):
        """≈ MR_SetMaxIdle (/root/reference/src/mr.h:169)."""
        self._max_idle_ms = ms
        return self

    # -- spec round-trip (the reference's wire format: names + args,
    #    /root/reference/src/mr.c:1259-1286) ---------------------------
    def to_spec(self) -> list[dict]:
        out = []
        for s in self._steps:
            if s.name is not None and s.name.startswith("<"):
                raise ExecutionError(f"step {s.name} is inline; only named steps serialize")
            out.append({"type": s.step_type.value, "name": s.name, "args": s.args, "key": s.key})
        return out

    @classmethod
    def from_spec(cls, spark: SparkSession, spec: list[dict], registry: Registry | None = None) -> "ExecutionBuilder":
        registry = registry or GLOBAL_REGISTRY
        if not spec or spec[0]["type"] != StepType.READER.value:
            raise ExecutionError("spec must start with a reader")
        b = cls(spark, spec[0]["name"], spec[0].get("args"), registry)
        for s in spec[1:]:
            t = StepType(s["type"])
            if t is StepType.MAPPER:
                b.map(s["name"], s.get("args"))
            elif t is StepType.FILTER:
                b.filter(s["name"], s.get("args"))
            elif t is StepType.ACCUMULATOR:
                b.accumulate(s["name"], s.get("args"))
            elif t is StepType.RESHUFFLE:
                b.reshuffle(s.get("key"), s.get("args"))
            elif t is StepType.COLLECT:
                b.collect()
            else:
                raise ExecutionError(f"unknown step type {t}")
        return b

    # -- compile -------------------------------------------------------
    def create_execution(self) -> Execution:
        df: DataFrame | None = None
        shared: list[DataFrame] = []
        collected = False

        for s in self._steps:
            impl = s.impl
            if s.step_type is StepType.READER:
                df = impl.fn(self.spark, s.args)
            elif s.step_type is StepType.MAPPER:
                if impl.relational:
                    df = _carry_errors(df, lambda d: impl.fn(d, s.args) if s.args is not None else impl.fn(d), shared)
                else:
                    df = _py_map_stage(df, impl.fn, s.args, impl.out_schema)
            elif s.step_type is StepType.FILTER:
                if impl.relational:
                    pred = impl.fn(df, s.args) if s.args is not None else impl.fn(df)
                    if not isinstance(pred, Column):
                        raise ExecutionError("relational filter must return a Column predicate")
                    if ERROR_COL in df.columns:
                        pred = pred | F.col(ERROR_COL).isNotNull()
                    df = df.filter(pred)
                else:
                    df = _py_filter_stage(df, impl.fn, s.args)
            elif s.step_type is StepType.RESHUFFLE:
                n = s.args
                if s.key is None:
                    df = df.repartition(n) if n else df.repartition(self.spark.sparkContext.defaultParallelism)
                else:
                    keys = s.key if isinstance(s.key, (list, tuple)) else [s.key]
                    keys = [F.col(k) if isinstance(k, str) else k for k in keys]
                    df = df.repartition(n, *keys) if n else df.repartition(*keys)
            elif s.step_type is StepType.COLLECT:
                collected = True
            elif s.step_type is StepType.ACCUMULATOR:
                if impl.relational:
                    exprs = impl.fn(s.args) if s.args is not None else impl.fn()
                    if isinstance(exprs, Column):
                        exprs = [exprs]
                    if collected:
                        # Global agg that emits NOTHING on empty input
                        # (/root/reference/src/mr.c:794-798): grouped agg
                        # on a constant yields 0 rows when input is empty.
                        def agg(d: DataFrame) -> DataFrame:
                            return d.groupBy(F.lit(1).alias("__g__")).agg(*exprs).drop("__g__")
                    else:
                        # per-shard partial: one row per non-empty partition
                        def agg(d: DataFrame) -> DataFrame:
                            return (
                                d.withColumn("__pid__", F.spark_partition_id())
                                .groupBy("__pid__")
                                .agg(*exprs)
                                .drop("__pid__")
                            )

                    df = _carry_errors(df, agg, shared)
                else:
                    df = _py_accumulate_stage(df, impl.fn, global_fold=collected)
            else:
                raise ExecutionError(f"unhandled step {s.step_type}")

        return Execution(self.spark, df, shared, self._max_idle_ms)

    def run(self) -> ExecutionResult:
        return self.create_execution().run()


def create_builder(spark: SparkSession, reader, args: Any = None, registry: Registry | None = None) -> ExecutionBuilder:
    """≈ MR_CreateExecutionBuilder (/root/reference/src/mr.c:336-356)."""
    return ExecutionBuilder(spark, reader, args, registry)
