"""The benchmark's closed-loop workloads and the harness that times
their ops.

One client thread issues one op at a time and waits for its result
before issuing the next (a closed loop with one client).  Every op runs
under its own Spark job group, so the jobs, stages and tasks it caused
can be counted exactly afterwards.  An op that raises, or whose output
disagrees with the expected output, counts as failed.

* ``pipeline``: LibMR executions over the 150k-key ``KeysReader``
  keyspace and relational inventory queries, in shuffled full rounds of
  eight op types.  Loads the builder's Python ``mapInPandas`` stages,
  reshuffle, and the ``operators`` behind two inventory queries
  (``as_of_join``, ``top_k``), which are forced with the ``noop`` sink
  and checked against their DuckDB oracle on the warm-up pass.  No RPC,
  no sink.
* ``serve``: a 16-bucket parquet kv store, in shuffled full blocks of 20
  ops: 16 Zipf point reads through ``run_on_key``, 3 ``merge_upsert``
  batches of 256 keys confined to one bucket, 1
  ``run_on_all_shards('dbsize')`` plus ``internal_command(['DBSIZE',
  'PING'])``.  Every reply is checked against a driver-side model of
  the store.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd

from . import datagen, opgen, steps


class Mismatch(AssertionError):
    """An op's output disagrees with the expected output."""


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise Mismatch(msg)


@dataclass
class OpSample:
    kind: str
    ms: float  # inf when the op failed: a failed op misses every latency limit


@dataclass
class Harness:
    spark: object
    tracer: object
    samples: list[OpSample] = field(default_factory=list)
    counts: dict[str, tuple[int, int, int]] = field(default_factory=dict)  # kind -> jobs, stages, tasks
    warmup_ms: dict[str, float] = field(default_factory=dict)  # kind -> its warm-up op's latency
    attempted: int = 0
    failed: int = 0
    timed_from: int = 0  # id of the first timed op

    def start_timed(self) -> None:
        self.timed_from = self.attempted

    def run(self, kind: str, fn: Callable[[], None], *, warmup: bool = False, count: bool = False) -> None:
        """Run one op; record its latency unless it is a warm-up op, and
        with ``count`` the exact Spark jobs, stages and tasks it ran."""
        sc = self.spark.sparkContext
        op_id = self.attempted
        self.attempted += 1
        group = f"perfbench-op-{op_id}"
        sc.setJobGroup(group, kind)
        self.tracer.op = op_id
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                fn()
            ok = True
        except Exception:  # a failed op is counted, the run goes on
            print(f"op {op_id} ({kind}) failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            ok = False
        ms = (time.perf_counter() - t0) * 1e3
        self.tracer.op = -1
        self.failed += not ok
        if count:
            self.counts[kind] = self._job_counts(group)
        if warmup:
            self.warmup_ms[kind] = ms
        else:
            self.samples.append(OpSample(kind, ms if ok else math.inf))

    def _job_counts(self, group: str) -> tuple[int, int, int]:
        sc = self.spark.sparkContext
        # status events reach the tracker through the listener bus; drain
        # it so the counts are complete, not a race with the bus thread
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            for sid in st.getJobInfo(j).stageIds:
                info = st.getStageInfo(sid)
                if info is not None and info.numCompletedTasks > 0:  # skip reused stages
                    stages += 1
                    tasks += info.numCompletedTasks
        return len(jobs), stages, tasks


class Workload:
    name = ""
    ops: tuple[str, ...] = ()
    read_kinds: tuple[str, ...] = ()  # op kinds that change no stored data
    # kinds whose warm-up op differs from their timed op: their Spark work
    # is counted on their first timed op instead
    count_timed: tuple[str, ...] = ()
    min_rounds = 1

    def __init__(self, h: Harness, sf_dir: str, orders: pd.DataFrame, seed: int, work_dir: str):
        self.h, self.spark, self.sf_dir = h, h.spark, sf_dir
        self.rounds = iter(())  # endless rounds of ops, set by each workload

    def setup(self) -> None:
        """Stage fixtures and run one warm-up op of every type."""

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def _op(self, op) -> None:
        raise NotImplementedError

    def run_timed(self, deadline: float) -> None:
        """Full rounds of ops, so every run has the same op mix: at least
        ``min_rounds``, and another only while the last round's duration
        says it will end by the deadline (a round overrunning the deadline
        would stretch the run past the time it is given)."""
        done = 0
        while True:
            t0 = time.perf_counter()
            for op in next(self.rounds):
                kind = op if isinstance(op, str) else op.kind
                count = kind in self.count_timed and kind not in self.h.counts
                self.h.run(kind, lambda: self._op(op), count=count)
            done += 1
            now = time.perf_counter()
            if done >= self.min_rounds and now + (now - t0) > deadline:
                return


# -- pipeline ---------------------------------------------------------------


def canonical_rows(pdf: pd.DataFrame) -> list[str]:
    """Order-insensitive canonical form: columns sorted by name, each row
    joined as text, rows sorted (floats by repr, so a type drift shows)."""

    def cell(v) -> str:
        if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
            return "NULL"
        return repr(v) if isinstance(v, float) else str(v)

    cols = sorted(pdf.columns)
    return sorted("|".join(cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None))


def _checksum(rows: list[str]) -> str:
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


class Pipeline(Workload):
    name = "pipeline"
    ops = opgen.PIPELINE_OPS
    read_kinds = opgen.PIPELINE_OPS
    count_timed = opgen.PIPELINE_QUERY_OPS
    # a round (one op of each of eight types) takes 10-16 s on a 4-core
    # host: two rounds give every type two samples however busy the host
    min_rounds = 2

    def __init__(self, h, sf_dir, orders, seed, work_dir):
        super().__init__(h, sf_dir, orders, seed, work_dir)
        self.params, self.rounds = opgen.pipeline_plan(seed)
        self.expected = opgen.pipeline_expected(
            self.params,
            orders["o_orderkey"].to_numpy(),
            orders["o_orderstatus"].to_numpy(),
            orders["o_totalprice"].to_numpy(),
        )
        self.n_keys = len(orders)
        self.result_rows = self.error_rows = 0

    def _builder(self):
        from libmr_spark.core.builder import create_builder

        return create_builder(self.spark, "KeysReader", {"sf_dir": self.sf_dir})

    def _execute(self, kind: str) -> tuple[int, int, float | None]:
        """Run one op; return (result rows, error rows, folded value)."""
        from pyspark.sql import functions as F

        from libmr_spark.core.registry import PyAccumulator
        from libmr_spark.queries import QUERIES

        p = self.params
        if kind == "py_filter_map":
            res = (
                self._builder()
                .filter(steps.keep_shard, p.filter_shard, relational=False)
                .map(steps.double_value, p.fail, relational=False, out_schema="key string, value double")
                .run()
            )
            return len(res.results), len(res.errors), None
        if kind == "py_fold":
            def fold(fn):
                return PyAccumulator(zero=(0, 0.0), fn=fn, schema="n bigint, total double", finish=steps.fold_finish)

            per_shard, at_initiator = fold(steps.fold_record), fold(steps.fold_partial)
            res = self._builder().accumulate(per_shard).collect().accumulate(at_initiator).run()
            if not res.results:
                return 0, len(res.errors), None
            n, total = res.results[0]["n"], res.results[0]["total"]
            check(n == self.n_keys, f"py_fold folded {n} records, expected {self.n_keys}")
            return len(res.results), len(res.errors), total
        if kind == "rel_filter_reshuffle_map":
            mod, r = p.rel_shard
            res = (
                self._builder()
                .filter(lambda df: F.crc32(F.col("key")) % mod == r)
                .reshuffle("key")
                .map(steps.value_len, p.fail, relational=False, out_schema="key string, value_len int")
                .run()
            )
            return len(res.results), len(res.errors), None
        rows = QUERIES[kind].fn(self.spark, self.sf_dir).collect()
        return len(rows), 0, float(rows[0][0]) if kind == "kv_count" else None

    def _op(self, kind: str, warmup: bool = False) -> None:
        if kind in opgen.PIPELINE_QUERY_OPS:
            from libmr_spark.queries import QUERIES

            QUERIES[kind].fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            return
        results, errors, value = self._execute(kind)
        exp = self.expected[kind]
        check((results, errors) == (exp.results, exp.errors),
              f"{kind}: got {results} results / {errors} errors, expected {exp.results} / {exp.errors}")
        if exp.value is not None:
            check(value is not None and abs(value - exp.value) <= 1e-9 * abs(exp.value),
                  f"{kind}: got value {value}, expected {exp.value}")
        if warmup:
            self.result_rows += results
            self.error_rows += errors

    def _verify_query(self, con, kind: str) -> None:
        """Warm-up op of a noop-forced query: run it to the driver and
        compare its row count and a sorted checksum with the DuckDB
        oracle's (``QUERIES[kind].sql`` over the same parquet tables)."""
        from libmr_spark.queries import QUERIES

        got = canonical_rows(QUERIES[kind].fn(self.spark, self.sf_dir).toPandas())
        want = canonical_rows(con.sql(QUERIES[kind].sql).df())
        check(len(got) == len(want), f"{kind}: {len(got)} rows, oracle has {len(want)}")
        check(_checksum(got) == _checksum(want), f"{kind}: rows differ from the oracle")

    def setup(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in datagen.TABLE_NAMES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
            for kind in next(self.rounds):
                if kind in opgen.PIPELINE_QUERY_OPS:
                    self.h.run(kind, lambda: self._verify_query(con, kind), warmup=True)
                else:
                    self.h.run(kind, lambda: self._op(kind, warmup=True), warmup=True, count=True)
        finally:
            con.close()

    def layer_metrics(self) -> dict[str, float]:
        return {"builder.result_rows": self.result_rows, "builder.error_rows": self.error_rows}


# -- serve ------------------------------------------------------------------


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, their bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Serve(Workload):
    name = "serve"
    ops = opgen.SERVE_OPS
    read_kinds = ("read",)

    def __init__(self, h, sf_dir, orders, seed, work_dir):
        super().__init__(h, sf_dir, orders, seed, work_dir)
        keys, price = orders["o_orderkey"].to_numpy(), orders["o_totalprice"].to_numpy()
        self.model = opgen.initial_model(keys, price)
        self.warmup, self.rounds = opgen.serve_plan(seed, len(keys))
        self.store = os.path.join(work_dir, "store")
        self.staging = os.path.join(work_dir, "store_staging")
        self.user_bytes = self.written_bytes = 0

    def _open(self):
        return self.spark.read.parquet(self.store)

    def _read(self, op: opgen.Read) -> None:
        from libmr_spark.core import rpc

        df = self._open()
        with self.h.tracer.span("rpc.run_on_key"):  # the call and its reply
            rows = rpc.run_on_key(df, "key", op.key).select("value").collect()
        want = self.model.get(op.key)
        if want is None:
            check(not rows, f"read {op.key}: got {len(rows)} rows for an absent key")
            return
        check(len(rows) == 1, f"read {op.key}: got {len(rows)} rows")
        got = rows[0][0]
        ok = got == want if isinstance(want, str) else float(got) == want
        check(ok, f"read {op.key}: got {got!r}, model holds {want!r}")

    def _write(self, op: opgen.Upsert) -> None:
        from libmr_spark.sources import sinks

        keys = [k for k, _ in op.rows]
        values = [v for _, v in op.rows]
        pdf = pd.DataFrame({"key": keys, "value": values, "type": "string",
                            "bucket": np.full(len(keys), op.bucket, dtype=np.int32)})
        updates = self.spark.createDataFrame(pdf, schema="key string, value string, type string, bucket int")
        sinks.merge_upsert(self.spark, self.store, updates, ["key"], "bucket", staging_path=self.staging)
        self.model.update(op.rows)  # acknowledged: the model follows
        self.user_bytes += sum(len(k) + len(v) for k, v in op.rows)
        self.written_bytes += (_dir_stats(os.path.join(self.store, f"bucket={op.bucket}"))[1]
                               + _dir_stats(self.staging)[1])

    def _admin(self, op: opgen.Admin) -> None:
        from libmr_spark.core import rpc

        df = self._open()
        with self.h.tracer.span("rpc.run_on_all_shards"):
            n = sum(r[0] for r in rpc.run_on_all_shards(df, "dbsize", "n bigint").collect())
        check(n == len(self.model), f"dbsize {n}, model holds {len(self.model)} keys")
        df = self._open()
        with self.h.tracer.span("rpc.internal_command"):
            replies = rpc.internal_command(df, ["DBSIZE", "PING"]).collect()
        size = sum(int(r.reply) for r in replies if r.command == "DBSIZE")
        check(size == len(self.model), f"DBSIZE replies sum to {size}, model holds {len(self.model)} keys")
        check(all(r.reply == "PONG" for r in replies if r.command == "PING"), "PING without PONG")

    def _op(self, op) -> None:
        {"read": self._read, "write": self._write, "admin": self._admin}[op.kind](op)

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from libmr_spark.core import partitioner
        from libmr_spark.sources import readers, sinks

        kv = readers.kv_table(self.spark, self.sf_dir)
        staged = kv.withColumn("bucket", (partitioner.slot_col("key") % opgen.N_BUCKETS).cast("int"))
        sinks.write_parquet(staged, self.store, partition_by=["bucket"])
        for op in self.warmup:
            self.h.run(op.kind, lambda: self._op(op), warmup=True, count=True)

    def layer_metrics(self) -> dict[str, float]:
        files, size = _dir_stats(self.store)
        live = sum(len(k) + (len(v) if isinstance(v, str) else len(repr(v))) for k, v in self.model.items())
        writes = [s.ms for s in self.h.samples if s.kind == "write"]
        reads = [s.ms for s in self.h.samples if s.kind == "read"]
        return {
            "sinks.store_files": files,
            "sinks.store_bytes_per_live_byte": size / live,
            "sinks.bytes_written_per_user_byte": self.written_bytes / self.user_bytes if self.user_bytes else 0.0,
            "serve.write_p50_ms": float(np.median(writes)) if writes else 0.0,
            "serve.read_p90_ms": float(np.quantile(reads, 0.9)) if reads else 0.0,
        }


WORKLOADS = {w.name: w for w in (Pipeline, Serve)}
