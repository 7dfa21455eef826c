"""Scan-layout helpers.

``fan_out`` fixes the "one huge unsplittable input split" shape (guide
§2.5): a scan whose physical parallelism is below the session's core
count serializes every downstream per-row cost (Arrow UDF batches,
window explodes, bucket self-joins) onto a handful of tasks.  The fix
is the canonical one — repartition immediately after the read — but
GUARDED so it is a no-op at scale: when the scan already has at least
``defaultParallelism`` partitions (any real multi-file table), no
exchange is added.  Every caller is an operator whose result is
partitioning-independent by construction (associative integer sums,
per-row signatures, equi-join candidate generation), so the oracle
hash cannot change.

Materialisation. This module is the one place the engine freezes an
intermediate. ``freeze(df)`` takes an eager ``localCheckpoint`` (one
job: the frame is computed, kept in executor memory or disk, and its
lineage cut) and records it in the innermost open ``materialised()``
scope; ``release(df)`` frees one frozen frame at once, through its
``LogicalRDD``'s RDD, since ``DataFrame.unpersist`` on a checkpointed
frame frees nothing. ``with materialised():`` releases everything frozen
inside it when the block exits, frames frozen on worker threads that
run in a copy of the opening context included. The caller owns the
scope and operators never open one: an operator may return a lazy
frame that reads its frozen intermediates, and those stay alive until
the caller's scope closes; reading such a frame after that raises.
Outside any scope ``freeze`` is a plain eager ``localCheckpoint`` and
its blocks stay until Spark's context cleaner finds them unreachable.
The one cache call outside this module is ``builder.Execution._run``'s
lazy ``persist`` of the frames two branches read: it lives for the one
action of an execution and is released in that method's ``finally``.
"""

from __future__ import annotations

import contextlib
import contextvars

from pyspark.sql import DataFrame

#: The innermost open ``materialised()`` scope: the frozen RDDs it
#: releases on exit, by RDD id; None outside any scope.
_SCOPE: contextvars.ContextVar[dict | None] = contextvars.ContextVar("libmr_materialised", default=None)


#: Partition-count gate for ``rebalanced(probe=True)``: a frame already
#: at or below this many partitions writes at most this many files —
#: adding a REBALANCE exchange there is pure overhead (~0.2-0.5 s of
#: extra stage per store commit, measured on the matview/minhash soaks).
_REBALANCE_MIN_PARTS = 8


#: Tree patterns of the logical operators that plan a shuffle when the
#: frame runs (a subquery expression plans a job of its own).
_SHUFFLE_PATTERNS = (
    "AGGREGATE", "JOIN", "AS_OF_JOIN", "LATERAL_JOIN", "DISTINCT_LIKE", "INTERSECT", "EXCEPT",
    "REPARTITION_OPERATION", "REBALANCE_PARTITIONS", "SORT", "WINDOW", "PLAN_EXPRESSION",
)


def _plans_shuffle(df: DataFrame) -> bool:
    """Whether ``df``'s analyzed plan holds an aggregate, join,
    repartition, window or other shuffling operator, read from Catalyst's
    tree-pattern bits without planning it."""
    plan = df._jdf.queryExecution().analyzed()
    patterns = df.sparkSession._jvm.org.apache.spark.sql.catalyst.trees.TreePattern
    return any(plan.containsPattern(getattr(patterns, name)()) for name in _SHUFFLE_PATTERNS)


def rebalanced(df: DataFrame, *key_cols: str, probe: bool = False) -> DataFrame:
    """Size-targeted output partitioning for store-table writes (guide
    §6 — aim for advisory-sized output files): an AQE ``REBALANCE``
    shuffle whose reducer count is coalesced toward
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` — one file for
    a KB-scale commit batch, ~64 MB files at production scale (the
    same shuffle-before-write Iceberg's hash distribution mode pays
    for the same reason).  Without it a NARROW-lineage or checkpointed
    write inherits the upstream stage's parallelism-first partition
    count (measured: a 32-slice checkpointed commit batch writes 32
    tiny files; every later commit re-lists and re-scans all history,
    so the fragmentation compounds — and scales with CORE COUNT, the
    r11 32-vs-8-core lifecycle anti-scaling).  Pass ``key_cols`` to
    keep the written files clustered by a key the store's readers
    prune on.

    Store writes do not call this directly: ``core.store``'s one sizing
    rule (its module docstring) decides, and reaches here only for a
    frame with no shuffle of its own. ``probe=True`` (for frames whose
    partition count is knowable WITHOUT running jobs: checkpointed /
    narrow-over-scan lineage) skips the hint when the frame is already
    at most ``_REBALANCE_MIN_PARTS`` partitions. A frame whose logical
    plan has a shuffle (``_plans_shuffle``) is not probed and keeps the
    hint: ``.rdd`` on a lazy shuffle-tailed frame materializes its AQE
    stages.

    With ``key_cols`` a key's rows usually land in one file, but not
    always: AQE (``optimizeSkewsInRebalancePartitions``, on by default)
    splits a reducer partition larger than the advisory size, and a
    hot key group can then span files. Callers may rely on clustering
    for pruning, never on one file per key group.

    Under a non-AQE plan the hint degrades to a plain shuffle — no
    worse than the status quo (and foreachBatch batch plans DO get AQE
    in Spark 4: verified 32 files -> 1 inside a micro-batch)."""
    if probe:
        try:
            if not _plans_shuffle(df) and df.rdd.getNumPartitions() <= _REBALANCE_MIN_PARTS:
                return df
        except Exception:  # noqa: BLE001 — probe failure must never break a commit
            pass
    if key_cols:
        return df.hint("rebalance", *key_cols)
    return df.hint("rebalance")


def fan_out(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition ``df`` to ``defaultParallelism`` on
    ``key_cols`` (deterministic — no round-robin retry hazard,
    SPARK-38388) when its current physical parallelism is below the
    session core count; return ``df`` unchanged otherwise.  Call it on
    a cheap frame (scan + projection) — the partition-count probe
    compiles the physical plan but runs no job."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — probe failure must never break the query
        return df
    if n >= target:
        return df
    if key_cols:
        return df.repartition(target, *key_cols)
    return df.repartition(target)


def _frozen_rdd(df: DataFrame):
    """The JVM RDD that holds a frozen frame's blocks."""
    return df._jdf.queryExecution().analyzed().rdd()


def freeze(df: DataFrame) -> DataFrame:
    """``df`` computed now and kept, with its lineage cut, for the
    innermost open ``materialised()`` scope (module docstring)."""
    frozen = df.localCheckpoint(eager=True)
    scope = _SCOPE.get()
    if scope is not None:
        rdd = _frozen_rdd(frozen)
        scope[rdd.id()] = rdd
    return frozen


def release(df: DataFrame) -> None:
    """Free the blocks of ``df``, a frame ``freeze`` returned, now."""
    rdd = _frozen_rdd(df)
    scope = _SCOPE.get()
    if scope is not None:
        scope.pop(rdd.id(), None)
    rdd.unpersist(True)


@contextlib.contextmanager
def materialised():
    """``with materialised():`` releases every frame frozen inside the
    block when it exits, however it exits."""
    scope: dict = {}
    token = _SCOPE.set(scope)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for rdd in scope.values():
            rdd.unpersist(True)
