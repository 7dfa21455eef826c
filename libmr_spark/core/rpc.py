"""Point and broadcast task analogs of the reference's RPC surface.

* ``run_on_key`` ≈ MR_RunOnKey (``/root/reference/src/mr.c:2120-2173``):
  run a named task against the rows owning one key. The reference
  short-circuits to a direct call when the key's slot is local
  (``:2133-2136``); the analog here is a driver-local read. When ``df``
  is a small bare local parquet scan, the matching rows are read on the
  driver with ``pyarrow.dataset`` (the key filter pushed into the scan)
  and come back as a ``LocalRelation`` frame with exactly ``df.schema``,
  which collects without a Spark job. The gate is one rule and has no
  knob; every condition must hold:

  - the analyzed plan is a ``LogicalRelation`` over a parquet
    ``HadoopFsRelation`` read with no option beyond its path (and from a
    single root path when hive-partitioned), and the frame is not cached
    by the caller;
  - every input file is a ``file:`` path, and
    ``spark.sql.files.ignoreCorruptFiles`` / ``ignoreMissingFiles`` are off;
  - ``key_col`` names exactly one field, and the Python type of ``key``
    is that field's type without coercion (``smalldf._KEY_TYPES``);
  - every column is of an Arrow-exact type (``smalldf.exact_type``;
    timestamps and nested types do not qualify), and every file stores
    each column it has under that exact name and Arrow type;
  - the input is under ``smalldf._POINT_READ_DRIVER_MAX_BYTES``.

  Anything else, or an Arrow error on the way, takes the distributed
  twin: a keyed filter that Catalyst turns into partition/file pruning
  plus parquet predicate pushdown, at scan latency (SURVEY §7.4).

* ``run_on_all_shards`` ≈ MR_RunOnAllShards
  (``/root/reference/src/mr.c:2263-2311``): run a task once per shard
  and gather the per-shard results at the initiator — here one result
  row per partition via ``mapInPandas``, gathered by ``collect``.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Iterator
from urllib.parse import unquote, urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from .builder import run_with_job_group_timeout
from .registry import GLOBAL_REGISTRY, Registry, StepType
from .smalldf import _KEY_TYPES, _POINT_READ_DRIVER_MAX_BYTES, exact_type, local_df

#: Error string raised when a per-call RPC deadline passes; matches the
#: reference's "Remote task timeout" (/root/reference/src/mr.c:2085-2099).
REMOTE_TASK_TIMEOUT_ERROR = "Remote task timeout"

_PARQUET_FORMAT = "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat"


def _maybe_timed(result: DataFrame, timeout_ms: int | None) -> DataFrame:
    """With a deadline set, the call becomes eager (the reference's RPC
    is always eager — the timer spans the remote call): run under a
    cancellable job group and re-wrap the rows so the caller still gets
    a DataFrame."""
    if timeout_ms is None:
        return result
    rows = run_with_job_group_timeout(
        result.sparkSession, result.collect, timeout_ms, REMOTE_TASK_TIMEOUT_ERROR
    )
    return local_df(result.sparkSession, rows, result.schema)


def _driver_local_hit(df: DataFrame, key_col: str, key: Any) -> DataFrame | None:
    """The rows of ``df`` where ``key_col == key``, read on the driver
    with pyarrow, or None when ``df`` fails the gate in the module
    docstring."""
    fields = df.schema.fields
    key_fields = [f for f in fields if f.name == key_col]
    if (
        len(key_fields) != 1
        or not isinstance(key_fields[0].dataType, _KEY_TYPES.get(type(key), ()))
        or key != key  # Spark's NaN = NaN is true, Arrow's is false
        or not all(exact_type(f.dataType) for f in fields)
    ):
        return None
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if rel.getClass().getSimpleName() != "HadoopFsRelation" or rel.fileFormat().getClass().getName() != _PARQUET_FORMAT:
        return None
    index = rel.location()
    conf = df.sparkSession.conf
    if (
        index.getClass().getSimpleName() != "InMemoryFileIndex"
        or index.sizeInBytes() >= _POINT_READ_DRIVER_MAX_BYTES
        or not set(rel.options().keySet().mkString("\n").split("\n")) <= {"", "path"}
        or conf.get("spark.sql.files.ignoreCorruptFiles").lower() != "false"
        or conf.get("spark.sql.files.ignoreMissingFiles").lower() != "false"
        or df.storageLevel != StorageLevel.NONE
    ):
        return None
    uris = df.inputFiles()
    if not all(u.startswith("file:") for u in uris):
        return None
    part_names = T.StructType.fromJson(json.loads(rel.partitionSchema().json())).names
    roots = index.rootPaths()
    if part_names and roots.size() != 1:
        return None

    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(df.schema)
    by_lower = {n.lower(): n for n in schema.names}
    try:
        data = ds.dataset(
            [unquote(urlsplit(u).path) for u in uris],
            schema=schema,
            format="parquet",
            # Spark's partition values: hive dirs under the root, parsed to
            # the types Spark inferred, URI-unescaped, default-partition null
            partitioning=ds.partitioning(
                pa.schema([schema.field(n) for n in part_names]), flavor="hive"
            ) if part_names else None,
            partition_base_dir=roots.head().toUri().getPath() if part_names else None,
        )
        for frag in data.get_fragments():
            for f in frag.physical_schema:
                name = by_lower.get(f.name.lower())
                # Spark matches names case-insensitively and takes partition
                # values over file columns: only exact matches read the same
                if name is not None and (
                    name != f.name or name in part_names or schema.field(name).type != f.type
                ):
                    return None
        value = pa.scalar(key, schema.field(key_col).type)
        table = data.to_table(filter=ds.field(key_col) == value)
    except pa.ArrowException:
        return None
    return local_df(df.sparkSession, table, df.schema)


def run_on_key(
    df: DataFrame,
    key_col: str,
    key: Any,
    task: str | Callable[[DataFrame, Any], DataFrame] | None = None,
    args: Any = None,
    registry: Registry | None = None,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Point lookup: rows of ``df`` where ``key_col == key``, optionally
    post-processed by a named remote task. The reference short-circuits
    to a local call when the slot is local
    (``src/mr.c:2133-2136``); here a small bare local
    parquet scan is read on the driver with pyarrow into a zero-job
    ``LocalRelation`` of the same schema (the gate is in the module
    docstring), and any other ``df`` is filtered by Spark. ``task`` and
    ``timeout_ms`` apply to either hit alike; ``timeout_ms`` mirrors
    MR_RunOnKey's per-call deadline (``/root/reference/src/mr.c:2085-2099``).
    """
    hit = _driver_local_hit(df, key_col, key)
    if hit is None:
        hit = df.filter(F.col(key_col) == F.lit(key))
    if task is None:
        return _maybe_timed(hit, timeout_ms)
    fn = (registry or GLOBAL_REGISTRY).get(StepType.REMOTE_TASK, task).fn if isinstance(task, str) else task
    out = fn(hit, args) if args is not None else fn(hit)
    return _maybe_timed(out, timeout_ms)


def run_on_all_shards(
    df: DataFrame,
    task: str | Callable[[pd.DataFrame, Any], dict],
    out_schema: str,
    args: Any = None,
    registry: Registry | None = None,
    timeout_ms: int | None = None,
) -> DataFrame:
    """One task invocation per partition ("shard"), each emitting one
    result row; the caller gathers with ``.collect()`` like the
    reference's initiator barrier (``/root/reference/src/mr.c:1904-1949``).
    ``timeout_ms`` bounds the whole fan-out+gather, as MR_RunOnAllShards'
    deadline does (``/root/reference/src/mr.c:2263-2311``).

    Example parity target: RemoteTaskDBSize — per-shard dbsize summed at
    the initiator (``/root/reference/tests/mr_test_module/src/lib.rs:478-505``)
    ≡ ``run_on_all_shards(df, dbsize, "n bigint")`` then sum.
    """
    fn = (registry or GLOBAL_REGISTRY).get(StepType.REMOTE_TASK, task).fn if isinstance(task, str) else task

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [b for b in batches]
        part = pd.concat(frames) if frames else pd.DataFrame()
        row = fn(part, args) if args is not None else fn(part)
        if row is not None:
            yield pd.DataFrame([row])

    return _maybe_timed(df.mapInPandas(per_partition, schema=out_schema), timeout_ms)


def internal_command(
    df: DataFrame,
    commands: list[str],
    reply_parser: Callable[[str, Any], dict] | None = None,
    out_schema: str = "command string, reply string",
) -> DataFrame:
    """Analog of the reference's internal-commands execution
    (``/root/reference/src/mr.c:1160-1220``): a pipeline consisting
    only of named commands, fanned out to every shard, each reply
    parsed into a record on the initiator; per-element errors become
    error records (``/root/reference/src/mr.c:1203-1214``).

    Here a "shard" is a partition and a command is a named admin
    operation evaluated against the partition's rows. One result row
    per (partition, command); a ``reply_parser`` turns the raw reply
    into the record shape, mirroring InternalCommandReplyParser
    (``/root/reference/src/mr.h:212-214``).
    """
    known = {
        "DBSIZE": lambda part: str(len(part)),
        "PING": lambda part: "PONG",
        "MEMORY": lambda part: str(int(part.memory_usage(deep=True).sum()) if len(part) else 0),
    }

    def per_partition(batches) -> "Iterator[pd.DataFrame]":
        frames = [b for b in batches]
        part = pd.concat(frames) if frames else pd.DataFrame()
        rows = []
        for cmd in commands:
            try:
                raw = known[cmd.upper()](part)
                rows.append(
                    reply_parser(cmd, raw) if reply_parser else {"command": cmd, "reply": raw}
                )
            except Exception as e:  # per-element error record
                rows.append({"command": cmd, "reply": f"ERR {e}"})
        yield pd.DataFrame(rows)

    return df.mapInPandas(per_partition, schema=out_schema)


def dbsize(part: pd.DataFrame) -> dict:
    """Per-shard record count (parity with RemoteTaskDBSize)."""
    return {"n": int(len(part))}


GLOBAL_REGISTRY_TASKS_INITIALIZED = False


def register_builtin_tasks(registry: Registry | None = None) -> None:
    from .registry import StepImpl

    reg = registry or GLOBAL_REGISTRY
    reg.register(StepImpl("dbsize", StepType.REMOTE_TASK, dbsize, relational=False))
