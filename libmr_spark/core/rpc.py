"""Point and broadcast task analogs of the reference's RPC surface.

* ``run_on_key`` ≈ MR_RunOnKey (``/root/reference/src/mr.c:2120-2173``):
  run a named task against the rows owning one key.
* ``run_on_all_shards`` ≈ MR_RunOnAllShards
  (``/root/reference/src/mr.c:2263-2311``): run a task once per shard
  and gather the per-shard results at the initiator.
* ``internal_command`` ≈ the reference's internal-commands execution
  (``src/mr.c:1160-1220``): named admin commands fanned
  out to every shard, one reply record per (shard, command).

A **shard** is one of Spark's own planned partitions of ``df``. For a
file scan that is one ``FilePartition`` of the executed plan's
``FileSourceScanExec.inputRDD()``: a group of file splits that one task
reads. Both paths below fan out over exactly those partitions, in
partition order.

**The driver-local gate.** The reference short-circuits to a direct
call when the data is local (``src/mr.c:2133-2136``); here the analog
is answering on the driver, with no Spark job, from a frame Spark would
only scan. One structural rule decides it (``_bare_local_scan``), with
no knob; every condition must hold:

- the analyzed plan is a ``LogicalRelation`` over a parquet
  ``HadoopFsRelation`` read with no option beyond its path, through an
  ``InMemoryFileIndex``, and the frame is not cached by the caller;
- every root path is a ``file:`` path (so is every file listed under
  it), and ``spark.sql.files.ignoreCorruptFiles`` /
  ``ignoreMissingFiles`` are off.

Its three consumers add their own conditions on top:

- ``run_on_key`` reads the matching rows with ``pyarrow.dataset`` (the
  key filter pushed into the scan) into a ``LocalRelation`` of exactly
  ``df.schema``, when also: ``key_col`` names exactly one field and the
  Python type of ``key`` is that field's type without coercion
  (``smalldf._KEY_TYPES``); every column is of an Arrow-exact type
  (``smalldf.exact_type``; timestamps and nested types do not qualify)
  and every file stores each column it has under that exact name and
  Arrow type (``smalldf.stored_exactly``); a hive-partitioned scan has
  a single root path; and the input is under
  ``smalldf._DRIVER_READ_MAX_BYTES``.
- ``run_on_all_shards`` with the built-in ``dbsize`` task and no
  ``args``, and
- ``internal_command`` when every command needs only a row count
  (``DBSIZE``, ``PING``, and unknown commands, which reply ``ERR …``),
  answer from parquet footers: a shard's size is the sum of the footer
  ``num_rows`` of its files. The executed plan must be a single
  ``FileSourceScanExec`` leaf and every split a whole file. The sizes
  go through the same per-shard reply code the distributed path runs,
  and the replies come back as a ``LocalRelation`` of ``out_schema``
  (every field of an Arrow-exact type, every reply a dict with exactly
  its field names, accepted by PySpark's row verifier).

Anything else, or an Arrow or OS error on the way, takes the
distributed twin: a keyed filter that Catalyst turns into
partition/file pruning plus parquet predicate pushdown (SURVEY §7.4),
or a ``mapInPandas`` fan-out gathered by ``collect``. A fan-out that
needs only row counts first projects ``df`` to one literal column, so
the scan decodes no column (a zero-column projection fails in the
Python worker); ``MEMORY`` and user tasks see the full frame.
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
from .smalldf import _DRIVER_READ_MAX_BYTES, _KEY_TYPES, exact_type, local_df, stored_exactly

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


def _bare_local_scan(df: DataFrame):
    """The ``HadoopFsRelation`` ``df`` scans when it passes the
    driver-local gate in the module docstring, else None."""
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
        or not set(rel.options().keySet().mkString("\n").split("\n")) <= {"", "path"}
        or conf.get("spark.sql.files.ignoreCorruptFiles").lower() != "false"
        or conf.get("spark.sql.files.ignoreMissingFiles").lower() != "false"
        or df.storageLevel != StorageLevel.NONE
        # a root's file system lists its files: file: roots, file: inputs
        or not all(p.startswith("file:") for p in index.rootPaths().mkString("\n").split("\n"))
    ):
        return None
    return rel


def _local_path(uri: str) -> str:
    return unquote(urlsplit(uri).path)


def _driver_local_hit(df: DataFrame, key_col: str, key: Any) -> DataFrame | None:
    """The rows of ``df`` where ``key_col == key``, read on the driver
    with pyarrow, or None when ``df`` fails ``run_on_key``'s gate."""
    fields = df.schema.fields
    key_fields = [f for f in fields if f.name == key_col]
    if (
        len(key_fields) != 1
        or not isinstance(key_fields[0].dataType, _KEY_TYPES.get(type(key), ()))
        or key != key  # Spark's NaN = NaN is true, Arrow's is false
        or not all(exact_type(f.dataType) for f in fields)
    ):
        return None
    rel = _bare_local_scan(df)
    if rel is None:
        return None
    index = rel.location()
    part_names = T.StructType.fromJson(json.loads(rel.partitionSchema().json())).names
    roots = index.rootPaths()
    if index.sizeInBytes() >= _DRIVER_READ_MAX_BYTES or (part_names and roots.size() != 1):
        return None
    uris = df.inputFiles()

    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(df.schema)
    try:
        data = ds.dataset(
            [_local_path(u) for u in uris],
            schema=schema,
            format="parquet",
            # Spark's partition values: hive dirs under the root, parsed to
            # the types Spark inferred, URI-unescaped, default-partition null
            partitioning=ds.partitioning(
                pa.schema([schema.field(n) for n in part_names]), flavor="hive"
            ) if part_names else None,
            partition_base_dir=roots.head().toUri().getPath() if part_names else None,
        )
        if not all(stored_exactly(schema, frag.physical_schema, part_names) for frag in data.get_fragments()):
            return None
        value = pa.scalar(key, schema.field(key_col).type)
        table = data.to_table(filter=ds.field(key_col) == value)
    except pa.ArrowException:
        return None
    return local_df(df.sparkSession, table, df.schema)


def _shard_sizes(df: DataFrame) -> list[int] | None:
    """The row count of each shard (planned partition) of ``df``, in
    partition order, from parquet footers and without a Spark job; None
    when ``df`` fails the gate, the plan is not a single file-scan leaf,
    a split covers part of a file, or a footer read fails."""
    if _bare_local_scan(df) is None:
        return None
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    if leaves.size() != 1 or leaves.head().getClass().getSimpleName() != "FileSourceScanExec":
        return None

    import pyarrow as pa
    import pyarrow.parquet as pq

    sizes = []
    try:
        for part in leaves.head().inputRDD().partitions():
            n = 0
            for f in part.files():
                if f.start() != 0 or f.length() != f.fileSize():
                    return None
                n += pq.read_metadata(_local_path(f.filePath().urlEncoded())).num_rows
            sizes.append(n)
    except (pa.ArrowException, OSError):
        return None
    return sizes


def _footer_replies(df: DataFrame, shard_rows: Callable[[pd.DataFrame], list], out_schema) -> DataFrame | None:
    """The fan-out answered on the driver: ``shard_rows`` (the per-shard
    reply code both paths run) applied to each shard as a column-less
    frame of its footer row count, the replies gathered in shard order
    into a ``LocalRelation`` of ``out_schema``; None when ``df`` or a
    reply leaves the gate (see the module docstring)."""
    schema = df.sparkSession._parse_ddl(out_schema) if isinstance(out_schema, str) else out_schema
    if not all(exact_type(f.dataType) for f in schema.fields):
        return None
    sizes = _shard_sizes(df)
    if sizes is None:
        return None
    rows = [r for n in sizes for r in shard_rows(pd.DataFrame(index=pd.RangeIndex(n)))]
    names = set(schema.names)
    if not all(isinstance(r, dict) and r.keys() == names for r in rows):
        return None  # the twin's by-name column match decides
    try:
        return local_df(df.sparkSession, rows, schema)
    except (TypeError, ValueError):
        return None  # a value the row verifier refuses: the twin's Arrow cast decides


def _one_column(df: DataFrame) -> DataFrame:
    """``df`` projected to one literal column: the rows and shards a
    count-only fan-out needs, with no column decoded."""
    return df.select(F.lit(0).alias("_"))


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
    """One task invocation per shard, each emitting at most one result
    row; the caller gathers with ``.collect()`` like the reference's
    initiator barrier (``src/mr.c:1904-1949``).
    ``timeout_ms`` bounds the whole fan-out+gather, as MR_RunOnAllShards'
    deadline does (``src/mr.c:2263-2311``). The built-in
    ``dbsize`` is answered from parquet footers on a frame that passes
    the driver-local gate, and otherwise counts the rows of a one-column
    projection; other tasks see every column.

    Example parity target: RemoteTaskDBSize — per-shard dbsize summed at
    the initiator (``/root/reference/tests/mr_test_module/src/lib.rs:478-505``)
    ≡ ``run_on_all_shards(df, dbsize, "n bigint")`` then sum.
    """
    fn = (registry or GLOBAL_REGISTRY).get(StepType.REMOTE_TASK, task).fn if isinstance(task, str) else task

    def shard_rows(part: pd.DataFrame) -> list[dict]:
        row = fn(part, args) if args is not None else fn(part)
        return [] if row is None else [row]

    if fn is dbsize and args is None:
        local = _footer_replies(df, shard_rows, out_schema)
        if local is not None:
            return _maybe_timed(local, timeout_ms)
        df = _one_column(df)

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [b for b in batches]
        rows = shard_rows(pd.concat(frames) if frames else pd.DataFrame())
        if rows:
            yield pd.DataFrame(rows)

    return _maybe_timed(df.mapInPandas(per_partition, schema=out_schema), timeout_ms)


#: The admin commands ``internal_command`` knows, each a reply from one
#: shard's rows; every one but ``MEMORY`` needs only their count.
_COMMANDS: dict[str, Callable[[pd.DataFrame], str]] = {
    "DBSIZE": lambda part: str(len(part)),
    "PING": lambda part: "PONG",
    "MEMORY": lambda part: str(int(part.memory_usage(deep=True).sum()) if len(part) else 0),
}


def _command_rows(part: pd.DataFrame, commands: list[str], reply_parser: Callable | None) -> list[dict]:
    """One shard's ``internal_command`` replies, one per command, with a
    failing command or parser as an ``ERR …`` record."""
    rows = []
    for cmd in commands:
        try:
            raw = _COMMANDS[cmd.upper()](part)
            rows.append(reply_parser(cmd, raw) if reply_parser else {"command": cmd, "reply": raw})
        except Exception as e:  # per-element error record
            rows.append({"command": cmd, "reply": f"ERR {e}"})
    return rows


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

    A command is a named admin operation evaluated against one shard's
    rows. One result row per (shard, command); a ``reply_parser`` turns
    the raw reply into the record shape, mirroring
    InternalCommandReplyParser (``src/mr.h:212-214``).
    Commands that need only row counts are answered from parquet
    footers on a frame that passes the driver-local gate, and otherwise
    from a one-column projection; ``MEMORY`` sees every column. A reply
    the driver path cannot carry sends the call to the twin, which runs
    ``reply_parser`` again.
    """

    def shard_rows(part: pd.DataFrame) -> list[dict]:
        return _command_rows(part, commands, reply_parser)

    if not any(isinstance(c, str) and c.upper() == "MEMORY" for c in commands):
        local = _footer_replies(df, shard_rows, out_schema)
        if local is not None:
            return local
        df = _one_column(df)

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [b for b in batches]
        yield pd.DataFrame(shard_rows(pd.concat(frames) if frames else pd.DataFrame()))

    return df.mapInPandas(per_partition, schema=out_schema)


def dbsize(part: pd.DataFrame) -> dict:
    """Per-shard record count (parity with RemoteTaskDBSize)."""
    return {"n": int(len(part))}


GLOBAL_REGISTRY_TASKS_INITIALIZED = False


def register_builtin_tasks(registry: Registry | None = None) -> None:
    from .registry import StepImpl

    reg = registry or GLOBAL_REGISTRY
    reg.register(StepImpl("dbsize", StepType.REMOTE_TASK, dbsize, relational=False))
