"""Sinks. The reference's only "sink" is a side-effecting map writing
back into Redis (WriteDummyString,
``/root/reference/tests/mr_test_module/src/lib.rs:741-764``) or a RESP
reply to the client (``/root/reference/src/mr.h:244,250``).

Spark-native sinks: table writes (parquet/csv/json) and store
maintenance (merge, compaction, retention). At scale, a write is a job:
partition the output sensibly (``partitionBy`` for pruning on read,
sorted-within-partitions for locality) rather than coalescing to one
file.
"""

from __future__ import annotations

import contextlib
import re

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def merge_upsert(
    spark,
    base_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
    staging_path: str | None = None,
) -> None:
    """Copy-on-write MERGE (upsert) into a hive-partitioned parquet
    table: rows in ``updates`` replace base rows with the same key;
    unmatched update rows are inserted. Only the partitions present in
    the updates are read and rewritten, each as one file for a KB-scale
    batch; the others are never touched. ``staging_path`` is unused and
    kept for callers that pass it.

    The batch is checked first: at most one row per key, and the
    partition list. A driver-bounded batch (``smalldf.is_local``: built
    by ``smalldf.local_df`` or from pandas/Arrow) whose key and
    partition columns group in Spark exactly as their Python values
    compare is gathered by one ``collect`` that starts no Spark job and
    checked on the driver; any other batch is checked by Spark. Both
    raise the same ``ValueError``.

    **Driver route.** The reference calls a shard directly when it is
    local (``src/mr.c:2133-2136``). A batch gathered on the driver is
    merged with pyarrow, with no Spark job, when every condition holds:

    - ``base_path`` is a local directory whose data schema comes from a
      Spark-written footer (``_footer_data_schema``: ``mergeSchema`` off,
      no summary file), and whose entries Spark lists are all
      ``<partition_col>=<v>`` directories, ``v`` a canonical integer or
      Spark's null partition;
    - the batch columns are exactly the base data columns plus
      ``partition_col``, by name, each of the base column's type, which
      is Arrow-exact (``smalldf.exact_type``); the keys name batch
      columns; ``partition_col`` is integral, needs no path escaping,
      and holds no null;
    - each touched partition directory holds only files, every file
      stores each column under its exact name and Arrow type
      (``smalldf.stored_exactly``), no footer asks for the legacy date
      calendar, and the touched files total less than
      ``smalldf._DRIVER_READ_MAX_BYTES``.

    The touched partitions are read, the base rows whose keys occur in
    the batch are dropped (an Arrow left-anti join, where null keys
    never match, as in Spark's), and the batch rows are appended. Each
    touched partition is written as one file that carries the base
    footer's Spark metadata, so later opens still read their schema
    from it. The files are staged under one hidden
    ``base_path/.merge-<uuid>/``; an error while staging removes it and
    leaves the table as it was. Then each partition is published by two
    renames: the live directory into the staging directory, the staged
    one into its place; the old files are removed after. Between the
    two renames a reader that lists the table misses the partition, and
    a process killed there leaves it missing, with its old files kept
    under the staging directory. That window is no wider than the Spark
    route's commit; neither is atomic.

    **Spark route.** Before any Spark job, a batch column that would
    change the type of a base data column in the union raises
    ``ValueError`` (``v int`` over ``v string``; an ``int`` column into
    a ``bigint`` base is widened and allowed). Any other batch or base
    is then merged by ONE Spark write of the touched partitions
    straight into ``base_path``: the
    touched partitions' rows (an ``isin`` filter that prunes at the file
    listing) minus the batch keys (a left-anti join), plus the batch,
    written as advisory-sized files (``rebalanced``) under
    ``partitionOverwriteMode=dynamic``. Spark's tasks write under the
    hidden ``base_path/.spark-staging-<job>``, and the job commit
    deletes each touched partition's directory and renames the staged
    one into its place: a failed write aborts before the commit and
    leaves the table exactly as it was, and the per-partition
    delete+rename is the exposure window. The base is opened with the
    data schema of one Spark-written footer when there is one, so the
    open runs no schema-inference job. A log-based table format turns
    either commit into one metadata swap.
    """
    from pyspark.sql import functions as F

    from ..core.layout import rebalanced

    footer = _spark_footer(spark, base_path)
    rows = _driver_rows(updates, keys, partition_col)
    if rows is not None:
        parts = _checked_parts(updates, keys, partition_col, rows)
        if not parts or (footer is not None and _driver_merge(
            base_path, footer, updates.schema, [r[len(keys) + 1:] for r in rows], keys, partition_col, parts
        )):
            return
    schema = footer[0] if footer is not None else None
    base = (spark.read.schema(schema) if schema is not None else spark.read).parquet(base_path)
    # a batch column the union would widen the base column to (``v int``
    # over ``v string``) would fail the write after the scans, or
    # rewrite the touched partitions with a type the others lack
    merged = base.unionByName(updates).schema
    for was, now in zip(base.schema.fields, merged.fields):
        if was.name.lower() != partition_col.lower() and was.dataType.simpleString() != now.dataType.simpleString():
            raise ValueError(
                f"update batch would change base column {was.name!r} from {was.dataType.simpleString()} "
                f"to {now.dataType.simpleString()}: cast the batch column to the base type"
            )
    if rows is None:
        parts = _checked_parts(updates, keys, partition_col)
        if not parts:
            return
    touched = base.filter(F.col(partition_col).isin(parts))
    survivors = touched.join(updates.select(*keys), keys, "left_anti")
    rebalanced(survivors.unionByName(updates), partition_col).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(partition_col).parquet(base_path)


#: The footer key under which Spark stores the schema of every parquet
#: file it writes; its schema inference reads this before the parquet
#: types (``ParquetFileFormat.readSchemaFromFooter``).
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: The footer key of a file whose dates Spark wrote in the legacy
#: hybrid calendar and rebases on read; pyarrow reads them unrebased.
_SPARK_LEGACY_DATES_KEY = b"org.apache.spark.legacyDateTime"

#: A hive partition directory value that Spark reads back as exactly
#: the integer it spells, or Spark's null partition.
_CANONICAL_INT_PARTITION = re.compile(r"0|-?[1-9][0-9]*|__HIVE_DEFAULT_PARTITION__")


def _hidden(name: str) -> bool:
    """Spark's rule for paths a file-index listing skips."""
    return (name.startswith("_") and "=" not in name) or name.startswith(".") or name.endswith("._COPYING_")


def _spark_footer(spark, path: str):
    """(the data schema, the Spark key-value metadata) of the footer
    Spark's schema inference would read for the parquet table at
    ``path``: the first data file in listing order. Spark's inference
    with ``mergeSchema`` off also reads one footer and assumes the files
    agree. None when ``mergeSchema`` is on, the table has a summary
    file, the file was not written by Spark or stores a partition
    column, or the read fails."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    if spark.conf.get("spark.sql.parquet.mergeSchema").lower() != "false":
        return None
    for root, dirs, files in os.walk(path):
        if "_metadata" in files or "_common_metadata" in files:
            return None
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        data = sorted(f for f in files if not _hidden(f))
        if not data:
            continue
        part_cols = {d.split("=", 1)[0].lower() for d in os.path.relpath(root, path).split(os.sep) if "=" in d}
        try:
            metadata = pq.read_metadata(os.path.join(root, data[0])).metadata or {}
        except (pa.ArrowException, OSError):
            return None
        if _SPARK_SCHEMA_KEY not in metadata:
            return None
        schema = T.StructType.fromJson(json.loads(metadata[_SPARK_SCHEMA_KEY]))
        if any(f.name.lower() in part_cols for f in schema.fields):
            return None
        return schema, {k: v for k, v in metadata.items() if k.startswith(b"org.apache.spark.")}
    return None


def _footer_data_schema(spark, path: str):
    """The data schema Spark would infer for the parquet table at
    ``path``, read from one Spark-written footer with pyarrow
    (``_spark_footer``), so the open starts no schema-inference job;
    Spark still infers the hive partition columns from the directory
    names. None (infer as usual) where ``_spark_footer`` gives none."""
    footer = _spark_footer(spark, path)
    return footer[0] if footer is not None else None


def _driver_rows(updates: DataFrame, keys: list[str], partition_col: str) -> list | None:
    """A driver-bounded batch whose key and partition columns are of
    ``smalldf._DRIVER_GROUPABLE_TYPES``, gathered by one job-free
    ``collect``: each row holds the key values, the partition value,
    then every column of ``updates``. None for any other batch."""
    from ..core.smalldf import _DRIVER_GROUPABLE_TYPES, exact_type, is_local

    lead = updates.select(*keys, partition_col)
    if is_local(updates) and all(exact_type(f.dataType, _DRIVER_GROUPABLE_TYPES) for f in lead.schema.fields):
        return updates.select(*keys, partition_col, "*").collect()
    return None


def _check_batch(
    updates: DataFrame, keys: list[str], partition_col: str, rows: list | None = None
) -> tuple[tuple | None, list]:
    """A merge batch's checks: (the values of one key that occurs more
    than once, or None; the distinct ``partition_col`` values). A batch
    that ``_driver_rows`` gathers (``rows``, else gathered here) is
    checked on the driver; any other by Spark."""
    from pyspark.sql import functions as F

    if rows is None:
        rows = _driver_rows(updates, keys, partition_col)
    if rows is not None:
        seen: set[tuple] = set()
        for r in rows:
            key = tuple(r[: len(keys)])
            if key in seen:
                return key, []
            seen.add(key)
        return None, list(dict.fromkeys(r[len(keys)] for r in rows))

    # MERGE contract: at most one source row per key (SQL MERGE raises
    # on multiple matches; silently inserting both would double rows)
    dup = updates.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        return tuple(dup[0][:-1]), []
    return None, [r[0] for r in updates.select(partition_col).distinct().collect()]


def _checked_parts(updates: DataFrame, keys: list[str], partition_col: str, rows: list | None = None) -> list:
    """The distinct ``partition_col`` values of a batch that passes
    ``_check_batch``, or ValueError for a key that occurs twice. No
    values for an empty batch, which the merge leaves as a no-op: a
    rewrite of zero rows would leave a schema-less parquet directory
    that poisons the next read."""
    dup, parts = _check_batch(updates, keys, partition_col, rows)
    if dup is not None:
        raise ValueError(
            f"duplicate key in update batch (e.g. {dict(zip(keys, dup))}): "
            "MERGE requires at most one source row per key"
        )
    return parts


def _driver_merge(base_path: str, footer, batch_schema, rows: list, keys: list[str], partition_col: str,
                  parts: list) -> bool:
    """``merge_upsert``'s driver route over the batch ``rows`` (tuples
    in ``batch_schema`` order) and the base's ``_spark_footer``: True
    when the merge is published, False, with nothing written, when the
    batch or the base fails the gate in ``merge_upsert``'s docstring."""
    import os
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..core.smalldf import _DRIVER_READ_MAX_BYTES, _KEY_TYPES, exact_type, stored_exactly

    data_schema, metadata = footer
    types = {f.name: f.dataType for f in batch_schema.fields}
    part_type = types.pop(partition_col, None)
    prefix = f"{partition_col}="
    if (
        len(batch_schema.fields) != len(data_schema.fields) + 1
        or types != {f.name: f.dataType for f in data_schema.fields}
        or not all(exact_type(t) for t in types.values())
        or not isinstance(part_type, _KEY_TYPES[int])
        or not partition_col.replace("_", "").isalnum()  # Spark escapes no such name
        or not set(keys) <= set(batch_schema.names)
        or None in parts
        or _SPARK_LEGACY_DATES_KEY in metadata
        or not all(
            d.startswith(prefix) and _CANONICAL_INT_PARTITION.fullmatch(d[len(prefix):])
            and os.path.isdir(os.path.join(base_path, d))
            for d in os.listdir(base_path) if not _hidden(d)
        )
    ):
        return False
    files, size = [], 0
    for v in parts:
        live = os.path.join(base_path, f"{prefix}{v}")
        for name in os.listdir(live) if os.path.isdir(live) else ():
            path = os.path.join(live, name)
            if os.path.isdir(path):
                return False
            if not _hidden(name):
                files.append(path)
                size += os.path.getsize(path)
    if size >= _DRIVER_READ_MAX_BYTES:
        return False

    schema = to_arrow_schema(T.StructType(
        [T.StructField(f.name, f.dataType) for f in (*data_schema.fields, batch_schema[partition_col])]
    ))
    columns = dict(zip(batch_schema.names, zip(*rows)))
    try:
        data = ds.dataset(
            files, schema=schema, format="parquet",
            partitioning=ds.partitioning(pa.schema([schema.field(partition_col)]), flavor="hive"),
            partition_base_dir=base_path,
        )
        for frag in data.get_fragments():
            physical = frag.physical_schema
            if not stored_exactly(schema, physical, [partition_col]) or _SPARK_LEGACY_DATES_KEY in (
                physical.metadata or {}
            ):
                return False
        batch = pa.table([pa.array(columns[f.name], f.type) for f in schema], schema=schema)
        survivors = data.to_table().join(batch.select(keys), keys, join_type="left anti", use_threads=False)
    except (pa.ArrowException, OSError):
        return False
    merged = pa.concat_tables([survivors, batch])

    stage = os.path.join(base_path, f".merge-{uuid.uuid4().hex}")
    try:
        for v in parts:
            os.makedirs(os.path.join(stage, f"{prefix}{v}"))
            part = merged.filter(pc.equal(merged[partition_col], v)).drop_columns([partition_col])
            # Spark's writer drops a column's dictionary when its first page
            # shows it does not pay; pyarrow keeps it, a third more bytes on
            # a column of unique keys
            head = part.slice(0, 1 << 16)
            pq.write_table(
                part.replace_schema_metadata(metadata),
                os.path.join(stage, f"{prefix}{v}", f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"),
                use_dictionary=[c for c in head.column_names if 2 * pc.count_distinct(head[c]).as_py() <= len(head)],
            )
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    for v in parts:
        live, aside = os.path.join(base_path, f"{prefix}{v}"), os.path.join(stage, f"live-{v}")
        if os.path.isdir(live):
            os.rename(live, aside)
        os.rename(os.path.join(stage, f"{prefix}{v}"), live)
        shutil.rmtree(aside, ignore_errors=True)
    os.rmdir(stage)
    return True


def compact_small_files(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    staging_path: str | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_bytes)`` files and return that count.

    The small-files problem is a first-order cost at warehouse scale —
    a 100 TB table ingested micro-batch-wise accretes millions of
    KB-sized files, and scan cost becomes file-listing + open overhead
    instead of IO. Compaction is one job: size the output file count
    from the ACTUAL byte total (never a hardcoded partition count),
    repartition, rewrite. Unlike ``merge_upsert``'s dynamic overwrite,
    this is a STATIC overwrite of the path it reads, which Spark
    refuses (correctly: it deletes the input before reading it), so
    the rewrite is staged to ``staging_path`` first and copied back; a
    log-based table format does this as a background OPTIMIZE with a
    metadata swap. For hive-partitioned tables, run per partition (or
    with dynamic overwrite on the touched partitions) so compaction
    cost tracks the churned partitions, not the table.
    """
    import math
    import os

    df = spark.read.parquet(path)
    total = sum(
        os.path.getsize(f.removeprefix("file://"))
        for f in df.inputFiles()
    )
    n_out = max(1, math.ceil(total / target_bytes))

    staging = staging_path or path.rstrip("/") + "__compact_staging"
    df.repartition(n_out).write.mode("overwrite").parquet(staging)
    spark.read.parquet(staging).write.mode("overwrite").parquet(path)
    return n_out


def write_sorted(
    df: DataFrame,
    path: str,
    range_col: str,
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, sorted-within-partition parquet write — the
    layout that makes min/max data skipping work: each output file
    covers a narrow ``range_col`` interval, so parquet row-group
    statistics prune almost every file/row-group for a range predicate.
    Unsorted writes spread every value range across every file and the
    same predicate prunes nothing (measured in
    ``test_sorted_write_skips_row_groups``). The 100 TB discipline:
    sort on the dominant filter column at WRITE time — it costs one
    shuffle once, and every subsequent scan pays only the matching
    row groups.

    Timestamp trap: Spark's default parquet timestamp encoding is
    INT96 (legacy interop), which carries NO min/max statistics — a
    sorted layout under INT96 skips nothing. The write forces
    ``TIMESTAMP_MICROS`` so footers carry stats (restoring the prior
    session setting afterwards)."""
    with _micros_timestamps(df.sparkSession):
        df.repartitionByRange(n_files, range_col).sortWithinPartitions(range_col).write.mode(mode).parquet(path)


@contextlib.contextmanager
def _micros_timestamps(spark):
    """Parquet timestamps written as ``TIMESTAMP_MICROS`` (with footer
    min/max statistics) inside the block; the session's setting is
    restored after."""
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def refresh_incremental_agg(
    spark,
    agg_path: str,
    delta_agg: DataFrame,
    keys: list[str],
    partition_col: str,
    merge_cols: list[str],
) -> None:
    """Incremental maintenance of a partitioned aggregate table (the
    materialized-view refresh pattern): ``delta_agg`` is the PARTIAL
    aggregate of newly-arrived rows, with the same schema as the agg
    table; each ``merge_cols`` entry must be a SUM-mergeable partial
    (counts, sums — avg is maintained as sum+count, never stored
    directly). The refresh touches only the partitions present in the
    delta: existing agg rows for those partitions are read back,
    unioned with the delta partials, re-summed per key, and
    merge-upserted — new keys insert, existing keys are replaced by
    the combined row, and every other partition's files are untouched.

    At 100 TB this is the difference between an O(|day's events|)
    nightly refresh and an O(|table|) full recompute. Correctness
    rests on partial-aggregate mergeability — the same property Spark
    itself exploits for map-side combine — so the refreshed table is
    bit-identical to a from-scratch aggregate (DECIMAL partials keep
    the sums exact under any arrival grouping)."""
    from pyspark.sql import functions as F

    if partition_col not in keys:
        raise ValueError(
            f"partition_col {partition_col!r} must be one of keys={keys}: "
            "the re-aggregation groups by keys, so a partition column "
            "outside them would be dropped before the partitioned write"
        )
    parts = [r[0] for r in delta_agg.select(partition_col).distinct().collect()]
    old = spark.read.parquet(agg_path).filter(F.col(partition_col).isin(parts))
    combined = (
        old.unionByName(delta_agg)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in merge_cols])
    )
    # cast back to the delta's schema (sum widens decimal precision)
    for c in merge_cols:
        combined = combined.withColumn(c, F.col(c).cast(dict(delta_agg.dtypes)[c]))
    merge_upsert(spark, agg_path, combined, keys=keys, partition_col=partition_col)


def scd2_merge(
    spark,
    path: str,
    snapshot: DataFrame,
    keys: list[str],
    tracked_cols: list[str],
    version: int,
) -> None:
    """Slowly-changing-dimension type-2 merge of a full dimension
    ``snapshot`` at ``version`` into a history-keeping table laid out
    as two hive partitions: ``is_current=true`` (exactly one row per
    key — the live dim) and ``is_current=false`` (closed rows,
    append-only). Rows carry ``valid_from`` / ``valid_to`` version
    stamps; a change in any ``tracked_cols`` value closes the current
    row (``valid_to = version``) and inserts a fresh one; new keys
    insert; unchanged keys are rewritten byte-identically (they live in
    the current partition, which is rewritten wholesale).

    The 100 TB cost contract: a merge reads and rewrites ONLY the
    current partition — O(|dim|), never O(|history|) — and APPENDS to
    the history partition; history files on disk are never rewritten
    (pinned by mtime in tests), so ten years of versions cost nothing
    per merge. Change detection is null-safe (``eqNullSafe``) so
    NULL -> value transitions close rows too. Deleted keys (absent
    from the snapshot) are retained as current — dimension deletes are
    modeled as an explicit tombstone column by callers that need them,
    not inferred from absence (a partial snapshot would otherwise
    mass-close the dimension).

    Crash safety: the merge is two writes (history append, then the
    current partition's dynamic overwrite, committed as in
    ``merge_upsert``). A failure between them leaves closed
    rows without their opened replacements until the retry — but the
    retry is IDEMPOTENT: closed rows are keyed by ``valid_to ==
    version`` and any already-appended ones are anti-joined out before
    the re-append, so replay never duplicates history.
    """
    import functools
    import operator

    from pyspark.sql import functions as F

    # hive partition values come back as strings (partition-column type
    # inference covers numerics/dates only) — restore the boolean
    # same one-source-row-per-key contract as merge_upsert: duplicate
    # snapshot keys would open multiple is_current rows for one key
    dup = snapshot.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        raise ValueError(
            f"duplicate key in snapshot (e.g. {dict(zip(keys, dup[0][:-1]))}): "
            "SCD2 merge requires at most one snapshot row per key"
        )
    base = spark.read.parquet(path).withColumn(
        "is_current", F.col("is_current").cast("boolean")
    )
    # presence markers, not attribute nullability — a legitimately-NULL
    # tracked column must not make a snapshot row look absent
    current = base.filter(F.col("is_current")).withColumn("__cur__", F.lit(True))
    snap = snapshot.select(*keys, *tracked_cols).withColumn("__snap__", F.lit(True))

    joined = current.alias("c").join(snap.alias("s"), keys, "full_outer")
    changed_pred = functools.reduce(
        operator.or_,
        [~F.col(f"c.{c}").eqNullSafe(F.col(f"s.{c}")) for c in tracked_cols],
    )
    is_new = F.col("c.__cur__").isNull()
    in_snap = F.col("s.__snap__").isNotNull()

    closed = (
        joined.filter(~is_new & in_snap & changed_pred)
        .select(
            *keys,
            *[F.col(f"c.{c}").alias(c) for c in tracked_cols],
            F.col("c.valid_from").alias("valid_from"),
            F.lit(version).alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    opened = (
        joined.filter(is_new | (in_snap & changed_pred))
        .select(
            *keys,
            *[F.col(f"s.{c}").alias(c) for c in tracked_cols],
            F.lit(version).alias("valid_from"),
            F.lit(None).cast("int").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    kept = (
        joined.filter(~is_new & ~(in_snap & changed_pred))
        .select(
            *keys,
            *[F.col(f"c.{c}").alias(c) for c in tracked_cols],
            F.col("c.valid_from").alias("valid_from"),
            F.lit(None).cast("int").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )

    # history partition: append-only (closed rows only; existing files
    # untouched). current partition: one dynamic overwrite (the same
    # commit as merge_upsert — a log-based format turns it into a
    # metadata swap).
    #
    # Idempotent replay: the append runs BEFORE the current-partition
    # rewrite, so a failure between the two writes and a retry would
    # re-append the same closed rows. valid_to == version is the
    # replay key — any key already closed at this version in history
    # is anti-joined out (the filter pushes down to the parquet scan,
    # so the read touches one version's row groups, not O(|history|)).
    already_closed = base.filter(~F.col("is_current")).filter(
        F.col("valid_to") == version
    )
    closed = closed.join(already_closed.select(*keys), keys, "left_anti")
    closed.write.mode("append").partitionBy("is_current").parquet(path)
    opened.unionByName(kept).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("is_current").parquet(path)


def scd2_init(snapshot: DataFrame, path: str, keys: list[str], tracked_cols: list[str], version: int = 1) -> None:
    """Initial SCD2 load: every snapshot row opens at ``version``."""
    from pyspark.sql import functions as F

    (
        snapshot.select(*keys, *tracked_cols)
        .withColumn("valid_from", F.lit(version))
        .withColumn("valid_to", F.lit(None).cast("int"))
        .withColumn("is_current", F.lit(True))
        .write.mode("overwrite")
        .partitionBy("is_current")
        .parquet(path)
    )


def zorder_col(cols: list, bits: int = 10):
    """Morton (Z-order) interleave of already-bucketed non-negative int
    Columns, as a pure Column expression (JVM-side, codegen-able): bit
    j of input i lands at position ``j * len(cols) + i``. Sorting by
    the result clusters rows so that EVERY input dimension is locally
    dense — the multi-column generalization of ``write_sorted``'s
    single-column layout: one sorted write buys min/max row-group
    skipping on ALL the interleaved columns at once, where a plain
    lexicographic sort only skips on the leading column. ``bits`` caps
    the per-column resolution (values must fit; callers bucket first).
    """
    from pyspark.sql import functions as F

    n = len(cols)
    out = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        c = F.col(c) if isinstance(c, str) else c
        for j in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(c.cast("long"), j).bitwiseAND(F.lit(1)), j * n + i)
            )
    return out


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = 10,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write: range-partition + sort on the
    Morton interleave of ``cols`` (pre-bucketed ints), then drop the
    helper column. Same stats-bearing-timestamp discipline as
    ``write_sorted``."""
    # zorder_col interleaves only bits 0..bits-1: a value >= 2^bits
    # would alias onto a distant z-code and silently degrade the
    # clustering — fail loudly instead (one cheap agg on a path that
    # already reads everything)
    over = df.selectExpr(
        *[f"max({c}) as m_{i}" for i, c in enumerate(cols)],
        *[f"min({c}) as n_{i}" for i, c in enumerate(cols)],
    ).first()
    for i, c in enumerate(cols):
        if over[f"m_{i}"] is not None and (
            over[f"m_{i}"] >= (1 << bits) or over[f"n_{i}"] < 0
        ):
            raise ValueError(
                f"column {c!r} has values outside [0, 2^{bits}) "
                f"(min={over[f'n_{i}']}, max={over[f'm_{i}']}): bucket it "
                "first or raise bits= — silent truncation would alias "
                "distant values onto one Morton code"
            )
    with _micros_timestamps(df.sparkSession):
        (
            df.withColumn("__z__", zorder_col(cols, bits))
            .repartitionByRange(n_files, "__z__")
            .sortWithinPartitions("__z__")
            .drop("__z__")
            .write.mode(mode)
            .parquet(path)
        )


def append_idempotent(
    spark,
    path: str,
    batch: DataFrame,
    batch_id: int,
) -> None:
    """Exactly-once append under at-least-once delivery: the batch
    lands in its own ``batch_id=<id>`` hive partition via DYNAMIC
    partition overwrite, so a redelivered batch REPLACES its previous
    attempt instead of duplicating it — the retry is a byte-level
    no-op for deterministic batches, and a partial failed attempt is
    healed by the replay. This is precisely Structured Streaming's
    foreachBatch idempotence recipe (batchId-keyed overwrite) made
    explicit for batch ingestion; a log-based table format gets the
    same guarantee from a txn-id check. Other batches' partitions are
    never touched (dynamic mode overwrites only partitions present in
    the write). The cost of a retry is the batch, never the table.
    """
    from pyspark.sql import functions as F

    (
        batch.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def vacuum_partitions(
    path: str,
    partition_col: str,
    keep_predicate,
) -> list[str]:
    """Retention vacuum on a hive-partitioned table: partitions whose
    value fails ``keep_predicate`` (a plain Python predicate over the
    partition value, e.g. ``lambda d: int(d) >= cutoff``) are deleted
    as DIRECTORIES — no data file is ever read, no surviving file is
    touched, so the cost is O(dropped partitions) metadata work
    regardless of table size. That file-listing-only shape is the whole
    point of retention-by-partition: a row-level ``DELETE WHERE`` on
    plain parquet is a full read-rewrite of every affected file (and of
    EVERY file, to find the affected ones, absent partition pruning).
    Returns the dropped partition values. A log-based table format
    makes the same operation a metadata commit plus deferred file GC;
    semantics identical.

    Deliberately refuses non-hive layouts: retention on an
    unpartitioned table IS the full-rewrite case — callers should hit
    the error and fix the layout, not get a silent slow path.
    """
    import os
    import shutil

    prefix = f"{partition_col}="
    parts = [d for d in os.listdir(path) if d.startswith(prefix)]
    if not parts:
        raise ValueError(
            f"no {prefix}* partition directories under {path}: retention "
            "vacuum requires a hive-partitioned layout (an unpartitioned "
            "table would need a full read-rewrite — fix the layout instead)"
        )
    dropped = []
    for d in parts:
        val = d[len(prefix):]
        if not keep_predicate(val):
            shutil.rmtree(os.path.join(path, d))
            dropped.append(val)
    return dropped


def merge_upsert_latest(
    spark,
    path: str,
    batch: DataFrame,
    keys: list[str],
    partition_col: str,
    recency_cols: list[str],
    payload_cols: list[str],
) -> None:
    """Streaming CDC apply: keep, per key, the row with the greatest
    ``recency_cols`` tuple across the existing state AND the incoming
    ``batch`` — then MERGE. Unlike a bare ``merge_upsert`` (which
    replaces matched keys unconditionally and therefore depends on
    batches arriving in event-time order), this helper makes
    last-write-wins hold under ANY micro-batch ordering: the state
    table retains the recency columns, matched keys' current rows are
    pulled back (semi-join on the batch's keys — O(batch), never
    O(state)) and compete with the batch rows under a deterministic
    (recency DESC, then batch-beats-state) ordering: if a state row and
    a batch row tie on every recency column, the BATCH row survives —
    a real tie-break (the window is partitioned by ``keys``, so
    ordering by keys again would break no ties). Two rows of the SAME
    batch tying on every recency column remain order-nondeterministic:
    include a unique column (an event id) in ``recency_cols`` if the
    source can produce such ties. First call bootstraps the table. ``partition_col`` must be key-derived (stable per key)
    so a key's row can never move partitions — the merge_upsert
    scoping precondition, structural here.

    An empty batch is a no-op (a quiet source file must not poison the
    state table with a schema-less write).
    """
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as _W

    if batch.isEmpty():
        return
    cols = [*keys, partition_col, *recency_cols, *payload_cols]
    cand = batch.select(*cols).withColumn("__is_batch__", F.lit(1))
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        state = spark.read.parquet(path).select(*cols)
        matched = state.join(
            batch.select(*keys).distinct(), keys, "left_semi"
        ).withColumn("__is_batch__", F.lit(0))
        cand = cand.unionByName(matched)
    w = _W.partitionBy(*keys).orderBy(
        *[F.desc(c) for c in recency_cols], F.desc("__is_batch__")
    )
    latest = (
        cand.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__", "__is_batch__")
    )
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        merge_upsert(spark, path, latest, keys=keys, partition_col=partition_col)
    else:
        latest.write.mode("overwrite").partitionBy(partition_col).parquet(path)
