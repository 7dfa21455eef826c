"""Structured Streaming windowed operators.

The reference has no streaming runtime at all (SURVEY §2.2: LibMR
executions are finite batch jobs; the only time concepts are idle/RPC
timeouts). These operators provide the streaming constructs the brief
requires — tumbling/sliding/session windows with watermark-based late
data handling — as thin declarative layers over Structured Streaming,
so the exact same aggregation expressions run in batch (tested against
the batch oracle) and in a stream.

Replaying a table as a stream: ``replay_chunks`` writes a list of
frames into a fresh directory as one parquet file each and returns a
file stream over it that reads one file per micro-batch. File ``k``
gets mtime ``1_700_000_000 + 60k``, and FileStreamSource takes files
oldest first, so micro-batch ``k`` is chunk ``k``. ``drain`` runs such a
stream to completion (``availableNow``) through a ``foreachBatch``
callback that never sees an empty batch, under a checkpoint directory
it removes when the query ends, whether it succeeded or raised.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    group_cols: list[str],
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Non-overlapping fixed windows. On a stream, ``watermark`` bounds
    state: windows older than (max event time - watermark) finalize and
    evict — required for append-mode sinks."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(F.window(ts_col, duration).alias("win"), *group_cols).agg(*aggs)


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    group_cols: list[str],
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Overlapping windows (each event lands in duration/slide windows)."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(F.window(ts_col, duration, slide).alias("win"), *group_cols).agg(*aggs)


def session_window_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    group_cols: list[str],
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Data-driven session windows: a session closes after ``gap`` of
    inactivity per group. Uses Spark's native session_window (state is
    merged incrementally — no per-event sort)."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(F.session_window(ts_col, gap).alias("win"), *group_cols).agg(*aggs)


def stream_from_parquet_dir(spark, path: str, schema) -> DataFrame:
    """File-based stream source (each new file = a micro-batch input) —
    the standard pattern for replaying a table as a stream in tests."""
    return spark.readStream.schema(schema).parquet(path)


def replay_chunks(spark, srcdir: str, chunks, schema) -> DataFrame:
    """Reset ``srcdir``, write each frame of ``chunks`` to it as one
    ``chunk_<k>.parquet`` with ascending mtimes, and return a stream of
    those files, one per micro-batch, read with ``schema``."""
    shutil.rmtree(srcdir, ignore_errors=True)
    os.makedirs(srcdir)
    base_t = 1_700_000_000
    for k, chunk in enumerate(chunks):
        stage = os.path.join(srcdir, f"_stage{k}")
        chunk.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(srcdir, f"chunk_{k:02d}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(stage)
        os.utime(dst, (base_t + 60 * k, base_t + 60 * k))  # oldest-first order
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(srcdir)


def drain(sdf: DataFrame, apply_batch) -> None:
    """Run ``apply_batch(bdf, batch_id)`` on every non-empty micro-batch
    of all currently-available input, then stop. The checkpoint lives
    in a fresh temporary directory that is removed when the query ends,
    on success and on failure; a failure still reaches the caller."""

    def run(bdf, batch_id):
        if not bdf.isEmpty():
            apply_batch(bdf, batch_id)

    ckpt = tempfile.mkdtemp(prefix="libmr_drain_ckpt_")
    q = None
    try:
        q = (
            sdf.writeStream.foreachBatch(run)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)


def run_to_memory_sink(sdf: DataFrame, name: str, output_mode: str = "complete"):
    """Drain all currently-available input into an in-memory table and
    stop — deterministic finite execution for testing a stream."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
