"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``): the
kv keyspace exposed as a real pluggable source, ``spark.read.format
("libmr_kv")``.

This is the Spark-native rendering of the reference's sharded keyspace
scan: LibMR's KeysReader runs once per shard, each shard owning a CRC16
slot range (``/root/reference/tests/mr_test_module/src/lib.rs:822-916``;
slot routing ``/root/reference/src/cluster.c:1820-1843``). Here each
``InputPartition`` IS a slot range — Spark schedules one read task per
"shard", and every emitted key verifiably belongs to its partition's
range (pinned in ``test_sources_sinks.py::test_kv_datasource``).

Options: ``sf_dir`` (testdata dir), ``prefix`` (key-prefix filter,
applied inside the source exactly like KeysReader's prefix argument),
``numPartitions`` (shard count, default 4).

At 100 TB the backing table would be stored bucketed by slot so each
shard-partition reads only its bucket; this demo filters a shared
parquet file per partition, which preserves the semantics (and the
API surface) at test scale. The per-row Python loop is the cost of a
Python source — the parquet readers in ``readers.py`` remain the fast
path; this pins the pluggable-source API.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from ..core.partitioner import NUM_SLOTS
from ..core.smalldf import local_df

KV_SCHEMA = "key string, value string, type string"


class SlotRange(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo = lo
        self.hi = hi


def _manifest_files(path: str) -> list:
    """Files published by the kv sink's two-phase commit — the ONLY
    files a manifest-honoring reader may see (shared by KvSinkReader
    and read_kv_sink so the two read paths cannot drift)."""
    import json

    with open(os.path.join(path, "_KV_SUCCESS")) as f:
        manifest = json.load(f)
    return [os.path.join(path, fn) for fn in manifest["files"]]


class SinkFiles(InputPartition):
    def __init__(self, files: list):
        self.files = files


class KvSinkReader(DataSourceReader):
    """Manifest-honoring read-back of a ``libmr_kv``-WRITTEN directory:
    ``spark.read.format("libmr_kv").option("path", p).load()`` returns
    exactly what the two-phase commit published — files not named in
    ``_KV_SUCCESS`` (orphan task attempts, torn jobs) are invisible,
    the same atomicity contract ``read_kv_sink`` exposes as a helper,
    now symmetric through the format string itself. One input
    partition per committed file."""

    def __init__(self, options: dict):
        self.path = options["path"]

    def partitions(self):
        files = _manifest_files(self.path)
        return [SinkFiles([f]) for f in files] or [SinkFiles([])]

    def read(self, partition: SinkFiles) -> Iterator:
        import json

        for fpath in partition.files:
            with open(fpath) as f:
                for line in f:
                    r = json.loads(line)
                    yield (r.get("key"), r.get("value"), r.get("type"))


class KvDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.sf_dir = options.get("sf_dir", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
        self.prefix = options.get("prefix", "")
        self.n = int(options.get("numPartitions", "4"))

    def partitions(self):
        step = NUM_SLOTS // self.n
        bounds = [i * step for i in range(self.n)] + [NUM_SLOTS]
        return [SlotRange(bounds[i], bounds[i + 1]) for i in range(self.n)]

    def read(self, partition: SlotRange) -> Iterator:
        """Emit Arrow RecordBatches (Spark 4 Python DataSources accept
        them directly): key synthesis, slot routing (vectorized CRC16
        byte-sweep, ``core.partitioner.key_slots_np``) and filtering all
        run as batch ops — the original per-row tuple loop measured
        ~7s at sf0.1, this form ~1s. ``str(price)`` stays a Python
        call per kept row: Arrow's float→string cast formats doubles
        differently from Python/DuckDB ``str``, and the value column's
        contract is the reference's string rendering."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..core.partitioner import key_slots_np

        t = pq.read_table(
            os.path.join(self.sf_dir, "orders.parquet"),
            columns=["o_orderkey", "o_totalprice", "o_orderstatus"],
        )
        for rb in t.to_batches(max_chunksize=65536):
            oks = rb.column(0).to_numpy(zero_copy_only=False)
            keys = np.char.mod("key%d", oks)
            slots = key_slots_np(keys)
            mask = (slots >= partition.lo) & (slots < partition.hi)
            if self.prefix:
                mask &= np.char.startswith(keys, self.prefix)
            if not mask.any():
                continue
            prices = rb.column(1).to_numpy(zero_copy_only=False)[mask]
            status = rb.column(2).to_numpy(zero_copy_only=False)[mask]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(keys[mask]),
                    pa.array([str(p) for p in prices]),
                    pa.array(np.where(status == "O", "string", "hash")),
                ],
                names=["key", "value", "type"],
            )


class KvCommit(WriterCommitMessage):
    def __init__(self, filename: str, n_rows: int):
        self.filename = filename
        self.n_rows = n_rows


class KvDataSourceWriter(DataSourceArrowWriter):
    """Writer half of the kv source — the Spark-4 pluggable-sink
    rendering of the reference's write-back map step
    (``reshuffle().map(WriteDummyString)``,
    ``/root/reference/tests/mr_test_module/src/lib.rs:323-353``): the
    reference reshuffles records to their OWNING shard and each shard
    writes its own keys; here each write task lands its partition's
    rows (pre-partitioned by slot upstream) as one staged file, and
    Spark's task-commit protocol provides what the reference gets from
    Redis locality — no torn multi-writer output. TWO-PHASE COMMIT:
    tasks write to ``_staging/<uuid>.jsonl`` and return a commit
    message; only the driver's ``commit()`` moves staged files into
    place and stamps a ``_KV_SUCCESS`` manifest naming exactly the
    committed files. A reader that honors the manifest can never see a
    half-written job — ``abort()`` leaves nothing visible (pinned in
    ``test_kv_writer_two_phase_commit``). Speculative/retried task
    attempts stage under distinct uuids; only attempts whose message
    reaches commit() are published — the rest stay in _staging and are
    swept by the cleanup there.
    """

    def __init__(self, options: dict, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("libmr_kv writer requires a 'path' option")
        self.overwrite = overwrite

    def write(self, batches) -> KvCommit:
        """Arrow-batched task write (round 6): the task receives pyarrow
        ``RecordBatch``es instead of pickled Rows — the same Arrow
        transfer that took the READ path from 6.9 s to 0.7 s at sf0.1
        (r4). Per-batch column extraction replaces per-row attribute
        access; json.dumps remains per line because jsonl IS the sink
        format (correct escaping for arbitrary content)."""
        import json
        import uuid

        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        fname = f"{uuid.uuid4().hex}.jsonl"
        n = 0
        dumps = json.dumps
        with open(os.path.join(staging, fname), "w") as f:
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                ks = batch.column("key").to_pylist()
                vs = batch.column("value").to_pylist()
                ts = batch.column("type").to_pylist()
                f.write(
                    "\n".join(
                        dumps({"key": k, "value": v, "type": t})
                        for k, v, t in zip(ks, vs, ts)
                    )
                    + "\n"
                )
                n += batch.num_rows
        return KvCommit(fname, n)

    def commit(self, messages) -> None:
        import json
        import shutil

        staging = os.path.join(self.path, "_staging")
        manifest_path = os.path.join(self.path, "_KV_SUCCESS")
        published = []
        total = 0
        if not self.overwrite and os.path.exists(manifest_path):
            # append mode MERGES the prior manifest — rewriting it with
            # only this job's files would orphan every earlier commit
            with open(manifest_path) as f:
                prior = json.load(f)
            published = list(prior["files"])
            total = prior["n_rows"]
        for m in messages:
            if m is None:
                continue
            shutil.move(
                os.path.join(staging, m.filename), os.path.join(self.path, m.filename)
            )
            published.append(m.filename)
            total += m.n_rows
        # The manifest swap IS the commit point: write to a temp name
        # and os.replace() atomically, so a driver crash anywhere in
        # commit() leaves the reader on exactly the old snapshot (old
        # files are never touched before the swap) or exactly the new
        # one.  Superseded files are deleted only AFTER the swap; a
        # crash between swap and sweep leaves harmless orphans that a
        # manifest-honoring reader ignores and the next overwrite
        # commit sweeps.
        new_files = set(published)
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"files": sorted(published), "n_rows": total}, f)
        os.replace(tmp, manifest_path)
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.endswith(".jsonl") and f not in new_files:
                    os.remove(os.path.join(self.path, f))
        shutil.rmtree(staging, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)


class KvStreamWriter(DataSourceStreamArrowWriter):
    """Streaming half of the kv sink (the pluggable quadrilogy's last
    leg): per-MICRO-BATCH two-phase commit. Tasks stage files exactly
    like the batch writer; the driver's ``commit(messages, batchId)``
    publishes them under ``epoch=<batchId>/`` with a per-epoch
    ``_EPOCH_SUCCESS`` manifest. Idempotent re-delivery: Structured
    Streaming can re-run a micro-batch after a failure with the SAME
    batchId — commit() then REPLACES the epoch directory instead of
    appending, which is precisely the batchId-keyed overwrite contract
    of ``append_idempotent`` applied at the sink-protocol layer, so
    the table holds each input row exactly once however many times an
    epoch is attempted. ``abort()`` drops the staged attempt; a
    manifest-honoring reader never sees a torn epoch.
    """

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("libmr_kv stream writer requires a 'path' option")

    def write(self, batches) -> KvCommit:
        # Arrow-batched like the batch writer (round 6); schema-generic
        # (to_pylist yields one dict per row for ANY micro-batch schema)
        import json
        import uuid

        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        fname = f"{uuid.uuid4().hex}.jsonl"
        n = 0
        dumps = json.dumps
        with open(os.path.join(staging, fname), "w") as f:
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                f.write("\n".join(dumps(d) for d in batch.to_pylist()) + "\n")
                n += batch.num_rows
        return KvCommit(fname, n)

    def commit(self, messages, batchId: int) -> None:
        import json
        import shutil

        staging = os.path.join(self.path, "_staging")
        epoch_dir = os.path.join(self.path, f"epoch={batchId}")
        # batchId re-delivery replaces the epoch — exactly-once tables
        # from at-least-once micro-batch attempts
        shutil.rmtree(epoch_dir, ignore_errors=True)
        os.makedirs(epoch_dir)
        published, total = [], 0
        for m in messages:
            if m is None:
                continue
            shutil.move(
                os.path.join(staging, m.filename), os.path.join(epoch_dir, m.filename)
            )
            published.append(m.filename)
            total += m.n_rows
        with open(os.path.join(epoch_dir, "_EPOCH_SUCCESS"), "w") as f:
            json.dump({"files": sorted(published), "n_rows": total}, f)
        shutil.rmtree(staging, ignore_errors=True)

    def abort(self, messages, batchId: int) -> None:
        import shutil

        shutil.rmtree(os.path.join(self.path, "_staging"), ignore_errors=True)


def read_kv_stream_sink(spark, path: str, schema: str):
    """Read back every committed epoch of a kv stream sink, honoring
    the per-epoch manifests (torn/aborted epochs are invisible)."""
    import json

    files = []
    for d in sorted(os.listdir(path)):
        if not d.startswith("epoch="):
            continue
        mpath = os.path.join(path, d, "_EPOCH_SUCCESS")
        if not os.path.exists(mpath):
            continue
        with open(mpath) as f:
            manifest = json.load(f)
        files += [os.path.join(path, d, fn) for fn in manifest["files"]]
    if not files:
        return local_df(spark, [], schema)
    return spark.read.schema(schema).json(files)


class KvDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "libmr_kv"

    def schema(self) -> str:
        return KV_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        # a `path` option points at a sink this source WROTE — read it
        # back through the commit manifest; otherwise expose the
        # keyspace scan over the testdata orders table
        if self.options.get("path"):
            # the sink read-back has no keyspace semantics — refuse the
            # keyspace-scan options instead of silently ignoring them
            bad = [o for o in ("prefix", "numpartitions") if self.options.get(o)]
            if bad:
                raise ValueError(
                    f"options {bad} apply to the keyspace scan, not a "
                    "'path' sink read-back — filter after load() instead"
                )
            return KvSinkReader(self.options)
        return KvDataSourceReader(self.options)

    def writer(self, schema, overwrite: bool) -> KvDataSourceWriter:
        return KvDataSourceWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> KvStreamWriter:
        return KvStreamWriter(self.options)


def read_kv_sink(spark, path: str):
    """Read back a ``libmr_kv``-written directory, honoring the commit
    manifest: ONLY files named in ``_KV_SUCCESS`` are visible (the
    atomicity contract the two-phase commit provides)."""
    files = _manifest_files(path)
    if not files:
        return local_df(spark, [], KV_SCHEMA)
    return spark.read.schema(KV_SCHEMA).json(files)


def register_kv_datasource(spark) -> None:
    spark.dataSource.register(KvDataSource)


class EventsStreamReader(SimpleDataSourceStreamReader):
    """Simple Python STREAMING source (the third leg of the pyds
    trilogy: batch reader, batch writer, stream reader): replays the
    events table as a day-offset feed. The ``upto_day`` option is the
    simulated wall clock — ``read(start)`` returns every event in
    ``[start.day, upto_day]`` and advances the offset to
    ``upto_day + 1``, so a restarted query with a later clock resumes
    from its CHECKPOINTED offset, and ``readBetweenOffsets`` re-reads
    any batch deterministically for failure recovery. Driver-side
    single-process read is the documented constraint of the Simple
    API (Spark's own guidance: light feeds only); the scale path is
    DataSourceStreamReader with planned partitions — same offset
    algebra, partitioned read().
    """

    def __init__(self, options: dict):
        self.sf_dir = options.get(
            "sf_dir", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        )
        self.upto = int(options.get("upto_day", "31"))

    def _rows(self, lo: int, hi: int):
        import pyarrow.parquet as pq

        t = pq.read_table(
            os.path.join(self.sf_dir, "events.parquet"),
            columns=["event_id", "ts", "event_type", "value"],
        ).to_pandas()
        t["d"] = t["ts"].dt.day
        sel = t[(t["d"] >= lo) & (t["d"] < hi)]
        return zip(
            sel["event_id"].tolist(),
            sel["event_type"].tolist(),
            sel["value"].tolist(),
            sel["d"].tolist(),
        )

    def initialOffset(self) -> dict:
        return {"day": 1}

    def read(self, start: dict):
        d = start["day"]
        if d > self.upto:
            return iter([]), {"day": d}
        return self._rows(d, self.upto + 1), {"day": self.upto + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["day"], end["day"])


class EventsStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "libmr_events_stream"

    def schema(self) -> str:
        return "event_id bigint, event_type string, value double, d int"

    def simpleStreamReader(self, schema) -> EventsStreamReader:
        return EventsStreamReader(self.options)


def register_events_stream_source(spark) -> None:
    spark.dataSource.register(EventsStreamSource)
