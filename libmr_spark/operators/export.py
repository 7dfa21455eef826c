"""Sharded-export STORE with write-incremental manifest maintenance:
the dataset-card artifact (`quota_export_manifest`) made updatable.

An export is a frame of (source, doc_id, cluster_size, n_tokens,
cum_tokens, file_idx) rows sharded by ``file_idx``. When curation
state changes (a new cluster-store commit shifts quota membership),
every doc at or after the first changed (source, doc_id) position gets
a new running total — but shards BEFORE that position are byte-
identical, and at 100 TB the data-file writes are the dominant cost of
re-exporting. This store therefore commits like a lakehouse table with
content-addressed reuse:

- ``files/batch=<tag>/file_idx=N/`` — shard data, written under the
  tag that last REWROTE that shard.
- ``manifest/batch=<tag>/`` — the FULL manifest table (|shards| rows —
  metadata-sized): per shard (file_idx, n_docs, sum_tokens,
  content_hash, data_tag), where ``data_tag`` names the commit whose
  files hold the shard's live data.
- ``_BATCHES`` — the commit log; serving reads the LATEST manifest
  batch only (each commit rewrites the tiny manifest whole, and only
  the CHANGED shards' data).

Reuse is decided by CONTENT, not position bookkeeping: a shard keeps
its old ``data_tag`` iff its (n_docs, sum_tokens, content_hash) equal
the live manifest's row — the XOR-fold 60-bit md5 covers cum_tokens,
so any upstream membership shift that moves a shard's rows
automatically forces its rewrite, and the unchanged prefix reuses for
free. No diff/boundary logic to get wrong; equivalence with a
from-scratch export is a hash identity the gate query proves.

Reference parity: none (no durable store surface in the reference);
SURVEY §7.2a round-10 follow-on to `quota_export_diff` +
`quota_export_manifest`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import store
from ..core.layout import freeze, rebalanced

_PARAMS = {"kind": "sharded-export"}


def export_manifest_rows(exp: DataFrame) -> DataFrame:
    """Per-shard manifest rows for an export frame: doc count, token
    total, and the order-free XOR-fold of each row's 60-bit
    canonical-string md5 (table_audit_hash's proven formula — map-side
    combinable, no sort)."""
    row_str = F.concat_ws(
        "|",
        F.col("doc_id").cast("string"),
        F.col("source"),
        F.col("cluster_size").cast("string"),
        F.col("n_tokens").cast("string"),
        F.col("cum_tokens").cast("string"),
    )
    h60 = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("long")
    return exp.groupBy("file_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.bit_xor(h60).cast("bigint").alias("content_hash"),
    )


def read_export_manifest(spark, store_path: str) -> DataFrame:
    """The live manifest: the LATEST committed manifest batch (each
    commit writes the full |shards|-row table)."""
    tags = store.tags(store_path, _PARAMS)
    if not tags:
        raise ValueError(f"empty export store at {store_path} (no committed batches)")
    return spark.read.parquet(
        store.batch_path(store_path, "manifest", tags[-1])
    )


def export_store_commit(spark, store_path: str, exp: DataFrame) -> DataFrame:
    """Commit ``exp`` as the store's new live export, rewriting ONLY
    the shards whose content changed since the live manifest (first
    commit writes everything). Crash-safe in the standard shape: shard
    files and the new manifest table land under an unpublished tag,
    the ``_BATCHES`` publish is last, and superseded data tags stay on
    disk while any live manifest row references them (a later commit
    that supersedes their last shard simply stops referencing them —
    an aged orphan sweep can reclaim, same rule as everywhere).
    Returns the committed manifest (with ``data_tag`` and a ``reused``
    flag per shard). Driver-side state is |shards| rows — metadata."""
    tags = store.tags(store_path, _PARAMS)

    # freeze the frame ONCE: the manifest aggregation and the
    # changed-shard data write below must describe the same rows (a
    # lazily re-evaluated non-deterministic lineage would hash one
    # evaluation and write another — the manifest would then "verify"
    # bytes that were never written), and a deterministic frame
    # shouldn't pay its export chain twice either
    exp = freeze(exp)
    rows = export_manifest_rows(exp)
    with store.commit(store_path, _PARAMS) as tx:
        if tags:
            prev = (
                spark.read.parquet(store.batch_path(store_path, "manifest", tags[-1]))
                .select(
                    "file_idx",
                    F.col("n_docs").alias("_pn"),
                    F.col("sum_tokens").alias("_pt"),
                    F.col("content_hash").alias("_ph"),
                    F.col("data_tag").alias("_ptag"),
                )
            )
            rows = (
                rows.join(prev, "file_idx", "left")
                .withColumn(
                    "reused",
                    (F.col("n_docs") == F.col("_pn"))
                    & (F.col("sum_tokens") == F.col("_pt"))
                    & (F.col("content_hash") == F.col("_ph")),
                )
                .fillna({"reused": False})
                .withColumn(
                    "data_tag",
                    F.when(F.col("reused"), F.col("_ptag")).otherwise(F.lit(tx.tag)),
                )
                .drop("_pn", "_pt", "_ph", "_ptag")
            )
        else:
            rows = rows.withColumn("reused", F.lit(False)).withColumn(
                "data_tag", F.lit(tx.tag)
            )
        rows = freeze(rows)  # freeze before the writes below

        changed = [
            r.file_idx for r in rows.filter(~F.col("reused")).select("file_idx").collect()
        ]  # |shards|-bounded driver list — the write plan, not data
        if changed:
            # rebalanced on the partition key: one advisory-sized file
            # per file_idx directory instead of one per upstream task
            tx.write(
                "files",
                rebalanced(exp.filter(F.col("file_idx").isin(changed)), "file_idx"),
                partition_by="file_idx",
            )
        tx.write("manifest", rows.coalesce(1))
    return rows


def read_export_shards(spark, store_path: str) -> DataFrame:
    """The live export data: the (data_tag, file_idx) pairs the
    manifest describes, selected by a broadcast semi-join over the
    partition columns — one listing of the files root, shard dirs of
    superseded tags pruned by the join (their bytes are reclaimed by
    the aged orphan sweep, same rule as every store)."""
    man = read_export_manifest(spark, store_path)
    files_root = os.path.join(store_path, "files")
    df = spark.read.option("basePath", files_root).parquet(files_root)
    live = man.select(F.col("data_tag").alias("batch"), "file_idx")
    return df.join(F.broadcast(live), ["batch", "file_idx"], "left_semi").drop("batch")
