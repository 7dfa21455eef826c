"""Incremental vocabulary-statistics store: unigram + bigram counts
maintained as SIGNED deltas under the atomic ``_BATCHES`` manifest —
the retraction contract (``incremental_agg_retract``) applied to
collocation mining, so the PMI/vocab artifacts a tokenizer pipeline
keys off are SERVED from a store instead of recomputed corpus-wide.

Tables:

- ``uni``  — (w, c): the batch's signed unigram count deltas.
- ``bi``   — (a, b, c): the batch's signed bigram count deltas.
- ``docs`` — (doc_id, sign): the CDC event log that makes admission
  idempotent at DOC granularity: an insert admits only while the
  doc's net sign in the store is <= 0 (never seen, or seen and later
  deleted), a delete only while it is exactly 1. Replaying a crashed
  or duplicated batch therefore admits nothing twice, and a delete
  for a doc that was never counted is a no-op — the anti-join
  discipline of the dedup stores generalized to signed events.

Counts are additive, so serving is one groupBy-SUM over the manifest-
listed deltas; a doc's deletion subtracts exactly the counts its
insertion added (the CDC delete carries the old row — standard
change-stream shape), which is why the served PMI equals the
from-scratch PMI over the surviving corpus under ANY batch slicing.
At 100 TB the uni/bi delta tables are vocabulary artifacts
(Heaps-bounded, far smaller than the corpus); :func:`compact_vocab_store`
folds the deltas into one NET-count batch per table through the
crash-safe ``_rewrite_store`` protocol — zero-net rows vanish from
the fold without changing any sum, so serving is provably invariant.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import store
from ..core.layout import rebalanced

_PARAMS = {"kind": "vocab-pmi", "tokenizer": "ws-lower", "ngram": "2"}

VOCAB_TABLES = ("uni", "bi", "docs")


def pmi_store_ingest(
    spark,
    store_path: str,
    batch: DataFrame,
    sign_col: str = "sign",
    text_col: str = "text",
    id_col: str = "doc_id",
    payload_cols: list | None = None,
) -> DataFrame:
    """Apply a CDC batch of (doc_id, text, sign) events to the vocab
    store: admit inserts for docs whose net stored sign is <= 0 and
    deletes for docs whose net is exactly 1, tokenize the admitted
    events ONCE into signed unigram/bigram deltas, and commit all
    three tables under one manifest swap. Within a batch, conflicting
    events for one doc keep the single (sign, text, payload)-least
    event (deterministic under any partitioning; a well-formed CDC
    stream never conflicts within a batch). Cost is O(batch tokens) +
    one doc-net join against the docs log — never a recount of stored
    text. Returns the admitted (doc_id, sign[, payload]) rows.

    ``payload_cols``: SCHEMA EVOLUTION for the docs CDC log — the
    ``payload_cols``/mergeSchema contract the exact-fp store pins
    (:func:`..dedup.dedup_incremental_exact`) applied to the vocab
    family: a later pipeline version starts stamping audit columns
    (provenance tag, CDC sequence, reviewer) onto its admitted doc
    events; old batches stay bytes-identical, admission stays purely
    (id, sign)-based, and the log's history now spans two schemas.
    Reads serve the union schema (pre-evolution rows null-filled —
    :func:`vocab_docs_net` with ``merge_schema=True``) and rewrites
    fold under mergeSchema (:func:`compact_vocab_store`
    ``merge_schema=True``) with per-column MIN payload survival, so
    the stamp survives compaction instead of being dropped by a
    footer-sampled schema."""
    payload_cols = list(payload_cols or [])
    manifest_path = store.manifest_path(store_path)
    ev = (
        batch.groupBy(id_col)
        .agg(F.min(F.struct(sign_col, text_col, *payload_cols)).alias("st"))
        .select(
            id_col,
            F.col(f"st.{sign_col}").cast("int").alias("sign"),
            F.col(f"st.{text_col}").alias(text_col),
            *[F.col(f"st.{c}").alias(c) for c in payload_cols],
        )
    )
    tags = store._manifest_read(manifest_path, _PARAMS)
    if tags:
        # net only the batch's slice of the docs log: semi-probe the
        # log with the broadcast batch ids (scan, never a log-wide
        # shuffle), then fold the batch-bounded hits — admission
        # consults no other doc's net, so this is exact (the
        # restrict-then-fold decomposition the store family shares)
        net = (
            store.read_batches(spark, store_path, "docs", tags)
            .join(F.broadcast(ev.select(id_col)), id_col, "semi")
            .groupBy(id_col)
            .agg(F.sum("sign").alias("net"))
        )
        ev = (
            ev.join(F.broadcast(net), id_col, "left")
            .filter(
                ((F.col("sign") > 0) & (F.coalesce("net", F.lit(0)) <= 0))
                | ((F.col("sign") < 0) & (F.col("net") == 1))
            )
            .drop("net")
        )
    else:
        ev = ev.filter(F.col("sign") > 0)  # nothing to delete yet
    # one materialization feeds all three tables and freezes the
    # net-sign admission before the store gains this batch's events
    ev = ev.localCheckpoint(eager=True)
    from ..queries_pipeline import _pmi_counts

    # _pmi_counts tokenizes the column literally named "text" — rename
    # (no-op at the default) so a custom text_col tokenizes correctly.
    uni, bi = _pmi_counts(ev.withColumnRenamed(text_col, "text"), sign_col="sign")
    tag = uuid.uuid4().hex
    # uni/bi are aggregation-tailed (AQE partition coalescing bounds
    # their writes); the docs log below is narrow over the checkpointed
    # batch — rebalanced(probe) gives it advisory-sized commit files
    uni.write.mode("overwrite").parquet(
        store.batch_path(store_path, "uni", tag)
    )
    bi.write.mode("overwrite").parquet(
        store.batch_path(store_path, "bi", tag)
    )
    # the id column is written FIRST — vocab_docs_net and the
    # compaction fold key the log off position 0, which mergeSchema
    # preserves because every batch leads with it
    rebalanced(ev.select(id_col, "sign", *payload_cols), probe=True).write.mode(
        "overwrite"
    ).parquet(store.batch_path(store_path, "docs", tag))
    store._manifest_publish(manifest_path, _PARAMS, add_tags=[tag])
    return ev.select(id_col, "sign", *payload_cols)


def pmi_store_topk(spark, store_path: str) -> DataFrame:
    """Serve the PMI collocation top-k from the store: net the signed
    deltas (one groupBy-SUM per table — map-side combinable, vocab-
    bounded) and rank with the IDENTICAL integer-ratio arithmetic as
    the batch query, so the served ranking hash-matches the
    from-scratch oracle over the surviving corpus."""
    from ..queries_pipeline import _pmi_topk_from_counts

    tags = store._manifest_read(store.manifest_path(store_path), _PARAMS)
    if not tags:
        raise ValueError(f"empty vocab store at {store_path} (no committed batches)")
    uni = (
        store.read_batches(spark, store_path, "uni", tags)
        .groupBy("w")
        .agg(F.sum("c").alias("c"))
    )
    bi = (
        store.read_batches(spark, store_path, "bi", tags)
        .groupBy("a", "b")
        .agg(F.sum("c").alias("c"))
    )
    return _pmi_topk_from_counts(uni, bi)


def vocab_net_counts(spark, store_path: str, as_of_batches: int | None = None) -> tuple:
    """Serve the store's NET token statistics: (unigram, bigram)
    frames with the signed deltas summed per key and zero-net rows
    (fully retracted words/bigrams) dropped — exactly the counts a
    from-scratch tokenize over the surviving corpus produces, which is
    what makes this the takedown-audit serving read (the cross-store
    gate hashes these against the survivors-only oracle). One
    map-side-combinable groupBy-SUM per table, vocab-bounded.
    ``as_of_batches`` pins the read to the first k manifest entries
    (time travel — the fleet-snapshot serving path; post-compaction
    history collapse applies as everywhere)."""
    tags = store._manifest_read(store.manifest_path(store_path), _PARAMS)
    if not tags:
        raise ValueError(f"empty vocab store at {store_path} (no committed batches)")
    if as_of_batches is not None:
        if not 0 < as_of_batches <= len(tags):
            raise ValueError(
                f"as_of_batches={as_of_batches} out of range for store "
                f"{store_path} with {len(tags)} committed batches"
            )
        tags = tags[:as_of_batches]
    uni = (
        store.read_batches(spark, store_path, "uni", tags)
        .groupBy("w")
        .agg(F.sum("c").alias("c"))
        .filter(F.col("c") != 0)
    )
    bi = (
        store.read_batches(spark, store_path, "bi", tags)
        .groupBy("a", "b")
        .agg(F.sum("c").alias("c"))
        .filter(F.col("c") != 0)
    )
    return uni, bi


def vocab_docs_net(
    spark, store_path: str, merge_schema: bool = False
) -> DataFrame:
    """Serve the NET docs CDC log: one map-side-combinable groupBy-SUM
    over the manifest-listed delta batches, net-0 docs (fully
    retracted lifecycles) dropped — the audit view "which docs does
    the store currently count, with their stamps". Payload columns
    (``pmi_store_ingest`` ``payload_cols``) survive as the per-column
    MIN over the doc's events (nulls skipped — a pre-evolution insert
    contributes nothing), the same deterministic rule the compaction
    fold applies, so this read is provably compaction-invariant.
    ``merge_schema=True`` serves the union schema when the log spans
    a payload evolution (pre-evolution rows null-filled)."""
    tags = store._manifest_read(store.manifest_path(store_path), _PARAMS)
    if not tags:
        raise ValueError(f"empty vocab store at {store_path} (no committed batches)")
    return _docs_net_fold(
        store.read_batches(spark, store_path, "docs", tags, merge_schema)
    )


def _docs_net_fold(df: DataFrame) -> DataFrame:
    """Shared docs-log fold: net the signed doc events, drop net-0
    lifecycles, carry payload columns as per-column MIN. The id key is
    the log's FIRST column (every batch writes it first; mergeSchema
    preserves leading-field order), so stores ingested with a custom
    ``id_col`` fold too."""
    others = [c for c in df.columns if c != "sign"]
    key, payload = others[0], others[1:]
    return (
        df.groupBy(key)
        .agg(
            F.sum("sign").cast("int").alias("sign"),
            *[F.min(c).alias(c) for c in payload],
        )
        .filter(F.col("sign") != 0)
        .select(key, "sign", *payload)
    )


def compact_vocab_store(spark, store_path: str, merge_schema: bool = False) -> int:
    """Fold the signed deltas to NET counts — the vocab store's
    compaction, which (unlike the union-rewrite the signature stores
    use) actually SHRINKS state: per table one groupBy-SUM replaces
    the delta history with one net row per key, zero-net rows (fully
    retracted words, bigrams and doc lifecycles) vanish, and the docs
    log folds to (doc_id, net sign[, payload]) with net-0 docs dropped
    — which preserves the admission rule exactly (a dropped net-0 doc
    reads as never-seen, and net <= 0 admits a re-insert either way).
    Payload columns survive the fold as per-column MIN (the
    :func:`vocab_docs_net` rule, so serving is fold-invariant); pass
    ``merge_schema=True`` when the log's history spans a payload
    evolution so the fold sees the union schema instead of a
    footer-sampled one that could silently drop the evolved column.
    Runs through the standard crash-safe ``_rewrite_store`` protocol,
    so a crash anywhere leaves either the delta history or the fold,
    never a mix; serving (a sum over deltas) is provably invariant
    because addition is what compaction performs. Returns the number
    of folded batches (0 if the store has < 2 commits)."""
    def fold(df, table):
        # all three folds are aggregation-tailed: AQE partition
        # coalescing bounds the rewrite's write parallelism
        if table == "uni":
            return df.groupBy("w").agg(F.sum("c").alias("c")).filter(F.col("c") != 0)
        if table == "bi":
            return (
                df.groupBy("a", "b").agg(F.sum("c").alias("c")).filter(F.col("c") != 0)
            )
        return _docs_net_fold(df)

    return len(
        store._rewrite_store(
            spark, store_path, fold, tables=VOCAB_TABLES, min_batches=2,
            respect_snapshots=True, merge_schema=merge_schema,
        )
    )
