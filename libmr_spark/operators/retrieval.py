"""BM25 lexical retrieval over a PERSISTED, incrementally-maintained
inverted index.

``bm25_topk``'s batch formulation rebuilds tf/dl from the corpus on
every call; a serving layer cannot afford that at 100 TB, so the index
(postings = the tf table, doclen = the per-doc length table) lives as
a store under the SAME atomic ``_BATCHES`` manifest contract as the
incremental dedup stores (``core/store.py`` — two-phase commit:
write ``<table>/batch=<tag>`` directories, then one ``os.replace``
manifest swap under the flock; a torn ingest is invisible, replay is
idempotent because already-indexed doc_ids are anti-joined out). That
also makes the store lifecycle operators work on it unchanged:
``compact_incremental_store(tables=("postings", "doclen"),
cluster_by={"postings": ["token"]})`` restores token co-location that
per-batch appends erode, ``delete_from_incremental_store`` serves
takedown, ``read_incremental_store_asof`` time travel.

Scoring is shared with the batch query (:func:`bm25_rank`) and keeps
its cross-engine-exactness contract: the single ``ln`` washed at 6dp,
per-(query, doc) contributions rounded then DECIMAL(38,6)-summed
(order-free), every float expression in the identical IEEE op order
as the SQL oracle, unique (score DESC, doc_id) tie-break.

Because documents are never split across ingest batches, the union of
the store's postings/doclen equals the from-scratch tables for ANY
batch slicing — so the store-served top-k hash-matches the SAME
oracle as ``bm25_topk`` (batch placement provably irrelevant, the
``streaming_incremental_dedup`` argument applied to retrieval).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..core import store
from ..core.layout import rebalanced
from ..core.smalldf import local_df

_PARAMS = {"kind": "bm25", "tokenizer": "ws-lower", "k1": "1.2", "b": "0.75"}


def tokenize_ws(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokenization, lowercased — the exact split the SQL
    oracle replays (``string_split_regex(trim(lower(text)), '\\s+')``)."""
    return df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("token"),
    )


def bm25_rank(tf: DataFrame, dl: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Rank documents by BM25 (Lucene +1 idf, k1=1.2, b=0.75) given the
    index tables: ``tf`` (doc_id, token, tf), ``dl`` (doc_id, dl), and
    ``queries`` (query_id, token). Candidates are docs sharing >= 1
    query term — posting-list-bounded, never corpus-bounded; corpus
    scalars (N, total tokens) ride a 1-row broadcast."""
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
    dfreq = tf.join(F.broadcast(queries.select("token").distinct()), "token").groupBy(
        "token"
    ).agg(F.count(F.lit(1)).alias("df"))
    cand = (
        tf.join(F.broadcast(queries), "token")
        .join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    nd = F.col("n").cast("double")
    dfd = F.col("df").cast("double")
    idf = F.round(F.log(((nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))) + F.lit(1.0)), 6)
    tfd = F.col("tf").cast("double")
    tfn = (tfd * F.lit(2.2)) / (
        tfd
        + F.lit(1.2)
        * (
            F.lit(0.25)
            + F.lit(0.75)
            * ((F.col("dl") * F.col("n")).cast("double") / F.col("s").cast("double"))
        )
    )
    contrib = F.round(idf * tfn, 6).cast("decimal(38,6)")
    scores = (
        cand.select("query_id", "doc_id", contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            F.col("score").cast("double").alias("score"),
        )
    )


def bm25_index_ingest(
    spark,
    index_path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Add a batch of documents to the persisted inverted index:
    tokenize only the docs whose ``doc_id`` is NEW (anti-join against
    the store's doclen — replaying a crashed or duplicated ingest
    admits nothing twice), write their postings and doclen under
    ``batch=<tag>``, publish the tag atomically. Within a batch a
    duplicated doc_id keeps the lexicographically-least text
    (deterministic under any partitioning). Cost is O(batch tokens) +
    one doc_id anti-join — never a re-scan of indexed text, the same
    admission contract as ``dedup_incremental_exact``. Returns the
    admitted (doc_id, dl) rows."""
    manifest_path = store.manifest_path(index_path)
    uniq = batch.groupBy(id_col).agg(F.min(text_col).alias(text_col))
    tags = store._manifest_read(manifest_path, _PARAMS)
    if tags:
        hist_ids = store.read_batches(spark, index_path, "doclen", tags).select(id_col)
        # restrict-then-anti (the store-family admission pattern): an
        # anti join cannot broadcast its big right side, so semi-probe
        # the history with the broadcast batch ids first — history is
        # scanned, never shuffled; the hit set is batch-bounded
        _hits = hist_ids.join(
            F.broadcast(uniq.select(id_col)), id_col, "semi"
        )
        uniq = uniq.join(F.broadcast(_hits), id_col, "left_anti")
    tf = tokenize_ws(uniq, text_col, id_col).groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # doc length == sum of its term frequencies: derive dl from tf so
    # the batch is tokenized once
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    # materialize before the append (no lazy re-run of the anti-join
    # after the store gains this batch's own doc_ids)
    dl = dl.localCheckpoint(eager=True)
    tag = uuid.uuid4().hex
    # tf is aggregation-tailed (AQE partition coalescing bounds the
    # write); dl is checkpointed — rebalanced(probe) gives it
    # advisory-sized commit files (guide §6)
    tf.write.mode("overwrite").parquet(
        store.batch_path(index_path, "postings", tag)
    )
    rebalanced(dl, probe=True).write.mode("overwrite").parquet(
        store.batch_path(index_path, "doclen", tag)
    )
    store._manifest_publish(manifest_path, _PARAMS, add_tags=[tag])
    return dl


def bm25_index_topk(spark, index_path: str, queries: DataFrame, k: int = 10) -> DataFrame:
    """Serve BM25 top-k from the persisted index — the read path a
    retrieval layer runs per query batch: open the manifest-listed
    postings/doclen directories and rank.

    ZONE-PRUNED: when compaction token-clustered the postings
    (``compact_incremental_store(zone_by={"postings": "token"})``),
    only the part files whose token range covers a query term are
    opened (:func:`..zones.pruned_paths_probes` — the query term list
    is driver-small by the same contract that broadcasts it in
    :func:`bm25_rank`).  Exact: a pruned file is PROVEN to hold no
    postings for any query term, so candidates, per-term df, and the
    scores are unchanged; the corpus scalars (N, S) come from doclen,
    which always reads whole.  At 100 TB this bounds a query batch's
    postings I/O by the terms probed instead of the vocabulary."""
    from .zones import pruned_paths_probes

    tags = store._manifest_read(store.manifest_path(index_path), _PARAMS)
    if not tags:
        raise ValueError(f"empty bm25 index at {index_path} (no committed batches)")
    terms = [r.token for r in queries.select("token").distinct().collect()]
    paths = pruned_paths_probes(index_path, "postings", tags, "token", terms)
    if paths:
        tf = spark.read.parquet(*paths)
    else:
        # every postings file pruned: no query term is indexed
        tf = store.read_batches(spark, index_path, "postings", tags).limit(0)
    dl = store.read_batches(spark, index_path, "doclen", tags)
    return bm25_rank(tf, dl, queries, k=k)


# ------------------------------------------------------------------
# Persisted ANN (IVF) index — the vector-side counterpart of the BM25
# store: bootstrap-train the exact quantizer once, freeze it, then
# ingest every later batch as cell assignments under the frozen
# centroids and serve integer-exact kNN from the store.
# ------------------------------------------------------------------

def _ann_params(
    k_cells: int, rounds: int, quant_digits: int, store_int8: bool = False
) -> dict:
    return {
        "kind": "ann-ivf",
        "k_cells": str(k_cells),
        "rounds": str(rounds),
        "quant_digits": str(quant_digits),
        "cells_int8": str(bool(store_int8)).lower(),
    }


def _centroids_path(index_path: str) -> str:
    return os.path.join(index_path, "_CENTROIDS")


def _centroids_write(path: str, cents: list) -> None:
    store.write_json(
        path, {"centroids": [[list(map(str, s)), str(n)] for s, n in cents]}
    )


def _centroids_read(index_path: str) -> list:
    """Load the frozen quantizer the MANIFEST points at: after a
    re-train rewrite the params carry ``centroids_file`` (the pointer
    and the cells assigned under it became visible in one atomic
    manifest swap); a store that has never been re-trained uses the
    bootstrap default ``_CENTROIDS``."""
    import json

    _tags, params = store.read_manifest(store.manifest_path(index_path))
    fname = (params or {}).get("centroids_file", "_CENTROIDS")
    with open(os.path.join(index_path, fname)) as f:
        return [(list(map(int, s)), int(n)) for s, n in json.load(f)["centroids"]]


def ann_index_ingest(
    spark,
    index_path: str,
    batch: DataFrame,
    k_cells: int = 8,
    rounds: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant_digits: int = 6,
    store_int8: bool = False,
) -> DataFrame:
    """Add a batch of vectors to the persisted IVF index. The FIRST
    batch bootstraps the coarse quantizer (:func:`kmeans_exact` on that
    batch alone) and freezes its integer (sum, count) centroids in
    ``_CENTROIDS`` (tmp + ``os.replace``, written BEFORE the first
    manifest publish so any reader that sees a committed batch sees
    the centroids); every batch — including the bootstrap — then
    commits its cell assignment (id, v, cid) under ``cells/batch=<tag>``
    through the same atomic ``_BATCHES`` manifest as the dedup and BM25
    stores. Already-ingested ids are anti-joined out, so crashed or
    duplicated ingests replay idempotently. FROZEN centroids are what
    make the index consistent (a vector's cell never depends on when it
    arrived) and are the production IVF contract — FAISS-style indexes
    train once and add forever; re-training is a store REWRITE
    (compaction with a new quantizer), not an ingest. Returns the
    admitted (id, cid) rows.

    Concurrency: ingests into an ESTABLISHED store serialize on the
    manifest flock like every other store. The bootstrap itself is
    single-writer by contract (the store does not exist yet — the same
    contract as creating any table); if two callers race it anyway,
    the loser detects a no-longer-empty manifest before publishing and
    retries as a normal ingest under the winner's frozen centroids, so
    the store never mixes assignments from two quantizers.

    ``store_int8=True`` is the FAISS-SQ8-style serving twin: the cells
    table keeps v as ``array<tinyint>`` instead of ``array<bigint>``
    (8x smaller codes; pair with ``quant_digits=2`` so a unit-ish
    vector's codes fit [-128, 127] — the ANSI tinyint cast throws on
    the first out-of-range component, so a mis-sized scale fails loudly
    at ingest, never wraps). Quantization is the SAME global scale as
    the long store — per-vector scales would break L2 comparability —
    so assignment, probe selection and distances are bit-identical to
    a long store at the same quant_digits (pinned by
    test_ann_index_int8_parity); serving widens the codes back to long
    before the distance math. Mixed int8/long usage of one store is
    refused like any parameter mismatch.

    ANN callers check only the SUBSET of the recorded params that
    affects them (quant_digits, cells_int8), because re-training
    legitimately changes k_cells/rounds and adds the centroids-file
    pointer."""
    from .similarity import assign_exact, kmeans_exact

    manifest_path = store.manifest_path(index_path)
    params = _ann_params(k_cells, rounds, quant_digits, store_int8)
    tags, stored = store.read_manifest(manifest_path)
    if tags and stored.get("quant_digits") != str(quant_digits):
        # quant_digits changes v itself — refused; k_cells/rounds are
        # bootstrap-training inputs only, irrelevant once the quantizer
        # is frozen (and legitimately different after a re-train)
        raise ValueError(
            f"ann index at {index_path} was built with quant_digits="
            f"{stored.get('quant_digits')}, ingest uses {quant_digits}"
        )
    if tags and stored.get("cells_int8", "false") != params["cells_int8"]:
        raise ValueError(
            f"ann index at {index_path} was built with cells_int8="
            f"{stored.get('cells_int8', 'false')}, ingest uses "
            f"{params['cells_int8']}"
        )
    uniq = batch.dropDuplicates([id_col])
    if tags:
        hist_ids = store.read_batches(spark, index_path, "cells", tags).select(id_col)
        # restrict-then-anti (the store-family admission pattern): an
        # anti join cannot broadcast its big right side, so semi-probe
        # the history with the broadcast batch ids first — history is
        # scanned, never shuffled; the hit set is batch-bounded
        _hits = hist_ids.join(
            F.broadcast(uniq.select(id_col)), id_col, "semi"
        )
        uniq = uniq.join(F.broadcast(_hits), id_col, "left_anti")
        cents = _centroids_read(index_path)
        assigned = assign_exact(
            uniq, cents, vec_col=vec_col, id_col=id_col, quant_digits=quant_digits
        )
    else:
        stats: dict = {}
        assigned = kmeans_exact(
            uniq, k=k_cells, rounds=rounds, vec_col=vec_col, id_col=id_col,
            quant_digits=quant_digits, stats=stats,
        )
        # Bootstrap commit: cells are written while still invisible,
        # then [race re-check, centroid swap, manifest publish] happen
        # as ONE critical section under the manifest flock — a losing
        # racer's cells directory is an unlisted orphan (reclaimed by
        # the next rewrite's sweep) and it retries under the winner's
        # centroids; the winner's _CENTROIDS can never be clobbered
        # after a batch referencing it is published.
        if store_int8:
            # explicit per-element range guard: an out-of-int8 code
            # raises regardless of session config (an ANSI cast also
            # throws, but spark.sql.ansi.enabled=false would silently
            # wrap and corrupt codes — don't depend on it)
            assigned = assigned.withColumn(
                "v",
                F.transform(
                    "v",
                    lambda x: F.when(
                        (x >= -128) & (x <= 127), x.cast("tinyint")
                    ).otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit("int8 ANN code out of range: "),
                                x.cast("string"),
                            )
                        ).cast("tinyint")
                    ),
                ),
            )
        assigned = assigned.localCheckpoint(eager=True)
        tag = uuid.uuid4().hex
        rebalanced(assigned, probe=True).write.mode("overwrite").parquet(
            store.batch_path(index_path, "cells", tag)
        )
        with store._manifest_lock(manifest_path):
            lost = bool(store.read_manifest(manifest_path)[0])
            if not lost:
                _centroids_write(_centroids_path(index_path), stats["centroids"])
                store._manifest_swap(
                    manifest_path, None, add_tags=[tag], set_params=params
                )
        if lost:
            return ann_index_ingest(
                spark, index_path, batch, k_cells=k_cells, rounds=rounds,
                vec_col=vec_col, id_col=id_col, quant_digits=quant_digits,
                store_int8=store_int8,
            )
        return assigned.select(id_col, "cid")
    if store_int8:
        assigned = assigned.withColumn("v", F.col("v").cast("array<tinyint>"))
    assigned = assigned.localCheckpoint(eager=True)
    tag = uuid.uuid4().hex
    rebalanced(assigned, probe=True).write.mode("overwrite").parquet(
        store.batch_path(index_path, "cells", tag)
    )
    # params=None preserves the store's recorded params verbatim — an
    # established store's quantizer params were validated above and may
    # legitimately differ from this call's bootstrap-only k_cells/rounds
    # (and carry centroids_file after a re-train)
    store._manifest_publish(manifest_path, None, add_tags=[tag])
    return assigned.select(id_col, "cid")


def ann_index_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    quant_digits: int = 6,
    candidate_filter=None,
) -> DataFrame:
    """Serve integer-exact IVF kNN from the persisted index: load the
    frozen centroids, probe ``nprobe`` cells per query with the same
    rational-cost ranking the assignment used, scan only the probed
    cells across the manifest-listed batch directories, and take the
    per-query top-k — :func:`knn_ivf_exact`'s serving stage with the
    train+assign passes amortized into the store. At 100 TB the cells
    table is cid-clustered by compaction so a probe touches one file
    group per cell. ``quant_digits`` must match the ingest setting
    (validated against the manifest params).

    ``candidate_filter``: optional boolean Column over the cells
    schema (id, v, cid) — metadata-FILTERED search, the production
    ANN feature every vector store grew (FAISS IDSelector, the
    filtered-search benchmark family): the predicate applies to the
    candidate scan BEFORE distance math, so Catalyst pushes it into
    the parquet read (column-pruned, min/max-pruned at scale) and the
    quantizer geometry is untouched — exactly the post-filter
    candidate semantics of takedown, expressed per query. Recall
    caveat at production: a highly selective filter empties probed
    cells; raise nprobe with selectivity (the documented trade-off)."""
    from .similarity import ivf_rank_exact

    tags, stored = store.read_manifest(store.manifest_path(index_path))
    if not tags:
        raise ValueError(f"empty ann index at {index_path} (no committed batches)")
    if stored.get("quant_digits") != str(quant_digits):
        raise ValueError(
            f"ann index at {index_path} was built with quant_digits="
            f"{stored.get('quant_digits')}, call uses {quant_digits}"
        )
    cents = _centroids_read(index_path)
    # ZONE-PRUNED cell scan: the probed cid set is computable
    # driver-side BEFORE touching the store (frozen centroids +
    # collected queries), so when compaction cid-clustered the cells
    # (zone_by={"cells": "cid"}) only the part files whose cid range
    # covers a probed cell are opened — exact, since a pruned file is
    # PROVEN to hold no probed cell's vectors, and the cid join below
    # would drop its rows anyway. Bounds a query batch's I/O by
    # nprobe x |queries| file groups instead of the full index.
    from .similarity import probe_cells_exact
    from .zones import pruned_paths_probes

    scale = float(10 ** quant_digits)
    qrows = queries.select(
        query_id_col,
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * scale, 0).cast("long")
        ).alias("v"),
    ).collect()
    if not qrows:
        raise ValueError("ann_index_topk: empty query set")
    probe_cids = sorted(
        {
            cid
            for r in qrows
            for cid in probe_cells_exact([int(x) for x in r.v], cents, nprobe)
        }
    )
    paths = pruned_paths_probes(index_path, "cells", tags, "cid", probe_cids)
    if paths:
        assigned = spark.read.parquet(*paths)
    else:
        assigned = store.read_batches(spark, index_path, "cells", tags).limit(0)
    if candidate_filter is not None:
        assigned = assigned.filter(candidate_filter)
    # widen int8 codes back to long before the distance math (no-op on
    # long stores); tinyint-tinyint products would overflow in-type
    assigned = assigned.withColumn("v", F.col("v").cast("array<bigint>"))
    return ivf_rank_exact(
        assigned, qrows, cents, nprobe=nprobe, k=k,
        id_col=id_col, query_id_col=query_id_col,
        query_id_type=queries.schema[query_id_col].dataType.simpleString(),
    )


def ann_index_retrain(
    spark,
    index_path: str,
    k_cells: int | None = None,
    rounds: int | None = None,
    id_col: str = "vec_id",
) -> list:
    """Re-train the coarse quantizer as a store REWRITE — the
    "compaction with a new quantizer" the ingest docstring names as the
    re-training contract (FAISS indexes train once and add forever;
    when drift or growth makes the frozen cells lopsided, you retrain
    and MIGRATE, never mix). Runs :func:`lloyd_exact` over the STORED
    quantized vectors (the cells table keeps v, so no original corpus
    is re-read), re-assigns every vector under the new centroids, and
    publishes through :func:`..core.store._rewrite_store`'s crash-safe protocol —
    with one extension: the new centroids live in a fresh
    ``_CENTROIDS.retrain-<tag>`` file written BEFORE the manifest
    publish, and the manifest's params gain ``centroids_file`` in the
    SAME atomic swap that lists the re-assigned cells. A crash
    anywhere leaves a consistent pair (old cells + old centroids, or
    new cells + new centroids) — never a mix; superseded centroid
    files are inert metadata orphans swept by later retrains once
    aged (same grace rule as crash-orphaned batch directories).

    ``k_cells`` / ``rounds`` default to the store's recorded values
    (a pure re-train on fresher data); pass new ones to re-shape the
    index. ``quant_digits`` cannot change — it defines v itself.

    Assignment-migration proof: store-served kNN after retrain must
    equal a from-scratch index whose quantizer trained on the same
    vector set — pinned by the ``ann_index_retrained`` gate query's
    hash oracle and test_ann_index_retrain_* in tests/test_operators.py.

    Returns the new (sum, count) centroid list ([] if the store is
    empty)."""
    import time

    from .similarity import _kmeans_assign_udf, lloyd_exact

    manifest_path = store.manifest_path(index_path)
    tags, stored = store.read_manifest(manifest_path)
    if not tags:
        return []
    kc = int(stored["k_cells"]) if k_cells is None else int(k_cells)
    rnd = int(stored["rounds"]) if rounds is None else int(rounds)
    new_file = f"_CENTROIDS.retrain-{uuid.uuid4().hex}"
    new_params = dict(stored)
    new_params.update(
        {"k_cells": str(kc), "rounds": str(rnd), "centroids_file": new_file}
    )
    state: dict = {}

    int8_store = stored.get("cells_int8", "false") == "true"

    def retrain(df, _table):
        # widen int8 codes for the Lloyd/assignment math, re-narrow on
        # the rewrite so the store keeps its declared cell dtype
        q = df.select(
            id_col, F.col("v").cast("array<bigint>").alias("v")
        ).localCheckpoint()
        cents = lloyd_exact(q, k=kc, rounds=rnd, id_col=id_col)
        # the pointer target must exist before the manifest (published
        # right after this transform returns) can reference it
        _centroids_write(os.path.join(index_path, new_file), cents)
        state["centroids"] = cents
        out = q.withColumn("cid", _kmeans_assign_udf(cents)(F.col("v")))
        if int8_store:
            out = out.withColumn("v", F.col("v").cast("array<tinyint>"))
        return rebalanced(out)

    snapshot = store._rewrite_store(
        spark, index_path, retrain, tables=("cells",), min_batches=1,
        set_params=new_params,
    )
    if not snapshot:
        return []
    # sweep superseded centroid files: unreferenced by the CURRENT
    # manifest and aged past the ingest-commit grace window (a younger
    # unreferenced file may be a concurrent retrain's pre-publish write)
    _tags, live = store.read_manifest(manifest_path)
    keep = live.get("centroids_file", "_CENTROIDS")
    now = time.time()
    for entry in os.listdir(index_path):
        if not entry.startswith("_CENTROIDS") or entry == keep:
            continue
        p = os.path.join(index_path, entry)
        try:
            if now - os.path.getmtime(p) > store._REWRITE_STALE_S:
                os.remove(p)
        except OSError:
            pass
    return state["centroids"]


def ann_drift_stats(spark, index_path: str) -> DataFrame:
    """Per-cell drift of the live index vs its FROZEN quantizer — the
    monitoring read that schedules :func:`ann_index_retrain`: member
    count, occupancy share, and the squared displacement between the
    frozen centroid mean and the current member mean, kept EXACT as
    the integer ratio Σ_p (s_now·n_f − s_f·n_now)² / (n_now·n_f)²
    (the (sum, count)-never-divided discipline of kmeans_exact applied
    to monitoring) with one IEEE division per cell. One
    map-side-combinable pass over the cells table joined to the k-row
    centroid table; DECIMAL(38) headroom bounds cells at ~10^7 members
    for dim-64 / 10^6-quantized inputs. A store whose only commits are
    the bootstrap shows drift2 == 0 exactly (the frozen stats ARE the
    final Lloyd stats over the same members)."""
    dec = "decimal(38,0)"
    tags = store._manifest_read(store.manifest_path(index_path), None)
    if not tags:
        raise ValueError(f"empty ann index at {index_path} (no committed batches)")
    cells = store.read_batches(spark, index_path, "cells", tags)
    cents = _centroids_read(index_path)
    frozen = local_df(
        spark,
        [(cid, [str(x) for x in s], n) for cid, (s, n) in enumerate(cents)],
        "cid int, sf array<string>, nf bigint",
    ).select(
        "cid",
        F.transform("sf", lambda x: x.cast(dec)).alias("sf"),
        "nf",
    )
    nnow = cells.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    snow = (
        cells.select("cid", F.posexplode("v").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.sum(F.col("val").cast(dec)).alias("s"))
    )
    tot = nnow.agg(F.sum("n").alias("t"))
    diff = F.col("s") * F.col("nf").cast(dec) - F.element_at(
        "sf", F.col("pos") + 1
    ) * F.col("n").cast(dec)
    num = (
        snow.join(F.broadcast(frozen), "cid")
        .join(F.broadcast(nnow), "cid")
        .select("cid", (diff * diff).alias("d2"))
        .groupBy("cid")
        .agg(F.sum("d2").alias("nm"))
    )
    den = (
        F.col("n").cast(dec) * F.col("nf").cast(dec)
        * F.col("n").cast(dec) * F.col("nf").cast(dec)
    )
    return (
        num.join(nnow, "cid")
        .join(F.broadcast(frozen.select("cid", "nf")), "cid")
        .crossJoin(F.broadcast(tot))
        .select(
            "cid",
            F.col("n").cast("bigint").alias("n_members"),
            F.round(F.col("n").cast("double") / F.col("t").cast("double"), 6).alias(
                "occupancy_frac"
            ),
            F.round(F.col("nm").cast("double") / den.cast("double"), 6).alias("drift2"),
        )
    )


#: rows per Arrow batch handed to the cross-encoder scorer — the knob
#: that bounds per-worker activation memory for a real model.
CE_BATCH_ROWS = 1024

_CE_DENOM = float(16 ** 12)


def crossencoder_score(
    pairs: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    prefix_col: str = "prefix",
) -> DataFrame:
    """Batch cross-encoder scoring over (query, doc) pairs — the
    second-stage reranker of a retrieval cascade, with the REAL
    Spark-side inference plumbing (Arrow-batched ``mapInPandas``,
    pairs-in/scores-out signature, per-batch row bound via
    ``spark.sql.execution.arrow.maxRecordsPerBatch``-style sizing) and
    a STUB model: this container ships no inference libraries, so CI
    scores with a deterministic content-hash pseudo-logit that is
    SQL-replayable — the whole cascade then sits under the value-hash
    oracle while the model seam stays one function swap away.

    PRODUCTION SEAM: replace the stub block with a per-worker
    singleton (load the cross-encoder once per executor process, not
    per batch) and ``model.predict(list(zip(queries, texts)))`` over
    the same pandas batch; everything around it — shortlist join,
    batch shape, top-k — is unchanged. The stub's score is
    u = (hex12(md5("ce:<qid>:<did>:<prefix>")) + 1) / 16^12 ∈ (0, 1],
    emitted RAW (one IEEE division on exact ints — bit-identical in
    any engine, no rounding wash needed)."""
    import hashlib

    import pandas as pd

    out_schema = f"{query_id_col} int, {id_col} bigint, ce_score double"

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # --- STUB standing in for model.predict(...) ---
            scores = [
                (int(hashlib.md5(f"ce:{int(q)}:{int(d)}:{p}".encode()).hexdigest()[:12], 16) + 1)
                / _CE_DENOM
                for q, d, p in zip(pdf[query_id_col], pdf[id_col], pdf[prefix_col])
            ]
            # --- end stub ---
            yield pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col].astype("int32"),
                    id_col: pdf[id_col].astype("int64"),
                    "ce_score": scores,
                }
            )

    return pairs.mapInPandas(score, schema=out_schema)


# ------------------------------------------------------------------
# Hybrid retrieval: shared RRF fusion + the multi-table hybrid store
# (one atomic manifest spanning the lexical AND vector tables).
# ------------------------------------------------------------------

#: the standard RRF constant (Cormack, Clarke & Buettcher 2009)
RRF_C = 60


def rrf_fusion(
    tf: DataFrame,
    dl: DataFrame,
    queries: DataFrame,
    dvec: DataFrame,
    qvec: DataFrame,
    prefixes: DataFrame,
    shortlist: int = 50,
    k: int = 10,
    c: int = RRF_C,
) -> DataFrame:
    """Three-leg hybrid ranking from index tables: a BM25 shortlist
    (``tf``/``dl`` — the inverted index), an exact-cosine leg over
    ``dvec`` (doc_id, dvec float array) against the broadcast ``qvec``
    (query_id, qvec), and a cross-encoder leg over ``prefixes``
    (doc_id, prefix), fused by reciprocal-rank:
    rrf(d) = Σ_legs 1/(c + rank_leg(d)). All three leg rankings are
    computed over the SAME shortlist, so every candidate carries all
    three ranks (fusion of full rankings — no missing-leg convention).

    Coverage precondition: ``dvec`` and ``prefixes`` must cover every
    doc the BM25 shortlist can surface (guaranteed for the hybrid
    store, whose four tables commit together). For ad-hoc callers with
    partial side tables, the inner joins DROP a shortlist doc missing
    either leg — supply full-coverage tables or pre-filter the corpus.

    Exactness: each 1/(c+rank) term is one IEEE division of exact
    small ints and the 3-term sum is written in the identical
    left-to-right order as the SQL oracle, so the fused doubles are
    bit-identical cross-engine; (rrf DESC, doc_id) is a total order.

    Shape: the shortlist is computed once (localCheckpoint —
    |queries| × shortlist rows, bounded by contract) and fans out to
    the three legs, each a per-query window over shortlist-sized
    input; query vectors broadcast; the corpus pays only the lexical
    stage. RRF needs only ranks — never comparable scores — which is
    why it is the standard fusion for heterogeneous retrievers."""
    from pyspark.sql import Window

    from ..functions.vector import cosine_similarity

    short = (
        bm25_rank(tf, dl, queries, k=shortlist)
        .select("query_id", F.col("rank").alias("rb"), "doc_id")
        .localCheckpoint(eager=True)
    )
    wc = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("doc_id").asc())
    cosleg = (
        short.join(dvec, "doc_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn("cos", F.round(cosine_similarity(F.col("dvec"), F.col("qvec")), 6))
        .withColumn("rc", F.row_number().over(wc))
        .select("query_id", "doc_id", "rc")
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("ce_score").desc(), F.col("doc_id").asc()
    )
    pairs = short.select("query_id", "doc_id").join(prefixes, "doc_id").select(
        "query_id", "doc_id", "prefix"
    )
    celeg = (
        crossencoder_score(pairs)
        .withColumn("rce", F.row_number().over(we))
        .select("query_id", "doc_id", "rce")
    )
    cc = F.lit(float(c))
    fused = (
        short.join(cosleg, ["query_id", "doc_id"])
        .join(celeg, ["query_id", "doc_id"])
        .withColumn(
            "rrf",
            F.lit(1.0) / (cc + F.col("rb").cast("double"))
            + F.lit(1.0) / (cc + F.col("rc").cast("double"))
            + F.lit(1.0) / (cc + F.col("rce").cast("double")),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            F.col("rrf").alias("rrf_score"),
            F.col("rb").cast("int").alias("bm25_rank"),
            F.col("rc").cast("int").alias("cos_rank"),
            F.col("rce").cast("int").alias("ce_rank"),
        )
    )


_HYBRID_PARAMS = {
    "kind": "hybrid-retrieval",
    "tokenizer": "ws-lower",
    "k1": "1.2",
    "b": "0.75",
    "prefix_len": "64",
}

#: manifest-listed tables of the hybrid store — every ingest commits
#: ALL of them in one manifest swap; lifecycle ops span all of them.
#: doclen leads: it is the one-row-per-doc table, so takedown's
#: reported deletion count means DOCS (the bm25-store convention).
HYBRID_TABLES = ("doclen", "postings", "vectors", "prefixes")


def hybrid_index_ingest(
    spark,
    index_path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SNAPSHOT-ISOLATED MULTI-TABLE commit for hybrid retrieval — the
    transaction the independent BM25/ANN stores cannot express: a
    document's postings, length, embedding and rerank prefix land in
    FOUR tables (``postings``, ``doclen``, ``vectors``, ``prefixes``)
    under ONE ``_BATCHES`` manifest swap, so a doc and its vector
    appear together or not at all. A crash after any subset of the
    four table writes leaves all four invisible (the tag is unlisted);
    replay re-admits identically via the doc_id anti-join. Serving
    reads one manifest snapshot, so a hybrid query can never see a doc
    whose lexical leg exists but whose vector leg doesn't — the
    torn-read hybrid serving suffers when its legs live in separately-
    committed stores.

    Batch rows carry (doc_id, text, embedding) — the doc and its
    vector arrive TOGETHER; within-batch duplicate doc_ids keep the
    lexicographically-least (text, embedding) pair (deterministic
    under any partitioning). Cost: O(batch tokens) + one doc_id
    anti-join, the standard admission contract. Store lifecycle works
    unchanged with ``tables=HYBRID_TABLES``: takedown removes a doc
    from all four tables in one crash-safe rewrite, compaction can
    cluster postings by token while leaving the payload tables id-
    clustered, time travel truncates all four to the same commit
    prefix. Returns the admitted (doc_id, dl) rows."""
    manifest_path = store.manifest_path(index_path)
    uniq = (
        batch.groupBy(id_col)
        .agg(F.min(F.struct(text_col, vec_col)).alias("tv"))
        .select(
            id_col,
            F.col(f"tv.{text_col}").alias(text_col),
            F.col(f"tv.{vec_col}").alias(vec_col),
        )
    )
    tags = store._manifest_read(manifest_path, _HYBRID_PARAMS)
    if tags:
        hist_ids = store.read_batches(spark, index_path, "doclen", tags).select(id_col)
        # restrict-then-anti (the store-family admission pattern): an
        # anti join cannot broadcast its big right side, so semi-probe
        # the history with the broadcast batch ids first — history is
        # scanned, never shuffled; the hit set is batch-bounded
        _hits = hist_ids.join(
            F.broadcast(uniq.select(id_col)), id_col, "semi"
        )
        uniq = uniq.join(F.broadcast(_hits), id_col, "left_anti")
    # one materialization of the admitted batch feeds all four tables
    # (and freezes the anti-join before the store gains these doc_ids)
    uniq = uniq.localCheckpoint(eager=True)
    tf = tokenize_ws(uniq, text_col, id_col).groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    prefix = F.substring(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), 1, 64
    )
    tag = uuid.uuid4().hex
    # rebalanced: advisory-sized commit files (see bm25_index_ingest)
    # tf/dl are aggregation-tailed (AQE bounds their writes); the two
    # uniq projections are narrow over the checkpointed batch (probe)
    tf.write.mode("overwrite").parquet(
        store.batch_path(index_path, "postings", tag)
    )
    dl.write.mode("overwrite").parquet(
        store.batch_path(index_path, "doclen", tag)
    )
    rebalanced(uniq.select(id_col, vec_col), probe=True).write.mode(
        "overwrite"
    ).parquet(store.batch_path(index_path, "vectors", tag))
    rebalanced(uniq.select(id_col, prefix.alias("prefix")), probe=True).write.mode(
        "overwrite"
    ).parquet(store.batch_path(index_path, "prefixes", tag))
    # THE transaction: all four table writes become visible here or never
    store._manifest_publish(manifest_path, _HYBRID_PARAMS, add_tags=[tag])
    return dl


def hybrid_index_rrf(
    spark,
    index_path: str,
    query_terms: DataFrame,
    query_vecs: DataFrame,
    shortlist: int = 50,
    k: int = 10,
    c: int = RRF_C,
    as_of_batches: int | None = None,
) -> DataFrame:
    """Serve the full three-leg RRF cascade from ONE hybrid-store
    snapshot: the manifest is read once, all four tables open at that
    commit point, and :func:`rrf_fusion` runs entirely store-resident
    (postings/doclen for the lexical leg, vectors for the cosine leg,
    prefixes for the cross-encoder leg). ``query_terms`` = (query_id,
    token); ``query_vecs`` = (query_id, embedding). ``as_of_batches``
    pins ALL FOUR tables to the first k manifest entries together —
    because they share the commit clock, a pinned hybrid serve can
    never tear (a doc's lexical leg without its vector leg), which is
    what makes the fleet-snapshot contract meaningful for serving."""
    manifest_path = store.manifest_path(index_path)
    tags = store._manifest_read(manifest_path, _HYBRID_PARAMS)
    if not tags:
        raise ValueError(f"empty hybrid index at {index_path} (no committed batches)")
    if as_of_batches is not None:
        if not 0 < as_of_batches <= len(tags):
            raise ValueError(
                f"as_of_batches={as_of_batches} out of range for store "
                f"{index_path} with {len(tags)} committed batches"
            )
        tags = tags[:as_of_batches]
    t = {
        name: store.read_batches(spark, index_path, name, tags)
        for name in HYBRID_TABLES
    }
    # lexical-leg zone pruning (same contract as bm25_index_topk):
    # when compaction token-zoned the postings, open only files whose
    # token range covers a query term; exact, and pinned-read-safe
    # because the probe walks the SAME truncated tag list
    from .zones import pruned_paths_probes

    terms = [r.token for r in query_terms.select("token").distinct().collect()]
    ppaths = pruned_paths_probes(index_path, "postings", tags, "token", terms)
    t["postings"] = (
        spark.read.parquet(*ppaths) if ppaths else t["postings"].limit(0)
    )
    dvec = t["vectors"].select(F.col("doc_id"), F.col("embedding").alias("dvec"))
    qvec = query_vecs.select("query_id", F.col("embedding").alias("qvec"))
    return rrf_fusion(
        t["postings"], t["doclen"], query_terms, dvec, qvec, t["prefixes"],
        shortlist=shortlist, k=k, c=c,
    )


def ann_index_topk_auto(
    spark,
    index_path: str,
    queries: DataFrame,
    candidate_filter,
    base_nprobe: int = 2,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    quant_digits: int = 6,
):
    """COST-BASED probe widening for metadata-filtered search: the
    documented selectivity↔nprobe trade-off made mechanical. A
    selective ``candidate_filter`` empties probed cells, so recall at
    fixed nprobe degrades exactly as selectivity drops; this wrapper
    estimates selectivity with one count pass over the cells table
    (sel = |matching| / |all| — exact IEEE division of exact ints, so
    the chosen nprobe is engine-reproducible) and probes

        nprobe = min(k_cells, ceil(base_nprobe / sel))

    — the unfiltered query keeps base_nprobe; a 1-in-3 filter probes
    3x the cells; a filter below base/k_cells selectivity degrades to
    exhaustive cell coverage (the honest floor — at that point IVF
    cannot beat a filtered scan and shouldn't pretend to). Returns
    (result DataFrame, chosen nprobe). At 100 TB the count pass is
    min/max-pruned by the same pushed predicate the serve uses, and a
    deployment would cache per-predicate selectivities the way any
    cost-based optimizer caches column stats."""
    import math

    tags, params = store.read_manifest(store.manifest_path(index_path))
    if not tags:
        raise ValueError(f"empty ann index at {index_path} (no committed batches)")
    k_cells = int(params["k_cells"])
    cells = store.read_batches(spark, index_path, "cells", tags)
    agg = cells.agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(candidate_filter, F.lit(1))).alias("matched"),
    ).first()
    if not agg.matched:
        raise ValueError("ann_index_topk_auto: candidate_filter matches no vectors")
    sel = agg.matched / agg.total  # one IEEE division of exact ints
    nprobe = min(k_cells, math.ceil(base_nprobe / sel))
    out = ann_index_topk(
        spark, index_path, queries, nprobe=nprobe, k=k,
        vec_col=vec_col, id_col=id_col, query_id_col=query_id_col,
        quant_digits=quant_digits, candidate_filter=candidate_filter,
    )
    return out, nprobe
