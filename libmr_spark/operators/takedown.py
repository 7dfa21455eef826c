"""Cross-store referential takedown: one call that removes a set of
doc ids from EVERY store kind that knows them — the operational shape
a right-to-be-forgotten request actually has (the requester hands you
ids, not a list of your internal stores). Each store family keeps its
own proven delete semantics; this operator only routes and audits:

- ``table``-style stores (exact fps, BM25 index, ANN cells, the
  four-table hybrid store) → :func:`dedup.delete_from_incremental_store`
  (one crash-safe rewrite spanning the named tables).
- cluster stores → :func:`dedup.delete_from_cluster_store` (scoped
  connected-components recompute — deletes can SPLIT components).
- span stores → :func:`dedup.delete_from_span_store` (survivors'
  spans can SHRINK; cut list recomputed, revisions folded).
- join-MV stores → :func:`matview.matview_takedown` (rewrite of the
  inputs AND every joined row derived from them, one manifest swap).
- vocab stores → :func:`vocab.pmi_store_ingest` with sign = -1 CDC
  events. Token statistics are aggregates, so deletion is COUNT
  SUBTRACTION, which needs the victims' old rows — the standard CDC
  delete shape; callers pass the content alongside the ids (a
  takedown request for text you indexed has that text by
  definition). The net-sign admission makes re-delivered takedowns
  no-ops.

Every store's delete is individually crash-safe and idempotent, so
the fleet-level call is safely re-runnable after a crash mid-fleet:
completed stores no-op, the interrupted one re-runs its own protocol.
:func:`takedown_with_txlog` builds the coordinator ON that
idempotence: an intent log (request id + snapshotted victim set +
store routing) written before any delete, a DONE marker after the
last, and :func:`recover_takedowns` replaying unfinished intents at
startup — at-least-once coordinator recovery, exactly-once fleet
effects.  (Within one store the hybrid layout already gives
multi-table atomicity — put tables in one store when you need that.)

Returns a per-store audit dict {name: deleted-count} — the record a
compliance log wants."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from ..core import store
from . import dedup as DD


def takedown_everywhere(
    spark,
    victims: DataFrame,
    table_stores: dict | None = None,
    cluster_stores: list | None = None,
    span_stores: list | None = None,
    matview_stores: list | None = None,
    vocab_stores: list | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Delete the ``victims`` rows' ids from every listed store.

    ``victims`` must carry ``id_col``; if any ``vocab_stores`` are
    listed it must also carry ``text_col`` (the CDC old rows whose
    counts get subtracted). ``table_stores`` maps store name →
    (path, tables tuple); the other families are lists of
    (name, path) pairs."""
    from pyspark.sql import functions as F

    from .vocab import pmi_store_ingest

    # pass the victim set as a DataFrame: each family delete
    # anti-joins it (today with a broadcast hint, so the set still
    # transits the driver sized by the TAKEDOWN BATCH — bounded by the
    # request, never by the corpus; a deployment whose single takedown
    # batches outgrow broadcast would drop the hint to a shuffle
    # anti-join inside the family deletes)
    ids = victims.select(id_col).distinct()

    # Family deletes of DISTINCT store directories (own manifest/
    # rewrite locks, own output paths) overlap from a small thread pool
    # (guide §2.6: actions are only sequential because the driver calls
    # them sequentially — the next store's scan back-fills executors
    # idled by the previous store's commit tail).  2-3 in flight is
    # enough to fill the tail without lock contention.  Deletes that
    # share a directory (one store listed under two names or two
    # families, by any spelling of its path) run in order inside one
    # pool slot: a rewrite sweeps the superseded batch directories at
    # once, and a concurrent read of the same store (another rewrite's
    # snapshot, a vocab admission) would be scanning them.  Per-store
    # semantics are unchanged (each delete is individually crash-safe
    # and idempotent); on a failure the OTHER in-flight groups run to
    # completion before the error propagates — safe for the same
    # reason a crashed sequential pass is: the txlog coordinator
    # re-runs, completed stores no-op.
    from .matview import matview_takedown

    tasks: list[tuple[str, str, object]] = []
    for name, (path, tables) in (table_stores or {}).items():
        tasks.append((
            name,
            path,
            lambda p=path, t=tables: DD.delete_from_incremental_store(
                spark, p, ids, id_col=id_col, tables=t
            ),
        ))
    for name, path in cluster_stores or []:
        tasks.append((
            name,
            path,
            lambda p=path: DD.delete_from_cluster_store(spark, p, ids, id_col=id_col),
        ))
    for name, path in span_stores or []:
        tasks.append((
            name,
            path,
            lambda p=path: DD.delete_from_span_store(spark, p, ids, id_col=id_col),
        ))
    for entry in matview_stores or []:
        # (name, path) or (name, path, views) — a MULTI-view store
        # whose projections dropped id_col needs its view transforms
        # so the scrub can re-derive those tables (matview_takedown
        # raises rather than silently retain victim-derived rows)
        name, path, *rest = entry
        tasks.append((
            name,
            path,
            lambda p=path, v=(rest[0] if rest else None): matview_takedown(
                spark, p, ids, id_col=id_col, views=v
            ),
        ))
    for name, path in vocab_stores or []:
        ev = victims.select(id_col, text_col).withColumn("sign", F.lit(-1))
        tasks.append((
            name,
            path,
            lambda p=path, e=ev: pmi_store_ingest(
                spark, p, e, text_col=text_col, id_col=id_col
            ).count(),
        ))

    groups: dict[str, list] = {}
    for name, path, fn in tasks:
        groups.setdefault(os.path.realpath(path), []).append((name, fn))
    if len(groups) <= 1:
        return {name: fn() for name, _path, fn in tasks}

    def run(group):
        return {name: fn() for name, fn in group}

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(3, len(groups))) as pool:
        futs = [pool.submit(run, g) for g in groups.values()]
        done = {name: r for f in futs for name, r in f.result().items()}
    return {name: done[name] for name, _path, _fn in tasks}


def takedown_with_txlog(
    spark,
    txlog_dir: str,
    victims: DataFrame,
    request_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    _crash_after: int | None = None,
    **stores,
) -> dict:
    """Fleet takedown with ALL-OR-NOTHING semantics via an intent log
    — the coordinator the module docstring previously declared out of
    scope, implementable in ~40 lines precisely BECAUSE every family
    delete is idempotent: write an INTENT record (request id + victim
    parquet + store routing) before touching any store, run the
    per-store deletes, then mark DONE.  A crash mid-fleet leaves an
    intent without a DONE marker; :func:`recover_takedowns` re-runs
    the whole request — completed stores no-op (their per-store
    protocols absorb the replay), the interrupted one finishes its own
    crash-safe path — so at-least-once coordinator recovery yields
    exactly-once fleet effects.  The victim set is SNAPSHOTTED into
    the intent as parquet: recovery must delete what the REQUEST
    named, not what a re-evaluated DataFrame happens to contain later.
    ``stores`` forwards the family routings of
    :func:`takedown_everywhere`.  ``_crash_after`` (tests only) raises
    after N family deletes to simulate the coordinator dying."""
    os.makedirs(txlog_dir, exist_ok=True)
    vic_path = os.path.join(txlog_dir, f"{request_id}.victims")
    intent_path = os.path.join(txlog_dir, f"{request_id}.intent")
    done_path = os.path.join(txlog_dir, f"{request_id}.done")
    if os.path.exists(done_path):
        with open(done_path) as f:
            return json.load(f)  # request already completed: no-op replay
    if not os.path.exists(intent_path):
        from ..core.layout import rebalanced

        rebalanced(
            victims.select(
                *(
                    {id_col, text_col} & set(victims.columns)
                    or {id_col}
                )
            )
        ).write.mode("overwrite").parquet(vic_path)
        routing = {
            k: (
                {n: [p, list(t)] for n, (p, t) in v.items()}
                if k == "table_stores"
                else list(map(list, v))
            )
            for k, v in stores.items()
            if v
        }
        store.write_json(
            intent_path, {"id_col": id_col, "text_col": text_col, "stores": routing}
        )
    return _run_intent(spark, txlog_dir, request_id, _crash_after)


def _run_intent(spark, txlog_dir: str, request_id: str, _crash_after=None) -> dict:
    intent_path = os.path.join(txlog_dir, f"{request_id}.intent")
    with open(intent_path) as f:
        intent = json.load(f)
    vic = spark.read.parquet(os.path.join(txlog_dir, f"{request_id}.victims"))
    r = intent["stores"]
    kwargs = {}
    if "table_stores" in r:
        kwargs["table_stores"] = {
            n: (p, tuple(t)) for n, (p, t) in r["table_stores"].items()
        }
    for fam in ("cluster_stores", "span_stores", "matview_stores", "vocab_stores"):
        if fam in r:
            kwargs[fam] = [tuple(x) for x in r[fam]]
    if _crash_after is not None:
        # simulate the coordinator dying mid-fleet: run only the first
        # N family deletes through the normal router, then raise
        audit = {}
        n = 0
        for fam, entries in list(kwargs.items()):
            if n >= _crash_after:
                raise RuntimeError("simulated coordinator crash")
            sub = takedown_everywhere(
                spark,
                vic,
                id_col=intent["id_col"],
                text_col=intent["text_col"],
                **{fam: entries},
            )
            audit.update(sub)
            n += 1
        raise RuntimeError("simulated coordinator crash")
    audit = takedown_everywhere(
        spark, vic, id_col=intent["id_col"], text_col=intent["text_col"], **kwargs
    )
    store.write_json(os.path.join(txlog_dir, f"{request_id}.done"), audit)
    return audit


def recover_takedowns(spark, txlog_dir: str) -> dict:
    """Replay every intent without a DONE marker to completion —
    called at coordinator startup.  Returns {request_id: audit} for
    the requests recovered this pass (idempotent per-store deletes
    make the replay exactly-once in effect)."""
    recovered = {}
    if not os.path.isdir(txlog_dir):
        return recovered
    for fn in sorted(os.listdir(txlog_dir)):
        if not fn.endswith(".intent"):
            continue
        rid = fn[: -len(".intent")]
        if os.path.exists(os.path.join(txlog_dir, f"{rid}.done")):
            continue
        recovered[rid] = _run_intent(spark, txlog_dir, rid)
    return recovered
