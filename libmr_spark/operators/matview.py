"""Incrementally-maintained JOIN materialized view: the delta-join
IVM rule (the classic ``Δ(A⋈B) = ΔA⋈B + A⋈ΔB + ΔA⋈ΔB``) applied to
the signed-delta store family — the one incremental-view piece the
store fleet lacked.  ``incremental_agg_refresh``/``_retract`` maintain
ALGEBRAIC aggregates under CDC; this store maintains a JOIN (and, by
linearity, any SUM/COUNT over it) without ever recomputing the full
join: each commit joins only the batch against the accumulated other
side, so maintenance cost is ``O(|Δ| ⋈ state)`` — batch-bounded on one
input — instead of ``O(A ⋈ B)``.

Tables under one atomic ``_BATCHES`` manifest (the dedup-store
protocol — crash-safe publish, compaction through ``_rewrite_store``,
snapshot pins respected):

- ``left``  — the left input's signed row deltas ``(L-cols..., m)``;
- ``right`` — the right input's signed row deltas ``(R-cols..., m)``;
- ``view``  — the signed deltas of the joined view
  ``(L-cols..., R-cols minus key..., mult)``.

All three commit under ONE tag, so a reader never sees a view delta
whose input deltas are missing (or vice versa) — the hybrid store's
multi-table atomicity contract.

Semantics are Z-set (signed multiset) algebra: a row's net
multiplicity is the sum of its signed deltas across committed batches,
and the multiplicity of a joined row is the PRODUCT of its input
multiplicities — which is exactly why the three-term delta rule is
exact under ANY batch slicing, interleaving, or simultaneous
both-side deletion (the ``ΔA⋈ΔB`` term is the inclusion-exclusion
correction when both sides of a matching pair change in one batch).

Admission is the store family's unit-CDC contract generalized to full
rows: an insert event admits only while the row's net multiplicity in
the store is <= 0, a delete only while it is exactly >= 1 (the CDC
delete carries the old row, standard change-stream shape).  Replaying
a crashed or duplicated batch therefore admits nothing, and a delete
for a never-inserted row is a no-op — idempotence by construction, so
at-least-once delivery is exactly-once, same as the dedup/vocab
stores.

Serving:

- :func:`matview_read` — the net view (multiplicity > 0), optionally
  pinned ``as_of_batches``; FOLD-FREE where the layout allows: the
  compact base serves as written and only tail-touched identities
  re-fold (:func:`_serve_net`);
- :func:`matview_agg` — a LINEAR aggregate (SUM/COUNT) over the view
  served STRAIGHT from the raw deltas in a single pass: linearity
  means ``SUM(v·mult)`` over deltas equals the aggregate over the net
  view, no net-fold needed — the composition of join-IVM with the
  agg-IVM contract.

100 TB shape: a commit never SHUFFLES full state.  The pre-state is
kept as a Z-set sum of parts (:func:`_pre_parts`) — the leading
compact batch, which every rewrite writes already net-folded, plus the
netted post-rewrite ingest tail — and every consumer distributes over
that sum: the view-delta joins join the batch against each part (AQE
broadcasts the batch; the part is scanned, not shuffled), and
admission restricts each part to the batch's identities with a
broadcast semi join before netting the batch-bounded slice.  Per-commit
cost is therefore batch-bounded shuffles plus state scans that
ZONE-PRUNE to the batch's key range (compaction range-lays-out and
zones the side tables by the leading join key; a commit whose keys
miss the base's zones reads no state at all); the only state-sized
shuffle left in the lifecycle is the rewrite itself
(:func:`compact_matview_store` / takedown), which is policy-cadenced,
and the tail net-fold, bounded by that cadence.  Serving follows the
same decomposition (fold-free post-compaction).  The
commit-cost-vs-state-size curve is measured in
``e2ba49c:scripts/matview_commit_curve.py``.

Reference parity note: the reference engine (RedisGears/LibMR) has no
incremental view maintenance at all — this is north-star surface, cited
against the public DBSP/differential-dataflow formulation rather than
any reference file.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..core import store
from ..core.layout import rebalanced
from ..core.smalldf import local_df

MATVIEW_TABLES = ("left", "right", "view")


def _params(on: list[str]) -> dict:
    return {"kind": "matview-join", "on": ",".join(on)}


def _params_of(store_path: str) -> dict:
    return store.read_manifest(store.manifest_path(store_path))[1] or {}


def _join_keys(store_path: str) -> list:
    return _params_of(store_path)["on"].split(",")


def _store_view_tables(store_path: str) -> tuple:
    """The store's ACTUAL view tables, resolved from the manifest
    params: :func:`matview_multi_ingest` records its view-table set
    under the ``views`` param, a single-view store has no such key and
    uses ``view``.  Every maintenance entry point (compaction,
    takedown, the policy route) must rewrite THIS list, not the
    hard-coded default — a rewrite that folds only ``left``/``right``
    publishes a manifest whose tags the custom view tables never got,
    orphaning (and later sweeping) the served multi-view data."""
    views = _params_of(store_path).get("views")
    if views:
        return tuple(views.split(","))
    return ("view",)


def _store_tables(store_path: str) -> tuple:
    return ("left", "right") + _store_view_tables(store_path)


#: Above this many identity rows the forced F.broadcast hint is
#: dropped (the join degrades to whatever Catalyst/AQE picks): a
#: bulk-load CDC batch or a very long post-compaction tail must not
#: turn a working shuffle plan into a broadcast-limit / driver-OOM
#: hard failure. Normal batches and policy-cadenced tails sit orders
#: of magnitude below this.
_BCAST_MAX_ROWS = 4_000_000


def _bcast_if_small(df: DataFrame, n_rows: int):
    return F.broadcast(df) if n_rows <= _BCAST_MAX_ROWS else df


def _net(df: DataFrame, mcol: str) -> DataFrame:
    cols = [c for c in df.columns if c != mcol]
    return (
        df.groupBy(*cols)
        .agg(F.sum(mcol).cast("long").alias(mcol))
        .filter(F.col(mcol) != 0)
    )


def _align(df: DataFrame, fields) -> DataFrame:
    """Project ``df`` onto the union schema ``fields`` (name, type),
    adding typed null columns for anything missing — how an
    old-schema CDC batch lands in an evolved store, and how the
    pre-state gains a column the newest batch introduced."""
    for f in fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df.select(*[f.name for f in fields])


def _union_fields(frames: list, mcol: str):
    """Union schema (name, type) over every non-None frame, first
    occurrence wins — the lakehouse add-column merge order."""
    fields, have = [], set()
    for df in frames:
        if df is None:
            continue
        for f in df.schema.fields:
            if f.name != mcol and f.name not in have:
                have.add(f.name)
                fields.append(f)
    return fields


def _align_keep_m(df: DataFrame, fields, mcol: str) -> DataFrame:
    """:func:`_align` with the multiplicity column carried last."""
    return _align(df, list(fields) + [df.schema[mcol]])


def _nullsafe_cond(left_alias: str, right_alias: str, cols: list):
    cond = None
    for c in cols:
        term = F.col(f"{left_alias}.{c}").eqNullSafe(
            F.col(f"{right_alias}.{c}")
        )
        cond = term if cond is None else (cond & term)
    return cond


def _admit(delta: DataFrame, parts: list, mcol: str) -> DataFrame:
    """Unit-CDC admission against the pre-batch net state: net the
    batch per row (an insert+delete of the same row inside one batch
    cancels), then admit an insert (+1) only where the store's net
    multiplicity is <= 0 and a delete (-1) only where it is >= 1.
    Idempotent by construction — replay admits nothing.  Row identity
    is NULL-SAFE equality over every column, so an evolution-era null
    (an old row read under the union schema, or an old-schema replay
    aligned to it) matches itself rather than silently never
    matching.

    ``parts`` is the committed pre-state as a Z-set SUM of frames
    (:func:`_pre_parts`).  Admission only consults state rows matching
    the batch's identities, so each part is RESTRICTED first — a semi
    join probing the part with the BROADCAST batch-identity set.  The
    part is scanned, never shuffled, and everything downstream of the
    restriction is batch-bounded: this is what keeps a commit free of
    full-state shuffles."""
    cols = [c for c in delta.columns if c != mcol]
    # materialize the netted batch once: it feeds one semi-probe per
    # part plus the admission join (no re-derivation per use), its
    # count gates the broadcast hint, and admission is frozen against
    # a single evaluation of the caller's delta.  The checkpoint is
    # EAGER: it runs its own (batch-bounded) job here and the count
    # below is a cheap scan of the cached partitions.  Lazy
    # checkpoints (r11 experiment) saved that job but were reverted:
    # under AQE the materializing action re-plans the checkpointed
    # subtree, so the "one job" saving was not realized reliably.
    d = (
        _net(delta, mcol)
        .withColumnRenamed(mcol, "_dm")
        .localCheckpoint(eager=True)
    )
    n_batch = d.count()
    dk = d.select(*cols)
    hits = None
    for part in parts:
        h = part.alias("_s").join(
            _bcast_if_small(dk.alias("_k"), n_batch),
            _nullsafe_cond("_s", "_k", cols),
            "semi",
        )
        hits = h if hits is None else hits.unionByName(h)
    pre = _net(hits, mcol) if hits is not None else _net(delta.limit(0), mcol)
    d = d.alias("_d")
    p = pre.withColumnRenamed(mcol, "_pm").alias("_p")
    j = d.join(p, _nullsafe_cond("_d", "_p", cols), "left").withColumn(
        "_pm", F.coalesce("_pm", F.lit(0))
    )
    return (
        j.withColumn(
            mcol,
            F.when((F.col("_dm") > 0) & (F.col("_pm") <= 0), F.lit(1))
            .when((F.col("_dm") < 0) & (F.col("_pm") >= 1), F.lit(-1))
            .cast("long"),
        )
        .filter(F.col(mcol).isNotNull())
        .select(*[F.col(f"_d.{c}").alias(c) for c in cols], mcol)
    )


def _pre_parts(
    spark, store_path, table, tags, mcol, zone_col=None, key_range=None
) -> list:
    """The side's committed pre-state as a Z-set SUM of parts instead
    of one net-folded frame.  Every matview rewrite (compaction AND
    takedown) writes its ``compact-`` batch already NET-FOLDED, so a
    leading compact tag is served AS WRITTEN — never re-folded — and
    only the post-rewrite ingest tail (bounded by the maintenance
    policy's compaction cadence) pays a net-fold shuffle.  Exact by
    linearity: ``net(all tags) = compact_batch + net(tail)`` because
    the compact batch IS ``net(dropped tags)``; every consumer either
    sums the parts (the view-delta joins distribute over the sum) or
    nets a batch-restricted slice (:func:`_admit`).

    ``key_range``: when the consuming join can only match state rows
    whose ``zone_col`` falls in ``[lo, hi]`` (the BATCH's key range —
    one batch-bounded two-scalar agg), the compact base is opened
    through its zone maps (written by :func:`compact_matview_store`)
    and files proven empty for the range are skipped — a fully-pruned
    base contributes no part, which is exact: no state row in it can
    match a batch key (callers pass a range only when the batch has
    no NULL keys, so eqNullSafe null-matches cannot be lost).  The
    tail always serves unpruned (cadence-bounded).  This is the
    100 TB commit-cost shape: zero full-state shuffles, and state
    scans that prune to the batch's key locality instead of growing
    with state size."""
    parts = []
    if not tags:
        return parts
    if tags[0].startswith("compact-"):
        if zone_col is not None and key_range is not None:
            paths = _pruned_paths(
                store_path, table, tags[:1], zone_col, *key_range
            )
            if paths:
                parts.append(
                    spark.read.option("mergeSchema", "true").parquet(*paths)
                )
        else:
            parts.append(
                store.read_batches(spark, store_path, table, tags[:1], merge_schema=True)
            )
        rest = tags[1:]
    else:
        rest = tags
    if rest:
        rest_df = store.read_batches(spark, store_path, table, rest, merge_schema=True)
        parts.append(_net(rest_df, mcol))
    return parts


def _empty_like(spark, df_or_none, store_path, table, tags, mcol):
    if df_or_none is not None:
        schema = df_or_none.schema
    else:
        # union schema over the MANIFEST-LISTED batch dirs (bootstrap
        # requires both sides precisely so this read can never miss;
        # unlisted crash orphans are never consulted)
        schema = store.read_batches(spark, store_path, table, tags, merge_schema=True).schema
    empty = local_df(spark, [], schema)
    if mcol not in empty.columns:
        empty = empty.withColumn(mcol, F.lit(0).cast("long"))
    return empty


def matview_ingest(
    spark,
    store_path: str,
    left_delta: DataFrame | None = None,
    right_delta: DataFrame | None = None,
    on: str | list[str] = "key",
    m_col: str = "m",
    lock_timeout_s: float = 300.0,
) -> str:
    """Apply one signed CDC batch (either side or both) to the join
    MV and commit the three tables' deltas atomically under one tag.
    ``left_delta``/``right_delta`` carry their side's columns plus a
    signed ``m_col`` (+1 insert / -1 delete, old row attached).  The
    first commit must supply BOTH sides (it defines the schemas).
    Returns the committed tag.

    Ingests SERIALIZE on a per-store kernel lock (``_INGEST`` flock,
    auto-released on crash): the delta-join rule is only exact against
    the COMMITTED pre-state, so commits must linearize — two racing
    one-sided ingests that each add a matching row would both compute
    their view delta against a pre-state missing the other's row, and
    the cross pair would be silently absent from the view (exactly
    the corruption :func:`matview_integrity` exists to catch).  The
    signature stores tolerate commit races because their batch deltas
    are independent; a join's deltas are not, hence the critical
    section — same reasoning as the ANN bootstrap's."""
    if left_delta is None and right_delta is None:
        raise ValueError("matview_ingest called with no delta on either side")
    keys = [on] if isinstance(on, str) else list(on)
    manifest_path = store.manifest_path(store_path)
    os.makedirs(store_path, exist_ok=True)
    with store.ingest_lock(store_path, lock_timeout_s):
        return _ingest_locked(
            spark, store_path, manifest_path, left_delta, right_delta, keys, m_col
        )


def matview_multi_ingest(
    spark,
    store_path: str,
    views: dict,
    left_delta: DataFrame | None = None,
    right_delta: DataFrame | None = None,
    on: str | list[str] = "key",
    m_col: str = "m",
    lock_timeout_s: float = 300.0,
) -> str:
    """MULTI-VIEW shared maintenance (the multi-query-optimization
    shape): several views over the SAME input pair maintained from ONE
    delta computation per commit — the three delta joins run once, and
    each view's transform (a LINEAR Z-set operator: filter and/or
    column projection; projections that merge rows have their
    multiplicities summed) applies to the shared join delta before its
    own table commits under the common tag.  ``views`` maps table name
    → ``fn(delta_df) -> DataFrame`` where the input carries the full
    join's columns plus ``mult`` and the output must keep ``mult``.
    σ/π commute with deltas, which is exactly why the per-view deltas
    are correct without per-view join work; a NON-linear transform
    (aggregation, distinct) would be wrong here and belongs in a
    serving function instead.  Serve with
    ``matview_read(path, view_table=name)``.  Same lock/admission/
    atomicity contract as :func:`matview_ingest`."""
    if not views or any(v in ("left", "right") for v in views):
        raise ValueError("views must be a non-empty dict of table names "
                         "not colliding with 'left'/'right'")
    if left_delta is None and right_delta is None:
        raise ValueError("matview_multi_ingest called with no delta on either side")
    keys = [on] if isinstance(on, str) else list(on)
    manifest_path = store.manifest_path(store_path)
    os.makedirs(store_path, exist_ok=True)
    with store.ingest_lock(store_path, lock_timeout_s):
        return _ingest_locked(
            spark,
            store_path,
            manifest_path,
            left_delta,
            right_delta,
            keys,
            m_col,
            views=views,
        )


def _ingest_locked(
    spark,
    store_path,
    manifest_path,
    left_delta,
    right_delta,
    keys,
    m_col,
    views: dict | None = None,
) -> str:
    params = _params(keys)
    if views is not None:
        params = dict(params, views=",".join(sorted(views)))
    tags = store._manifest_read(manifest_path, params)
    if not tags and (left_delta is None or right_delta is None):
        raise ValueError(
            "matview bootstrap commit must supply both left_delta and "
            "right_delta (they define the store's schemas)"
        )

    def _base_zoned(table):
        # pruning can only ever engage against a leading compact batch
        # that carries zone maps on the join key
        if not tags or not tags[0].startswith("compact-"):
            return False
        d = store.batch_path(store_path, table, tags[0])
        return _load_zones(d, keys[0]) is not None

    zoned = {t: _base_zoned(t) for t in ("left", "right")}

    # freeze the caller's deltas BEFORE the key-range probe: the probe
    # and admission must observe the SAME rows, or a nondeterministic
    # delta source (a re-evaluated shuffle sample, a non-stable limit)
    # could yield a probe range inconsistent with the rows actually
    # admitted — state files wrongly zone-pruned, view delta silently
    # wrong. Only paid when a zoned base exists (otherwise no probe
    # job runs and admission's own checkpoint is the single freeze).
    # (eager: the checkpoint job runs here, then the key-range probe
    # scans the cached partitions — see _admit on why lazy was
    # reverted)
    if zoned["left"] or zoned["right"]:
        if left_delta is not None:
            left_delta = left_delta.localCheckpoint(eager=True)
        if right_delta is not None:
            right_delta = right_delta.localCheckpoint(eager=True)

    def _delta_key_range(delta, needed):
        """The batch's [min, max] over the leading join key — the
        zone-prune probe for every state read this commit performs.
        One batch-bounded two-scalar agg, SKIPPED entirely (None =
        serve unpruned) when no zoned compact base exists to prune —
        pre-compaction commits must not pay probe jobs that cannot
        prune anything.  Also None when the batch is absent, empty,
        or carries a NULL key (a NULL identity can eqNullSafe-match
        state rows a value-range prune could wrongly skip)."""
        if delta is None or not needed:
            return None
        row = delta.agg(
            F.min(keys[0]), F.max(keys[0]),
            F.sum(F.col(keys[0]).isNull().cast("int")),
        ).first()
        if row[0] is None or (row[2] or 0) > 0:
            return None
        return (row[0], row[1])

    # rng_l prunes LEFT admission (zoned left base) and the
    # ΔL⋈right-state view term (zoned right base); symmetrically rng_r
    rng_l = _delta_key_range(left_delta, zoned["left"] or zoned["right"])
    rng_r = _delta_key_range(right_delta, zoned["left"] or zoned["right"])

    def _side_state(table, delta, admit_rng):
        # the pre-state stays a SUM of parts (leading compact batch
        # served as written + netted ingest tail, _pre_parts) — the
        # full state is scanned (zone-pruned to the batch's key range
        # when possible) by the admission restriction and the
        # view-delta joins but never re-folded or re-shuffled
        full_parts = _pre_parts(spark, store_path, table, tags, m_col)
        # align every frame to the UNION schema (schema evolution: a
        # batch may introduce a column — the pre-state gains it as
        # typed nulls — or omit one an earlier commit added — the
        # batch rows land null-filled, old-schema-writer semantics).
        # Fields derive from the UNPRUNED frames: pruning must never
        # change the store's visible schema.
        fields = _union_fields(full_parts + [delta], m_col)
        admit_parts = [
            _align_keep_m(p, fields, m_col)
            for p in _pre_parts(
                spark, store_path, table, tags, m_col,
                zone_col=keys[0], key_range=admit_rng,
            )
        ]
        if delta is not None:
            adm = _admit(
                _align_keep_m(
                    delta.withColumn(m_col, F.col(m_col).cast("long")),
                    fields,
                    m_col,
                ),
                admit_parts,
                m_col,
            )
        else:
            adm = _align_keep_m(
                _empty_like(spark, delta, store_path, table, tags, m_col),
                fields,
                m_col,
            )
        # one EAGER materialization freezes admission against the
        # pre-state; the side table's write and the view joins then
        # scan the cached partitions (see _admit on why lazy was
        # reverted)
        return [f.name for f in fields], adm.localCheckpoint(eager=True)

    lcols, ad_l = _side_state("left", left_delta, rng_l)
    rcols, ad_r = _side_state("right", right_delta, rng_r)

    non_key_r = [c for c in rcols if c not in keys]
    view_cols = lcols + non_key_r
    clash = set(view_cols) - set(keys)
    if len(clash) != len(view_cols) - len(keys):
        raise ValueError(f"matview column clash between sides: {view_cols}")

    def _vjoin(a: DataFrame, b: DataFrame) -> DataFrame:
        aa = a.withColumnRenamed(m_col, "_ml")
        bb = b.withColumnRenamed(m_col, "_mr")
        return aa.join(bb, keys).select(
            *view_cols, (F.col("_ml") * F.col("_mr")).alias("mult")
        )

    def _vparts(table, fields, other_rng):
        # the state side of a ΔX⋈state term matches only on the
        # BATCH's join keys, so it prunes by the OTHER side's range
        return [
            _align_keep_m(p, [f for f in fields], m_col)
            for p in _pre_parts(
                spark, store_path, table, tags, m_col,
                zone_col=keys[0], key_range=other_rng,
            )
        ]

    def _fields_of(cols, ref_adm):
        return [ref_adm.schema[c] for c in cols]

    # Δ(A⋈B) = ΔA⋈B_pre + A_pre⋈ΔB + ΔA⋈ΔB, with each pre-state join
    # DISTRIBUTED over the state parts (⋈ distributes over the Z-set
    # sum; a row living in both parts with canceling signs contributes
    # canceling products, and the final groupBy-SUM nets them) — every
    # term joins a batch-sized frame against a zone-pruned scan, so
    # AQE broadcasts the batch and no term shuffles state.  Terms
    # whose Δ side is a known-empty frame (one-sided commit) are
    # skipped entirely — their state scan would be pure waste.
    terms = []
    if left_delta is not None:
        for pr in _vparts("right", _fields_of(rcols, ad_r), rng_l):
            terms.append(_vjoin(ad_l, pr))
    if right_delta is not None:
        for pl in _vparts("left", _fields_of(lcols, ad_l), rng_r):
            terms.append(_vjoin(pl, ad_r))
    if left_delta is not None and right_delta is not None:
        terms.append(_vjoin(ad_l, ad_r))
    if not terms:
        # one-sided commit whose opposite state fully pruned away (or
        # an empty store side): the view delta is exactly empty
        terms = [_vjoin(ad_l, ad_r.limit(0))]
    dv = terms[0]
    for t in terms[1:]:
        dv = dv.unionByName(t)
    dv = (
        dv.groupBy(*view_cols)
        .agg(F.sum("mult").cast("long").alias("mult"))
        .filter(F.col("mult") != 0)
    )

    tag = uuid.uuid4().hex
    # rebalanced: each commit writes advisory-sized files (one for a
    # small delta) instead of one tiny file per shuffle task — every
    # later commit re-lists and re-scans the whole state history, so
    # per-commit file count is the soak's compounding cost (guide §6)
    rebalanced(ad_l, probe=True).write.mode("overwrite").parquet(
        store.batch_path(store_path, "left", tag)
    )
    rebalanced(ad_r, probe=True).write.mode("overwrite").parquet(
        store.batch_path(store_path, "right", tag)
    )
    if views is None:
        # dv is aggregation-tailed: AQE partition coalescing already
        # bounds the write parallelism — no REBALANCE hint needed
        dv.write.mode("overwrite").parquet(
            store.batch_path(store_path, "view", tag)
        )
    else:
        # ONE shared delta computation; the (linear) per-view
        # transforms project/filter it, re-canonicalize, and commit
        # under the same tag — all views share the commit clock
        dv = dv.localCheckpoint(eager=True)
        for name, fn in sorted(views.items()):
            out = fn(dv)
            vcols = [c for c in out.columns if c != "mult"]
            (
                out.groupBy(*vcols)
                .agg(F.sum("mult").cast("long").alias("mult"))
                .filter(F.col("mult") != 0)
                .write.mode("overwrite")
                .parquet(store.batch_path(store_path, name, tag))
            )
    store._manifest_publish(manifest_path, params, add_tags=[tag])
    return tag


def _tags_asof(manifest_path: str, store_path: str, as_of_batches: int | None):
    tags = store._manifest_read(manifest_path, None)
    if as_of_batches is not None:
        if not 0 < as_of_batches <= len(tags):
            raise ValueError(
                f"as_of_batches={as_of_batches} out of range for store "
                f"{store_path} with {len(tags)} committed batches"
            )
        tags = tags[:as_of_batches]
    return tags


def matview_read(
    spark,
    store_path: str,
    as_of_batches: int | None = None,
    view_table: str = "view",
) -> DataFrame:
    """Serve the net view: rows with net multiplicity > 0 (under the
    unit-CDC admission contract a negative net is unreachable).
    ``mult`` is the joined row's multiplicity — a served column, so
    the driver hash gates the Z-set algebra, not just row membership.
    ``view_table`` names one of a multi-view store's view tables
    (:func:`matview_multi_ingest`).

    Serving reuses the ingest path's part decomposition
    (:func:`_pre_parts`): the compact base is ALREADY net as written,
    so a post-compaction serve with no tail is a bare filtered scan
    (zero shuffles), and with a tail only the base rows whose
    identity the tail touches are re-folded — the tail's identity set
    broadcasts, untouched base rows stream through as-is, and the
    state-sized groupBy disappears from the serve entirely.  Exact by
    the same linearity the commit path relies on."""
    manifest_path = store.manifest_path(store_path)
    tags = _tags_asof(manifest_path, store_path, as_of_batches)
    return _serve_net(spark, store_path, view_table, tags, "mult")


def _serve_net(spark, store_path, table, tags, mcol) -> DataFrame:
    """Net-positive rows of a store table, fold-free where the layout
    allows (see :func:`matview_read`)."""
    parts = _pre_parts(spark, store_path, table, tags, mcol)
    if len(parts) == 1:
        return parts[0].filter(F.col(mcol) > 0)
    fields = _union_fields(parts, mcol)
    base, tail = [_align_keep_m(p, fields, mcol) for p in parts]
    cols = [f.name for f in fields]
    # materialize the tail's identity set once (it feeds BOTH the semi
    # and the anti probe) and gate the broadcast hint on its size — a
    # very long post-compaction tail degrades to AQE's pick instead of
    # failing the serve at the broadcast limit
    tkeys = tail.select(*cols).distinct().localCheckpoint(eager=True)
    n_tail = tkeys.count()  # cheap scan of the eagerly cached partitions
    hit = base.alias("_b").join(
        _bcast_if_small(tkeys.alias("_t"), n_tail),
        _nullsafe_cond("_b", "_t", cols),
        "semi",
    )
    miss = base.alias("_b").join(
        _bcast_if_small(tkeys.alias("_t"), n_tail),
        _nullsafe_cond("_b", "_t", cols),
        "anti",
    )
    combined = _net(hit.unionByName(tail), mcol)
    return miss.unionByName(combined).filter(F.col(mcol) > 0)


def matview_agg(
    spark,
    store_path: str,
    group_cols: list[str],
    value_col,
    alias: str = "value",
    as_of_batches: int | None = None,
) -> DataFrame:
    """Linear aggregate over the view served STRAIGHT from the raw
    deltas: because SUM distributes over the signed deltas,
    ``SUM(value·mult)`` in one pass equals the aggregate over the net
    view — no net-fold, no second shuffle.  Emits ``(group_cols...,
    alias, n_rows)`` with groups whose net row count reached zero
    dropped (matching the from-scratch aggregate, which never sees
    them).  ``value_col`` is a Column expression over the view's
    columns (use exact decimal casts for hash-stable money math)."""
    manifest_path = store.manifest_path(store_path)
    tags = _tags_asof(manifest_path, store_path, as_of_batches)
    v = store.read_batches(spark, store_path, "view", tags, merge_schema=True)
    return (
        v.groupBy(*group_cols)
        .agg(
            F.sum(value_col * F.col("mult")).alias(alias),
            F.sum("mult").cast("long").alias("n_rows"),
        )
        .filter(F.col("n_rows") > 0)
    )


def matview_takedown(
    spark,
    store_path: str,
    victims: DataFrame,
    id_col: str,
    views: dict | None = None,
    lock_timeout_s: float = 300.0,
):
    """Right-to-be-forgotten for the MV: rewrite every table that
    carries ``id_col``, anti-joining the victim ids — bytes are gone
    from the inputs AND from every joined row derived from them, in
    one atomic manifest swap.  Ignores snapshot pins (deletion beats
    reproducibility, the fleet-wide precedence rule).  ``victims``
    stays a DataFrame end-to-end — never collected to the driver.
    Returns the number of net view rows removed, summed over EVERY
    view table the store serves (a multi-view store's custom tables
    are resolved from the manifest — :func:`_store_view_tables`),
    the compliance-audit count :func:`takedown.takedown_everywhere`
    records.

    A multi-view table whose PROJECTION dropped ``id_col`` cannot be
    scrubbed by anti-join (the victim linkage is gone from its rows);
    for those, pass the store's view transforms as ``views`` and the
    table is RE-DERIVED from the scrubbed netted sides inside the same
    atomic rewrite — the one O(A⋈B) join the maintenance path avoids,
    paid here because takedown is rare and silent retention of
    victim-derived rows is not an option.  If such a table exists and
    its transform was not provided, this raises rather than publish a
    store that still serves victim-derived data.

    Holds the store's ``_INGEST`` lock for the whole pass (then the
    ``_REWRITE`` lock inside the rewrite — ingest never takes
    ``_REWRITE``, so the ordering is acyclic): the delta-join rule
    computes each commit's view delta against the COMMITTED pre-state,
    so a takedown racing an in-flight ingest would let that ingest
    publish joined rows derived from just-deleted victim rows —
    deleted data resurfacing in the view, exactly the pre-state race
    the ingest lock exists to prevent."""
    ids = victims.select(id_col).distinct()
    manifest_path = store.manifest_path(store_path)
    with store.ingest_lock(store_path, lock_timeout_s):
        tables = _store_tables(store_path)
        tags = store._manifest_read(manifest_path, None)
        if not tags:
            return 0
        removed = 0
        recompute = []
        before = {}
        probes = []  # (tag, frame) — counted in ONE union job below
        for vt in tables[2:]:
            v = _net(
                store.read_batches(spark, store_path, vt, tags, merge_schema=True),
                "mult",
            ).filter(F.col("mult") > 0)
            if id_col in v.columns:
                probes.append((f"rm:{vt}", v.join(ids, id_col, "semi")))
            else:
                recompute.append(vt)
                before[vt] = 0  # groupBy-count emits no row for an empty view
                probes.append((f"before:{vt}", v))
        missing = [vt for vt in recompute if not views or vt not in views]
        if missing:
            raise ValueError(
                f"matview_takedown at {store_path}: view table(s) {missing} "
                f"do not carry id column {id_col!r} and no transform was "
                "passed via views= — cannot scrub victim-derived rows; "
                "provide the store's view transforms (silent retention is "
                "not an option)"
            )
        if probes:
            # one union-groupBy action replaces a count job per view
            # table (the audit loop was paying a planning gap + job
            # per table for driver-scalar answers)
            u = None
            for t, df in probes:
                p = df.select(F.lit(t).alias("_t"))
                u = p if u is None else u.unionAll(p)
            for r in u.groupBy("_t").count().collect():
                t, n = r["_t"], int(r["count"])
                if t.startswith("rm:"):
                    removed += n
                else:
                    before[t.split(":", 1)[1]] = n

        full = None
        if recompute:
            # the scrubbed full-join frame every recomputed view derives
            # from — takedown holds the ingest lock, so `tags` IS the
            # snapshot the rewrite will fold
            keys = _join_keys(store_path)

            def _scrubbed_side(table):
                s = _net(
                    store.read_batches(
                        spark, store_path, table, tags, merge_schema=True
                    ),
                    "m",
                )
                if id_col in s.columns:
                    s = s.join(ids, id_col, "left_anti")
                return s.filter(F.col("m") > 0)

            L = _scrubbed_side("left")
            R = _scrubbed_side("right")
            non_key_r = [c for c in R.columns if c not in keys and c != "m"]
            view_cols = [c for c in L.columns if c != "m"] + non_key_r
            full = (
                L.withColumnRenamed("m", "_ml")
                .join(R.withColumnRenamed("m", "_mr"), keys)
                .select(
                    *view_cols, (F.col("_ml") * F.col("_mr")).alias("mult")
                )
            )

        def transform(df: DataFrame, table: str) -> DataFrame:
            # every matview rewrite NET-FOLDS its output — _pre_parts
            # serves a leading compact batch as written, which is only
            # exact if compact batches are always net
            mcol = "m" if table in ("left", "right") else "mult"
            # _net is aggregation-tailed: AQE coalescing bounds the
            # rewrite's write parallelism — no REBALANCE hint needed
            if table in recompute:
                out = views[table](full)
                return _net(out, "mult")
            if id_col not in df.columns:
                return _net(df, mcol)
            return _net(df.join(ids, id_col, "left_anti"), mcol)

        store._rewrite_store(
            spark,
            store_path,
            transform,
            tables,
            min_batches=1,
            merge_schema=True,
        )
        for vt in recompute:
            after = matview_read(spark, store_path, view_table=vt).count()
            removed += max(0, before[vt] - after)
    return removed


def matview_integrity(
    spark, store_path: str, as_of_batches: int | None = None
) -> DataFrame:
    """Store fsck for the MV: recompute the view FROM the committed
    side tables (net(L) ⋈ net(R), multiplicities multiplied) and diff
    it against the served view — the invariant the delta-join
    maintenance promises.  Emits ONE row of exact counters:
    ``left_net_rows``, ``right_net_rows``, ``view_rows``,
    ``recomputed_rows``, ``mismatch_rows`` (symmetric set difference
    between served and recomputed, multiplicity included — 0 iff the
    store is internally consistent).  The recompute is one join over
    the netted side tables — the O(A⋈B) cost the maintenance path
    avoids, paid deliberately here because an AUDIT's job is to
    re-derive the answer the cheap path must match.  Scalars only
    transit the driver."""
    manifest_path = store.manifest_path(store_path)
    tags = _tags_asof(manifest_path, store_path, as_of_batches)
    keys = _join_keys(store_path)

    L = _net(store.read_batches(spark, store_path, "left", tags, merge_schema=True), "m")
    R = _net(store.read_batches(spark, store_path, "right", tags, merge_schema=True), "m")
    served = matview_read(spark, store_path, as_of_batches=as_of_batches)

    non_key_r = [c for c in R.columns if c not in keys and c != "m"]
    view_cols = [c for c in L.columns if c != "m"] + non_key_r
    recomputed = (
        L.withColumnRenamed("m", "_ml")
        .join(R.withColumnRenamed("m", "_mr"), keys)
        .select(*view_cols, (F.col("_ml") * F.col("_mr")).alias("mult"))
        .groupBy(*view_cols)
        .agg(F.sum("mult").cast("long").alias("mult"))
        .filter(F.col("mult") > 0)
    )
    # exceptAll is POSITIONAL: align the recompute to the served
    # column order (they can differ on a schema-evolved store, where
    # the view's merged order appends new columns at the end while
    # the L+R-derived order interleaves them)
    recomputed = recomputed.select(*served.columns)
    # ONE action for all six counters: served/recomputed are frozen
    # lazily (the union's first branch materializes each, later
    # branches reuse the cached partitions instead of re-running the
    # audit join), and the six counts ride one union-groupBy job
    # instead of six count jobs with six planning gaps.
    served = served.localCheckpoint(eager=True)
    recomputed = recomputed.localCheckpoint(eager=True)

    def _tagged(df, t):
        return df.select(F.lit(t).alias("_t"))

    counts = dict.fromkeys(["m1", "m2", "l", "r", "s", "c"], 0)
    for r in (
        _tagged(served.exceptAll(recomputed), "m1")
        .unionAll(_tagged(recomputed.exceptAll(served), "m2"))
        .unionAll(_tagged(L, "l"))
        .unionAll(_tagged(R, "r"))
        .unionAll(_tagged(served, "s"))
        .unionAll(_tagged(recomputed, "c"))
        .groupBy("_t")
        .count()
        .collect()
    ):
        counts[r["_t"]] = int(r["count"])
    row = (
        counts["l"],
        counts["r"],
        counts["s"],
        counts["c"],
        counts["m1"] + counts["m2"],
    )
    return local_df(
        spark,
        [row],
        "left_net_rows bigint, right_net_rows bigint, view_rows bigint, "
        "recomputed_rows bigint, mismatch_rows bigint",
    )


def matview_read_outer(
    spark, store_path: str, as_of_batches: int | None = None
) -> DataFrame:
    """Serve the LEFT OUTER join from the same store with NO extra
    maintenance: the classic difficulty of outer-join IVM is that
    null-extended rows appear and disappear as a key's match count
    crosses zero — but this store already keeps the net LEFT input as
    a first-class table, so outer serving is derivation, not state:
    the inner view ∪ (net left rows whose key has no inner row,
    null-extended on the right columns, carrying their own net
    multiplicity).  Exactly-correct under retraction for free: a
    delete that removes a left row's last match moves the row from
    the inner view into the anti-join leg on the SAME commit clock.
    The anti-join keys on the join key (batch-bounded distinct list),
    so the plan is two scans and one shuffle — never a recompute of
    the join."""
    manifest_path = store.manifest_path(store_path)
    tags = _tags_asof(manifest_path, store_path, as_of_batches)
    keys = _join_keys(store_path)

    v = _serve_net(spark, store_path, "view", tags, "mult")
    L = _serve_net(spark, store_path, "left", tags, "m")
    unmatched = L.join(v.select(*keys).distinct(), keys, "left_anti")
    right_only = [
        f for f in v.schema.fields if f.name not in L.columns and f.name != "mult"
    ]
    extended = unmatched.select(
        *[c for c in L.columns if c != "m"],
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in right_only],
        F.col("m").alias("mult"),
    )
    return v.unionByName(extended)


def matview_changes(
    spark, store_path: str, from_batches: int, to_batches: int | None = None
) -> DataFrame:
    """CHANGE FEED between two commits — the subscribe/CDF surface a
    downstream consumer (the cascade, an export diff, an alerting
    job) reads instead of diffing snapshots: because the view's state
    at commit k is BY CONSTRUCTION the sum of its first k delta
    batches, the state difference state(to) − state(from) is exactly
    the net of the delta batches in between — one groupBy-SUM over a
    manifest SLICE, zero joins, zero snapshot reconstruction.  Emits
    ``(view cols..., mult_delta)`` with net-zero rows dropped
    (inserts > 0, deletes < 0).  ``from_batches`` may be 0 (feed from
    genesis equals the as-of state itself).  Compaction collapses the
    commit log, after which a slice that straddles it is out of range
    and raises — the same honesty contract as every pinned read."""
    manifest_path = store.manifest_path(store_path)
    tags = _tags_asof(manifest_path, store_path, to_batches)
    if not 0 <= from_batches <= len(tags):
        raise ValueError(
            f"from_batches={from_batches} out of range for store "
            f"{store_path} with {len(tags)} committed batches"
        )
    window = tags[from_batches:]
    if not window:
        schema = store.read_batches(
            spark, store_path, "view", tags[:1], merge_schema=True
        ).schema
        empty = local_df(spark, [], schema)
        return empty.withColumnRenamed("mult", "mult_delta")
    v = store.read_batches(spark, store_path, "view", window, merge_schema=True)
    return _net(v, "mult").withColumnRenamed("mult", "mult_delta")


def matview_read_full_outer(
    spark, store_path: str, as_of_batches: int | None = None
) -> DataFrame:
    """FULL OUTER serving — both anti-join legs, since the store keeps
    BOTH net inputs as tables (see :func:`matview_read_outer` for why
    this needs no extra maintenance state)."""
    manifest_path = store.manifest_path(store_path)
    tags = _tags_asof(manifest_path, store_path, as_of_batches)
    keys = _join_keys(store_path)

    v = _serve_net(spark, store_path, "view", tags, "mult")
    L = _serve_net(spark, store_path, "left", tags, "m")
    R = _serve_net(spark, store_path, "right", tags, "m")
    vkeys = v.select(*keys).distinct()
    l_cols = [c for c in L.columns if c != "m"]
    r_only = [
        f for f in v.schema.fields if f.name not in L.columns and f.name != "mult"
    ]
    l_only = [f for f in v.schema.fields if f.name in l_cols and f.name not in keys]
    ext_l = (
        L.join(vkeys, keys, "left_anti")
        .select(
            *l_cols,
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in r_only],
            F.col("m").alias("mult"),
        )
    )
    ext_r = (
        R.join(vkeys, keys, "left_anti")
        .select(
            *keys,
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in l_only],
            *[F.col(f.name) for f in r_only],
            F.col("m").alias("mult"),
        )
        .select(*[f.name for f in v.schema.fields])
    )
    return v.unionByName(ext_l).unionByName(ext_r)


# zone-map machinery shared with the signature stores (round 10):
# write-after-publish, null-zones-serve-unpruned, dirs-without-zones
# contribute whole — operators/zones.py holds the one copy
from .zones import (  # noqa: E402
    _load_zones,
    pruned_paths as _pruned_paths,
    write_zones as _write_zones,  # noqa: F401  (re-export for tests)
    write_zones_if_col as _write_zones_if_col,
)


def compact_matview_store(
    spark,
    store_path: str,
    zone_by: str | None = None,
    n_files: int | None = None,
    lock_timeout_s: float = 300.0,
    zone_side_tables: bool = True,
) -> list:
    """Fold every table's deltas to net rows in ONE batch directory
    per table through the crash-safe store rewrite (zero-net rows
    vanish; every served sum is provably unchanged).  Respects
    snapshot pins — the retention contract.  The table list is
    resolved from the manifest (:func:`_store_view_tables`), so a
    multi-view store's custom view tables are folded and re-listed
    like ``view`` — never orphaned by the manifest swap.  Holds the
    ``_INGEST`` lock for the pass (same acyclic ordering as
    :func:`matview_takedown`): the fold must not race an ingest whose
    view delta was computed against the pre-compaction tag list.

    ``zone_by``: additionally range-partition + sort each VIEW
    table's fold by that column (``n_files`` output files) and write
    per-file min/max ZONE MAPS from the parquet footers —
    :func:`matview_lookup` then opens only the files whose range
    covers the probe instead of the whole table.

    ``zone_side_tables`` (default on): the LEFT/RIGHT folds are
    range-laid-out and zoned by the store's leading join key, so every
    subsequent ingest's state reads (:func:`_pre_parts`) prune to the
    batch's key range — the layout half of the flat-commit-cost
    contract.  This is the documented 100 TB layout lever: the
    manifest protocol is unchanged, a zoneless dir just serves
    unpruned."""
    with store.ingest_lock(store_path, lock_timeout_s):
        tables = _store_tables(store_path)
        view_tables = set(tables[2:])
        on = _params_of(store_path).get("on")  # None before the bootstrap
        key0 = on.split(",")[0] if zone_side_tables and on else None

        def transform(df: DataFrame, table: str) -> DataFrame:
            mcol = "m" if table in ("left", "right") else "mult"
            out = _net(df, mcol)
            # a multi-view projection may have dropped the zone column;
            # such a table folds unzoned (and serves unpruned)
            if (
                zone_by is not None
                and table in view_tables
                and zone_by in out.columns
            ):
                out = out.repartitionByRange(
                    n_files or 8, F.col(zone_by)
                ).sortWithinPartitions(zone_by)
            elif key0 is not None and table in ("left", "right"):
                out = out.repartitionByRange(
                    n_files or 8, F.col(key0)
                ).sortWithinPartitions(key0)
            # (unzoned fold: _net is aggregation-tailed, AQE
            # coalescing bounds the write — no hint needed)
            return out

        rewritten = store._rewrite_store(
            spark,
            store_path,
            transform,
            tables,
            min_batches=2,
            respect_snapshots=True,
            merge_schema=True,
        )
        if rewritten:
            tags = store._manifest_read(store.manifest_path(store_path), None)
            for t in tags:
                if not t.startswith("compact-"):
                    continue
                if zone_by is not None:
                    for vt in view_tables:
                        d = store.batch_path(store_path, vt, t)
                        if os.path.isdir(d):
                            _write_zones_if_col(store_path, vt, t, zone_by)
                if key0 is not None:
                    for st in ("left", "right"):
                        if os.path.isdir(store.batch_path(store_path, st, t)):
                            _write_zones_if_col(store_path, st, t, key0)
    return rewritten


def matview_lookup(
    spark,
    store_path: str,
    zone_col: str,
    lo,
    hi=None,
    view_table: str = "view",
) -> DataFrame:
    """Point/range serve over the view with FILE-LEVEL pruning: for
    each manifest-listed batch dir, open only the part files whose
    zone-map range intersects ``[lo, hi]`` (dirs without zones — fresh
    ingests since the last zoned compaction, or a crash-orphaned zones
    write — contribute all their files, so the result is always exact;
    pruning only ever removes files proven empty for the probe).  The
    predicate additionally pushes into the parquet scan for row-group
    pruning inside the opened files.  ``view_table`` names one of a
    multi-view store's custom tables (zoned the same way by
    compaction when it kept the zone column)."""
    if hi is None:
        hi = lo
    manifest_path = store.manifest_path(store_path)
    tags = store._manifest_read(manifest_path, None)
    paths = _pruned_paths(store_path, view_table, tags, zone_col, lo, hi)
    if not paths:
        # every candidate file pruned: exact empty result, typed from
        # the store schema
        v = store.read_batches(spark, store_path, view_table, tags, merge_schema=True)
        return _net(v.limit(0), "mult")
    v = spark.read.option("mergeSchema", "true").parquet(*paths)
    v = v.filter((F.col(zone_col) >= lo) & (F.col(zone_col) <= hi))
    return _net(v, "mult").filter(F.col("mult") > 0)
