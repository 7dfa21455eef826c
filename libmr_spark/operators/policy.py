"""Policy-driven store maintenance: close the ops loop from metrics to
ACTION. ``store_ops_metrics`` produces the long-format alerting feed
(store_kind, item, metric, value); this module joins it against a
declarative policy table — (metric, op, threshold, action) rules — and
EXECUTES the selected actions through each store family's proven
maintenance routine:

- ``compact``  → ``compact_incremental_store`` (table-family),
  ``compact_incremental_clusters``, ``compact_incremental_spans``,
  ``compact_vocab_store`` — all state-preserving rewrites (served
  results provably unchanged; gate-proved per family).
- ``retrain``  → ``ann_index_retrain`` — the quantizer-migration
  rewrite the ANN drift monitor schedules.

This is the nightly-maintenance job a 100 TB store fleet actually runs:
the policy table is data (ops can change thresholds without a deploy),
evaluation is one pass over the metadata-sized metrics frame, and each
fired action is individually crash-safe and idempotent, so the whole
pass is safely re-runnable — a crash mid-fleet re-fires only actions
whose trigger condition still holds (a completed compaction leaves
n_dirs=1, so its rule no longer matches).

Reference parity: none to match — the reference's in-memory keyspace
has no storage layout to maintain; this is §2.2 warehouse surface
(SURVEY §7.2a round-10 #2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..core import store
from ..core.smalldf import local_df

from . import dedup as DD

#: store families the executor can dispatch maintenance to
_FAMILIES = ("table", "cluster", "span", "vocab", "ann", "matview")

_OPS = {
    ">": lambda v, t: v > t,
    ">=": lambda v, t: v >= t,
    "<": lambda v, t: v < t,
    "<=": lambda v, t: v <= t,
}


def read_policy_log(spark, log_store: str) -> DataFrame:
    """The persisted maintenance schedule: every pass's audit rows,
    stamped with ``pass_seq`` (the log's own commit count — the
    manifest as the clock, same idempotence contract as the ops
    feed). This is the ops log AS A STORE: queryable, time-travelable
    via ``read_incremental_store_asof(..., "audit", k)``, compactable
    like everything else."""
    tags = store.tags(log_store, _LOG_PARAMS)
    if not tags:
        raise ValueError(f"empty policy log at {log_store} (no committed passes)")
    return store.read_batches(spark, log_store, "audit", tags)


_LOG_PARAMS = {"kind": "policy-log"}


def apply_maintenance_policy(
    spark,
    policy: list,
    stores: dict,
    ann_stores: tuple = (),
    dry_run: bool = False,
    log_store: str | None = None,
) -> DataFrame:
    """Evaluate ``policy`` rules against the fleet's metrics and run
    the selected maintenance actions.

    ``policy``: list of dicts ``{"metric", "op", "threshold",
    "action"}`` — a rule fires for every store whose metrics frame has
    ANY row with that metric satisfying ``value op threshold``
    (store-granular: one action per (store, rule) no matter how many
    rows matched — a compaction is per store, not per table).
    ``stores``: dict name → (family, path[, tables]) where family is
    one of ``table|cluster|span|vocab|ann|matview``; table-family entries give
    their manifest tables tuple as the third element.
    ``ann_stores``: names (subset of ``stores``) whose per-cell drift
    rows join the metrics feed.

    Returns the audit frame a compliance/ops log wants: one row per
    (store, action) with the fired rule, the triggering metric value,
    the action's result count (batches folded / cells re-assigned),
    and ``executed`` (false in dry-run). ``dry_run=True`` evaluates
    and reports what WOULD fire without touching any store — the ops
    review artifact before a destructive pass (result is -1 for
    un-executed actions). The policy pass never reads data files
    except through the actions themselves — evaluation is the
    metadata-sized metrics frame, collected driver-side
    (|stores| x |tables| + |cells| rows).

    ``log_store``: when given, every pass (including a no-op pass —
    an empty audit is evidence too) COMMITS its audit rows, stamped
    with ``pass_seq``, under the standard ``_BATCHES`` manifest at
    that path — the maintenance schedule as a durable, queryable
    store (SURVEY round-10: the ops log a fleet audit reads)."""
    from .retrieval import ann_index_retrain
    from .vocab import compact_vocab_store

    for name, spec in stores.items():
        if spec[0] not in _FAMILIES:
            raise ValueError(f"store {name!r}: unknown family {spec[0]!r}")
        if spec[0] == "table" and (len(spec) < 3 or not isinstance(spec[2], tuple)):
            # validate arity UP FRONT: failing mid-pass would leave a
            # half-executed fleet with a raw IndexError
            raise ValueError(
                f"store {name!r}: table-family entries are (family, path, "
                "tables-tuple) — missing the manifest tables tuple"
            )
    for rule in policy:
        if rule["op"] not in _OPS:
            raise ValueError(f"unknown op {rule['op']!r} (have {sorted(_OPS)})")
        if rule["action"] not in ("compact", "retrain"):
            raise ValueError(f"unknown action {rule['action']!r}")

    metrics = DD.store_ops_metrics(
        spark,
        [(name, spec[1]) for name, spec in sorted(stores.items())],
        ann_stores=[(n, stores[n][1]) for n in sorted(ann_stores)],
        include_layout=True,
    )
    # metadata-sized by construction (see docstring) — driver evaluation
    # keeps rule semantics trivially sequential and auditable; sorted so
    # the recorded trigger row is deterministic under any partitioning
    rows = sorted(
        metrics.collect(), key=lambda r: (r.store_kind, r.item, r.metric, r.value)
    )

    fired: list = []  # (store, action, rule_metric, trigger_value)
    seen = set()
    for rule in policy:
        op = _OPS[rule["op"]]
        thr = float(rule["threshold"])
        for r in rows:
            if r.metric != rule["metric"] or not op(float(r.value), thr):
                continue
            key = (r.store_kind, rule["action"])
            if key in seen:
                continue
            seen.add(key)
            fired.append((r.store_kind, rule["action"], rule["metric"], float(r.value)))

    audit: list = []
    for store_name, action, metric, value in sorted(fired):
        family, path = stores[store_name][0], stores[store_name][1]
        if dry_run:
            if action == "retrain" and family != "ann":
                raise ValueError(f"retrain selected for non-ann store {store_name!r}")
            audit.append((store_name, action, metric, value, -1, False))
            continue
        if action == "compact":
            if family == "table":
                tables = stores[store_name][2]
                result = DD.compact_incremental_store(spark, path, tables=tables)
            elif family == "cluster":
                result = DD.compact_incremental_clusters(spark, path)
            elif family == "span":
                result = DD.compact_incremental_spans(spark, path)
            elif family == "vocab":
                result = compact_vocab_store(spark, path)
            elif family == "matview":
                from .matview import compact_matview_store

                result = len(compact_matview_store(spark, path))
            else:  # ann: fold cell batch dirs through the generic rewrite
                result = DD.compact_incremental_store(spark, path, tables=("cells",))
        else:  # retrain
            if family != "ann":
                raise ValueError(f"retrain selected for non-ann store {store_name!r}")
            result = len(ann_index_retrain(spark, path))
        audit.append((store_name, action, metric, value, int(result), True))

    out = local_df(
        spark,
        audit,
        "store_kind string, action string, fired_metric string, "
        "trigger_value double, result bigint, executed boolean",
    )
    if log_store is not None:
        seq = len(store.tags(log_store, _LOG_PARAMS)) + 1
        with store.commit(log_store, _LOG_PARAMS) as tx:
            tx.write("audit", out.withColumn("pass_seq", F.lit(seq).cast("int")))
    return out
