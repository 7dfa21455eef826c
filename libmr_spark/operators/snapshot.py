"""Fleet-level consistent snapshot: ONE logical clock vector for every
store a training run reads, so the run's exact input state — dedup
fingerprints, cluster labels, span cut lists, vocab counts, retrieval
indexes — can be re-served bit-identically months later.

Each store's ``_BATCHES`` manifest already IS an ordered commit log,
and every family has a prefix-pinned read (``read_incremental_store_asof``,
``read_incremental_clusters_asof``, ``read_incremental_spans(as_of_batches=)``,
``vocab_net_counts(as_of_batches=)``). What a reproducible run needs on
top is the CAPTURE: the per-store committed-batch counts recorded
together as one descriptor, persisted next to the run's config.

Consistency contract (stated honestly): the capture reads each store's
manifest atomically (one ``_BATCHES`` read each), so the descriptor is
a vector of individually-consistent prefixes — a true consistent cut
when no cross-store transaction is mid-flight at capture time. Stores
whose tables must be mutually consistent at every instant belong in ONE
manifest (the hybrid store's four tables do exactly this); the fleet
snapshot coordinates across INDEPENDENT stores, where the commit
protocols never promised cross-store atomicity to begin with.

Durability caveat (same as every as-of read): a store REWRITE
(compaction / takedown / retrain) collapses the manifest prefix, after
which a snapshot taken before the rewrite raises out-of-range rather
than silently serving different state — the lakehouse VACUUM trade-off,
pinned in tests. Pin retention policy to snapshot lifetime when
reproducibility matters.

Reference parity note: the reference has no durable stores, hence no
snapshot surface; this is part of the §2.2 warehouse surface the Spark
rebuild adds (SURVEY §7.2a round-10 #1).
"""

from __future__ import annotations

import json

from ..core import store

#: descriptor format version, bumped on any schema change
_SNAPSHOT_VERSION = 1


def fleet_snapshot(stores: dict[str, str]) -> dict:
    """Capture the fleet's logical clock: ``stores`` maps store name →
    store path; returns ``{"version": 1, "stores": {name: {"path": p,
    "n_batches": k}}}``. Driver-side manifest metadata reads only —
    never touches data files, O(#stores) cost."""
    snap: dict = {"version": _SNAPSHOT_VERSION, "stores": {}}
    for name, path in sorted(stores.items()):
        tags = store._manifest_read(store.manifest_path(path), None)
        if not tags:
            raise ValueError(f"store {name!r} at {path} has no committed batches")
        snap["stores"][name] = {"path": path, "n_batches": len(tags)}
    return snap


def save_snapshot(snapshot_path: str, snap: dict) -> None:
    """Persist the descriptor atomically, with the same swap as the
    store manifests."""
    store.write_json(snapshot_path, snap)


def load_snapshot(snapshot_path: str) -> dict:
    with open(snapshot_path) as f:
        snap = json.load(f)
    if snap.get("version") != _SNAPSHOT_VERSION:
        raise ValueError(
            f"unsupported snapshot version {snap.get('version')!r} at {snapshot_path}"
        )
    return snap


def register_snapshot(snap: dict, snapshot_id: str, ttl_s: float | None = None) -> None:
    """Pin the snapshot AT each store: writes
    ``<store>/_SNAPSHOTS/<id>.json`` (atomic swap) so the store's own
    COMPACTION refuses to collapse the pinned prefix while the pin is
    live (``_rewrite_store(respect_snapshots=True)`` — the retention
    contract from SURVEY round-10 #1). Precedence is documented and
    deliberate: TAKEDOWN and quantizer RETRAIN ignore pins —
    right-to-be-forgotten and operational index migration beat
    reproducibility, so those rewrites may still invalidate a pinned
    read (which then raises out-of-range, never serving silently).
    Release with :func:`release_snapshot` when the training run no
    longer needs byte-exact replays — or give the pin a ``ttl_s`` so a
    forgotten snapshot cannot block compaction forever: an expired pin
    is swept (and stops guarding) the next time the guard evaluates
    it, the retention-GC contract every lakehouse retention policy
    ends up needing."""
    import time

    expires_at = (time.time() + ttl_s) if ttl_s is not None else None
    for name, entry in snap["stores"].items():
        # write the pin under the store's REWRITE flock and re-validate
        # the pinned prefix: a rewrite already past its guard check
        # when we arrive holds the lock until it publishes, so we
        # block, then see the collapsed log and raise STALE instead of
        # returning success for a pin that protects nothing (the
        # TOCTOU window between capture and registration, closed)
        with store.rewrite_lock(entry["path"]):
            tags = store._manifest_read(store.manifest_path(entry["path"]), None)
            if len(tags) < entry["n_batches"]:
                raise ValueError(
                    f"snapshot {snapshot_id!r} is stale for store {name!r}: "
                    f"a rewrite collapsed the commit log to {len(tags)} "
                    f"batches (< pinned {entry['n_batches']}) between "
                    "capture and registration — re-capture the fleet"
                )
            store.write_pin(entry["path"], snapshot_id, {
                "id": snapshot_id, "store": name,
                "n_batches": entry["n_batches"], "expires_at": expires_at,
            })


def release_snapshot(snap: dict, snapshot_id: str) -> None:
    """Remove the pin from every store in the snapshot (missing files
    are fine — release is idempotent)."""
    for entry in snap["stores"].values():
        store.remove_pin(entry["path"], snapshot_id)


def snapshot_batches(snap: dict, name: str) -> int:
    """The pinned committed-batch count for store ``name`` — the value
    every family's as-of read takes."""
    try:
        return int(snap["stores"][name]["n_batches"])
    except KeyError:
        raise ValueError(
            f"store {name!r} not in snapshot (has: {sorted(snap.get('stores', {}))})"
        ) from None
