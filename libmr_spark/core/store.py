"""The batch store: the one module that knows the persisted store format.

Every incremental store (dedup fingerprints and signatures, BM25 and ANN
indexes, cluster and span stores, vocab counts, join views, tokenizer
merges, export shards, the policy log) is a directory of this shape::

    <store>/_BATCHES                  manifest: {"batches": [tag, ...], "params": {...}}
    <store>/<table>/batch=<tag>/      one parquet directory per table and commit
    <store>/_BATCHES.lock             manifest flock
    <store>/_REWRITE.lock             rewrite flock (compaction, takedown, retrain)
    <store>/_INGEST.lock              ingest flock (stores whose commits must linearize)
    <store>/_SNAPSHOTS/<id>.json      snapshot pins that block compaction

LibMR keeps its records in the Redis keyspace and persists nothing, so
this commit protocol is the engine's own.

Commit. The manifest is the store's single source of truth: readers
load ONLY manifest-listed ``batch=<tag>`` directories, and a batch
becomes visible in one atomic ``os.replace`` of the manifest. A process
killed anywhere before the swap leaves the old snapshot intact: a batch
directory written but not published is an invisible orphan, a leftover
``_BATCHES.tmp`` is overwritten by the next publish, and a lock held by
the dead process is released by the kernel.

Concurrency. PUBLICATION is lost-update-free: the read-modify-write of
the tag list happens under a kernel ``flock`` and re-reads the manifest
inside the critical section, so two concurrent committers serialize and
neither orphans the other's batch. ADMISSION, however, reads the store
before its batch commits: two batches admitted concurrently each check
the PRE-batch history and can both admit near-twins of each other. That
is the same semantic as near-dups arriving inside one batch (documented
on each store), so the supported deployment is one logical ingest
pipeline per store; the lock only guarantees the store never LOSES a
batch. At warehouse scale the same two properties come from the table
format's commit protocol (optimistic CAS on the metadata pointer).

Rewrites (:func:`_rewrite_store`) serialize on the store's rewrite lock,
publish one ``batch=compact-<uuid>`` directory per table in place of the
snapshot they read, and then sweep:

(a) the snapshot tags just superseded, IMMEDIATELY, because takedown
    must not retain bytes for a grace period (an admission read that
    straddles the rewrite can hit a vanished file and must retry — the
    same trade-off as a VACUUM with zero retention);
(b) unlisted ``compact-`` directories, which can only be a crashed
    rewriter's leftover, since rewriters serialize on the lock;
(c) unlisted non-rewrite directories older than ``_REWRITE_STALE_S``,
    crash leftovers of an ingest commit or of an interrupted sweep;
    younger ones may be an in-flight ingest batch awaiting its publish
    and are left alone.
"""

from __future__ import annotations

import json
import os

_MANIFEST = "_BATCHES"
_SNAPSHOTS = "_SNAPSHOTS"

#: Unlisted non-rewrite orphan directories (crash leftovers from an
#: ingest commit or an interrupted sweep) become sweepable after this
#: many seconds. Must exceed the longest plausible ingest-commit
#: window (write dirs → publish tag).
_REWRITE_STALE_S = 3600.0


def manifest_path(store_path: str) -> str:
    return os.path.join(store_path, _MANIFEST)


def batch_path(store_path: str, table: str, tag: str) -> str:
    return os.path.join(store_path, table, f"batch={tag}")


def batch_paths(store_path: str, table: str, tags: list) -> list:
    return [batch_path(store_path, table, t) for t in tags]


def read_batches(spark, store_path: str, table: str, tags: list, merge_schema: bool = False):
    """The union of ``table`` over the listed batches. ``merge_schema``
    reads the union schema of a store whose history spans a schema
    evolution (pre-evolution rows null-filled); off, Spark samples one
    footer, which is all a fixed-schema store needs."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*batch_paths(store_path, table, tags))


def write_json(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` atomically: a temp file, then
    ``os.replace``. A reader sees the old file or the new one, never a
    torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def read_manifest(manifest_path: str) -> tuple:
    """``(tags, params)`` as recorded, without validation; ``([], None)``
    for a store with no manifest yet."""
    if not os.path.exists(manifest_path):
        return [], None
    with open(manifest_path) as f:
        m = json.load(f)
    return m["batches"], m.get("params")


def _check_params(manifest_path: str, stored: dict | None, params: dict | None) -> None:
    if params is not None and stored is not None and stored != params:
        raise ValueError(
            f"signature-store parameter mismatch at "
            f"{os.path.dirname(manifest_path)}: store was built with "
            f"{stored}, call uses {params}"
        )


def _manifest_read(manifest_path: str, params: dict | None) -> list:
    """Committed batch tags; validates ``params`` against the store's
    recorded signature parameters (a mismatched call would band over
    different signature slices, find zero candidates, and silently
    admit every near-dup of history — refused loudly instead)."""
    tags, stored = read_manifest(manifest_path)
    _check_params(manifest_path, stored, params)
    return tags


class _manifest_lock:
    """``flock``-based lock guarding the manifest read-modify-write
    window (and, on a separate path, serializing store rewrites). The
    kernel owns the lock state and releases it when the holder's fd
    closes — including on process crash — so there is NO stale-lock
    problem and no mtime-based breaking at all. Earlier revisions used
    an O_EXCL lock file with staleness breaking; every variant of
    "stat, decide stale, remove" has a TOCTOU window in which a
    breaker can remove a lock a new holder just acquired, and flock
    eliminates the whole class. The lock FILE persists on disk after
    release (harmless — only the kernel lock matters); local-fs
    semantics are all this deployment needs, and the warehouse-scale
    swap (a table format's optimistic metadata CAS) is documented in
    the module docstring. Acquisition past ``timeout_s`` raises rather
    than deadlocking silently."""

    def __init__(self, manifest_path: str, timeout_s: float = 30.0):
        self.path = manifest_path + ".lock"
        self.timeout_s = timeout_s
        self._fd = None

    def __enter__(self):
        import fcntl
        import time

        self._fd = os.open(self.path, os.O_CREAT | os.O_RDWR)
        deadline = time.monotonic() + self.timeout_s
        while True:
            try:
                fcntl.flock(self._fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return self
            except (BlockingIOError, InterruptedError):
                if time.monotonic() > deadline:
                    os.close(self._fd)
                    self._fd = None
                    raise TimeoutError(
                        f"could not acquire store manifest lock {self.path} "
                        f"within {self.timeout_s}s (a concurrent holder is "
                        "live — a crashed holder's lock is released by the "
                        "kernel automatically)"
                    )
                time.sleep(0.05)

    def __exit__(self, *exc):
        if self._fd is not None:
            os.close(self._fd)  # closing the fd releases the flock
            self._fd = None
        return False


def rewrite_lock(store_path: str) -> _manifest_lock:
    """The per-store lock that serializes rewriters against each other
    and against snapshot-pin registration; ingest commits never take
    it."""
    return _manifest_lock(os.path.join(store_path, "_REWRITE"), timeout_s=300.0)


def ingest_lock(store_path: str, timeout_s: float) -> _manifest_lock:
    """The per-store lock for stores whose ingest commits must
    linearize (a join view's delta is only exact against the committed
    pre-state). Taken before :func:`rewrite_lock`, never after."""
    return _manifest_lock(os.path.join(store_path, "_INGEST"), timeout_s=timeout_s)


def _manifest_swap(
    manifest_path: str,
    params: dict | None,
    add_tags=(),
    drop_tags=(),
    set_params: dict | None = None,
) -> list:
    """The body of :func:`_manifest_publish`, for a caller that already
    holds the manifest lock (the ANN bootstrap, whose race check and
    centroid write share the critical section)."""
    current, stored = read_manifest(manifest_path)
    if set_params is not None:
        params = set_params
    else:
        _check_params(manifest_path, stored, params)
        if params is None:
            params = stored
    drop = set(drop_tags)
    new_tags = [t for t in current if t not in drop] + [
        t for t in add_tags if t not in current
    ]
    write_json(manifest_path, {"batches": new_tags, "params": params})
    return new_tags


def _manifest_publish(
    manifest_path: str,
    params: dict | None,
    add_tags=(),
    drop_tags=(),
    timeout_s: float = 30.0,
    set_params: dict | None = None,
) -> list:
    """Atomically publish a manifest update: under the lock, RE-READ the
    current tag list (so a tag committed concurrently since the caller's
    admission snapshot survives), drop ``drop_tags``, append
    ``add_tags``, and swap the file in with ``os.replace``. A ``None``
    ``params`` (compaction, which is parameter-agnostic) preserves the
    store's recorded params verbatim. ``set_params`` REPLACES the
    recorded params in the same atomic swap (no validation against the
    old ones) — the re-train path, where new quantizer parameters and
    the batch list they describe must become visible together or not
    at all. Returns the published tag list."""
    with _manifest_lock(manifest_path, timeout_s=timeout_s):
        return _manifest_swap(manifest_path, params, add_tags, drop_tags, set_params)


def write_pin(store_path: str, snapshot_id: str, pin: dict) -> None:
    """Register snapshot pin ``snapshot_id`` at the store (atomic)."""
    d = os.path.join(store_path, _SNAPSHOTS)
    os.makedirs(d, exist_ok=True)
    write_json(os.path.join(d, f"{snapshot_id}.json"), pin)


def remove_pin(store_path: str, snapshot_id: str) -> None:
    """Drop the pin; a missing pin is fine (release is idempotent)."""
    try:
        os.remove(os.path.join(store_path, _SNAPSHOTS, f"{snapshot_id}.json"))
    except FileNotFoundError:
        pass


def _live_pins(store_path: str) -> list:
    """The ids of the store's live snapshot pins. An expired pin
    (``expires_at`` in the past) stops guarding and is swept here, so a
    forgotten snapshot cannot block compaction forever; an unreadable
    pin counts as live (fail safe)."""
    import time

    snapdir = os.path.join(store_path, _SNAPSHOTS)
    now = time.time()
    pins = []
    for p in sorted(os.listdir(snapdir) if os.path.isdir(snapdir) else []):
        if not p.endswith(".json"):
            continue
        fp = os.path.join(snapdir, p)
        try:
            with open(fp) as fh:
                exp = json.load(fh).get("expires_at")
        except (OSError, ValueError):
            exp = None
        if exp is not None and exp < now:
            try:
                os.remove(fp)
            except OSError:
                pass
            continue
        pins.append(p[:-5])
    return pins


def _rewrite_store(
    spark,
    store_path: str,
    transform,
    tables: tuple,
    min_batches: int = 1,
    set_params: dict | None = None,
    respect_snapshots: bool = False,
    merge_schema: bool = False,
) -> list:
    """Shared crash-safe store rewrite: under the per-store REWRITE
    lock (a kernel-held flock serializing rewriters against each other
    — a crashed rewriter's lock auto-releases; ingest commits are
    unaffected), snapshot the manifest, read each table's snapshot
    directories, apply ``transform(df, table)``, write ONE fresh
    ``batch=compact-<uuid>`` directory, republish atomically (dropping
    exactly the snapshot tags — concurrent ingest commits survive),
    then sweep superseded and crash-orphaned directories by the rules
    in the module docstring. Returns the snapshot tag list that was
    rewritten ([] if the store has fewer than ``min_batches`` committed
    batches). ``set_params`` swaps the store's recorded params in the
    SAME manifest publish (see :func:`_manifest_publish`) — the ANN
    re-train path, where the new quantizer's parameters must become
    visible atomically with the re-assigned cells.

    Raises if a non-empty store has NONE of the requested tables on
    disk — publishing a data-less compact tag there would silently
    unlink the whole history (e.g. calling compaction on an exact-fp
    store with the near-dup stores' default ``tables``).

    ``merge_schema``: a rewrite must see the UNION schema when the
    snapshot spans a schema evolution (add-column) — the default
    footer-sampled schema would nondeterministically drop the evolved
    column from the fold. Off for the fixed-schema store families,
    whose rewrites would only pay the all-footers read for nothing.

    ``respect_snapshots`` (compaction entry points set it): refuse to
    collapse the commit log while any snapshot pin is registered under
    ``<store>/_SNAPSHOTS/`` (``operators/snapshot.py::register_snapshot``
    — the retention contract a reproducible training run relies on).
    Deletion paths deliberately do NOT set it: right-to-be-forgotten
    beats reproducibility, and a pinned read invalidated by takedown
    raises out-of-range instead of serving silently-different state."""
    import shutil
    import time
    import uuid

    mpath = manifest_path(store_path)
    with rewrite_lock(store_path):
        if respect_snapshots:
            pins = _live_pins(store_path)
            if pins:
                raise ValueError(
                    f"store rewrite at {store_path} blocked by live snapshot "
                    f"pin(s) {pins}: compaction would collapse the pinned "
                    "commit-log prefix; release_snapshot() them first"
                )
        snapshot = _manifest_read(mpath, None)
        if len(snapshot) < min_batches:
            return []
        new_tag = "compact-" + uuid.uuid4().hex
        present = [t for t in tables if os.path.isdir(os.path.join(store_path, t))]
        if not present:
            raise ValueError(
                f"store rewrite at {store_path}: none of the requested "
                f"tables {tables} exists on disk — wrong `tables` for "
                "this store's layout (rewriting anyway would publish a "
                "data-less manifest and orphan the entire history)"
            )
        for table in present:
            df = read_batches(spark, store_path, table, snapshot, merge_schema)
            transform(df, table).write.mode("overwrite").parquet(
                batch_path(store_path, table, new_tag)
            )
        _manifest_publish(
            mpath, None, add_tags=[new_tag], drop_tags=snapshot,
            set_params=set_params,
        )
        listed = set(_manifest_read(mpath, None))
        now = time.time()
        for table in present:
            tdir = os.path.join(store_path, table)
            for t in snapshot:
                shutil.rmtree(batch_path(store_path, table, t), ignore_errors=True)
            for entry in os.listdir(tdir):
                tag = entry.removeprefix("batch=")
                if tag in listed:
                    continue
                path = os.path.join(tdir, entry)
                try:
                    aged = now - os.path.getmtime(path) > _REWRITE_STALE_S
                except OSError:
                    continue
                if tag.startswith("compact-") or aged:
                    shutil.rmtree(path, ignore_errors=True)
    return snapshot
