"""Shared zone-map layer for the manifest store families (matview,
exact-dedup/BM25/ANN signature stores): per-FILE min/max of a chosen
column harvested from the parquet footers at compaction time, so a
point/range serve opens only the files whose range covers the probe.

Contract (identical for every family):

- ``write_zones`` runs AFTER the manifest publish — a crash in
  between leaves a compacted dir without zones and lookups fall back
  to the full read: pruning is an optimization layer, never a
  correctness dependency.
- a statless file is recorded with a NULL zone (never omitted), and
  ``pruned_paths`` serves any file without a usable zone entry
  unconditionally — pruning only ever removes files PROVEN empty for
  the probe.
- dirs with no ``_ZONES.json`` at all (fresh ingest batches since the
  last zoned compaction) contribute whole.

At 100 TB this is the standard lakehouse data-skipping shape (file
statistics + range-clustered layout); the manifest protocol is
unchanged by the layout choice.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os

from ..core import store


def _zone_encode(v):
    """JSON encoding for a zone bound. Parquet footer statistics are
    not JSON-native for date/timestamp/decimal/binary columns (pyarrow
    returns datetime.date/datetime, Decimal, bytes) — those serialize
    as a type-tagged dict; unsupported types return the ``_UNSUPPORTED``
    sentinel and the caller records a NULL zone (the file serves
    unpruned — pruning is an optimization layer, never a correctness
    dependency)."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"t": "date", "v": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"t": "dec", "v": str(v)}
    if isinstance(v, bytes):
        return {"t": "hex", "v": v.hex()}
    return _UNSUPPORTED


_UNSUPPORTED = object()


def _zone_decode(v):
    """Inverse of :func:`_zone_encode` (tagged dicts back to their
    Python values; everything else passes through)."""
    if isinstance(v, dict):
        t, s = v.get("t"), v.get("v")
        if t == "ts":
            return datetime.datetime.fromisoformat(s)
        if t == "date":
            return datetime.date.fromisoformat(s)
        if t == "dec":
            return decimal.Decimal(s)
        if t == "hex":
            return bytes.fromhex(s)
    return v


def _tz_align(probe, zone_bound):
    """A NAIVE datetime probe against an AWARE timestamp zone (parquet
    footers store timestamps as UTC-adjusted, so pyarrow returns
    tz-aware bounds) is interpreted as UTC — matching the engine's
    pinned UTC session timezone (session.py), under which a naive
    probe and the stored instant mean the same wall value."""
    if (
        isinstance(probe, datetime.datetime)
        and probe.tzinfo is None
        and isinstance(zone_bound, datetime.datetime)
        and zone_bound.tzinfo is not None
    ):
        return probe.replace(tzinfo=datetime.timezone.utc)
    return probe


def write_zones(store_path: str, table: str, tag: str, zone_col: str) -> dict:
    """Per-file min/max of ``zone_col`` from the parquet footers
    (driver-side pyarrow metadata reads — no Spark jobs), persisted as
    ``_ZONES.json`` inside the batch directory."""
    import pyarrow.parquet as pq

    d = store.batch_path(store_path, table, tag)
    zones = {}
    for fn in sorted(os.listdir(d)):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(d, fn)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[
            zone_col
        ]
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            try:
                usable = st is not None and st.has_min_max
                smin = st.min if usable else None
                smax = st.max if usable else None
            except Exception:
                # pyarrow raises ArrowNotImplementedError extracting
                # stats for some logical types — degrade to a NULL
                # zone (serve unpruned), never fail the compaction
                usable = False
            if not usable:
                lo = hi = None  # a statless row group disables the file's zone
                break
            lo = smin if lo is None else min(lo, smin)
            hi = smax if hi is None else max(hi, smax)
        # a statless file is recorded with a NULL zone (never omitted):
        # the lookup must keep serving it unpruned; same for stats of a
        # type the tagged encoding doesn't cover
        if lo is None:
            zones[fn] = None
        else:
            elo, ehi = _zone_encode(lo), _zone_encode(hi)
            zones[fn] = (
                [elo, ehi]
                if elo is not _UNSUPPORTED and ehi is not _UNSUPPORTED
                else None
            )
    store.write_json(os.path.join(d, "_ZONES.json"), {"column": zone_col, "files": zones})
    return zones


def write_zones_if_col(store_path: str, table: str, tag: str, zone_col: str) -> None:
    """:func:`write_zones` guarded: a table whose schema lacks the zone
    column stays zoneless (serves unpruned) rather than failing the
    compaction — the multi-view-projection case."""
    import pyarrow.parquet as pq

    d = store.batch_path(store_path, table, tag)
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".parquet"):
            schema = pq.ParquetFile(os.path.join(d, fn)).schema_arrow
            if zone_col in schema.names:
                write_zones(store_path, table, tag, zone_col)
            return


def pruned_paths_probes(
    store_path: str, table: str, tags: list, zone_col: str, probes: list
) -> list:
    """MULTI-PROBE file pruning — the hash-uniform-key counterpart of
    :func:`pruned_paths`: a file is kept iff ANY probe value lands in
    its zone range (bisect over the sorted probe list, driver-side and
    metadata-only).  This is what makes a fingerprint-clustered store
    layout pay off for ADMISSION: a batch of hash-uniform keys spans
    the whole key range (a single [min, max] probe prunes nothing),
    but each individual key hits exactly one range-partitioned file,
    so the opened-file count is bounded by the BATCH size, not the
    history size.  The same serve-exact fallbacks as
    :func:`pruned_paths`: null/absent zone entries, zoneless dirs, and
    probe/zone type mismatches all serve unconditionally."""
    import bisect

    probes = sorted(probes)
    paths = []
    for t in tags:
        d = store.batch_path(store_path, table, t)
        zones = _load_zones(d, zone_col)
        if zones is None:
            paths.append(d)
            continue
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".parquet"):
                continue
            zone = zones.get(fn)
            if zone is not None:
                zlo, zhi = _zone_decode(zone[0]), _zone_decode(zone[1])
                try:
                    i = bisect.bisect_left(probes, zlo)
                    if i >= len(probes) or probes[i] > zhi:
                        continue  # no probe inside [zlo, zhi]
                except TypeError:
                    pass  # incomparable probe type: serve unpruned
            paths.append(os.path.join(d, fn))
    return paths


def _load_zones(d: str, zone_col: str):
    """The dir's ``_ZONES.json`` file map, or None when absent,
    unreadable, or recorded for a different column (whole-dir
    fallback)."""
    zpath = os.path.join(d, "_ZONES.json")
    if not os.path.exists(zpath):
        return None
    try:
        with open(zpath) as f:
            z = json.load(f)
        return z["files"] if z.get("column") == zone_col else None
    except (OSError, ValueError, KeyError):
        return None


def pruned_paths(
    store_path: str, table: str, tags: list, zone_col: str, lo, hi
) -> list:
    """The read list for a ``[lo, hi]`` probe: per manifest-listed
    batch dir, the part files NOT proven empty by their zone — files
    with a null/absent zone entry, and whole dirs without (readable,
    matching) zones, serve unconditionally."""
    paths = []
    for t in tags:
        d = store.batch_path(store_path, table, t)
        zones = _load_zones(d, zone_col)
        if zones is None:
            paths.append(d)
            continue
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".parquet"):
                continue
            zone = zones.get(fn)
            if zone is not None:
                zlo, zhi = _zone_decode(zone[0]), _zone_decode(zone[1])
                plo, phi = _tz_align(lo, zlo), _tz_align(hi, zhi)
                try:
                    if zhi < plo or zlo > phi:
                        continue
                except TypeError:
                    # probe type incomparable with the recorded zone
                    # (e.g. a string probe against a date zone): serve
                    # the file unpruned rather than guess
                    pass
            paths.append(os.path.join(d, fn))
    return paths
