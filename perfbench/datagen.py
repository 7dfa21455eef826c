"""Deterministic sf0.1-shaped input tables for the benchmark.

The tables carry the schema, row counts and value ranges of the engine's
TPC-H-ish test data at scale factor 0.1 (150k orders, 600k lineitems,
100k events), drawn from a fixed data seed so that every run of every
workload reads byte-for-byte the same logical data.  The workload seed
(``--seed``) only chooses keys, batches and op order; it never changes
the tables.

:func:`fingerprint` hashes the logical content of the generated tables.
The expected value is pinned in :data:`EXPECTED_FINGERPRINT`: if the
generator (or a library it relies on) ever produces different data, the
benchmark refuses to run rather than compare figures over different
inputs.  :func:`ensure_data` writes the tables once per checkout and
checks the files' hashes against its manifest on every later run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

DATA_SEED = 42
N_REGION = 5
N_NATION = 25
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500

#: sha256 over :func:`fingerprint`'s per-table hashes, for DATA_SEED.
EXPECTED_FINGERPRINT = "d823d1eddf4106711f0cafc66769acb7161035a39440f8e4c8c2322aa8da739a"

TABLE_NAMES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals (whole cents)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def make_tables() -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(DATA_SEED)
    region = pd.DataFrame(
        {"r_regionkey": np.arange(N_REGION, dtype=np.int32), "r_name": _REGIONS}
    )
    nk = np.arange(N_NATION, dtype=np.int32)
    nation = pd.DataFrame(
        {"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk], "n_regionkey": nk % N_REGION}
    )
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    customer = pd.DataFrame(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": rng.integers(0, N_NATION, N_CUSTOMER).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, len(_SEGMENTS), N_CUSTOMER)],
        }
    )
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    supplier = pd.DataFrame(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": rng.integers(0, N_NATION, N_SUPPLIER).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, len(_PRIORITIES), N_ORDERS)],
        }
    )
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
            "l_partkey": rng.integers(0, 20_000, N_LINEITEM).astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", N_LINEITEM),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, month_us, N_EVENTS))
    events = pd.DataFrame(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, len(_EVENT_TYPES), N_EVENTS)],
            "value": _money(rng, 0.0, 560.0, N_EVENTS),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


def fingerprint(tables: dict[str, pd.DataFrame]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        df = tables[name]
        h.update(name.encode())
        h.update(",".join(f"{c}:{df[c].dtype}" for c in df.columns).encode())
        h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One single-row-group parquet file per table, as the engine's test
    data is laid out (``<out_dir>/<name>.parquet``)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


class FingerprintError(RuntimeError):
    """The input data is not the data the benchmark's figures refer to."""


def _file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def ensure_data(cache_root: str) -> str:
    """Directory holding the input tables, generated on first use.

    Generation refuses a logical fingerprint other than the pinned one;
    every later call refuses files whose hashes left the manifest."""
    data_dir = os.path.join(cache_root, f"data-{EXPECTED_FINGERPRINT[:16]}")
    manifest = os.path.join(data_dir, "MANIFEST.json")
    if not os.path.exists(manifest):
        tables = make_tables()
        fp = fingerprint(tables)
        if fp != EXPECTED_FINGERPRINT:
            raise FingerprintError(f"generated data has fingerprint {fp}, pinned {EXPECTED_FINGERPRINT}")
        tmp = f"{data_dir}.tmp-{os.getpid()}"
        write_tables(tables, tmp)
        files = {n: _file_sha256(os.path.join(tmp, f"{n}.parquet")) for n in TABLE_NAMES}
        with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
            json.dump({"fingerprint": fp, "files": files}, f, indent=1)
        shutil.rmtree(data_dir, ignore_errors=True)
        os.rename(tmp, data_dir)
    with open(manifest) as f:
        files = json.load(f)["files"]
    for name, digest in files.items():
        if _file_sha256(os.path.join(data_dir, f"{name}.parquet")) != digest:
            raise FingerprintError(f"{data_dir}/{name}.parquet changed since it was generated")
    return data_dir
