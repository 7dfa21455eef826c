"""Seeded op sequences for the workloads, and the outputs the
engine must produce for them.

Everything here is a pure function of ``--seed`` (and, for expected
outputs, of the fixed input tables), so two runs with one seed issue
the identical op sequence and two seeds issue different ones
(``test_opgen.py``).  The seed chooses keys, batches, residues and op
order; it is built so that the *amount* of work per op barely depends
on it, which keeps run-to-run spread down across seeds.
"""

from __future__ import annotations

import binascii
import zlib
from dataclasses import dataclass
from typing import Iterator

import numpy as np

# relational inventory queries built on ``libmr_spark.operators``
# (``as_of_join``, ``top_k``): forced with the noop sink, checked against
# their DuckDB oracle on the warm-up pass
PIPELINE_QUERY_OPS = ("asof_join_events", "orderby_limit_topk")

PIPELINE_OPS = (
    "py_filter_map",
    "py_fold",
    "rel_filter_reshuffle_map",
    "kv_collect_then_map",
    "kv_reshuffle_rmw",
    "kv_count",
    *PIPELINE_QUERY_OPS,
)

SERVE_OPS = ("read", "write", "admin")

# serve: ops come in shuffled blocks of 20 holding 80% reads, 15% writes
# and 5% admin exactly, so a run's mix does not depend on the seed
N_BUCKETS = 16
BLOCK = ("read",) * 16 + ("write",) * 3 + ("admin",)
UPSERT_UPDATES = 240  # existing keys rewritten per batch
UPSERT_INSERTS = 16  # new keys per batch
ZIPF_S = 1.1
RECENT_READ_SHARE = 0.10  # reads aimed at a key an earlier upsert wrote

_STREAM_PIPELINE, _STREAM_SERVE = 1, 3


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def shuffled_rounds(rng: np.random.Generator, ops: tuple[str, ...]) -> Iterator[tuple[str, ...]]:
    """Endless full rounds, each a fresh permutation of ``ops``: every op
    type runs equally often however many rounds fit in a run."""
    while True:
        yield tuple(ops[i] for i in rng.permutation(len(ops)))


# -- pipeline ---------------------------------------------------------------


@dataclass(frozen=True)
class PipelineParams:
    filter_shard: tuple[int, int]  # Python filter keeps crc32(key) % m == r
    fail: tuple[int, int]  # Python maps raise on key_id % m == r (~1%)
    rel_shard: tuple[int, int]  # relational filter crc32(key) % m == r


def pipeline_plan(seed: int) -> tuple[PipelineParams, Iterator[tuple[str, ...]]]:
    rng = _rng(seed, _STREAM_PIPELINE)
    params = PipelineParams(
        filter_shard=(5, int(rng.integers(5))),
        fail=(100, int(rng.integers(100))),
        rel_shard=(4, int(rng.integers(4))),
    )
    return params, shuffled_rounds(rng, PIPELINE_OPS)


@dataclass(frozen=True)
class Expected:
    results: int
    errors: int
    value: float | None = None  # folded total / count, where one is returned


def pipeline_expected(params: PipelineParams, order_keys: np.ndarray, status: np.ndarray,
                      price: np.ndarray) -> dict[str, Expected]:
    """Exact result and error counts of every pipeline op but the
    noop-forced queries, over the kv view of ``orders`` (key = 'key<orderkey>', type 'string' iff status 'O')."""
    keys = [f"key{k}" for k in order_keys]
    crc = np.fromiter((zlib.crc32(k.encode()) for k in keys), dtype=np.int64, count=len(keys))
    fails = order_keys % params.fail[0] == params.fail[1]
    kept = crc % params.filter_shard[0] == params.filter_shard[1]
    shard = crc % params.rel_shard[0] == params.rel_shard[1]
    n_string = int((status == "O").sum())
    return {
        "py_filter_map": Expected(int((kept & ~fails).sum()), int((kept & fails).sum())),
        "py_fold": Expected(1, 0, float(price.sum())),
        "rel_filter_reshuffle_map": Expected(int((shard & ~fails).sum()), int((shard & fails).sum())),
        "kv_collect_then_map": Expected(n_string, 0),
        "kv_reshuffle_rmw": Expected(n_string, 0),
        "kv_count": Expected(1, 0, float(len(keys))),
    }


# -- serve ------------------------------------------------------------------


def bucket_of(key: str) -> int:
    """Redis cluster slot (CRC16-XMODEM, no hashtags in these keys) mod 16."""
    return (binascii.crc_hqx(key.encode(), 0) & 0x3FFF) % N_BUCKETS


@dataclass(frozen=True)
class Read:
    key: str
    kind = "read"


@dataclass(frozen=True)
class Upsert:
    bucket: int
    rows: tuple[tuple[str, str], ...]  # (key, value), keys all in ``bucket``
    kind = "write"


@dataclass(frozen=True)
class Admin:
    kind = "admin"


class _ServeGen:
    def __init__(self, seed: int, n_keys: int):
        self.rng = _rng(seed, _STREAM_SERVE)
        self.n_keys = n_keys
        buckets = np.fromiter((bucket_of(f"key{i}") for i in range(n_keys)), dtype=np.int64, count=n_keys)
        self.bucket_keys = [np.flatnonzero(buckets == b) for b in range(N_BUCKETS)]
        # Zipf popularity over a seeded permutation of the keyspace
        ranks = np.arange(1, n_keys + 1, dtype=np.float64)
        self.zipf_cdf = np.cumsum(ranks**-ZIPF_S)
        self.zipf_cdf /= self.zipf_cdf[-1]
        self.by_rank = self.rng.permutation(n_keys)
        self.next_new = n_keys
        self.new_pool: list[list[int]] = [[] for _ in range(N_BUCKETS)]
        self.written: list[str] = []

    def read(self) -> Read:
        if self.written and self.rng.random() < RECENT_READ_SHARE:
            return Read(self.written[int(self.rng.integers(len(self.written)))])
        rank = int(np.searchsorted(self.zipf_cdf, self.rng.random(), side="right"))
        return Read(f"key{self.by_rank[min(rank, self.n_keys - 1)]}")

    def _new_ids(self, bucket: int, n: int) -> list[int]:
        pool = self.new_pool[bucket]
        while len(pool) < n:
            self.new_pool[bucket_of(f"key{self.next_new}")].append(self.next_new)
            self.next_new += 1
        out, self.new_pool[bucket] = pool[:n], pool[n:]
        return out

    def upsert(self) -> Upsert:
        b = int(self.rng.integers(N_BUCKETS))
        ids = [int(i) for i in self.rng.choice(self.bucket_keys[b], UPSERT_UPDATES, replace=False)]
        ids += self._new_ids(b, UPSERT_INSERTS)
        cents = self.rng.integers(100_000, 50_000_000, len(ids))
        rows = tuple((f"key{i}", f"{c / 100:.2f}") for i, c in zip(ids, cents))
        self.written.extend(k for k, _ in rows)
        return Upsert(b, rows)

    def block(self) -> tuple:
        make = {"read": self.read, "write": self.upsert, "admin": Admin}
        return tuple(make[BLOCK[i]]() for i in self.rng.permutation(len(BLOCK)))


def serve_plan(seed: int, n_keys: int) -> tuple[list, Iterator[tuple]]:
    """(warm-up ops: one of each kind, endless shuffled blocks of ops)."""
    gen = _ServeGen(seed, n_keys)
    warmup = [gen.read(), gen.upsert(), Admin()]

    def blocks():
        while True:
            yield gen.block()

    return warmup, blocks()


def initial_model(order_keys: np.ndarray, price: np.ndarray) -> dict[str, object]:
    """Driver-side model of the staged kv store: key -> value.  Staged
    values are the engine's string cast of a double, compared as floats;
    values an upsert wrote are compared as the exact strings written."""
    return {f"key{k}": float(p) for k, p in zip(order_keys, price)}

