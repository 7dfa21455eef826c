"""Per-record Python steps the ``pipeline`` workload hands to the engine.

They run inside Spark's Python workers, which import them by module
path, so this module imports only the standard library.  Every step is
deterministic in its record and ``args``; ``opgen.pipeline_expected``
predicts their outputs from the input table alone.
"""

from __future__ import annotations

import zlib


class InjectedStepError(ValueError):
    """Raised on purpose so the error channel carries records."""


def key_id(key: str) -> int:
    return int(key[3:])


def in_shard(key: str, mod: int, res: int) -> bool:
    return zlib.crc32(key.encode()) % mod == res


def keep_shard(rec: dict, args: tuple) -> bool:
    """Python filter: keep the keys of one crc32 shard. args = (mod, res)."""
    return in_shard(rec["key"], *args)


def _maybe_fail(key: str, fail: tuple) -> None:
    mod, res = fail
    if key_id(key) % mod == res:
        raise InjectedStepError(f"injected failure on {key}")


def double_value(rec: dict, fail: tuple) -> dict:
    """Python map to ``key string, value double``; fails on 1/mod of keys."""
    _maybe_fail(rec["key"], fail)
    return {"key": rec["key"], "value": float(rec["value"]) * 2.0}


def value_len(rec: dict, fail: tuple) -> dict:
    """Python map to ``key string, value_len int``; fails on 1/mod of keys."""
    _maybe_fail(rec["key"], fail)
    return {"key": rec["key"], "value_len": len(rec["value"])}


def fold_record(acc: tuple, rec: dict) -> tuple:
    return acc[0] + 1, acc[1] + float(rec["value"])


def fold_partial(acc: tuple, rec: dict) -> tuple:
    return acc[0] + int(rec["n"]), acc[1] + float(rec["total"])


def fold_finish(acc: tuple) -> dict:
    return {"n": acc[0], "total": acc[1]}
