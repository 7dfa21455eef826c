"""The batch store's commit protocol under a killed committer, and the
guard that keeps the store format and internals inside
``libmr_spark/core/store.py``.

No SparkSession: the union read goes through a stand-in whose
``read.parquet`` is pyarrow, so these tests exercise the real
``core.store`` functions on real files.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import signal
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from libmr_spark.core import store as ST

_PARAMS = {"kind": "kill-test"}


class _ArrowReader:
    def option(self, _key, _value):
        return self

    def parquet(self, *paths):
        return pa.concat_tables([pq.read_table(p) for p in paths])


class _ArrowSpark:
    """Just enough of a SparkSession for ``ST.read_batches``."""

    read = _ArrowReader()


def _write_batch(store_path: str, tag: str, ids: list) -> None:
    d = ST.batch_path(store_path, "rows", tag)
    os.makedirs(d)
    pq.write_table(pa.table({"id": ids}), os.path.join(d, "part-0.parquet"))


def _kill_self(*_args, **_kwargs):
    os.kill(os.getpid(), signal.SIGKILL)


def _wait_killed(pid: int, timeout_s: float = 60.0) -> None:
    deadline = time.monotonic() + timeout_s
    while True:
        done, status = os.waitpid(pid, os.WNOHANG)
        if done:
            break
        if time.monotonic() > deadline:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
            pytest.fail("committer child did not reach its kill point")
        time.sleep(0.01)
    assert os.WIFSIGNALED(status) and os.WTERMSIG(status) == signal.SIGKILL, (
        f"child was not killed at the kill point (status {status})"
    )


def _patch_kill_point(point: str) -> None:
    """In the child: make the named step of the commit kill the process."""
    if point == "before_publish":
        # the batch is on disk; the publish never takes the lock
        ST._manifest_lock.__enter__ = _kill_self
    elif point == "before_replace":
        # ``_BATCHES.tmp`` is written; the swap never happens
        os.replace = _kill_self
    elif point == "holding_lock":
        # the manifest flock is held when the re-read inside it runs
        ST.read_manifest = _kill_self


@pytest.mark.parametrize("point", ["before_publish", "before_replace", "holding_lock"])
def test_killed_commit_leaves_last_snapshot_readable(tmp_path, point):
    store_path = str(tmp_path / "store")
    mp = ST.manifest_path(store_path)
    _write_batch(store_path, "t1", [1, 2, 3])
    assert ST._manifest_publish(mp, _PARAMS, add_tags=["t1"]) == ["t1"]

    pid = os.fork()
    if pid == 0:  # the committer: write a batch, then publish it
        try:
            _write_batch(store_path, "t2", [20, 21])
            _patch_kill_point(point)
            ST._manifest_publish(mp, _PARAMS, add_tags=["t2"])
        finally:
            os._exit(1)  # reached only if the kill point never fired
    _wait_killed(pid)

    # the manifest parses and lists exactly the committed tags
    with open(mp) as f:
        assert json.load(f) == {"batches": ["t1"], "params": _PARAMS}
    assert ST.read_manifest(mp) == (["t1"], _PARAMS)
    assert os.path.isdir(ST.batch_path(store_path, "rows", "t2"))  # the orphan
    assert os.path.exists(mp + ".tmp") == (point == "before_replace")

    # the dead holder's lock is free at once
    t0 = time.monotonic()
    with ST._manifest_lock(mp, timeout_s=0.3):
        pass
    assert time.monotonic() - t0 < 0.3

    # the next publish succeeds over any leftover temp file
    _write_batch(store_path, "t3", [30])
    assert ST._manifest_publish(mp, _PARAMS, add_tags=["t3"]) == ["t1", "t3"]
    assert not os.path.exists(mp + ".tmp")

    # the union read sees the committed batches only, never the orphan
    tags = ST._manifest_read(mp, _PARAMS)
    table = ST.read_batches(_ArrowSpark(), store_path, "rows", tags)
    assert sorted(table.column("id").to_pylist()) == [1, 2, 3, 30]


_PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "libmr_spark"
_STORE_NAMES = {"_BATCHES", "_REWRITE", "_INGEST", "_SNAPSHOTS"}


def _format_leaks(tree: ast.AST) -> list:
    leaks = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and node.value in _STORE_NAMES:
            leaks.append((node.lineno, f"names {node.value}"))
        elif (
            isinstance(node, ast.JoinedStr)
            and node.values
            and isinstance(node.values[0], ast.Constant)
            and str(node.values[0].value).startswith("batch=")
        ):
            leaks.append((node.lineno, "builds a batch= path"))
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "replace"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "os"
        ):
            leaks.append((node.lineno, "calls os.replace"))
        elif isinstance(node, ast.ImportFrom) and (node.module or "").endswith("dedup"):
            for alias in node.names:
                if alias.name.startswith(("_manifest", "_rewrite_store")):
                    leaks.append((node.lineno, f"imports {alias.name} from dedup"))
        elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[-2:] in (
            ["store"], ["core", "store"],
        ):
            for alias in node.names:
                if alias.name.startswith("_"):
                    leaks.append((node.lineno, f"imports store.{alias.name}"))
        elif (
            isinstance(node, ast.Attribute)
            and (node.attr.startswith("_") or node.attr in _BY_MANIFEST_PATH)
            and isinstance(node.value, ast.Name)
            and node.value.id == "store"
        ):
            leaks.append((node.lineno, f"uses store.{node.attr}"))
    return leaks


#: Public store functions keyed by the manifest file rather than the
#: store: the package goes through ``store.tags``/``store.manifest``.
_BY_MANIFEST_PATH = {"manifest_path", "read_manifest"}

#: The one commit that drives the manifest lock itself: the ANN
#: bootstrap's race re-check and ``_CENTROIDS`` write share the
#: publish's critical section (``retrieval.ann_index_ingest``).
_ALLOWED = {
    ("operators/retrieval.py", "uses store.manifest_path"),
    ("operators/retrieval.py", "uses store._manifest_lock"),
    ("operators/retrieval.py", "uses store._manifest_swap"),
}


def test_store_format_lives_in_core_store_only():
    # the manifest, lock and pin names, batch paths and the atomic
    # swap belong to core/store.py; prose that mentions _BATCHES is a
    # longer string and passes
    leaks = []
    for path in sorted(_PACKAGE.rglob("*.py")):
        rel = path.relative_to(_PACKAGE).as_posix()
        if rel == "core/store.py":
            continue
        leaks += [
            (rel, *leak)
            for leak in _format_leaks(ast.parse(path.read_text()))
            if (rel, leak[1]) not in _ALLOWED
        ]
    assert leaks == []
    # and the scan does see them where they live
    store_src = (_PACKAGE / "core" / "store.py").read_text()
    kinds = {kind.split()[0] for _line, kind in _format_leaks(ast.parse(store_src))}
    assert kinds == {"names", "builds", "calls"}
    # store internals reached from outside, both spellings
    outside = (
        "from ..core import store\n"
        "from ..core.store import _manifest_read\n"
        "store._manifest_publish(store.manifest_path(p), None, add_tags=[t])\n"
    )
    assert [kind for _line, kind in _format_leaks(ast.parse(outside))] == [
        "imports store._manifest_read", "uses store._manifest_publish",
        "uses store.manifest_path",
    ]
