"""The one materialisation rule (``core/layout.py``): ``freeze`` /
``release`` under a caller-owned ``materialised()`` scope, and the guard
that keeps Spark's cache calls inside that module."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from libmr_spark.core import smalldf
from libmr_spark.core.builder import run_with_job_group_timeout
from libmr_spark.core.layout import freeze, materialised, release
from libmr_spark.operators import dedup as DD

_PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "libmr_spark"
_CACHE_CALLS = {"persist", "localCheckpoint", "cache", "checkpoint", "unpersist"}

#: The one cache call site outside core/layout.py: an execution's lazy
#: persist of its shared frames, released in the same method.
_ALLOWED = {("core/builder.py", "Execution._run")}


def _cache_calls(tree: ast.AST) -> list:
    """(line, enclosing qualified name, method) of every cache call."""
    calls = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            elif (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in _CACHE_CALLS
            ):
                calls.append((child.lineno, scope, child.func.attr))
            visit(child, inner)

    visit(tree, "")
    return calls


def test_cache_calls_live_in_core_layout_only():
    leaks = []
    for path in sorted(_PACKAGE.rglob("*.py")):
        rel = path.relative_to(_PACKAGE).as_posix()
        if rel == "core/layout.py":
            continue
        leaks += [
            (rel, line, scope, attr)
            for line, scope, attr in _cache_calls(ast.parse(path.read_text()))
            if (rel, scope) not in _ALLOWED
        ]
    assert leaks == []
    # and the scan does see them where they live
    layout = _cache_calls(ast.parse((_PACKAGE / "core" / "layout.py").read_text()))
    assert {attr for _line, _scope, attr in layout} == {"localCheckpoint", "unpersist"}
    builder = _cache_calls(ast.parse((_PACKAGE / "core" / "builder.py").read_text()))
    assert {(scope, attr) for _line, scope, attr in builder} == {
        ("Execution._run", "persist"), ("Execution._run", "unpersist"),
    }
    snippet = (
        "def op(df):\n"
        "    x = df.groupBy('k').count().persist()\n"
        "    return (x.localCheckpoint(eager=False), df.cache().checkpoint())\n"
    )
    assert [(line, scope, attr) for line, scope, attr in _cache_calls(ast.parse(snippet))] == [
        (2, "op", "persist"), (3, "op", "localCheckpoint"), (3, "op", "checkpoint"), (3, "op", "cache"),
    ]


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_freeze_release_and_scope(spark):
    # outside a scope a frozen frame stays until released; inside one it
    # is released when the block exits, also on an exception and also
    # when a worker thread froze it; reading it after that raises
    df = spark.range(1000).select((F.col("id") % 7).alias("k")).groupBy("k").count()
    before = _persisted(spark)
    loose = freeze(df)
    assert len(_persisted(spark) - before) == 1
    release(loose)
    assert _persisted(spark) - before == set()

    with pytest.raises(RuntimeError, match="boom"):
        with materialised():
            freeze(df)
            raise RuntimeError("boom")
    assert _persisted(spark) - before == set()

    with materialised():
        frozen = freeze(df)
        lazy = frozen.filter(F.col("k") > 2)
        run_with_job_group_timeout(spark, lambda: freeze(df), 60_000, "timed out")
        assert len(_persisted(spark) - before) == 2
        assert lazy.count() == 4
    assert _persisted(spark) - before == set()
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        lazy.count()


def test_connected_components_rounds_release_their_edges(spark, monkeypatch):
    # the distributed path on a 2,001-node chain: each round releases
    # the edge table it replaced, so the scope holds the final one, not
    # one per round, until it closes
    monkeypatch.setattr(smalldf, "_CC_DRIVER_MAX_EDGES", 0)
    n = 2000
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n + 1)], "doc_id long")
    before = _persisted(spark)
    stats: dict = {}
    with materialised():
        out = DD.connected_components(edges, nodes, stats=stats)
        assert stats["rounds"] > 2
        assert len(_persisted(spark) - before) <= 2
        assert out.filter(F.col("cluster_id") != 0).count() == 0
    assert _persisted(spark) - before == set()


@pytest.mark.parametrize(
    "name",
    ["dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash", "dedup_winnowing", "dedup_simhash_md5"],
)
def test_dedup_queries_leave_nothing_frozen(spark, sf_dir, name):
    # each run in its own scope, twice: nothing stays behind after
    # either, so the second run reads nothing the first one froze
    from libmr_spark.queries import QUERIES

    before = _persisted(spark)
    for _ in range(2):
        with materialised():
            QUERIES[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        assert _persisted(spark) - before == set()


def test_scope_records_every_freeze_from_concurrent_threads(spark):
    # more threads than cores freeze into one shared scope through
    # copies of its context, with a short switch interval: no record is
    # lost, so every frame is held while the scope is open and all are
    # released when it exits
    import contextvars
    import sys
    from concurrent.futures import ThreadPoolExecutor

    df = spark.range(8).select((F.col("id") % 2).alias("k"))
    before = _persisted(spark)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with materialised():
            with ThreadPoolExecutor(max_workers=8) as pool:
                futs = [pool.submit(contextvars.copy_context().run, freeze, df) for _ in range(16)]
                frozen = [f.result(timeout=120) for f in futs]
            assert len(_persisted(spark) - before) == len(frozen) == 16
    finally:
        sys.setswitchinterval(interval)
    assert _persisted(spark) - before == set()
