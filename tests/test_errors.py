"""Record-level error channel parity with
/root/reference/tests/mr_test_module/pytests/test_errors.py: a failing
step yields (0 results, N errors) and the execution still completes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from libmr_spark import ExecutionError, MAX_IDLE_ERROR, PyAccumulator, create_builder


def boom_map(rec):
    raise RuntimeError("failed on map")


def boom_filter(rec):
    raise RuntimeError("failed on filter")


def test_map_error_all_records(spark, duck, sf_dir):
    # test_errors.py:5-9 — map error on every record → 0 results, N errors
    n = duck.sql("SELECT count(*) FROM orders").fetchone()[0]
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .map(boom_map, relational=False)
        .collect()
        .run()
    )
    assert res.results == []
    assert len(res.errors) == n
    assert all("failed on map" in e for e in res.errors)


def test_filter_error_all_records(spark, duck, sf_dir):
    n = duck.sql("SELECT count(*) FROM orders").fetchone()[0]
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .filter(boom_filter, relational=False)
        .collect()
        .run()
    )
    assert res.results == []
    assert len(res.errors) == n


def test_partial_errors_keep_pipeline_running(spark, duck, sf_dir):
    # errors flow in-band while good records keep producing results
    def sometimes(rec):
        k = int(rec["key"][3:])
        if k % 2 == 0:
            raise RuntimeError(f"bad {k}")
        return {"key": rec["key"]}

    total = duck.sql("SELECT count(*) FROM orders").fetchone()[0]
    evens = duck.sql("SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0").fetchone()[0]
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .map(lambda df: df.select("key"))
        .map(sometimes, relational=False, out_schema="key string")
        .collect()
        .run()
    )
    assert len(res.results) == total - evens
    assert len(res.errors) == evens


def test_errors_bypass_downstream_steps(spark, sf_dir):
    # an error record skips later maps/filters but still reaches the
    # errors list (reference: errors accumulate while pipeline runs,
    # src/mr.c:954-957)
    def sometimes(rec):
        k = int(rec["key"][3:])
        if k % 2 == 0:
            raise RuntimeError("boom")
        return {"key": rec["key"]}

    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .map(lambda df: df.select("key"))
        .map(sometimes, relational=False, out_schema="key string")
        .filter(lambda df: F.col("key").isNotNull())  # relational step after errors exist
        .map(lambda rec: {"key": rec["key"].upper()}, relational=False, out_schema="key string")
        .collect()
        .run()
    )
    assert all(r.key.startswith("KEY") for r in res.results)
    assert len(res.errors) > 0


def test_accumulate_skips_error_records(spark, duck, sf_dir):
    def sometimes(rec):
        k = int(rec["key"][3:])
        if k % 2 == 0:
            raise RuntimeError("boom")
        return {"key": rec["key"]}

    odds = duck.sql("SELECT count(*) FROM orders WHERE o_orderkey % 2 = 1").fetchone()[0]
    evens = duck.sql("SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0").fetchone()[0]
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .map(lambda df: df.select("key"))
        .map(sometimes, relational=False, out_schema="key string")
        .collect()
        .accumulate(lambda: F.count(F.lit(1)).alias("count"))
        .run()
    )
    assert res.results[0]["count"] == odds
    assert len(res.errors) == evens


def test_max_idle_timeout(spark, sf_dir):
    # reference: execution idle past maxIdle errors out with
    # "execution max idle reached" (src/mr.c:1306-1331; test_basic.py:49-51)
    import time

    def slow(rec):
        time.sleep(30)
        return rec

    b = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .map(slow, relational=False)
        .collect()
        .max_idle(1500)
    )
    with pytest.raises(ExecutionError, match=MAX_IDLE_ERROR):
        b.run()


def test_unknown_step_name_lists_known(spark):
    # the registry error names what IS registered (debuggability parity
    # with the reference's by-name step resolution, src/mr.c:466-516)
    with pytest.raises(KeyError, match="KeysReader"):
        create_builder(spark, "NoSuchReader")


def test_relational_filter_must_return_column(spark, sf_dir):
    with pytest.raises(ExecutionError, match="must return a Column"):
        (
            create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
            .filter(lambda df: True)  # not a Column predicate
            .collect()
            .run()
        )


def test_reader_error_records(spark, duck, sf_dir):
    # parity with the reference's failing-READER case
    # (/root/reference/tests/mr_test_module/pytests/test_errors.py:5-25):
    # rows that fail during the scan become error records, the execution
    # completes, and good rows keep flowing. A reader joins the error
    # channel by emitting the ERROR_COL convention.
    from libmr_spark.core.builder import ERROR_COL
    from libmr_spark.core.registry import GLOBAL_REGISTRY, StepImpl, StepType
    from libmr_spark.sources.readers import kv_table

    def flaky_reader(spark_, args):
        kv = kv_table(spark_, args["sf_dir"])
        # every 'hash'-typed key fails to deserialize mid-scan
        return kv.select(
            "key",
            "value",
            "type",
            F.when(
                F.col("type") == "hash", F.concat(F.lit("read failed: "), F.col("key"))
            ).alias(ERROR_COL),
        )

    GLOBAL_REGISTRY.register(StepImpl("FlakyReader", StepType.READER, flaky_reader))
    try:
        n_ok = duck.sql("SELECT count(*) FROM orders WHERE o_orderstatus = 'O'").fetchone()[0]
        n_bad = duck.sql("SELECT count(*) FROM orders WHERE o_orderstatus <> 'O'").fetchone()[0]
        res = (
            create_builder(spark, "FlakyReader", {"sf_dir": sf_dir})
            .map(lambda df: df.select("key"))
            .collect()
            .run()
        )
        assert len(res.results) == n_ok
        assert len(res.errors) == n_bad
        assert all(e.startswith("read failed: ") for e in res.errors)

        # total read failure: (0 results, N errors), execution completes
        def dead_reader(spark_, args):
            kv = kv_table(spark_, args["sf_dir"])
            return kv.select(
                "key", "value", "type", F.concat(F.lit("read failed: "), F.col("key")).alias(ERROR_COL)
            )

        GLOBAL_REGISTRY.register(StepImpl("DeadReader", StepType.READER, dead_reader))
        res2 = (
            create_builder(spark, "DeadReader", {"sf_dir": sf_dir})
            .map(lambda df: df.select("key"))
            .collect()
            .run()
        )
        assert res2.results == []
        assert len(res2.errors) == n_ok + n_bad
    finally:
        GLOBAL_REGISTRY._steps.pop((StepType.READER, "FlakyReader"), None)
        GLOBAL_REGISTRY._steps.pop((StepType.READER, "DeadReader"), None)


# -- single pass: each step runs once per record, results and errors come
#    from one evaluation in one Spark job --------------------------------


def _fail_even(rec):
    k = int(rec["key"][3:])
    if k % 2 == 0:
        raise RuntimeError(f"bad {k}")
    return {"key": rec["key"]}


def _counting(spark, fn):
    """``fn`` wrapped to bump a Spark accumulator once per call."""
    calls = spark.sparkContext.accumulator(0)

    def step(rec):
        calls.add(1)
        return fn(rec)

    return calls, step


@pytest.mark.parametrize("shape", ["py_filter_py_map", "py_map_rel_map", "py_map_collect_rel_accumulate"])
def test_python_step_runs_once_per_record(spark, duck, sf_dir, shape):
    n = duck.sql("SELECT count(*) FROM orders").fetchone()[0]
    b = create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
    if shape == "py_filter_py_map":
        calls, keep = _counting(spark, lambda rec: True)
        b = b.filter(keep, relational=False).map(_fail_even, relational=False, out_schema="key string")
    elif shape == "py_map_rel_map":
        calls, step = _counting(spark, _fail_even)
        b = b.map(step, relational=False, out_schema="key string").map(lambda df: df.select(F.upper("key").alias("k")))
    else:
        calls, step = _counting(spark, _fail_even)
        b = (
            b.map(step, relational=False, out_schema="key string")
            .collect()
            .accumulate(lambda: F.count(F.lit(1)).alias("count"))
        )
    res = b.run()
    assert calls.value == n
    evens = duck.sql("SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0").fetchone()[0]
    assert len(res.errors) == evens
    if shape == "py_map_collect_rel_accumulate":
        assert [r["count"] for r in res.results] == [n - evens]
    else:
        assert len(res.results) == n - evens


@pytest.mark.parametrize("relational_tail", [False, True])
def test_random_failures_partition_the_input(spark, duck, sf_dir, relational_tail):
    # a non-deterministic step: results and errors must come from the same
    # evaluation, so every record lands in exactly one of the two lists
    import random

    def flaky(rec):
        if random.random() < 0.5:
            raise RuntimeError("coin flip")
        return {"key": rec["key"]}

    n = duck.sql("SELECT count(*) FROM orders").fetchone()[0]
    b = create_builder(spark, "KeysReader", {"sf_dir": sf_dir}).map(flaky, relational=False, out_schema="key string")
    if relational_tail:
        b = b.map(lambda df: df.select("key", F.length("key").alias("n")))
    res = b.collect().run()
    assert len(res.results) + len(res.errors) == n
    assert res.errors and res.results


def test_run_is_one_spark_job(spark, sf_dir):
    ex = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .filter(lambda rec: rec["type"] == "string", relational=False)
        .map(_fail_even, relational=False, out_schema="key string")
        .create_execution()
    )
    sc = spark.sparkContext
    group = "test-run-is-one-spark-job"
    sc.setJobGroup(group, "one run()")
    try:
        ex.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


@pytest.mark.parametrize("relational_tail", [False, True])
def test_run_matches_lazy_frames(spark, sf_dir, relational_tail):
    from collections import Counter

    b = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .filter(lambda rec: rec["type"] == "string", relational=False)
        .map(lambda rec: {**_fail_even(rec), "type": rec["type"]}, relational=False, out_schema="key string, type string")
    )
    if relational_tail:
        b = b.map(lambda df: df.select(F.length("key").alias("n"), "key"))
    ex = b.create_execution()
    res = ex.run()

    def rows(rs):
        return Counter((tuple(r.__fields__), tuple(r)) for r in rs)

    assert res.results and res.errors
    assert rows(res.results) == rows(ex.dataframe().collect())
    assert Counter(res.errors) == Counter(r.error for r in ex.errors_dataframe().collect())


def test_run_leaves_a_cached_reader_cached(spark, sf_dir):
    # run() persists a frame two branches read, and unpersists only what
    # it persisted itself: a reader frame the caller cached stays cached
    from pyspark import StorageLevel

    from libmr_spark.core.builder import ERROR_COL
    from libmr_spark.sources.readers import kv_table

    df = kv_table(spark, sf_dir).withColumn(ERROR_COL, F.when(F.col("type") == "hash", F.lit("bad")))
    df.cache()
    try:
        res = create_builder(spark, df).map(lambda d: d.select("key")).run()
        assert res.results and res.errors
        assert df.storageLevel != StorageLevel.NONE
    finally:
        df.unpersist()
