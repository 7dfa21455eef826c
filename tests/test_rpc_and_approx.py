"""InternalCommand fan-out parity, run_on_key's driver-local read against
its Spark filter, and approximate-aggregate accuracy."""

from __future__ import annotations

from pyspark.sql import functions as F

from libmr_spark.core.rpc import internal_command, run_on_all_shards
from libmr_spark.core.smalldf import is_local
from libmr_spark.sources.readers import kv_table, load_table


def test_internal_command_fanout(spark, sf_dir):
    # reference: internal-commands pipeline broadcast to all shards,
    # replies parsed per node (src/mr.c:1160-1220)
    kv = kv_table(spark, sf_dir).repartition(4)
    out = internal_command(kv, ["DBSIZE", "PING"]).collect()
    dbsizes = [int(r.reply) for r in out if r.command == "DBSIZE"]
    pings = [r.reply for r in out if r.command == "PING"]
    assert sum(dbsizes) == kv.count()
    assert len(pings) <= 4 and all(p == "PONG" for p in pings)


def test_internal_command_error_record(spark, sf_dir):
    # unknown command → in-band ERR reply, execution completes
    kv = kv_table(spark, sf_dir).repartition(2)
    out = internal_command(kv, ["NOSUCH"]).collect()
    assert all(r.reply.startswith("ERR") for r in out)
    assert len(out) >= 1


def test_internal_command_reply_parser(spark, sf_dir):
    kv = kv_table(spark, sf_dir).repartition(2)
    out = internal_command(
        kv,
        ["DBSIZE"],
        reply_parser=lambda cmd, raw: {"command": cmd, "n": int(raw)},
        out_schema="command string, n bigint",
    ).collect()
    assert sum(r.n for r in out) == kv.count()


def test_approx_count_distinct_accuracy(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("n")).collect()
    }
    approx = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.approx_count_distinct("l_partkey").alias("n")).collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) / v < 0.05  # HLL++ default rsd


def test_percentile_approx_bounds(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    row = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
    ).first()
    assert row.lo <= row.p50 <= row.hi
    assert abs(row.p50 - row.exact_p50) / row.exact_p50 < 0.05


def test_rpc_timeout_mirrors_reference(spark, sf_dir):
    # per-call deadline parity with MR_RunOnKey/MR_RunOnAllShards
    # (/root/reference/src/mr.c:2085-2099): past the deadline the jobs
    # are cancelled and "Remote task timeout" is raised
    import time

    import pytest

    from libmr_spark.core.builder import ExecutionError
    from libmr_spark.core.rpc import (
        REMOTE_TASK_TIMEOUT_ERROR,
        run_on_all_shards,
        run_on_key,
    )

    kv = kv_table(spark, sf_dir)

    def slow_task(part, args=None):
        time.sleep(30)
        return {"n": len(part)}

    with pytest.raises(ExecutionError, match=REMOTE_TASK_TIMEOUT_ERROR):
        run_on_all_shards(kv, slow_task, "n bigint", timeout_ms=1500)

    def slow_point(hit):
        time.sleep(30)
        return hit

    some_key = kv.select("key").first().key
    with pytest.raises(ExecutionError, match=REMOTE_TASK_TIMEOUT_ERROR):
        # the task builds a lazy plan instantly; the deadline must cover
        # the actual execution, which blocks in the slow python stage
        run_on_key(
            kv,
            "key",
            some_key,
            task=lambda hit: hit.mapInPandas(
                lambda it: (_ for _ in ()).throw(SystemError) if time.sleep(30) else it,
                schema="key string, value string, type string",
            ),
            timeout_ms=1500,
        )

    # a fast call under deadline returns normal rows
    got = run_on_key(kv, "key", some_key, timeout_ms=30000)
    assert got.count() == 1


# -- run_on_key's driver-local read ------------------------------------------
# A small bare local parquet scan is read on the driver with pyarrow; every
# case must match the Spark filter it replaces in schema (names, types,
# order) and rows (as a multiset).


def _kv_store(spark, sf_dir, path):
    from libmr_spark.core import partitioner
    from libmr_spark.sources import sinks

    kv = kv_table(spark, sf_dir)
    staged = kv.withColumn("bucket", (partitioner.slot_col("key") % 4).cast("int"))
    sinks.write_parquet(staged, str(path), partition_by=["bucket"])
    return spark.read.parquet(str(path))


def _assert_same(got, want):
    from collections import Counter

    assert got.schema == want.schema
    assert Counter(got.collect()) == Counter(want.collect())


def _check_key(scan, key_col, key, local=True):
    from libmr_spark.core.rpc import run_on_key

    got = run_on_key(scan, key_col, key)
    assert is_local(got) == local
    _assert_same(got, scan.filter(F.col(key_col) == key))
    return got


def _collect_counting_jobs(df):
    """(rows, Spark jobs the collect started), counted from a job group."""
    import uuid

    sc = df.sparkSession.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        rows = df.collect()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_on_key_local_present_absent_and_partition_key(spark, sf_dir, tmp_path):
    scan = _kv_store(spark, sf_dir, tmp_path / "store")
    present = scan.select("key").first().key
    assert _check_key(scan, "key", present).count() == 1
    assert _check_key(scan, "key", "no-such-key").count() == 0
    # partition column: the value and type Spark inferred from bucket=<n>
    assert _check_key(scan, "bucket", 2).count() > 0
    assert _check_key(scan, "bucket", 99).count() == 0


def test_run_on_key_local_after_merge_upserts(spark, sf_dir, tmp_path):
    from libmr_spark.sources import sinks

    base = tmp_path / "store"
    scan = _kv_store(spark, sf_dir, base)
    rows = scan.filter(F.col("bucket") == 1).limit(3).collect()
    for i in range(2):
        updates = spark.createDataFrame(
            [(r.key, f"v{i}", "string", 1) for r in rows] + [(f"new{i}", "n", "string", 1)],
            "key string, value string, type string, bucket int",
        )
        sinks.merge_upsert(spark, str(base), updates, ["key"], "bucket", staging_path=str(tmp_path / "staging"))
    # a merge leaves its bucket as one file: append a second one
    extra = spark.createDataFrame([("extra", "x", "string", 1)], "key string, value string, type string, bucket int")
    sinks.write_parquet(extra, str(base), mode="append", partition_by=["bucket"])
    scan = spark.read.parquet(str(base))
    assert sum("bucket=1/" in f for f in scan.inputFiles()) > 1  # a bucket of several files
    assert [r.value for r in _check_key(scan, "key", rows[0].key).collect()] == ["v1"]
    assert _check_key(scan, "key", "new0").count() == 1
    _check_key(scan, "bucket", 1)


def test_run_on_key_local_typed_columns_with_nulls(spark, tmp_path):
    import datetime
    from decimal import Decimal

    from libmr_spark.sources import sinks

    schema = "s string, i int, l bigint, d double, m decimal(12,2), dt date, b boolean, bin binary"
    rows = [
        ("a", 1, 10**12, 1.5, Decimal("3.25"), datetime.date(2024, 1, 2), True, b"\x00x"),
        ("b", 2, -7, -0.0, Decimal("-1.00"), datetime.date(1970, 1, 1), False, b""),
        (None, None, None, None, None, None, None, None),
        ("a", 2, 10**12, 1.5, Decimal("3.25"), datetime.date(2024, 1, 2), False, b"\x00x"),
    ]
    sinks.write_parquet(spark.createDataFrame(rows, schema).repartition(3), str(tmp_path / "t"))
    scan = spark.read.parquet(str(tmp_path / "t"))
    for col_name, key in [
        ("s", "a"), ("i", 2), ("l", 10**12), ("d", 1.5), ("d", 0.0), ("m", Decimal("3.25")),
        ("m", Decimal("-1")), ("dt", datetime.date(2024, 1, 2)), ("b", False), ("bin", b"\x00x"),
        ("bin", b""), ("i", 3),
    ]:
        _check_key(scan, col_name, key)


def test_run_on_key_local_file_missing_a_column(spark, tmp_path):
    from libmr_spark.sources import sinks

    path = str(tmp_path / "t")
    sinks.write_parquet(spark.createDataFrame([("k1", 1)], "key string, n int"), path)
    sinks.write_parquet(spark.createDataFrame([("k2", 2, "x")], "key string, n int, extra string"), path, mode="append")
    scan = spark.read.schema("key string, n int, extra string").parquet(path)
    assert _check_key(scan, "key", "k1").collect()[0].extra is None
    assert _check_key(scan, "key", "k2").collect()[0].extra == "x"
    _check_key(scan, "extra", "x")


def test_run_on_key_local_hit_in_last_file(spark, sf_dir, tmp_path):
    # a filtered multi-file scan yields record batches [0, ..., 0, 1]; a
    # frame built from them as-is would be empty
    import pyarrow.parquet as pq
    from urllib.parse import unquote, urlsplit

    scan = _kv_store(spark, sf_dir, tmp_path / "store")
    last = pq.read_table(unquote(urlsplit(scan.inputFiles()[-1]).path), columns=["key"])
    got = _check_key(scan, "key", last["key"][last.num_rows - 1].as_py())
    assert got.count() == 1


def test_run_on_key_falls_back_through_spark(spark, sf_dir, tmp_path):
    from libmr_spark.sources import sinks

    # a derived frame
    kv = kv_table(spark, sf_dir)
    _check_key(kv, "key", kv.select("key").first().key, local=False)
    # a key that needs Spark's coercion: int against a string column
    path = str(tmp_path / "t")
    sinks.write_parquet(spark.createDataFrame([("7", 1), ("8", 2)], "sid string, n int"), path)
    scan = spark.read.parquet(path)
    assert _check_key(scan, "sid", 7, local=False).count() == 1
    # a file whose column differs from the schema only in case: Spark
    # matches it case-insensitively, a pyarrow read would see nulls
    import pyarrow as pa
    import pyarrow.parquet as pq

    (tmp_path / "cased").mkdir()
    pq.write_table(pa.table({"Key": ["k1"], "n": pa.array([1], pa.int32())}), str(tmp_path / "cased" / "part-0.parquet"))
    cased = spark.read.schema("key string, n int").parquet(str(tmp_path / "cased"))
    assert _check_key(cased, "key", "k1", local=False).count() == 1
    # a caller-cached scan keeps reading from (and stays in) the cache
    cached = spark.read.parquet(path).cache()
    try:
        assert _check_key(cached, "sid", "8", local=False).count() == 1
        assert cached.is_cached and cached.storageLevel.useMemory
    finally:
        cached.unpersist()


def test_run_on_key_local_no_jobs_task_and_timeout(spark, sf_dir, tmp_path):
    import time

    import pytest

    from libmr_spark.core.builder import ExecutionError
    from libmr_spark.core.rpc import REMOTE_TASK_TIMEOUT_ERROR, run_on_key

    scan = _kv_store(spark, sf_dir, tmp_path / "store")
    key = scan.select("key").first().key
    want = scan.filter(F.col("key") == key).select("value").collect()
    assert _collect_counting_jobs(run_on_key(scan, "key", key).select("value")) == (want, 0)
    # task= post-processes the local hit, still without a job
    got = run_on_key(scan, "key", key, task=lambda hit: hit.select("value"))
    assert _collect_counting_jobs(got) == (want, 0)
    # timeout_ms= returns the rows in time, and raises past the deadline
    assert run_on_key(scan, "key", key, timeout_ms=30000).select("value").collect() == want
    with pytest.raises(ExecutionError, match=REMOTE_TASK_TIMEOUT_ERROR):
        run_on_key(
            scan,
            "key",
            key,
            task=lambda hit: hit.mapInPandas(
                lambda it: (_ for _ in ()).throw(SystemError) if time.sleep(30) else it,
                schema=hit.schema,
            ),
            timeout_ms=1500,
        )


# -- admin fan-outs answered from parquet footers ------------------------------
# dbsize, DBSIZE, PING and unknown commands on a frame that passes the
# driver-local gate are answered per planned partition from footer row
# counts; every reply must equal the distributed twin's, in order.


def _jobs_started(spark, fn):
    """(fn's result, the Spark jobs started while it ran, in any job
    group: a deadline runs its work under a job group of its own)."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    out = fn()
    return out, sched.nextJobId() - before


def _admin_stores(spark, sf_dir, root):
    """Stores whose planned partitions differ in shape: hive-partitioned,
    flat with several files, one bucket of several files, and empty."""
    from libmr_spark.sources import sinks

    hive = _kv_store(spark, sf_dir, root / "hive")
    flat = str(root / "flat")
    sinks.write_parquet(kv_table(spark, sf_dir).repartition(5), flat)
    multi = str(root / "multi")
    _kv_store(spark, sf_dir, root / "multi")
    for i in range(3):
        extra = spark.createDataFrame([(f"extra{i}", "x", "string", 1)], "key string, value string, type string, bucket int")
        sinks.write_parquet(extra, multi, mode="append", partition_by=["bucket"])
    empty = str(root / "empty")
    sinks.write_parquet(spark.createDataFrame([], "key string, value string"), empty)
    return {
        "hive": hive,
        "flat": spark.read.parquet(flat),
        "multi": spark.read.parquet(multi),
        "empty": spark.read.parquet(empty),
    }


_ADMIN_CALLS = {
    "dbsize": lambda df: run_on_all_shards(df, "dbsize", "n bigint"),
    "commands": lambda df: internal_command(df, ["DBSIZE", "PING", "BOGUS"]),
    "parser": lambda df: internal_command(
        df,
        ["DBSIZE", "PING"],
        reply_parser=lambda cmd, raw: {"command": cmd, "n": int(raw) if cmd == "DBSIZE" else len(raw)},
        out_schema="command string, n bigint",
    ),
}


def test_admin_driver_path_matches_distributed_twin(spark, sf_dir, tmp_path, monkeypatch):
    from libmr_spark.core import rpc

    stores = _admin_stores(spark, sf_dir, tmp_path)
    assert sum("bucket=1/" in f for f in stores["multi"].inputFiles()) > 1
    # planned partitions of several files each
    assert stores["multi"].rdd.getNumPartitions() < len(stores["multi"].inputFiles())
    assert 1 < len(stores["flat"].inputFiles())
    for store, df in stores.items():
        for name, call in _ADMIN_CALLS.items():
            driver = call(df)
            assert is_local(driver), (store, name)
            got, jobs = _jobs_started(spark, driver.collect)
            assert jobs == 0, (store, name)
            with monkeypatch.context() as m:
                m.setattr(rpc, "_shard_sizes", lambda df: None)
                twin = call(df)
                assert not is_local(twin)
                want = twin.collect()
            assert got == want, (store, name)
            assert len(want) >= (store != "empty"), (store, name)
    count = stores["multi"].count()
    assert sum(r.n for r in _ADMIN_CALLS["dbsize"](stores["multi"]).collect()) == count
    replies = _ADMIN_CALLS["commands"](stores["multi"]).collect()
    assert sum(int(r.reply) for r in replies if r.command == "DBSIZE") == count
    assert {r.reply for r in replies if r.command == "PING"} == {"PONG"}
    assert {r.reply for r in replies if r.command == "BOGUS"} == {"ERR 'BOGUS'"}


def test_admin_driver_path_starts_no_job(spark, sf_dir, tmp_path):
    scan = _kv_store(spark, sf_dir, tmp_path / "store")
    count = scan.count()
    rows, jobs = _jobs_started(spark, lambda: run_on_all_shards(scan, "dbsize", "n bigint").collect())
    assert (sum(r.n for r in rows), jobs) == (count, 0)
    rows, jobs = _jobs_started(spark, lambda: run_on_all_shards(scan, "dbsize", "n bigint", timeout_ms=30000).collect())
    assert (sum(r.n for r in rows), jobs) == (count, 0)
    rows, jobs = _jobs_started(spark, lambda: internal_command(scan, ["DBSIZE", "PING"]).collect())
    assert (sum(int(r.reply) for r in rows if r.command == "DBSIZE"), jobs) == (count, 0)


def test_admin_falls_back_to_distributed_twin(spark, sf_dir, tmp_path):
    from libmr_spark.core.registry import Registry, StepImpl, StepType
    from libmr_spark.core.rpc import dbsize

    scan = _kv_store(spark, sf_dir, tmp_path / "store")
    count = scan.count()

    def check_twin(df, n=count):
        out = run_on_all_shards(df, "dbsize", "n bigint")
        assert not is_local(out)
        assert sum(r.n for r in out.collect()) == n
        out = internal_command(df, ["DBSIZE", "PING"])
        assert not is_local(out)
        assert sum(int(r.reply) for r in out.collect() if r.command == "DBSIZE") == n

    # a caller-cached frame
    cached = spark.read.parquet(str(tmp_path / "store")).cache()
    try:
        check_twin(cached)
    finally:
        cached.unpersist()
    # splits that cover part of a file
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        split = spark.read.parquet(str(tmp_path / "store"))
        assert split.rdd.getNumPartitions() > len(split.inputFiles())
        check_twin(split)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    # a derived frame
    check_twin(scan.filter(F.col("bucket") == 1), scan.filter(F.col("bucket") == 1).count())
    # "dbsize" registered to another task: it runs, and sees every column
    reg = Registry()
    reg.register(StepImpl("dbsize", StepType.REMOTE_TASK, lambda part: {"n": len(part.columns)}, relational=False))
    out = run_on_all_shards(scan, "dbsize", "n bigint", registry=reg)
    assert not is_local(out)
    assert {r.n for r in out.collect()} == {len(scan.columns)}
    # the built-in with args keeps the twin (and its error)
    assert not is_local(run_on_all_shards(scan, dbsize, "n bigint", args=1))
    # MEMORY reads the rows
    out = internal_command(scan, ["DBSIZE", "MEMORY"])
    assert not is_local(out)
    rows = out.collect()
    assert sum(int(r.reply) for r in rows if r.command == "DBSIZE") == count
    assert all(int(r.reply) > 0 for r in rows if r.command == "MEMORY")
    # a reply the twin's by-name column match refuses
    bad = internal_command(scan, ["DBSIZE"], reply_parser=lambda cmd, raw: {"c": cmd}, out_schema="command string, n bigint")
    assert not is_local(bad)
