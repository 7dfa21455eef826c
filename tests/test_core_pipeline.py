"""Functional parity with the reference's test_basic.py scenarios
(/root/reference/tests/mr_test_module/pytests/test_basic.py), run over
the kv keyspace view instead of a seeded Redis. Results are compared
as sorted multisets, exactly like the reference (test_basic.py:10).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from libmr_spark import (
    ExecutionBuilder,
    PyAccumulator,
    create_builder,
    run_on_all_shards,
    run_on_key,
)
from libmr_spark.sources.readers import kv_table


def kv_count(duck):
    return duck.sql(
        "SELECT count(*) FROM (SELECT concat('key', CAST(o_orderkey AS VARCHAR)) k FROM orders)"
    ).fetchone()[0]


def test_scan_all_keys(spark, duck, sf_dir):
    # reference: scan 1000 keys (test_basic.py:5-10)
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .map(lambda df: df.select("key"))
        .collect()
        .run()
    )
    got = sorted(r.key for r in res.results)
    want = sorted(
        r[0]
        for r in duck.sql("SELECT concat('key', CAST(o_orderkey AS VARCHAR)) FROM orders").fetchall()
    )
    assert got == want
    assert res.errors == []


def test_map_to_type(spark, duck, sf_dir):
    # reference: map every key to its type (test_basic.py:12-17)
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .map(lambda df: df.select("type"))
        .collect()
        .run()
    )
    got = sorted(r.type for r in res.results)
    want = sorted(
        r[0]
        for r in duck.sql(
            "SELECT CASE WHEN o_orderstatus='O' THEN 'string' ELSE 'hash' END FROM orders"
        ).fetchall()
    )
    assert got == want


def test_filter_by_type(spark, duck, sf_dir):
    # reference: keep only string keys among mixed types (test_basic.py:19-26)
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .filter(lambda df: F.col("type") == "string")
        .map(lambda df: df.select("key"))
        .collect()
        .run()
    )
    got = sorted(r.key for r in res.results)
    want = sorted(
        r[0]
        for r in duck.sql(
            "SELECT concat('key', CAST(o_orderkey AS VARCHAR)) FROM orders WHERE o_orderstatus='O'"
        ).fetchall()
    )
    assert got == want


def test_count_accumulate_relational(spark, duck, sf_dir):
    # reference: KeysReader → collect → accumulate(Count) (test_basic.py:37-41)
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .collect()
        .accumulate(lambda: F.count(F.lit(1)).alias("count"))
        .run()
    )
    assert len(res.results) == 1
    assert res.results[0]["count"] == kv_count(duck)


def test_count_accumulate_python(spark, duck, sf_dir):
    # same, via an arbitrary-Python streaming fold (LibMR CountAccumulator,
    # tests/mr_test_module/src/lib.rs:541-560)
    acc = PyAccumulator(zero={"count": 0}, fn=lambda a, r: {"count": a["count"] + 1}, schema="count bigint")
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .collect()
        .accumulate(acc)
        .run()
    )
    assert len(res.results) == 1
    assert res.results[0]["count"] == kv_count(duck)


def test_count_accumulate_by_name(spark, duck, sf_dir):
    # the built-in registered accumulator, addressable by name exactly
    # like the reference's CountAccumulator (lib.rs:541-560, registered
    # at module load and referenced by name in lmr_count_key)
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .collect()
        .accumulate("count")
        .run()
    )
    assert len(res.results) == 1
    assert res.results[0]["count"] == kv_count(duck)


def test_accumulate_empty_input_emits_nothing(spark, sf_dir):
    # /root/reference/src/mr.c:794-798: empty stream folds to nothing
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .filter(lambda df: F.lit(False))
        .collect()
        .accumulate(lambda: F.count(F.lit(1)).alias("count"))
        .run()
    )
    assert res.results == []
    acc = PyAccumulator(zero={"count": 0}, fn=lambda a, r: {"count": a["count"] + 1}, schema="count bigint")
    res2 = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .filter(lambda df: F.lit(False))
        .collect()
        .accumulate(acc)
        .run()
    )
    assert res2.results == []


def test_per_shard_accumulate_then_global(spark, duck, sf_dir):
    # accumulate BEFORE collect = per-shard partial (SURVEY §2.1 #4);
    # then a global fold merges the partials.
    merge = PyAccumulator(zero={"count": 0}, fn=lambda a, r: {"count": a["count"] + r["count"]}, schema="count bigint")
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .accumulate(lambda: F.count(F.lit(1)).alias("count"))
        .collect()
        .accumulate(merge)
        .run()
    )
    assert len(res.results) == 1
    assert res.results[0]["count"] == kv_count(duck)


def test_reshuffle_read_modify_write(spark, duck, sf_dir):
    # reference: filter → map(read) → reshuffle → map(write) → collect
    # (test_basic.py:28-35). The "write" here derives a new value column.
    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .filter(lambda df: F.col("type") == "string")
        .map(lambda df: df.select("key", "value"))
        .reshuffle("key")
        .map(lambda df: df.select("key", F.concat(F.col("value"), F.lit("1")).alias("value")))
        .collect()
        .run()
    )
    want = {
        r[0]: r[1]
        for r in duck.sql(
            "SELECT concat('key', CAST(o_orderkey AS VARCHAR)), concat(CAST(o_totalprice AS VARCHAR), '1') "
            "FROM orders WHERE o_orderstatus='O'"
        ).fetchall()
    }
    got = {r.key: r.value for r in res.results}
    assert got == want


def test_python_map_step(spark, duck, sf_dir):
    # arbitrary-Python 1→1 transform through the Arrow path
    def upper_key(rec):
        return {"key": rec["key"].upper()}

    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .map(lambda df: df.select("key"))
        .map(upper_key, relational=False, out_schema="key string")
        .collect()
        .run()
    )
    got = sorted(r.key for r in res.results)
    want = sorted(
        r[0]
        for r in duck.sql("SELECT upper(concat('key', CAST(o_orderkey AS VARCHAR))) FROM orders").fetchall()
    )
    assert got == want


def test_python_filter_step(spark, duck, sf_dir):
    def even_key(rec):
        return int(rec["key"][3:]) % 2 == 0

    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .map(lambda df: df.select("key"))
        .filter(even_key, relational=False)
        .collect()
        .run()
    )
    want = sorted(
        r[0]
        for r in duck.sql(
            "SELECT concat('key', CAST(o_orderkey AS VARCHAR)) FROM orders WHERE o_orderkey % 2 = 0"
        ).fetchall()
    )
    assert sorted(r.key for r in res.results) == want


def test_run_on_key(spark, duck, sf_dir):
    # reference: point GET via run_on_key (test_basic.py:80-84)
    kv = kv_table(spark, sf_dir)
    some_key, want_value = duck.sql(
        "SELECT concat('key', CAST(o_orderkey AS VARCHAR)), CAST(o_totalprice AS VARCHAR) FROM orders LIMIT 1"
    ).fetchone()
    rows = run_on_key(kv, "key", some_key).select("value").collect()
    assert [r.value for r in rows] == [want_value]


def test_run_on_all_shards_dbsize(spark, duck, sf_dir):
    # reference: per-shard DBSIZE summed at initiator (test_basic.py:86-93)
    kv = kv_table(spark, sf_dir).repartition(8)
    parts = run_on_all_shards(kv, "dbsize", "n bigint").collect()
    assert sum(r.n for r in parts) == kv_count(duck)
    assert len(parts) <= 8


def test_named_step_spec_roundtrip(spark, duck, sf_dir):
    # pipelines serialize as (type, name, args) like the reference wire
    # format (/root/reference/src/mr.c:1259-1286)
    from libmr_spark import GLOBAL_REGISTRY, StepImpl, StepType

    GLOBAL_REGISTRY.register(
        StepImpl("SelectKey", StepType.MAPPER, lambda df, a: df.select("key"))
    )
    GLOBAL_REGISTRY.register(
        StepImpl("TypeIs", StepType.FILTER, lambda df, a: F.col("type") == a)
    )
    b = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .filter("TypeIs", "string")
        .map("SelectKey", {})
        .collect()
    )
    spec = b.to_spec()
    b2 = ExecutionBuilder.from_spec(spark, spec)
    got = sorted(r.key for r in b2.run().results)
    want = sorted(r.key for r in b.run().results)
    assert got == want and len(got) > 0


def test_crc16_slots():
    # Redis cluster published test vector: slot of "foo" is 12182;
    # {hashtag} rule collapses keys to their tag's slot.
    from libmr_spark.core.partitioner import key_slot

    assert key_slot("foo") == 12182
    assert key_slot("{user1000}.following") == key_slot("{user1000}.followers")


def test_reshuffle_colocates_keys(spark, sf_dir):
    # the property the reference's reshuffle guarantees: after routing,
    # all records of one key live on exactly one shard
    # (/root/reference/src/mr.c:736-785) — here: one partition
    ex = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .map(lambda df: df.select("key", "value"))
        .reshuffle("key", num_partitions=8)
        .create_execution()
    )
    df = ex.dataframe().withColumn("__pid__", F.spark_partition_id())
    per_key = df.groupBy("key").agg(F.countDistinct("__pid__").alias("nparts"))
    assert per_key.agg(F.max("nparts")).first()[0] == 1


def test_per_call_override_does_not_mutate_registry(spark, sf_dir):
    # a per-pipeline relational/out_schema override must not rewrite the
    # globally registered StepImpl (ADVICE r1: builder copied via
    # dataclasses.replace before applying overrides)
    from libmr_spark.core.registry import GLOBAL_REGISTRY, StepImpl, StepType

    impl = GLOBAL_REGISTRY.register(
        StepImpl("TmpValueMapper", StepType.MAPPER, lambda df, a=None: df.select("value"))
    )
    try:
        b = create_builder(spark, "KeysReader", {"sf_dir": sf_dir}).map(
            "TmpValueMapper", out_schema="value string"
        )
        assert (impl.relational, impl.out_schema) == (True, None)
        assert b._steps[-1].impl is not impl
        assert b._steps[-1].impl.out_schema == "value string"
    finally:
        GLOBAL_REGISTRY._steps.pop((StepType.MAPPER, "TmpValueMapper"), None)


def test_python_map_comma_typed_schema(spark, sf_dir):
    # out_schema with comma-containing DDL types (decimal(18,2),
    # map<string,int>) must parse as a schema, not split on ','
    from decimal import Decimal

    def to_price(rec):
        return {
            "key": rec["key"],
            "price": Decimal(rec["value"]).quantize(Decimal("0.01")),
            "tags": {"n": len(rec["key"])},
        }

    res = (
        create_builder(spark, "KeysReader", {"sf_dir": sf_dir})
        .map(lambda df: df.select("key", "value").limit(5))
        .collect()
        .map(
            to_price,
            relational=False,
            out_schema="key string, price decimal(18,2), tags map<string,int>",
        )
        .run()
    )
    assert len(res.results) == 5 and res.errors == []
    r0 = sorted(res.results, key=lambda r: r.key)[0]
    assert r0.price is not None and r0.tags["n"] == len(r0.key)


def test_session_keeps_spark_default_min_partition_size(spark):
    # AQE's coalescePartitions.minPartitionSize is Spark's own 1 MiB
    # default: the session sets no other value and has no knob for it
    value = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    assert spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(value) == 1 << 20


def test_package_zip_is_per_session_and_imports_on_executors(spark, tmp_path, monkeypatch):
    # the shipped zip lives in the SparkContext's own temporary
    # directory, never at one fixed path under TMPDIR that another
    # session (another checkout) could overwrite
    import os
    import tempfile

    from libmr_spark import session

    sc = spark.sparkContext
    shipped = []
    monkeypatch.setattr(sc, "_temp_dir", str(tmp_path))
    monkeypatch.setattr(sc, "addPyFile", shipped.append)
    session._ship_package(spark)
    assert shipped == [str(tmp_path / "libmr_spark_pkg.zip")]
    assert shipped[0] != os.path.join(tempfile.gettempdir(), "libmr_spark_pkg.zip")
    monkeypatch.undo()

    def on_executor(_):
        # the package imports, and the session's zip reached the worker
        # whole
        import sys
        import zipfile

        import libmr_spark

        zips = [p for p in sys.path if p.endswith("libmr_spark_pkg.zip")]
        return libmr_spark.__name__, [
            "libmr_spark/session.py" in zipfile.ZipFile(z).namelist() for z in zips
        ]

    assert sc.parallelize([0], 1).map(on_executor).collect() == [("libmr_spark", [True])]
