"""``core.smalldf``: driver-bounded frames are zero-job ``LocalRelation``s
that hold exactly what ``spark.createDataFrame(rows, schema)`` holds."""

from __future__ import annotations

import datetime

import pytest

from libmr_spark.core.smalldf import is_local, local_df
from tests.test_sources_sinks import _spark_jobs

#: (schema, rows) in the shapes the engine's ``local_df`` callers build,
#: with nulls, empty arrays and integral extremes mixed in
CALL_SITE_CASES = [
    ("source string, w int", [("web", 5), ("books", -(2**31)), ("x", None)]),
    ("query_id int, token string", [(1, "alpha"), (1, "beta"), (2, None)]),
    ("rnd int, merge_left string, merge_right string, n bigint", [(0, "a", "b", 2**62), (1, "ab", None, 3)]),
    ("store_kind string, key string, val bigint", [("audit:exact", "deleted", 7), ("snapshot:x", "n", None)]),
    ("kind string, key string, val bigint, h string", [("merge", "1:a:b", 4, None)]),
    ("event_type string", [("click",), ("view",), (None,)]),
    ("n_docs bigint, n_blank bigint, total_chars bigint, max_len bigint", [(10, 0, 1234, 99)]),
    ("doc_id bigint", [(i,) for i in range(300)]),
    (
        "store_kind string, table_name string, n_batches int, n_dirs int, n_rows bigint, bytes bigint",
        [("exact", "fps", 3, 3, 1000, 65536), ("span", "spans", 0, 0, 0, 0)],
    ),
    ("u bigint, __root__ bigint", [(5, 1), (9, 1), (2**63 - 1, -(2**63))]),
    ("old string, new string", [("b", "a"), ("c", "a")]),
    (
        "left_net_rows bigint, right_net_rows bigint, view_rows bigint, recomputed_rows bigint, mismatch_rows bigint",
        [(3, 4, 12, 12, 0)],
    ),
    (
        "store_kind string, action string, fired_metric string, trigger_value double, result bigint, executed boolean",
        [("exact", "compact", "files", 12.5, 3, True), ("span", "none", None, None, None, False)],
    ),
    ("query_id bigint, cid int", [(7, 0), (7, 3)]),
    ("query_id bigint, qv array<bigint>", [(7, [1, -2, None]), (8, []), (9, None)]),
    ("cid int, sf array<string>, nf bigint", [(0, ["12", "x"], 5), (1, [], 0), (2, [None], None)]),
    ("key string, value string, type string", [("key1", "1.5", "string")]),
]


@pytest.mark.parametrize("schema,rows", CALL_SITE_CASES, ids=[c[0] for c in CALL_SITE_CASES])
def test_local_df_is_a_zero_job_local_relation(spark, schema, rows):
    want = spark.createDataFrame(rows, schema)
    for data in (rows, []):
        got = local_df(spark, data, schema)
        assert is_local(got)
        collected, jobs = _spark_jobs(spark, got.collect)
        assert jobs == 0
        assert got.schema == want.schema
        assert collected == (want.collect() if data else [])


def test_local_df_coerces_like_create_dataframe(spark):
    import decimal

    # any value goes into a string column through str(), as the row path does
    rows = [(5, True), (2.5, None)]
    got = local_df(spark, rows, "a string, b string")
    assert is_local(got)
    assert got.collect() == spark.createDataFrame(rows, "a string, b string").collect()
    # a decimal of a finer scale than its column: Arrow refuses to round
    # it, so the row path rounds it as createDataFrame does
    rows = [(decimal.Decimal("1.235"),)]
    got = local_df(spark, rows, "d decimal(10,2)")
    assert got.collect() == spark.createDataFrame(rows, "d decimal(10,2)").collect()


@pytest.mark.parametrize(
    "rows,schema",
    [
        ([(1, "a", 3)], "a int, b string"),  # too many fields
        ([("x", "a")], "a int, b string"),  # wrong type
        ([(1.0,)], "a bigint"),  # float for an integral column
        ([(None,)], "a int not null"),  # null in a non-nullable field
        ([(2**40,)], "a int"),  # out of range
        ([(1, ["a", 2])], "a int, b array<string>"),  # coerced through str(): no error
        ([(1, [1, "x"])], "a int, b array<bigint>"),  # wrong element type
    ],
)
def test_local_df_raises_like_create_dataframe(spark, rows, schema):
    def error_of(fn):
        try:
            fn()
        except Exception as e:  # noqa: BLE001 - the class is what is compared
            return type(e), getattr(e, "getCondition", lambda: None)()
        return None

    want = error_of(lambda: spark.createDataFrame(rows, schema))
    got = error_of(lambda: local_df(spark, rows, schema))
    assert got == want


def test_local_df_timestamps_keep_the_row_path(spark):
    # timestamps depend on the session time zone through Arrow: they keep
    # the row path and its values
    rows = [(1, datetime.datetime(2024, 3, 10, 2, 30, 5, 123456)), (2, None)]
    schema = "id int, ts timestamp"
    got = local_df(spark, rows, schema)
    assert not is_local(got)
    assert got.schema == spark.createDataFrame(rows, schema).schema
    collected, jobs = _spark_jobs(spark, got.collect)
    assert collected == spark.createDataFrame(rows, schema).collect()
    assert [r.ts for r in collected] == [rows[0][1], None]
    assert jobs == 1
    empty = local_df(spark, [], schema)
    assert is_local(empty) and empty.collect() == [] and empty.schema == got.schema


def test_local_df_from_arrow_table_keeps_every_batch(spark):
    import pyarrow as pa

    schema = "k bigint, v string"
    # leading empty batches: createDataFrame alone would drop every row
    table = pa.Table.from_batches(
        [
            pa.record_batch([pa.array([], pa.int64()), pa.array([], pa.string())], names=["k", "v"]),
            pa.record_batch([pa.array([1, 2]), pa.array(["a", None])], names=["k", "v"]),
        ]
    )
    got = local_df(spark, table, schema)
    assert is_local(got)
    assert got.collect() == spark.createDataFrame([(1, "a"), (2, None)], schema).collect()


def test_merge_upsert_checks_local_df_batch_without_jobs(spark, tmp_path):
    from libmr_spark.sources import sinks

    schema = "key string, value string, bucket int"
    path = str(tmp_path / "store")
    sinks.write_parquet(
        local_df(spark, [(f"k{i}", "old", i % 4) for i in range(40)], schema), path, partition_by=["bucket"]
    )
    batch = local_df(spark, [("k1", "new", 1), ("n1", "ins", 2)], schema)
    (dup, parts), jobs = _spark_jobs(spark, lambda: sinks._check_batch(batch, ["key"], "bucket"))
    assert (dup, parts, jobs) == (None, [1, 2], 0)
    repeated = local_df(spark, [("k1", "new", 1), ("k1", "again", 1)], schema)
    (dup, _), jobs = _spark_jobs(spark, lambda: sinks._check_batch(repeated, ["key"], "bucket"))
    assert (dup, jobs) == (("k1",), 0)
    sinks.merge_upsert(spark, path, batch, ["key"], "bucket")
    got = {r.key: r.value for r in spark.read.parquet(path).collect()}
    assert (got["k1"], got["n1"], got["k5"], len(got)) == ("new", "ins", "old", 41)
