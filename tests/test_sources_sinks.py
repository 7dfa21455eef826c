"""Sources and sinks: format round-trips, the KeysReader prefix
filter, and the foreachPartition side-effecting sink (the reference's
write-back idiom, tests/mr_test_module/src/lib.rs:741-764)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from libmr_spark.sources.readers import keys_reader, kv_table, load_table
from libmr_spark.sources.sinks import write_csv, write_json, write_parquet


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_parquet_sink_roundtrip(spark, sf_dir, tmp_path):
    kv = kv_table(spark, sf_dir)
    path = str(tmp_path / "kv_parquet")
    write_parquet(kv, path, partition_by=["type"])
    back = spark.read.parquet(path)
    assert _sorted_rows(back, ["key", "value"]) == _sorted_rows(kv, ["key", "value"])
    # partitionBy produced prunable directories (partition pruning on read)
    assert any(d.startswith("type=") for d in os.listdir(path))


def test_csv_json_sink_roundtrip(spark, sf_dir, tmp_path):
    kv = kv_table(spark, sf_dir).limit(100)
    want = _sorted_rows(kv, ["key", "value"])

    cpath = str(tmp_path / "kv_csv")
    write_csv(kv, cpath)
    back_csv = spark.read.option("header", "true").csv(cpath)
    assert _sorted_rows(back_csv, ["key", "value"]) == want

    jpath = str(tmp_path / "kv_json")
    write_json(kv, jpath)
    back_json = spark.read.json(jpath)
    assert _sorted_rows(back_json, ["key", "value"]) == want


def test_keys_reader_prefix_filter(spark, duck, sf_dir):
    # reference KeysReader takes an optional key-prefix match
    # (tests/mr_test_module/src/lib.rs:861-872)
    got = keys_reader(spark, {"sf_dir": sf_dir, "prefix": "key1"})
    want = duck.sql(
        "SELECT count(*) FROM orders WHERE concat('key', CAST(o_orderkey AS VARCHAR)) LIKE 'key1%'"
    ).fetchone()[0]
    assert got.count() == want
    assert all(r.key.startswith("key1") for r in got.select("key").collect())


def test_events_reader_timestamps_usable(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir)
    assert dict(ev.dtypes)["ts"] == "timestamp"
    row = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    assert row.lo <= row.hi


def test_partition_pruning_on_read(spark, sf_dir, tmp_path):
    """partitionBy on write must translate into PartitionFilters on a
    filtered read — at 100 TB this is the difference between scanning
    one directory and scanning the corpus."""
    from libmr_spark.plans.explain import formatted_plan

    ev = load_table(spark, "events", sf_dir)
    path = str(tmp_path / "ev_by_type")
    write_parquet(ev, path, partition_by=["event_type"])
    back = spark.read.parquet(path).filter(F.col("event_type") == "click").select("event_id")
    plan = formatted_plan(back)
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and any("event_type" in ln for ln in m), plan
    # and the pruned read still returns exactly the right rows
    assert back.count() == ev.filter(F.col("event_type") == "click").count()


def test_orc_sink_roundtrip(spark, sf_dir, tmp_path):
    kv = kv_table(spark, sf_dir).limit(200)
    path = str(tmp_path / "kv_orc")
    kv.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert _sorted_rows(back, ["key", "value"]) == _sorted_rows(kv, ["key", "value"])


def test_kv_datasource(spark, duck, sf_dir):
    # custom Python DataSource (Spark 4 pluggable-source API): the kv
    # keyspace served through spark.read.format("libmr_kv"), one input
    # partition per CRC16 slot range — the reference's shard-scan shape
    from pyspark.sql import functions as F

    from libmr_spark.core.partitioner import key_slot
    from libmr_spark.sources.pyds import register_kv_datasource

    register_kv_datasource(spark)
    df = (
        spark.read.format("libmr_kv")
        .option("sf_dir", sf_dir)
        .option("numPartitions", "4")
        .load()
    )
    want = sorted(
        r[0] for r in duck.sql("SELECT concat('key', CAST(o_orderkey AS VARCHAR)) FROM orders").fetchall()
    )
    assert sorted(r.key for r in df.select("key").collect()) == want

    # slot-locality: every key's CRC16 slot falls in its partition's range
    with_pid = df.withColumn("pid", F.spark_partition_id()).select("key", "pid").collect()
    assert {r.pid for r in with_pid} == {0, 1, 2, 3}
    step = 16384 // 4
    for r in with_pid:
        assert r.pid * step <= key_slot(r.key) < (r.pid + 1) * step

    # prefix filter applied inside the source (KeysReader parity)
    some = spark.read.format("libmr_kv").option("sf_dir", sf_dir).option("prefix", "key1").load()
    got = [r.key for r in some.collect()]
    assert got and all(k.startswith("key1") for k in got)


def test_schema_guard_loads_all_tables(spark, sf_dir):
    """Every driver table loads under the dtype contract — the loud
    early failure for the next testdata regeneration (round 2's events
    drift surfaced as 11 per-query AnalysisExceptions instead)."""
    from libmr_spark.sources.readers import TABLE_NAMES, load_table

    for name in TABLE_NAMES:
        df = load_table(spark, name, sf_dir)
        assert df.columns, name
    # events.ts lands as a session-tz timestamp whatever the file had
    ts_type = dict(load_table(spark, "events", sf_dir).dtypes)["ts"]
    assert ts_type == "timestamp"


def test_schema_guard_detects_drift(spark):
    from libmr_spark.sources.readers import SchemaDriftError, check_schema

    bad = spark.createDataFrame([(1, "2024")], "event_id long, ts string")
    with pytest.raises(SchemaDriftError) as ei:
        check_schema("events", bad)
    msg = str(ei.value)
    assert "events" in msg and "'ts'" in msg and "user_id" in msg


def test_events_ts_dispatch_all_physical_types(spark, sf_dir, tmp_path):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) (round 1)
    and timestamp[us] (round 2+). Pin all three dispatch branches of
    _normalize_events_ts by writing the same rows in each physical
    layout and asserting identical loaded values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from libmr_spark.sources.readers import events_table

    base = [
        (1, 1704067200_123_456_000, 10, "click", 1.5, "{}"),
        (2, 1704070800_987_654_000, 11, "view", 2.5, "{}"),
    ]

    def write(dirname, ts_type, ts_vals):
        d = tmp_path / dirname
        d.mkdir()
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in base], pa.int64()),
                "ts": pa.array(ts_vals, ts_type),
                "user_id": pa.array([r[2] for r in base], pa.int64()),
                "event_type": pa.array([r[3] for r in base]),
                "value": pa.array([r[4] for r in base], pa.float64()),
                "props": pa.array([r[5] for r in base]),
            }
        )
        pq.write_table(t, str(d / "events.parquet"))
        return str(d)

    nanos = [r[1] for r in base]
    micros = [r[1] // 1000 for r in base]
    d_ns = write("sf_ns", pa.timestamp("ns"), nanos)
    d_us = write("sf_us", pa.timestamp("us"), micros)
    d_tz = write("sf_tz", pa.timestamp("us", tz="UTC"), micros)

    out = {}
    for label, d in [("ns", d_ns), ("us", d_us), ("tz", d_tz)]:
        df = events_table(spark, d)
        assert dict(df.dtypes)["ts"] == "timestamp", label
        out[label] = {
            r.event_id: r.ms
            for r in df.select("event_id", F.unix_millis("ts").alias("ms")).collect()
        }
    # all three physical layouts load to the same instant (ns floors)
    assert out["ns"] == out["us"] == out["tz"]
    assert out["us"][1] == 1704067200123


def test_compaction_reduces_file_count(spark, sf_dir, tmp_path):
    # 64 tiny files -> ceil(bytes/target); rows and values preserved
    import os

    from libmr_spark.sources.sinks import compact_small_files

    path = str(tmp_path / "many_small")
    d = load_table(spark, "documents", sf_dir).select("doc_id", "source", "n_chars")
    d.repartition(64).write.mode("overwrite").parquet(path)
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before == 64

    before = sorted(r.doc_id for r in spark.read.parquet(path).collect())
    n_out = compact_small_files(spark, path, target_bytes=64 * 1024 * 1024)
    n_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_after == n_out < n_before
    after = sorted(r.doc_id for r in spark.read.parquet(path).collect())
    assert before == after


def test_sorted_write_skips_row_groups(spark, sf_dir, tmp_path):
    # measure ACTUAL parquet footer min/max stats: for a 5-day range
    # predicate, the sorted layout's overlapping row-group fraction
    # must be far below the unsorted layout's (which is ~1.0 because
    # every file spans the whole month)
    import datetime
    import os

    import pyarrow.parquet as pq

    from libmr_spark.sources.sinks import write_sorted

    e = load_table(spark, "events", sf_dir).select("event_id", "ts", "value")
    sorted_path = str(tmp_path / "sorted")
    unsorted_path = str(tmp_path / "unsorted")
    write_sorted(e, sorted_path, range_col="ts", n_files=16)
    # unsorted control needs stats too (Spark's default INT96 timestamps
    # carry none — the trap write_sorted's docstring documents)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        e.repartition(16).write.mode("overwrite").parquet(unsorted_path)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")

    lo = datetime.datetime(2024, 1, 10)
    hi = datetime.datetime(2024, 1, 15)

    def overlap_frac(path):
        total = hit = 0
        for fname in os.listdir(path):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, fname)).metadata
            ts_idx = md.schema.to_arrow_schema().get_field_index("ts")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ts_idx).statistics
                total += 1
                mn = st.min.replace(tzinfo=None) if st.min.tzinfo else st.min
                mx = st.max.replace(tzinfo=None) if st.max.tzinfo else st.max
                if mx >= lo and mn < hi:
                    hit += 1
        assert total > 0
        return hit / total

    f_sorted = overlap_frac(sorted_path)
    f_unsorted = overlap_frac(unsorted_path)
    assert f_unsorted > 0.9          # every unsorted file spans the month
    assert f_sorted <= 0.5           # sorted layout prunes most row groups
    assert f_sorted < f_unsorted / 2


def _batch_shapes(spark, rows, schema):
    """One merge batch in both shapes ``merge_upsert`` checks apart: as
    a driver builds it (a pandas frame becomes a ``LocalRelation``,
    checked on the driver) and repartitioned (checked by Spark)."""
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    from libmr_spark.core.smalldf import is_local

    names = _parse_datatype_string(schema).names
    local = spark.createDataFrame(pd.DataFrame(rows, columns=names, dtype=object), schema)
    assert is_local(local)
    return {"local": local, "spark": local.repartition(2)}


def _spark_jobs(spark, fn):
    """(fn's result, the Spark jobs it started), from a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_upsert_randomized_scenarios(spark, sf_dir, tmp_path):
    # seeded random update batches vs an in-memory reference merge:
    # pure-update, pure-insert, mixed, multi-partition, new-partition and
    # empty batches, with null keys in the base and the batch, over a
    # one-column key, a two-column key and a key that holds the partition
    # column. Each batch is merged in both shapes: the
    # driver-checked one on the driver with no Spark job, leaving one file
    # per touched partition of a multi-file base, the Spark-checked one by
    # Spark; both leave the same table and schema. A driver-merged store
    # keeps its footer schema and its zero-job point reads and dbsize.
    # Plus the duplicate-source-key contract in both shapes.
    import random

    import pytest as _pytest

    from libmr_spark.core import rpc
    from libmr_spark.sources.sinks import _footer_data_schema, merge_upsert

    rng = random.Random(42)
    schema = "k bigint, j string, p int, v double"
    base_rows = [(k, f"j{k % 3}", k % 5, float(k)) for k in range(200)]
    base_rows += [(None, "j0", 1, -1.0), (None, None, 2, -2.0)]
    by_key = {k: r for r in base_rows if (k := r[0]) is not None}

    def fresh(name):
        path = str(tmp_path / name)
        spark.createDataFrame(base_rows, schema).repartition(3).write.mode("overwrite").partitionBy(
            "p"
        ).parquet(path)
        return path

    def table(path):
        return sorted(map(tuple, spark.read.parquet(path).select("k", "j", "p", "v").collect()), key=repr)

    def reference(batch_rows, keys):
        def key(r):
            return tuple(r[("k", "j", "p", "v").index(c)] for c in keys)

        hit = {key(r) for r in batch_rows if None not in key(r)}
        parts = {r[2] for r in batch_rows}
        return sorted([r for r in base_rows if r[2] not in parts or key(r) not in hit] + batch_rows, key=repr)

    def parquet_files(path, part):
        return [f for f in os.listdir(os.path.join(path, f"p={part}")) if f.endswith(".parquet")]

    base_schema = _footer_data_schema(spark, fresh("tbl_base"))
    for keys in (["k"], ["k", "j"], ["k", "p"]):
        for trial in range(4):
            upd = rng.sample(range(200), rng.randint(0, 40))
            ins = rng.sample(range(1000, 1100), rng.randint(0, 20))
            batch_rows = [(k, by_key[k][1], k % 5, float(k) + 0.5) for k in upd] + [
                (k, "new", rng.randint(0, 6), -1.0) for k in ins  # p 5 and 6 are new partitions
            ]
            if not batch_rows:
                continue
            if trial % 2:
                batch_rows.append((None, "j0", 1, 9.0))  # a null key never matches
            want = reference(batch_rows, keys)
            got = {}
            for shape, batch in _batch_shapes(spark, batch_rows, schema).items():
                path = fresh(f"tbl_{'_'.join(keys)}_{trial}_{shape}")
                assert all(len(parquet_files(path, part)) > 1 for part in range(5))
                _, jobs = _spark_jobs(spark, lambda: merge_upsert(spark, path, batch, keys=keys, partition_col="p"))
                got[shape] = table(path), spark.read.parquet(path).schema
                assert got[shape][0] == want, f"{keys} trial {trial} {shape}"
                if shape == "local":
                    assert jobs == 0, f"{keys} trial {trial}"
                    assert all(len(parquet_files(path, part)) == 1 for part in {r[2] for r in batch_rows})
                    assert _footer_data_schema(spark, path) == base_schema
                    df = spark.read.schema(base_schema).parquet(path)
                    k = batch_rows[0][0]
                    hit, jobs = _spark_jobs(spark, lambda: rpc.run_on_key(df, "k", k).collect())
                    assert (sorted(map(tuple, hit), key=repr), jobs) == (
                        sorted(((k, j, v, p) for k2, j, p, v in want if k2 == k), key=repr), 0)
                    sizes, jobs = _spark_jobs(spark, lambda: rpc.run_on_all_shards(df, "dbsize", "n bigint").collect())
                    assert (sum(r.n for r in sizes), jobs) == (len(want), 0)
            assert got["local"] == got["spark"], f"{keys} trial {trial}"

    # duplicate source keys must be rejected alike in both shapes, and
    # the base untouched: a repeated key, a repeated null key, and one
    # key in two partitions
    for dup_rows in ([(1, "j1", 1, 9.0), (1, "j1", 1, 8.0)],
                     [(None, "j0", 1, 9.0), (2, "j2", 2, 1.0), (None, "j0", 1, 8.0)],
                     [(3, "j0", 3, 9.0), (3, "j0", 4, 8.0)]):
        messages = set()
        for shape, batch in _batch_shapes(spark, dup_rows, schema).items():
            path = fresh(f"tbl_dup_{shape}")
            with _pytest.raises(ValueError, match="duplicate key") as err:
                merge_upsert(spark, path, batch, keys=["k"], partition_col="p")
            messages.add(str(err.value))
            assert table(path) == sorted(base_rows, key=repr), shape
        assert len(messages) == 1, messages


def test_merge_upsert_checks_driver_bounded_batch_without_jobs(spark, tmp_path):
    # the driver-side checks of a LocalRelation batch start no Spark
    # job and agree with Spark's; a 256-key merge into one bucket leaves
    # that bucket as one file
    import pandas as pd

    from libmr_spark.sources import sinks

    schema = "key string, value string, bucket int"
    path = str(tmp_path / "store")
    base = [(f"k{i}", "old", i % 4) for i in range(2000)]
    sinks.write_parquet(spark.createDataFrame(base, schema).repartition(3), path, partition_by=["bucket"])
    rows = [(f"k{i}", "new", 1) for i in range(1, 2000, 4)[:200]] + [(f"n{i}", "ins", 1) for i in range(56)]
    shapes = _batch_shapes(spark, rows, schema)
    (dup, parts), jobs = _spark_jobs(spark, lambda: sinks._check_batch(shapes["local"], ["key"], "bucket"))
    assert (dup, parts, jobs) == (None, [1], 0)
    (dup, parts), jobs = _spark_jobs(spark, lambda: sinks._check_batch(shapes["spark"], ["key"], "bucket"))
    assert (dup, parts) == (None, [1]) and jobs > 0
    # float keys keep the Spark checks (Spark groups NaN with NaN)
    floats = spark.createDataFrame(pd.DataFrame({"f": [0.0, -0.0], "p": [1, 1]}))
    (dup, _), jobs = _spark_jobs(spark, lambda: sinks._check_batch(floats, ["f"], "p"))
    assert dup == (0.0,) and jobs > 0

    def bucket_files():
        return [f for f in os.listdir(os.path.join(path, "bucket=1")) if f.endswith(".parquet")]

    assert len(bucket_files()) > 1
    sinks.merge_upsert(spark, path, shapes["local"], ["key"], "bucket")
    assert len(bucket_files()) == 1
    got = {r.key: r.value for r in spark.read.parquet(path).collect()}
    want = {k: v for k, v, _ in base} | {k: v for k, v, _ in rows}
    assert got == want


def test_merge_upsert_failed_write_leaves_base_unchanged(spark, tmp_path):
    # a batch whose value column fails while it is written: the checks
    # prune the column away, so only the write fails — and the table
    # must read exactly as before, with no staged file visible
    from pyspark.sql.types import StringType

    from libmr_spark.sources.sinks import merge_upsert

    schema = "k bigint, p int, v string"
    path = str(tmp_path / "tbl")
    base_rows = [(k, k % 4, f"v{k}") for k in range(100)]
    spark.createDataFrame(base_rows, schema).write.partitionBy("p").parquet(path)

    @F.udf(StringType())
    def fail_on_7(k):
        if k == 7:
            raise RuntimeError("injected write failure")
        return f"new{k}"

    batch = spark.range(0, 20, numPartitions=2).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("p"), fail_on_7("id").alias("v")
    )
    with pytest.raises(Exception, match="injected write failure"):
        merge_upsert(spark, path, batch, keys=["k"], partition_col="p")
    back = spark.read.parquet(path)
    assert sorted(map(tuple, back.select("k", "p", "v").collect())) == sorted(base_rows)
    assert not any(".spark-staging" in f for f in back.inputFiles())
    assert not [d for d in os.listdir(path) if d.startswith(".spark-staging")]

    merge_upsert(spark, path, spark.createDataFrame([(7, 3, "seven")], schema), keys=["k"], partition_col="p")
    got = sorted(map(tuple, spark.read.parquet(path).select("k", "p", "v").collect()))
    assert got == sorted([r for r in base_rows if r[0] != 7] + [(7, 3, "seven")])


def test_merge_upsert_driver_route_falls_back_to_spark(spark, tmp_path, monkeypatch):
    # a driver-checked batch whose merge fails the driver gate is merged
    # by Spark: with the jobs that takes, into the table the Spark-checked
    # batch leaves, or raising the same exception class (Spark's analysis
    # errors start no job). A batch column that would change a base
    # column's type (int over string) is rejected before any job in
    # both shapes, with the base left as it was
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from libmr_spark.core import smalldf
    from libmr_spark.sources.sinks import merge_upsert

    kv = "k bigint, p int, v string"

    def spark_base(schema, rows, parts=("p",)):
        def make(path):
            spark.createDataFrame(rows, schema).write.partitionBy(*parts).parquet(path)
        return make

    def pyarrow_base(path):
        for p in range(2):
            os.makedirs(os.path.join(path, f"p={p}"))
            pq.write_table(pa.table({"k": pa.array([p, p + 2], pa.int64()), "v": ["a", "b"]}),
                           os.path.join(path, f"p={p}", "part-0.parquet"))

    kv_rows = [(k, k % 2, f"v{k}") for k in range(10)]
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
    cases = {
        "missing base": (lambda path: None, kv, [(1, 1, "new")]),
        "extra column": (spark_base(kv, kv_rows), "k bigint, p int, v string, w int", [(1, 1, "new", 5)]),
        "int over string": (spark_base(kv, kv_rows), "k bigint, p int, v int", [(1, 1, 7), (20, 0, 8)]),
        "timestamp column": (spark_base("k bigint, p int, t timestamp", [(k, k % 2, ts) for k in range(10)]),
                             "k bigint, p int, t timestamp", [(1, 1, ts.replace(year=2025)), (30, 0, ts)]),
        "pyarrow base": (pyarrow_base, kv, [(1, 1, "new"), (9, 0, "ins")]),
        "mergeSchema on": (spark_base(kv, kv_rows), kv, [(1, 1, "new")]),
        "two levels": (spark_base("k bigint, p int, q int, v string", [(k, k % 2, k % 3, "v") for k in range(10)],
                                  ("p", "q")), kv, [(1, 1, "new")]),
        "over the ceiling": (spark_base(kv, kv_rows), kv, [(1, 1, "new"), (20, 0, "ins")]),
    }
    for case, (make, schema, rows) in cases.items():
        outcome = {}
        with monkeypatch.context() as m:
            if case == "mergeSchema on":
                spark.conf.set("spark.sql.parquet.mergeSchema", "true")
            if case == "over the ceiling":
                m.setattr(smalldf, "_DRIVER_READ_MAX_BYTES", 1)
            try:
                for shape, batch in _batch_shapes(spark, rows, schema).items():
                    path = str(tmp_path / case.replace(" ", "_") / shape)
                    make(path)

                    def merge():
                        try:
                            merge_upsert(spark, path, batch, ["k"], "p")
                        except Exception as e:  # the Spark route's error, in either shape
                            return e

                    err, jobs = _spark_jobs(spark, merge)
                    if case == "int over string":
                        assert isinstance(err, ValueError) and "'v' from string to bigint" in str(err), (shape, err)
                        assert jobs == 0, shape
                        assert sorted(map(tuple, spark.read.parquet(path).select("k", "p", "v").collect())) == kv_rows
                    if err is not None:
                        outcome[shape] = type(err)
                    else:
                        assert jobs > 0, (case, shape)
                        df = spark.read.parquet(path)
                        outcome[shape] = sorted(map(tuple, df.collect()), key=repr), df.schema
            finally:
                spark.conf.unset("spark.sql.parquet.mergeSchema")
        assert outcome["local"] == outcome["spark"], case


def test_timestamp_conf_restored_after_sorted_and_zorder_writes(spark, tmp_path):
    # write_sorted and write_zorder force TIMESTAMP_MICROS for their own
    # write only: the session's setting is back after each, also when
    # write_zorder rejects its input before writing
    from libmr_spark.sources.sinks import write_sorted, write_zorder

    key = "spark.sql.parquet.outputTimestampType"
    df = spark.range(10).select(F.col("id").alias("a"), (F.col("id") % 3).alias("b"))
    spark.conf.set(key, "INT96")
    try:
        write_sorted(df, str(tmp_path / "sorted"), "a", 2)
        assert spark.conf.get(key) == "INT96"
        write_zorder(df, str(tmp_path / "zorder"), ["a", "b"], 2)
        assert spark.conf.get(key) == "INT96"
        with pytest.raises(ValueError, match="outside"):
            write_zorder(df.withColumn("a", F.col("a") + 5000), str(tmp_path / "bad"), ["a", "b"], 2)
        assert spark.conf.get(key) == "INT96"
    finally:
        spark.conf.set(key, "TIMESTAMP_MICROS")


def test_merge_upsert_driver_write_failure_leaves_base_unchanged(spark, tmp_path, monkeypatch):
    # the driver route stages every touched partition before it publishes
    # any: a write that fails on the second partition leaves the table
    # as it was, with no new file and no staging directory
    import pyarrow.parquet as pq

    from libmr_spark.sources.sinks import merge_upsert

    schema = "k bigint, p int, v string"
    path = str(tmp_path / "tbl")
    base_rows = [(k, k % 4, f"v{k}") for k in range(100)]
    spark.createDataFrame(base_rows, schema).write.partitionBy("p").parquet(path)
    files = set(spark.read.parquet(path).inputFiles())
    batch = _batch_shapes(spark, [(1, 1, "new"), (2, 2, "new")], schema)["local"]
    writes = []
    write_table = pq.write_table

    def fail_second(table, where, **kw):
        writes.append(where)
        if len(writes) == 2:
            raise OSError("injected write failure")
        write_table(table, where, **kw)

    monkeypatch.setattr(pq, "write_table", fail_second)
    with pytest.raises(OSError, match="injected write failure"):
        merge_upsert(spark, path, batch, keys=["k"], partition_col="p")
    assert len(writes) == 2
    back = spark.read.parquet(path)
    assert sorted(map(tuple, back.select("k", "p", "v").collect())) == sorted(base_rows)
    assert set(back.inputFiles()) == files
    assert not [d for d in os.listdir(path) if d.startswith(".merge-")]


def test_incremental_agg_refresh_touches_only_delta_partitions(spark, sf_dir, tmp_path):
    # base agg over days 1-20; delta for days 21+ and late day-19 rows:
    # days 1-18 + 20 files must be byte-identical (mtime) after refresh,
    # and the refreshed table must equal the from-scratch aggregate
    import os

    from pyspark.sql import functions as F

    from libmr_spark.sources.readers import load_table
    from libmr_spark.sources.sinks import refresh_incremental_agg

    path = str(tmp_path / "agg")
    e = load_table(spark, "events", sf_dir).select(
        F.dayofmonth("ts").cast("int").alias("d"),
        "event_type",
        "event_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
    )

    def agg(df):
        return df.groupBy("d", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("decimal(18,6)").alias("sum_value"),
        )

    late = (F.col("d") == 19) & (F.col("event_id") % 7 == 0)
    agg(e.filter((F.col("d") <= 20) & ~late)).write.mode("overwrite").partitionBy(
        "d"
    ).parquet(path)

    def mtimes():
        out = {}
        for part in os.listdir(path):
            if part.startswith("d="):
                p = os.path.join(path, part)
                out[part] = {f: os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)}
        return out

    before = mtimes()
    refresh_incremental_agg(
        spark,
        path,
        agg(e.filter((F.col("d") > 20) | late)),
        keys=["d", "event_type"],
        partition_col="d",
        merge_cols=["n", "sum_value"],
    )
    after = mtimes()
    for part in before:
        day = int(part.split("=")[1])
        if day <= 18 or day == 20:
            assert before[part] == after[part], f"{part} should be untouched"
    assert before["d=19"] != after["d=19"]  # late data rewrote day 19

    got = sorted(
        map(tuple, spark.read.parquet(path).select("d", "event_type", "n", "sum_value").collect())
    )
    want = sorted(map(tuple, agg(e).select("d", "event_type", "n", "sum_value").collect()))
    assert got == want  # bit-identical to from-scratch aggregate


def test_kv_writer_two_phase_commit(spark, sf_dir, tmp_path):
    # commit: only manifest-listed files are visible; abort: a failed
    # job publishes NOTHING (no manifest, no data files); orphans in
    # the directory are invisible to the manifest-honoring reader
    import json
    import os

    from pyspark.sql import functions as F

    from libmr_spark.sources.pyds import read_kv_sink, register_kv_datasource

    register_kv_datasource(spark)
    path = str(tmp_path / "kv_out")
    kv = load_table(spark, "orders", sf_dir).select(
        F.concat(F.lit("key"), F.col("o_orderkey").cast("string")).alias("key"),
        F.col("o_totalprice").cast("string").alias("value"),
        F.lit("string").alias("type"),
    )
    kv.repartition(4).write.format("libmr_kv").option("path", path).mode(
        "overwrite"
    ).save()
    manifest = json.load(open(os.path.join(path, "_KV_SUCCESS")))
    assert manifest["n_rows"] == kv.count()
    assert read_kv_sink(spark, path).count() == kv.count()

    # an orphan file (e.g. an undead task attempt) is not visible
    with open(os.path.join(path, "zz_orphan.jsonl"), "w") as f:
        f.write('{"key": "kX", "value": "1", "type": "string"}\n')
    assert read_kv_sink(spark, path).count() == kv.count()

    # failed job: one partition poisons -> abort -> nothing published
    fail_path = str(tmp_path / "kv_fail")

    @F.udf("string")
    def poison(k):
        if k == "key1":
            raise RuntimeError("poisoned row")
        return k

    bad = kv.withColumn("key", poison("key"))
    import pytest as _pytest

    with _pytest.raises(Exception):
        bad.repartition(4).write.format("libmr_kv").option("path", fail_path).mode(
            "overwrite"
        ).save()
    published = [
        f for f in os.listdir(fail_path) if not f.startswith("_staging")
    ] if os.path.exists(fail_path) else []
    assert "_KV_SUCCESS" not in published
    assert not [f for f in published if f.endswith(".jsonl")]


def test_pyds_stream_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    # drain 1 (clock=day 10) sinks exactly days 1-10; drain 2 (clock=31)
    # adds ONLY days 11-30 — a re-read from initialOffset would double
    # the early days, a skipped resume would lose the late ones
    from pyspark.sql import functions as F

    from libmr_spark.sources.pyds import register_events_stream_source

    register_events_stream_source(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain(upto):
        q = (
            spark.readStream.format("libmr_events_stream")
            .option("sf_dir", sf_dir)
            .option("upto_day", str(upto))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    e = load_table(spark, "events", sf_dir)
    drain(10)
    got1 = spark.read.parquet(out)
    assert got1.count() == e.filter(F.dayofmonth("ts") <= 10).count()
    assert got1.agg(F.max("d")).first()[0] <= 10

    drain(31)
    got2 = spark.read.parquet(out)
    assert got2.count() == e.count()
    # early days present exactly once (no re-read across the restart)
    assert (
        got2.filter("d <= 10").count()
        == e.filter(F.dayofmonth("ts") <= 10).count()
    )


def test_kv_stream_sink_epoch_replay_is_idempotent(spark, sf_dir, tmp_path):
    # a re-delivered batchId must REPLACE its epoch, not append; torn
    # epochs (no manifest) are invisible to the reader
    import json
    import os

    from libmr_spark.sources.pyds import KvStreamWriter, read_kv_stream_sink

    import pyarrow as pa

    path = str(tmp_path / "stream_sink")
    w = KvStreamWriter({"path": path})

    def rb(*ids):
        return pa.RecordBatch.from_pylist([{"event_id": i} for i in ids])

    # epoch 0, attempt 1 (the writer receives Arrow RecordBatches)
    m1 = w.write(iter([rb(1, 2)]))
    w.commit([m1], batchId=0)
    # epoch 0 RE-DELIVERED (failure recovery) with the same rows
    m2 = w.write(iter([rb(1, 2)]))
    w.commit([m2], batchId=0)
    # epoch 1
    m3 = w.write(iter([rb(3)]))
    w.commit([m3], batchId=1)
    # epoch 2 aborts after staging
    m4 = w.write(iter([rb(4)]))
    w.abort([m4], batchId=2)

    back = read_kv_stream_sink(spark, path, "event_id bigint")
    assert sorted(r.event_id for r in back.collect()) == [1, 2, 3]
    manifest = json.load(open(os.path.join(path, "epoch=0", "_EPOCH_SUCCESS")))
    assert manifest["n_rows"] == 2  # replaced, not doubled
    assert not os.path.exists(os.path.join(path, "epoch=2"))


def test_kv_writer_append_merges_manifest_and_format_readback(spark, sf_dir, tmp_path):
    # append mode must MERGE the prior commit's manifest (not orphan
    # it), and format("libmr_kv").option("path") reads back through
    # the manifest — full symmetry through the format string
    from pyspark.sql import functions as F

    from libmr_spark.sources.pyds import register_kv_datasource

    register_kv_datasource(spark)
    path = str(tmp_path / "kv_append")
    kv = load_table(spark, "orders", sf_dir).select(
        F.concat(F.lit("key"), F.col("o_orderkey").cast("string")).alias("key"),
        F.col("o_totalprice").cast("string").alias("value"),
        F.lit("string").alias("type"),
    )
    b1 = kv.filter("key like 'key1%'")
    b2 = kv.filter("key like 'key2%'")
    b1.repartition(2).write.format("libmr_kv").option("path", path).mode("overwrite").save()
    b2.repartition(2).write.format("libmr_kv").option("path", path).mode("append").save()
    back = spark.read.format("libmr_kv").option("path", path).load()
    assert back.count() == b1.count() + b2.count()
    assert back.filter("key like 'key1%'").count() == b1.count()


def test_kv_writer_commit_crash_leaves_old_snapshot(tmp_path, monkeypatch):
    # round-6 advice: the manifest swap is the commit point. A driver
    # crash ANYWHERE inside commit() before the os.replace() must
    # leave the previously-published snapshot fully readable (old
    # manifest naming old files, all still on disk); a crash after
    # the swap leaves exactly the new snapshot. Unit-level: drive
    # KvDataSourceWriter.commit directly with a poisoned os.replace.
    import json
    import os

    from libmr_spark.sources.pyds import KvCommit, KvDataSourceWriter

    path = str(tmp_path / "kv")
    os.makedirs(path)
    # previously-published snapshot
    with open(os.path.join(path, "old.jsonl"), "w") as f:
        f.write('{"key": "a", "value": "1", "type": "string"}\n')
    with open(os.path.join(path, "_KV_SUCCESS"), "w") as f:
        json.dump({"files": ["old.jsonl"], "n_rows": 1}, f)

    # a staged new attempt
    staging = os.path.join(path, "_staging")
    os.makedirs(staging)
    with open(os.path.join(staging, "new.jsonl"), "w") as f:
        f.write('{"key": "b", "value": "2", "type": "string"}\n')

    w = KvDataSourceWriter({"path": path}, overwrite=True)
    real_replace = os.replace

    def boom(src, dst):
        raise OSError("simulated driver crash at the swap")

    monkeypatch.setattr(os, "replace", boom)
    try:
        w.commit([KvCommit("new.jsonl", 1)])
    except OSError:
        pass
    monkeypatch.setattr(os, "replace", real_replace)

    # old snapshot intact: manifest still names old.jsonl and it exists
    manifest = json.load(open(os.path.join(path, "_KV_SUCCESS")))
    assert manifest["files"] == ["old.jsonl"]
    for fname in manifest["files"]:
        assert os.path.exists(os.path.join(path, fname))

    # retry (no crash): new snapshot fully replaces the old one
    staging2 = os.path.join(path, "_staging")
    os.makedirs(staging2, exist_ok=True)
    with open(os.path.join(staging2, "new2.jsonl"), "w") as f:
        f.write('{"key": "b", "value": "2", "type": "string"}\n')
    w.commit([KvCommit("new2.jsonl", 1)])
    manifest = json.load(open(os.path.join(path, "_KV_SUCCESS")))
    assert manifest["files"] == ["new2.jsonl"]
    assert not os.path.exists(os.path.join(path, "old.jsonl"))
    assert not os.path.exists(os.path.join(path, "_KV_SUCCESS.tmp"))


def test_merge_upsert_base_schema_from_one_footer(spark, sf_dir, tmp_path):
    # the schema merge_upsert gives its base open equals the one Spark
    # infers, and the open with it starts no job; stores Spark did not
    # write keep the inference
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from libmr_spark.core import partitioner
    from libmr_spark.sources.sinks import _footer_data_schema, merge_upsert

    rows = [
        ("a", 1, 10**12, 1.5, decimal.Decimal("3.25"), datetime.date(2024, 1, 2),
         datetime.datetime(2024, 1, 2, 3, 4, 5), [1, 2], {"x": 1}, (1, "s"), "p/1", datetime.date(2024, 1, 1), 5),
        ("b", None, -7, None, None, None, None, None, None, None, None, datetime.date(2024, 1, 2), -3),
    ]
    typed = spark.createDataFrame(rows, (
        "s string not null, i int, l bigint, d double, m decimal(12,2), dt date, ts timestamp, arr array<int>, "
        "mp map<string,int>, st struct<a:int,b:string>, ps string, pd date, pi int"
    ))
    kv = kv_table(spark, sf_dir)
    stores = {
        "kv_buckets": (kv.withColumn("bucket", (partitioner.slot_col("key") % 4).cast("int")), ["bucket"]),
        "typed_flat": (typed, []),
        "by_string": (typed, ["ps"]),
        "by_date": (typed, ["pd"]),
        "by_int": (typed, ["pi"]),
        "by_long": (spark.range(3).select((F.col("id") + 10**11).alias("b"), F.col("id").alias("v")), ["b"]),
        "by_double": (spark.range(3).select((F.col("id") + 0.5).alias("b"), F.col("id").alias("v")), ["b"]),
        "two_levels": (spark.range(6).select((F.col("id") % 2).alias("a"), (F.col("id") % 3).cast("string").alias("b"),
                                             F.col("id").alias("v")), ["a", "b"]),
    }
    for name, (df, parts) in stores.items():
        path = str(tmp_path / name)
        write_parquet(df, path, partition_by=parts)
        given = _footer_data_schema(spark, path)
        assert given is not None, name
        opened, jobs = _spark_jobs(spark, lambda: spark.read.schema(given).parquet(path))
        assert opened.schema == spark.read.parquet(path).schema, name
        assert jobs == 0, name
    # a store written by pyarrow carries no Spark schema: inferred as before
    (tmp_path / "pyarrow" / "k=1").mkdir(parents=True)
    pq.write_table(pa.table({"v": [1, 2]}), str(tmp_path / "pyarrow" / "k=1" / "part-0.parquet"))
    assert _footer_data_schema(spark, str(tmp_path / "pyarrow")) is None
    # and a merge into it still works
    merge_upsert(spark, str(tmp_path / "pyarrow"), spark.createDataFrame([(3, 1)], "v bigint, k int"), ["v"], "k")
    assert sorted(r.v for r in spark.read.parquet(str(tmp_path / "pyarrow")).collect()) == [1, 2, 3]


def test_rebalanced_probe_skips_shuffled_frames(spark, tmp_path):
    # probing a lazy shuffle-tailed frame would run its AQE stages: it
    # keeps the hint instead, with no job; a scan is still probed
    from libmr_spark.core.layout import rebalanced

    grouped = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    out, jobs = _spark_jobs(spark, lambda: rebalanced(grouped, probe=True))
    assert jobs == 0
    assert "RebalancePartitions" in out._jdf.queryExecution().analyzed().toString()
    path = str(tmp_path / "t")
    write_parquet(spark.range(100), path)
    scan = spark.read.parquet(path)
    out, jobs = _spark_jobs(spark, lambda: rebalanced(scan, probe=True))
    assert out is scan and jobs == 0
