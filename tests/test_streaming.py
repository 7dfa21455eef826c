"""Structured Streaming operators, verified against their batch twins:
the same aggregation over the same events must produce identical
results whether it arrives as a table or as a replayed stream.
"""

from __future__ import annotations

import ast
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from libmr_spark.sources.readers import load_table
from libmr_spark.streaming.stateful import sessionizer
from libmr_spark.streaming.windows import (
    run_to_memory_sink,
    session_window_agg,
    sliding_window_agg,
    stream_from_parquet_dir,
    tumbling_window_agg,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """events re-materialized with a proper timestamp column so it can
    be replayed as a file stream."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, "events", sf_dir).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def events_batch(spark, events_dir):
    return spark.read.parquet(events_dir)


def _stream(spark, events_dir, events_batch):
    return stream_from_parquet_dir(spark, events_dir, events_batch.schema)


def test_tumbling_window_stream_equals_batch(spark, events_dir, events_batch):
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total")]
    batch = tumbling_window_agg(events_batch, "ts", "1 hour", ["event_type"], aggs)
    sdf = tumbling_window_agg(_stream(spark, events_dir, events_batch), "ts", "1 hour", ["event_type"], aggs)
    run_to_memory_sink(sdf, "tumbling_out", output_mode="complete")
    got = sorted(map(tuple, spark.table("tumbling_out").collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_sliding_window_stream_equals_batch(spark, events_dir, events_batch):
    aggs = [F.count(F.lit(1)).alias("n")]
    batch = sliding_window_agg(events_batch, "ts", "2 hours", "1 hour", ["event_type"], aggs)
    sdf = sliding_window_agg(
        _stream(spark, events_dir, events_batch), "ts", "2 hours", "1 hour", ["event_type"], aggs
    )
    run_to_memory_sink(sdf, "sliding_out", output_mode="complete")
    got = sorted(map(tuple, spark.table("sliding_out").collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_session_window_stream_equals_batch(spark, events_dir, events_batch):
    aggs = [F.count(F.lit(1)).alias("n")]
    batch = session_window_agg(events_batch, "ts", "30 minutes", ["user_id"], aggs)
    sdf = session_window_agg(
        _stream(spark, events_dir, events_batch), "ts", "30 minutes", ["user_id"], aggs
    )
    run_to_memory_sink(sdf, "session_out", output_mode="complete")
    got = sorted(map(tuple, spark.table("session_out").collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_watermark_accepted_on_stream(spark, events_dir, events_batch):
    # watermark path: plan must build and run with late-data bound set
    aggs = [F.count(F.lit(1)).alias("n")]
    sdf = tumbling_window_agg(
        _stream(spark, events_dir, events_batch), "ts", "1 hour", ["event_type"], aggs, watermark="2 hours"
    )
    run_to_memory_sink(sdf, "wm_out", output_mode="append")
    # with availableNow + append, all-but-the-last windows finalize
    assert spark.table("wm_out").count() > 0


def test_stateful_sessionizer_matches_batch_query(spark, events_dir, events_batch, sf_dir):
    from libmr_spark.queries import QUERIES

    sdf = sessionizer(
        _stream(spark, events_dir, events_batch).select("user_id", "ts", "event_id"),
        key_cols=["user_id"],
        ts_col="ts",
        gap_seconds=1800,
    )
    run_to_memory_sink(sdf, "sess_out", output_mode="update")
    # update mode: last row per user is the final state
    import pandas as pd

    out = spark.table("sess_out").toPandas().groupby("user_id").last().reset_index()
    batch = QUERIES["sessionize_events"].fn(spark, sf_dir).toPandas()
    merged = out.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(merged) == len(batch)
    assert (merged["n_sessions_s"] == merged["n_sessions_b"]).all()
    assert (merged["n_events_s"] == merged["n_events_b"]).all()


def _protobuf_ok() -> bool:
    # ensure_protobuf adopts a vendored pure-python google.protobuf
    # (PYTHONPATH + version-check escape hatch) when the pip package
    # is absent; evaluated at collection time, before the JVM starts
    from libmr_spark.session import ensure_protobuf

    try:
        return ensure_protobuf()
    except Exception:
        return False


@pytest.mark.skipif(
    not _protobuf_ok(),
    reason="transformWithState python worker needs a functional google.protobuf",
)
def test_transform_with_state_user_stats(spark, sf_dir):
    """Spark 4 transformWithStateInPandas: running per-user count/max
    must equal the batch aggregate (single-file source = one batch)."""
    from pyspark.sql import functions as F

    from libmr_spark.sources.readers import events_stream, events_table
    from libmr_spark.streaming.stateful import user_stats_tws
    from libmr_spark.streaming.windows import run_to_memory_sink

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    grouped = events_stream(spark, sf_dir).select("user_id", "value").groupBy("user_id")
    out = user_stats_tws(grouped)
    run_to_memory_sink(out, "t_tws_user_stats", output_mode="update")
    got = {
        r.user_id: (r.n, round(r.vmax, 6))
        for r in spark.table("t_tws_user_stats").collect()
    }
    want = {
        r.user_id: (r.n, round(r.vmax, 6))
        for r in events_table(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("vmax"))
        .collect()
    }
    assert got == want


def test_checkpoint_restart_processes_only_new_files(spark, events_dir, events_batch):
    """Exactly-once file-source semantics across restarts: a second
    availableNow run against the SAME checkpoint must process only
    files added after the first run — the recovery contract every
    production streaming job leans on."""
    src = tempfile.mkdtemp(prefix="ckpt_src_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_meta_")
    out = tempfile.mkdtemp(prefix="ckpt_out_")
    try:
        first = events_batch.filter(F.col("event_id") % 2 == 0)
        second = events_batch.filter(F.col("event_id") % 2 == 1)
        first.write.mode("append").parquet(src)

        def drain():
            q = (
                spark.readStream.schema(events_batch.schema)
                .parquet(src)
                .select("event_id")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()
        n1 = spark.read.parquet(out).count()
        assert n1 == first.count()

        second.write.mode("append").parquet(src)
        drain()
        got = spark.read.parquet(out)
        # second run appended ONLY the new rows: no duplicates, full union
        assert got.count() == events_batch.count()
        assert got.select("event_id").distinct().count() == events_batch.count()
    finally:
        for d in (src, ckpt, out):
            shutil.rmtree(d, ignore_errors=True)


def test_ab_pattern_state_carries_across_batches(spark, tmp_path):
    # batch 1 ends with a view; batch 2 is a lone purchase 10 min later
    # — the match can only come from state carried across the boundary.
    # Also pins the strict-tie contract (same-ts view never matches)
    # and the window cutoff (purchase 61 min after its view: no match).
    import datetime

    from libmr_spark.streaming.stateful import ab_pattern_match
    from libmr_spark.streaming.windows import run_to_memory_sink

    t0 = datetime.datetime(2024, 1, 1)
    s = lambda sec: t0 + datetime.timedelta(seconds=sec)  # noqa: E731
    schema = "user_id bigint, ts timestamp, event_id bigint, event_type string"
    b1 = [
        (1, s(0), 10, "view"),
        (2, s(5), 11, "view"),
        (3, s(7), 12, "purchase"),  # no prior view for user 3: no match
        (4, s(9), 13, "view"),
        (4, s(9), 14, "purchase"),  # tie with its view: strict, no match
    ]
    b2 = [
        (1, s(600), 20, "purchase"),   # 10 min after b1's view: match
        (2, s(5 + 3661), 21, "purchase"),  # 61 min after: outside window
    ]
    sdir = str(tmp_path / "ab_stream")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(sdir + "/b=0")
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("overwrite").parquet(sdir + "/b=1")

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir + "/b=*")
    )
    out = ab_pattern_match(
        sdf,
        key_cols=["user_id"],
        ts_col="ts",
        order_col="event_id",
        type_col="event_type",
        a_type="view",
        b_type="purchase",
        within_sec=3600,
    )
    run_to_memory_sink(out, "t_ab_pattern_2b", output_mode="append")
    got = {(r.user_id, r.event_id, r.lag_sec) for r in spark.table("t_ab_pattern_2b").collect()}
    assert got == {(1, 20, 600)}


def test_ab_pattern_same_ts_view_does_not_hide_earlier_view(spark, tmp_path):
    # view@0, then view@600 and purchase@600 share a timestamp: the
    # purchase must match the view@0 (600s lag) — the same-ts view may
    # neither match nor clobber the earlier qualifying one
    import datetime

    from libmr_spark.streaming.stateful import ab_pattern_match
    from libmr_spark.streaming.windows import run_to_memory_sink

    t0 = datetime.datetime(2024, 1, 1)
    s = lambda sec: t0 + datetime.timedelta(seconds=sec)  # noqa: E731
    schema = "user_id bigint, ts timestamp, event_id bigint, event_type string"
    rows = [
        (1, s(0), 1, "view"),
        (1, s(600), 2, "view"),
        (1, s(600), 3, "purchase"),
        # and the carried state after the tie is the LATEST view:
        (1, s(1200), 4, "purchase"),  # matches view@600 -> lag 600
    ]
    sdir = str(tmp_path / "ab_ts_tie")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(sdir)
    sdf = spark.readStream.schema(schema).parquet(sdir)
    out = ab_pattern_match(
        sdf,
        key_cols=["user_id"],
        ts_col="ts",
        order_col="event_id",
        type_col="event_type",
        a_type="view",
        b_type="purchase",
        within_sec=3600,
    )
    run_to_memory_sink(out, "t_ab_ts_tie", output_mode="append")
    got = {(r.event_id, r.lag_sec) for r in spark.table("t_ab_ts_tie").collect()}
    assert got == {(3, 600), (4, 600)}


def test_streaming_merge_apply_across_batches_updates_moved_keys(spark, tmp_path):
    # exercises the SAME production helper (merge_upsert_latest) the
    # query runs, across three micro-batches:
    # - user 7's latest purchase arrives in batch 2 with a different
    #   day (the stranded-stale-row case a day-partitioned state hits)
    # - user 8's OLDER row replays in batch 3 AFTER its newer row — a
    #   replace-on-match merge would regress the state; recency
    #   comparison must keep the newer value
    # - batch 3 also includes an empty-after-filter file: no-op
    import datetime

    from pyspark.sql import functions as F

    from libmr_spark.sources.sinks import merge_upsert_latest

    t0 = datetime.datetime(2024, 1, 1)
    schema = "event_id bigint, ts timestamp, user_id bigint, value double"
    day = lambda n: t0 + datetime.timedelta(days=n - 1)  # noqa: E731
    b1 = [(1, day(2), 7, 10.0), (5, day(3), 8, 50.0)]
    b2 = [(3, day(21), 7, 99.0), (4, day(21), 9, 30.0)]
    b3 = [(2, day(2), 8, 20.0)]  # OLDER than user 8's batch-1 row
    sdir = str(tmp_path / "cdc_in")
    for i, b in enumerate([b1, b2, b3]):
        spark.createDataFrame(b, schema).coalesce(1).write.mode("overwrite").parquet(
            f"{sdir}/f={i}"
        )

    path = str(tmp_path / "state")

    def apply_batch(bdf, batch_id):
        merge_upsert_latest(
            bdf.sparkSession,
            path,
            bdf.select(
                "user_id",
                (F.col("user_id") % 4).cast("int").alias("b"),
                F.dayofmonth("ts").cast("int").alias("d"),
                "ts",
                "event_id",
                F.col("value").cast("double").alias("last_value"),
            ),
            keys=["user_id"],
            partition_col="b",
            recency_cols=["ts", "event_id"],
            payload_cols=["d", "last_value"],
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir + "/f=*")
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.user_id, r.d, r.last_value) for r in spark.read.parquet(path).collect()}
    # user 8 keeps the batch-1 (newer) row despite the late replay of
    # its older event; user 7 moved days and has exactly one row
    assert got == {(7, 21, 99.0), (8, 3, 50.0), (9, 21, 30.0)}


def test_streaming_minhash_with_compaction_cadence(spark, sf_dir, tmp_path):
    # the full continuous-ingest maintenance loop: foreachBatch admits
    # each micro-batch against the persisted MinHash store AND compacts
    # the store every 2 committed batches; the admitted set must equal
    # the same chunk-sequenced admission with NO compaction — i.e.
    # compaction on a live cadence never changes a decision.
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from libmr_spark.operators import dedup as DD
    from libmr_spark.sources.readers import load_table

    d = load_table(spark, "documents", sf_dir).select("doc_id", "text").limit(160)
    chunks = [
        d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 40))
        for lo in (0, 40, 80, 120)
    ]

    # reference run: sequential admission, no compaction
    ref_store = str(tmp_path / "ref_store")
    expected = set()
    for c in chunks:
        expected |= {
            r.doc_id
            for r in DD.dedup_incremental_minhash(spark, ref_store, c).collect()
        }

    # streaming run with compaction cadence
    srcdir = str(tmp_path / "src")
    os.makedirs(srcdir)
    for k, c in enumerate(chunks):
        stage = os.path.join(srcdir, f"_stage{k}")
        c.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(srcdir, f"chunk_{k:02d}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(stage)
        os.utime(dst, (1_700_000_000 + 60 * k,) * 2)  # oldest-first

    store = str(tmp_path / "live_store")
    results = str(tmp_path / "admitted")
    state = {"batches": 0, "compactions": 0}

    def apply_batch(bdf, batch_id):
        if bdf.isEmpty():
            return
        admitted = DD.dedup_incremental_minhash(bdf.sparkSession, store, bdf)
        admitted.select("doc_id").write.mode("append").parquet(results)
        state["batches"] += 1
        if state["batches"] % 2 == 0:
            if DD.compact_incremental_store(bdf.sparkSession, store) > 0:
                state["compactions"] += 1

    q = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(srcdir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {r.doc_id for r in spark.read.parquet(results).collect()}
    assert got == expected
    assert state["compactions"] >= 2  # the cadence actually ran
    # and the store ends compact: ≤ 2 live dirs per table (1 compact + ≤1 since)
    for table in ("index", "payload"):
        assert len(os.listdir(os.path.join(store, table))) <= 2


def test_watermark_lag_and_late_drop_semantics(spark, tmp_path):
    # Pins the micro-batch watermark behavior streaming_late_data_
    # accounting's unambiguity argument depends on: the effective
    # watermark at batch N trails the data by one-to-two committed
    # batches (this Spark: two — batch N filters against max event time
    # through batch N-2), and the availableNow final no-data flush
    # advances it through the LAST data batch. If a Spark upgrade
    # tightens the lag to one batch, the gate query stays correct (its
    # rows are unambiguous under either lag); this test documents which
    # lag is live and must be updated deliberately.
    import glob
    import os
    import shutil

    d = str(tmp_path / "wmsrc")
    os.makedirs(d)
    base = (1_700_000_000_000 // 3_600_000) * 3_600_000

    def t(mins):
        return (base + mins * 60_000) // 1000

    # chunk0: h0 row + 02:30 (through-0 wm = 01:30)
    # chunk1: 00:20 late-for-h0 (kept: batch1 wm is 0 under lag>=1 two-
    #         batch rule it's 0; under lag-1 it'd be 01:30 and dropped —
    #         the assertion below pins TWO-batch lag), 03:30
    # chunk2: 00:25 (dropped under either lag), 01:50 (kept under lag-2
    #         wm=01:30, dropped under lag-1 wm=02:30 — pins lag-2), 04:30
    chunks = [
        [(t(10),), (t(150),)],
        [(t(20),), (t(210),)],
        [(t(25),), (t(110),), (t(270),)],
    ]
    for k, rows in enumerate(chunks):
        df = spark.createDataFrame(rows, "sec long").select(
            F.timestamp_seconds("sec").alias("ts")
        )
        stage = os.path.join(d, f"_s{k}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(d, f"chunk_{k}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(stage)
        os.utime(dst, (1_700_000_000 + 60 * k,) * 2)
    agg = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_wm_lag")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        int((r.s - base) // 60_000): r.n
        for r in spark.table("t_wm_lag")
        .select(F.unix_millis("w.start").alias("s"), "n")
        .collect()
    }
    # h0: 00:10 + 00:20 (batch1 wm still 0) but NOT 00:25 (batch2 wm
    # 01:30 >= its window end); h1: 01:50 kept (end 02:00 > 01:30);
    # h2: 02:30; h3 (03:30) withheld: end 04:00 > final wm 03:30.
    assert got == {0: 2, 60: 1, 120: 1}


def test_tws_event_profile_composite_state(spark, sf_dir):
    """transformWithStateInPandas MapState + ListState: the per-user
    per-type profile must equal the batch aggregates (this test runs
    the TWS path directly — no fallback branch — so a pass proves the
    composite typed-state handles execute in this environment)."""
    from pyspark.sql import functions as F

    from libmr_spark.sources.readers import events_stream, events_table
    from libmr_spark.streaming.stateful import event_profile_tws
    from libmr_spark.streaming.windows import run_to_memory_sink

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    grouped = (
        events_stream(spark, sf_dir)
        .select("user_id", "event_type", "value")
        .groupBy("user_id")
    )
    run_to_memory_sink(
        event_profile_tws(grouped), "t_tws_profile", output_mode="update"
    )
    got = {
        (r.user_id, r.event_type): (r.n_type, r.n_total, round(r.vmax, 6))
        for r in spark.table("t_tws_profile")
        .groupBy("user_id", "event_type")
        .agg(
            F.max("n_type").alias("n_type"),
            F.max("n_total").alias("n_total"),
            F.max("vmax").alias("vmax"),
        )
        .collect()
    }
    e = events_table(spark, sf_dir)
    tot = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_total"), F.max("value").alias("vmax")
    )
    want = {
        (r.user_id, r.event_type): (r.n_type, r.n_total, round(r.vmax, 6))
        for r in e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_type"))
        .join(tot, "user_id")
        .collect()
    }
    assert got == want


def test_tws_timer_heartbeat(spark, sf_dir, tmp_path):
    """transformWithStateInPandas timers: registerTimer/listTimers/
    deleteTimer re-armed per batch, handleExpiredTimer emitting
    snapshot rows. The 'live' channel must equal the batch per-user
    counts exactly; the 'timer' channel must have fired (multi-batch
    source) with snapshots bounded by the final count."""
    from pyspark.sql import functions as F

    from libmr_spark.sources.readers import events_table
    from libmr_spark.streaming.stateful import timer_heartbeat_tws
    from libmr_spark.streaming.windows import replay_chunks, run_to_memory_sink

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    # two time-ordered files so batch 1 advances the watermark past
    # the expiries armed in batch 0 (event-time timers are data-driven)
    e = events_table(spark, sf_dir).select("event_id", "ts", "user_id")
    med = e.approxQuantile("event_id", [0.5], 0.0)[0]
    chunks = [e.filter(F.col("event_id") <= med).drop("event_id"), e.filter(F.col("event_id") > med).drop("event_id")]
    sdf = replay_chunks(spark, str(tmp_path / "src"), chunks, "ts timestamp, user_id bigint").withWatermark(
        "ts", "0 seconds"
    )
    run_to_memory_sink(
        timer_heartbeat_tws(sdf.groupBy("user_id")),
        "t_tws_timer",
        output_mode="update",
    )
    rows = spark.table("t_tws_timer").collect()
    want = {
        r.user_id: r.n
        for r in e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    live_max = {}
    fired = set()
    for r in rows:
        if r.kind == "live":
            live_max[r.user_id] = max(live_max.get(r.user_id, 0), r.n)
        else:
            fired.add(r.user_id)
            assert 0 <= r.n <= want[r.user_id]
    # exact live-channel parity with the batch aggregate
    assert live_max == want
    # timers actually fired for at least some keys (batch-1 processing
    # happens strictly after batch-0 registration on a wall clock)
    assert fired, "no timer ever expired across the 2-batch drain"


def test_replay_chunks_drain_every_batch_once_and_remove_checkpoint(
    spark, tmp_path, monkeypatch
):
    # replay_chunks stages one file per chunk in chunk order; drain
    # hands each non-empty micro-batch to apply_batch once and removes
    # its checkpoint directory whether the query succeeds or raises
    from libmr_spark.streaming.windows import drain, replay_chunks

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    srcdir = str(tmp_path / "src")
    chunks = [spark.range(100 * k, 100 * k + 10) for k in range(3)]

    def stream():
        return replay_chunks(spark, srcdir, chunks, "id bigint")

    seen = []

    def record(bdf, batch_id):
        files = bdf.select(F.input_file_name().alias("f")).distinct().collect()
        basenames = [os.path.basename(r.f) for r in files]
        seen.append((batch_id, bdf.agg(F.min("id")).first()[0], basenames))

    drain(stream(), record)
    names = [f"chunk_{k:02d}.parquet" for k in range(3)]
    assert seen == [(k, 100 * k, [names[k]]) for k in range(3)]
    assert sorted(os.listdir(srcdir)) == names
    assert os.listdir(tmp) == []

    def fail_on_batch_1(bdf, batch_id):
        if batch_id == 1:
            raise RuntimeError("batch 1 refused")

    with pytest.raises(Exception, match="batch 1 refused"):
        drain(stream(), fail_on_batch_1)
    assert os.listdir(tmp) == []

    chunks[1] = chunks[1].filter(F.col("id") < 0)
    seen.clear()
    drain(stream(), record)
    assert seen == [(0, 0, [names[0]]), (2, 200, [names[2]])]
    assert os.listdir(tmp) == []


def _replay_scaffolding(tree):
    """(function, line, kind) for each hand-written piece of file-stream
    replay scaffolding: a ``tempfile.mkdtemp`` call, an f-string
    ``_stage{...}`` path, or a ``maxFilesPerTrigger`` option."""
    found = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and fn is None:
            fn = node.name
        kind = None
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "mkdtemp"
        ):
            kind = "calls tempfile.mkdtemp"
        elif (
            isinstance(node, ast.JoinedStr)
            and node.values
            and isinstance(node.values[0], ast.Constant)
            and str(node.values[0].value).endswith("_stage")
        ):
            kind = "builds a _stage path"
        elif (isinstance(node, ast.Constant) and node.value == "maxFilesPerTrigger") or (
            isinstance(node, ast.keyword) and node.arg == "maxFilesPerTrigger"
        ):
            kind = "sets maxFilesPerTrigger"
        if kind:
            found.append((fn, node.lineno, kind))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return found


def test_file_stream_replay_lives_in_streaming_windows_only():
    # the two resume queries in queries_scale.py (streaming_pyds_resume,
    # streaming_kv_sink) keep a checkpoint of their own on purpose, but
    # under _sink_dir rather than mkdtemp, so they need no exception
    import pathlib

    package = pathlib.Path(__file__).resolve().parent.parent / "libmr_spark"
    leaks = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package).as_posix()
        if rel != "streaming/windows.py":
            leaks += [(rel, *leak) for leak in _replay_scaffolding(ast.parse(path.read_text()))]
    assert leaks == []
    # the scan does see the scaffolding where it lives, and in a
    # hand-written copy; prose that names the option passes
    home = ast.parse((package / "streaming" / "windows.py").read_text())
    assert {kind for _fn, _line, kind in _replay_scaffolding(home)} == {
        "calls tempfile.mkdtemp", "builds a _stage path", "sets maxFilesPerTrigger",
    }
    copy = (
        "def q(spark, srcdir, k):\n"
        "    stage = os.path.join(srcdir, f'_stage{k}')\n"
        "    s = spark.readStream.option('maxFilesPerTrigger', 1).parquet(srcdir)\n"
        "    s.writeStream.option('checkpointLocation', tempfile.mkdtemp())\n"
        "    return 'one file per trigger (maxFilesPerTrigger=1)'\n"
    )
    assert _replay_scaffolding(ast.parse(copy)) == [
        ("q", 2, "builds a _stage path"),
        ("q", 3, "sets maxFilesPerTrigger"),
        ("q", 4, "calls tempfile.mkdtemp"),
    ]
