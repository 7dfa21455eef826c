"""Round-5 scale-pattern operators: Misra-Gries heavy hitters,
degree-oriented triangle counting, bucketed interval overlap join, and
mergeable histogram percentiles. Each test pins the property the
operator's 100 TB story depends on, on inputs constructed to stress it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------------
# Misra-Gries heavy hitters
# ------------------------------------------------------------------


def test_mg_summary_is_capacity_bounded(spark):
    # 10_000 distinct keys through capacity-8 summaries: candidate set
    # must stay <= capacity * num_partitions no matter the distincts
    from libmr_spark.operators.sketches import mg_candidates

    df = spark.range(10_000).select(F.col("id").alias("k")).repartition(4)
    cand = mg_candidates(df, "k", capacity=8)
    assert cand.count() <= 8 * 4


def test_mg_guaranteed_hitter_survives_tiny_capacity(spark):
    # one key holds >1/3 of the stream; capacity 4 => threshold n/5,
    # so it MUST be in the candidate set even though 1000 distinct
    # cold keys churn the summary
    from libmr_spark.operators.sketches import mg_candidates

    hot = spark.range(2_000).select(F.lit(424242).alias("k"))
    cold = spark.range(4_000).select((F.col("id") % 1000).alias("k"))
    df = hot.unionAll(cold).repartition(8)
    cand = [r.k for r in mg_candidates(df, "k", capacity=4).collect()]
    assert 424242 in cand


def test_heavy_hitters_equal_exact_topk(spark, sf_dir):
    from libmr_spark.operators.sketches import heavy_hitters
    from libmr_spark.sources.readers import load_table

    e = load_table(spark, "events", sf_dir).select("user_id")
    got = [(r.user_id, r.n) for r in heavy_hitters(e, "user_id", 10, 512).collect()]
    want = [
        (r.user_id, r.n)
        for r in e.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
        .collect()
    ]
    assert got == want


# ------------------------------------------------------------------
# Triangle counting
# ------------------------------------------------------------------


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs], "u long, v long"
    ).distinct()


def test_triangle_count_known_graphs(spark):
    from libmr_spark.operators.graph import triangle_count

    # K4 has exactly 4 triangles
    k4 = _edges(spark, [(a, b) for a in range(4) for b in range(a + 1, 4)])
    row = triangle_count(k4).collect()[0]
    assert (row.n_edges, row.n_triangles) == (6, 4)

    # a star (hub + 50 leaves) has many wedges but ZERO triangles —
    # the case where unoriented wedge counting explodes at the hub
    star = _edges(spark, [(0, i) for i in range(1, 51)])
    row = triangle_count(star).collect()[0]
    assert (row.n_edges, row.n_triangles) == (50, 0)

    # star + one leaf-leaf edge closes exactly one triangle
    star_plus = _edges(spark, [(0, i) for i in range(1, 51)] + [(1, 2)])
    assert triangle_count(star_plus).collect()[0].n_triangles == 1


def test_triangle_orientation_matches_unoriented_join(spark):
    # pseudo-random graph: orientation must be count-preserving vs the
    # naive 3-way join (the oracle's formulation)
    from libmr_spark.operators.graph import triangle_count

    n, m = 60, 400
    raw = spark.range(m).select(
        (F.hash(F.col("id")) % n).alias("a"),
        (F.hash(F.col("id") * 7 + 3) % n).alias("b"),
    ).select(F.abs("a").alias("a"), F.abs("b").alias("b")).filter("a <> b")
    edges = raw.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    got = triangle_count(edges).collect()[0].n_triangles
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    want = (
        e1.join(e2, (F.col("e2.u") == F.col("e1.u")) & (F.col("e1.v") < F.col("e2.v")))
        .join(e3, (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")))
        .count()
    )
    assert got == want and want > 0


# ------------------------------------------------------------------
# Interval overlap join
# ------------------------------------------------------------------


def test_interval_overlap_matches_theta_join(spark):
    # intervals spanning multiple hour buckets, touching endpoints, and
    # disjoint gaps; bucketed result must equal the unblocked theta join
    from libmr_spark.operators.relational import interval_overlap_join

    rows = [
        (1, "2024-01-01 00:10:00", "2024-01-01 03:20:00"),
        (2, "2024-01-01 03:20:00", "2024-01-01 04:00:00"),  # touches 1
        (3, "2024-01-01 05:00:00", "2024-01-01 05:30:00"),  # disjoint
        (4, "2024-01-01 00:00:00", "2024-01-01 23:59:59"),  # spans all
        (5, "2024-01-02 10:00:00", "2024-01-02 10:00:00"),  # point
    ]
    iv = spark.createDataFrame(rows, "id long, st string, en string").select(
        "id", F.to_timestamp("st").alias("st"), F.to_timestamp("en").alias("en")
    )
    pairs, _ = interval_overlap_join(
        iv, "st", "en", pair_filter=lambda a, b: F.col("a.id") < F.col("b.id")
    )
    got = sorted((r.a_id, r.b_id) for r in pairs.collect())
    a, b = iv.alias("x"), iv.alias("y")
    want = sorted(
        (r[0], r[1])
        for r in a.join(
            b,
            (F.col("x.st") <= F.col("y.en"))
            & (F.col("y.st") <= F.col("x.en"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id"), F.col("y.id"))
        .collect()
    )
    assert got == want == [(1, 2), (1, 4), (2, 4), (3, 4)]


def test_interval_overlap_rejects_unaligned_bucket(spark):
    from libmr_spark.operators.relational import interval_overlap_join

    iv = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "id long, st string, en string",
    ).select("id", F.to_timestamp("st").alias("st"), F.to_timestamp("en").alias("en"))
    with pytest.raises(ValueError, match="hour/day/week"):
        interval_overlap_join(iv, "st", "en", bucket="90 minutes")


# ------------------------------------------------------------------
# Mergeable histogram percentiles
# ------------------------------------------------------------------


def test_hist_percentiles_merge_invariance_and_error_bound(spark, sf_dir):
    # computing the query over any partitioning of the input is the
    # same because the partial is a SUM — pin by comparing the full
    # result to partials built from two disjoint halves; and each
    # estimate must sit within one bin width of the exact percentile
    from libmr_spark.queries_scale import _BIN_W, hist_percentiles_mergeable_q

    full = {
        r.event_type: r for r in hist_percentiles_mergeable_q(spark, sf_dir).collect()
    }
    from libmr_spark.sources.readers import load_table

    e = load_table(spark, "events", sf_dir)
    # the estimate implements percentile_disc semantics (value at rank
    # ceil(p*n)), so the bin-width error bound is stated against
    # percentile_disc — the interpolating percentile() can sit a whole
    # sparse-tail gap away from ANY rank-based definition
    for p, col in [(0.5, "p50_est"), (0.9, "p90_est"), (0.99, "p99_est")]:
        exact = {
            r.event_type: r.x
            for r in e.groupBy("event_type")
            .agg(
                F.expr(
                    f"percentile_disc({p}) WITHIN GROUP (ORDER BY value)"
                ).alias("x")
            )
            .collect()
        }
        for et, row in full.items():
            est = getattr(row, col)
            assert 0 <= est - exact[et] <= _BIN_W, (et, col, est, exact[et])


# ------------------------------------------------------------------
# HLL sketch rollup
# ------------------------------------------------------------------


def test_hll_partials_merge_transparently(spark, sf_dir):
    # sketch-of-union == union-of-sketches (the mergeability contract),
    # and in the documented exact regime (< ~2^14/4 distinct) both
    # equal the exact distinct count
    from libmr_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, "events", sf_dir)
    flat = e.agg(F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").alias("x")).collect()[0].x
    merged = (
        e.groupBy(F.dayofmonth("ts").alias("d"))
        .agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("x"))
        .collect()[0]
        .x
    )
    exact = e.agg(F.countDistinct("user_id").alias("x")).collect()[0].x
    assert flat == merged == exact


# ------------------------------------------------------------------
# Curriculum assignment
# ------------------------------------------------------------------


def test_curriculum_deciles_are_balanced_and_ordered(spark, sf_dir):
    from libmr_spark.queries_scale import curriculum_assignment_q

    rows = curriculum_assignment_q(spark, sf_dir).collect()
    n = len(rows)
    sizes = {}
    for r in rows:
        sizes[r.decile] = sizes.get(r.decile, 0) + 1
    # every decile within bin-granularity of n/10 (bins never split)
    assert set(sizes) <= set(range(10))
    assert all(abs(c - n / 10) < n * 0.05 + 5 for c in sizes.values()), sizes
    # decile order tracks quality order: max quality of decile k is <=
    # min quality of decile k+2 (adjacent deciles may share one bin)
    by_d = {}
    for r in rows:
        by_d.setdefault(r.decile, []).append(r.quality)
    ds = sorted(by_d)
    for lo, hi in zip(ds, ds[2:]):
        assert max(by_d[lo]) <= min(by_d[hi])


# ------------------------------------------------------------------
# Runtime bloom-filter join
# ------------------------------------------------------------------


def test_runtime_bloom_plan_shape(spark, sf_dir):
    # under the production size regime (big fact scan, shuffle join),
    # the optimizer must build a bloom of the filtered dim keys and
    # inject might_contain into the fact side
    from libmr_spark.sources.readers import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, "lineitem", sf_dir)
        o = load_table(spark, "orders", sf_dir).filter(
            "o_orderpriority = '1-URGENT'"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_linestatus").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloomfilter" in plan or "might_contain" in plan, plan[:1500]
    finally:
        for k, v in prev.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


# ------------------------------------------------------------------
# Snapshot diff
# ------------------------------------------------------------------


def test_snapshot_diff_roundtrips(spark, sf_dir):
    # the CDC contract: applying diff(v1, v2) to v1 reproduces v2
    from libmr_spark.queries_scale import snapshot_diff_orders_q
    from libmr_spark.sources.readers import load_table

    diff = snapshot_diff_orders_q(spark, sf_dir)
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderstatus")
    deletes = {r.o_orderkey for r in diff.filter("change_type = 'delete'").collect()}
    upserts = {
        r.o_orderkey: r.new_status
        for r in diff.filter("change_type != 'delete'").collect()
    }
    v1 = {r.o_orderkey: r.o_orderstatus for r in o.collect()}
    applied = {k: v for k, v in v1.items() if k not in deletes}
    applied.update(upserts)

    # independently rebuild v2 by the same rules the query synthesizes
    want = {
        k: ("X" if k % 13 == 0 else v) for k, v in v1.items() if k % 11 != 0
    }
    want.update({k + 50_000_000: "N" for k in v1 if k % 17 == 0})
    assert applied == want
    assert deletes and upserts  # scenario exercises every change type


# ------------------------------------------------------------------
# Empty-input behavior (the first thing a scheduled 100 TB pipeline
# hits on a quiet partition)
# ------------------------------------------------------------------


def test_operators_handle_empty_input(spark):
    from libmr_spark.operators.graph import triangle_count
    from libmr_spark.operators.relational import interval_overlap_join
    from libmr_spark.operators.sketches import heavy_hitters, mg_candidates

    empty_edges = spark.createDataFrame([], "u long, v long")
    row = triangle_count(empty_edges).collect()[0]
    assert (row.n_edges, row.n_triangles) == (0, 0)

    empty_iv = spark.createDataFrame([], "id long, st timestamp, en timestamp")
    pairs, _ = interval_overlap_join(
        empty_iv, "st", "en", pair_filter=lambda a, b: F.col("a.id") < F.col("b.id")
    )
    assert pairs.count() == 0

    empty_keys = spark.createDataFrame([], "k long")
    assert mg_candidates(empty_keys, "k", capacity=8).count() == 0
    assert heavy_hitters(empty_keys, "k", 5, 8).count() == 0


# ------------------------------------------------------------------
# Incremental dedup
# ------------------------------------------------------------------


def test_incremental_dedup_admits_only_new_fingerprints(spark, sf_dir, tmp_path):
    # batch 2 re-sends half of batch 1 plus fresh docs: only the fresh
    # fingerprints are admitted, and the history grows append-only
    from libmr_spark.operators.dedup import dedup_incremental_exact
    from libmr_spark.sources.readers import load_table

    path = str(tmp_path / "fp_hist")
    d = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    b1 = d.filter("doc_id < 60")
    n1 = dedup_incremental_exact(spark, path, b1).count()
    assert n1 > 0

    b2 = d.filter("doc_id >= 30 AND doc_id < 120")  # 30-59 are replays
    admitted = dedup_incremental_exact(spark, path, b2)
    fresh_expected = (
        d.filter("doc_id >= 60 AND doc_id < 120")
        .join(b1, "text", "left_anti")  # exclude exact-text replays
        .count()
    )
    # every admitted doc is from the fresh id range (replays rejected)
    assert admitted.filter("doc_id < 60").count() == 0
    assert admitted.count() <= fresh_expected
    # replaying batch 2 in full admits nothing
    assert dedup_incremental_exact(spark, path, b2).count() == 0


# ------------------------------------------------------------------
# Randomized cross-checks (seeded, one Spark job per scenario)
# ------------------------------------------------------------------


def test_interval_overlap_randomized_vs_theta(spark):
    import datetime
    import random

    from libmr_spark.operators.relational import interval_overlap_join

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        t0 = datetime.datetime(2024, 3, 1)
        rows = []
        for i in range(120):
            start = t0 + datetime.timedelta(minutes=rng.randrange(0, 5000))
            end = start + datetime.timedelta(minutes=rng.randrange(0, 600))
            rows.append((i, start, end))
        iv = spark.createDataFrame(rows, "id long, st timestamp, en timestamp")
        pairs, _ = interval_overlap_join(
            iv, "st", "en", pair_filter=lambda a, b: F.col("a.id") < F.col("b.id")
        )
        got = sorted((r.a_id, r.b_id) for r in pairs.collect())
        want = sorted(
            (a_id, b_id)
            for a_id, a_st, a_en in rows
            for b_id, b_st, b_en in rows
            if a_id < b_id and a_st <= b_en and b_st <= a_en
        )
        assert got == want, f"seed={seed}"


def test_mg_bound_randomized_zipf(spark):
    # zipf-ish stream: every key with freq > n/(cap+1) must be a
    # candidate, for several random layouts and partitionings
    import random

    from libmr_spark.operators.sketches import mg_candidates

    for seed, cap, parts in ((3, 16, 4), (11, 8, 8), (29, 32, 2)):
        rng = random.Random(seed)
        vals = []
        for k in range(200):
            freq = max(1, int(2000 / (k + 1)))
            vals += [k] * freq
        rng.shuffle(vals)
        df = spark.createDataFrame([(v,) for v in vals], "k long").repartition(parts)
        cand = {r.k for r in mg_candidates(df, "k", capacity=cap).collect()}
        n = len(vals)
        from collections import Counter

        counts = Counter(vals)
        guaranteed = {k for k, c in counts.items() if c > n / (cap + 1)}
        assert guaranteed <= cand, f"seed={seed}: missing {guaranteed - cand}"
        assert len(cand) <= cap * parts


def test_store_lifecycle_random_interleaving_matches_model(spark, tmp_path):
    # seeded randomized cross-check of the exact-fp store lifecycle:
    # a random interleaving of ingest / compact / delete is replayed
    # against a pure-python model (dict fp -> doc_id, with hashlib
    # computing the SAME fingerprint as the Spark-side md5 pipeline);
    # after every operation the store's live content must equal the
    # model exactly.
    import hashlib
    import json
    import os
    import random
    import re

    from libmr_spark.core import store as ST
    from libmr_spark.operators import dedup as DD

    def py_fp(text: str) -> str:
        return hashlib.md5(re.sub(r"\s+", " ", text.strip().lower()).encode()).hexdigest()

    docs = {i: f"Unique Text {i} payload {i * 7} tail{i % 13}" for i in range(120)}
    store = str(tmp_path / "fp_model_store")
    model: dict = {}  # fp -> admitted doc_id
    rng = random.Random(42)

    def live_rows():
        tags = ST._manifest_read(os.path.join(store, "_BATCHES"), None)
        if not tags:
            return set()
        df = spark.read.parquet(
            *[os.path.join(store, "fps", f"batch={t}") for t in tags]
        )
        return {(r.fp, r.doc_id) for r in df.collect()}

    ops = []
    for step in range(12):
        op = rng.choice(["ingest", "ingest", "ingest", "compact", "delete"])
        ops.append(op)
        if op == "ingest":
            ids = rng.sample(sorted(docs), rng.randint(1, 30))
            batch = spark.createDataFrame(
                [(i, docs[i]) for i in ids], "doc_id long, text string"
            )
            admitted = {
                r.doc_id
                for r in DD.dedup_incremental_exact(spark, store, batch).collect()
            }
            expect = {i for i in ids if py_fp(docs[i]) not in model}
            assert admitted == expect, (step, op)
            for i in expect:
                model[py_fp(docs[i])] = i
        elif op == "compact":
            DD.compact_incremental_store(spark, store, tables=("fps",))
        else:  # delete
            stored_ids = sorted(model.values())
            if not stored_ids:
                continue
            victims = rng.sample(stored_ids, rng.randint(1, min(10, len(stored_ids))))
            n = DD.delete_from_incremental_store(
                spark, store, victims, tables=("fps",)
            )
            assert n == len(victims), (step, op)
            model = {fp: i for fp, i in model.items() if i not in victims}
        assert live_rows() == {(fp, i) for fp, i in model.items()}, (step, op)

    assert "delete" in ops and "compact" in ops  # the schedule exercised all ops
    # manifest stays parseable and params survive every rewrite
    m = json.load(open(os.path.join(store, "_BATCHES")))
    assert m["params"] == {"kind": "exact-fp"}


def test_ann_store_random_interleaving_matches_model(spark, tmp_path):
    # seeded randomized cross-check of the ANN store's FULL lifecycle —
    # ingest / retrain / delete / compact interleaved, the store served
    # after every op — against a pure-python model. The model replays
    # exact Lloyd with driver-side integer arithmetic (probe_cells_exact
    # is the shared rational-cost ranking; the store's assignment runs
    # through the numpy UDF — two independent code paths must agree),
    # so a retrain racing the serving contract, a stale centroids
    # pointer, or a delete leaking into a probe would all diverge.
    import json
    import os
    import random

    from libmr_spark.operators.dedup import (
        compact_incremental_store,
        delete_from_incremental_store,
    )
    from libmr_spark.operators.retrieval import (
        _centroids_read,
        ann_index_ingest,
        ann_index_retrain,
        ann_index_topk,
    )
    from libmr_spark.operators.similarity import probe_cells_exact
    from libmr_spark.sources.readers import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    # quantize ONCE through the same Spark expression the store uses;
    # the model then works in pure ints (quantization parity is pinned
    # elsewhere — this test targets the lifecycle protocol)
    V = {
        r.vec_id: [int(x) for x in r.v]
        for r in emb.select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * 1e6, 0).cast("long"),
            ).alias("v"),
        ).collect()
    }
    all_ids = sorted(V)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qv = {i: V[i] for i in range(3)}

    def py_assign(vi, cents):
        return probe_cells_exact(vi, cents, 1)[0]

    def py_lloyd(ids, k, rounds):
        init = sorted(ids)[:k]
        assert len(init) == k
        cents = [(list(V[i]), 1) for i in init]
        for _ in range(rounds):
            sums = {}
            counts = {}
            for i in ids:
                c = py_assign(V[i], cents)
                counts[c] = counts.get(c, 0) + 1
                s = sums.setdefault(c, [0] * len(V[i]))
                for p, x in enumerate(V[i]):
                    s[p] += x
            cents = [
                (sums[c], counts[c]) if c in counts else cents[c]
                for c in range(k)
            ]
        return cents

    store = str(tmp_path / "ann_model_store")
    model: dict = {}  # vec_id -> cid
    cents: list = []
    k_now = 8
    rng = random.Random(7)

    def check(step, op):
        manifest = os.path.join(store, "_BATCHES")
        tags = json.load(open(manifest))["batches"]
        assert _centroids_read(store) == cents, (step, op)
        live = {
            (r.vec_id, tuple(r.v), r.cid)
            for r in spark.read.parquet(
                *[os.path.join(store, "cells", f"batch={t}") for t in tags]
            ).collect()
        }
        want = {(i, tuple(V[i]), model[i]) for i in model}
        assert live == want, (step, op)
        if not model:
            return
        got = {
            (r.query_id, r.rank, r.vec_id, r.dist)
            for r in ann_index_topk(spark, store, queries, nprobe=2, k=5).collect()
        }
        expect = set()
        for q, qvec in qv.items():
            probed = set(probe_cells_exact(qvec, cents, 2))
            cand = sorted(
                (
                    sum((a - b) * (a - b) for a, b in zip(V[i], qvec)),
                    i,
                )
                for i in model
                if model[i] in probed
            )
            for rank, (dist, i) in enumerate(cand[:5], start=1):
                expect.add((q, rank, i, dist))
        assert got == expect, (step, op)

    ops = []
    for step in range(10):
        op = rng.choice(["ingest", "ingest", "ingest", "retrain", "delete", "compact"])
        if not model and op != "ingest":
            op = "ingest"
        ops.append(op)
        if op == "ingest":
            n = rng.randint(16, 60) if not model else rng.randint(1, 60)
            ids = rng.sample(all_ids, n)
            batch = emb.filter(F.col("vec_id").isin(ids))
            admitted = {
                r.vec_id
                for r in ann_index_ingest(spark, store, batch, k_cells=8).collect()
            }
            new = {i for i in ids if i not in model}
            assert admitted == new, (step, op)
            if not cents:  # bootstrap trained on this batch
                cents = py_lloyd(ids, 8, 2)
                k_now = 8
            for i in new:
                model[i] = py_assign(V[i], cents)
        elif op == "retrain":
            k_now = rng.choice([4, 8])
            got_cents = ann_index_retrain(spark, store, k_cells=k_now)
            cents = py_lloyd(sorted(model), k_now, 2)
            assert got_cents == cents, (step, op)
            model = {i: py_assign(V[i], cents) for i in model}
        elif op == "delete":
            victims = rng.sample(sorted(model), rng.randint(1, min(20, len(model))))
            ndel = delete_from_incremental_store(
                spark, store, victims, id_col="vec_id", tables=("cells",)
            )
            assert ndel == len(victims), (step, op)
            for i in victims:
                del model[i]
        else:  # compact
            compact_incremental_store(
                spark, store, tables=("cells",), cluster_by={"cells": ["cid"]}
            )
        check(step, op)

    assert "retrain" in ops and "delete" in ops  # schedule exercised the hard ops


@pytest.mark.slow  # r12: excluded from the driver verify budget (see conftest)
def test_hybrid_store_random_interleaving_matches_model(spark, tmp_path):
    # seeded randomized cross-check of the hybrid store's lifecycle —
    # multi-table ingest / takedown / compact interleaved, the store
    # served after every op — against (a) a pure-python membership
    # model for every one of the four tables, and (b) a FROM-SCRATCH
    # hybrid store rebuilt from the model's live docs, whose served
    # three-leg RRF must match the interleaved store's exactly. A
    # delete leaking postings, a compaction tearing one table ahead of
    # another, or an ingest double-admitting after takedown would all
    # diverge. (The ANN soak's protocol applied to the multi-table
    # transaction.)
    import os
    import random
    import shutil

    from libmr_spark.core.store import _manifest_read
    from libmr_spark.operators.dedup import (
        compact_incremental_store,
        delete_from_incremental_store,
    )
    from libmr_spark.operators.retrieval import (
        HYBRID_TABLES,
        hybrid_index_ingest,
        hybrid_index_rrf,
    )
    from libmr_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf).select("doc_id", "text")
    emb = load_table(spark, "embeddings", sf).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    de = docs.join(emb, "doc_id").localCheckpoint(eager=True)
    all_ids = sorted(r.doc_id for r in de.select("doc_id").collect())

    qt = spark.createDataFrame(
        [(1, "hash"), (1, "join"), (2, "vector"), (2, "scan")],
        "query_id int, token string",
    )
    qv = emb.filter(F.col("doc_id").isin([1, 2])).select(
        F.col("doc_id").alias("query_id"), "embedding"
    ).localCheckpoint(eager=True)

    store = str(tmp_path / "hybrid_model_store")
    fresh = str(tmp_path / "hybrid_fresh")
    live: set = set()
    rng = random.Random(11)

    def table_ids(path, table):
        tags = _manifest_read(os.path.join(path, "_BATCHES"), None)
        df = spark.read.parquet(
            *[os.path.join(path, table, f"batch={t}") for t in tags]
        )
        return {r.doc_id for r in df.select("doc_id").distinct().collect()}

    def check(step, op):
        for t in HYBRID_TABLES:
            assert table_ids(store, t) == live, (step, op, t)
        shutil.rmtree(fresh, ignore_errors=True)
        hybrid_index_ingest(spark, fresh, de.filter(F.col("doc_id").isin(sorted(live))))
        got = {
            tuple(r)
            for r in hybrid_index_rrf(spark, store, qt, qv, shortlist=20, k=5).collect()
        }
        want = {
            tuple(r)
            for r in hybrid_index_rrf(spark, fresh, qt, qv, shortlist=20, k=5).collect()
        }
        assert got == want, (step, op)

    ops = []
    for step in range(8):
        op = rng.choice(["ingest", "ingest", "ingest", "delete", "compact"])
        if not live and op != "ingest":
            op = "ingest"
        ops.append(op)
        if op == "ingest":
            ids = rng.sample(all_ids, rng.randint(10, 80))
            admitted = {
                r.doc_id
                for r in hybrid_index_ingest(
                    spark, store, de.filter(F.col("doc_id").isin(ids))
                ).collect()
            }
            assert admitted == {i for i in ids if i not in live}, (step, op)
            live.update(ids)
        elif op == "delete":
            victims = rng.sample(sorted(live), rng.randint(1, min(25, len(live))))
            ndel = delete_from_incremental_store(
                spark, store, victims, id_col="doc_id", tables=HYBRID_TABLES
            )
            assert ndel == len(victims), (step, op)
            live.difference_update(victims)
        else:
            compact_incremental_store(
                spark, store, tables=HYBRID_TABLES,
                cluster_by={"postings": ["token"]},
            )
        check(step, op)

    assert "delete" in ops and "compact" in ops
