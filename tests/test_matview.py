"""Join-MV store protocol pins (operators/matview.py): Z-set
delta-join exactness under replay / both-side delete / compaction /
time travel / takedown — the store-family contracts applied to
incremental view maintenance."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from libmr_spark.operators.matview import (
    MATVIEW_TABLES,
    compact_matview_store,
    matview_agg,
    matview_ingest,
    matview_read,
    matview_takedown,
)


def _mk(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def _left(spark, rows):  # (k, lv, m)
    return _mk(spark, rows, ["k", "lv", "m"])


def _right(spark, rows):  # (k, rv, m)
    return _mk(spark, rows, ["k", "rv", "m"])


def _served(spark, path, **kw):
    return {
        (r.k, r.lv, r.rv, r.mult)
        for r in matview_read(spark, path, **kw).collect()
    }


def _store(tmp_path, name):
    return str(tmp_path / name)


def test_matview_bootstrap_and_cross_batch_partners(spark, tmp_path):
    p = _store(tmp_path, "mv1")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1), (2, "b", 1)]),
        _right(spark, [(1, "x", 1)]),
        on="k",
    )
    assert _served(spark, p) == {(1, "a", "x", 1)}
    # a right-only delta must join with the ACCUMULATED left state
    matview_ingest(
        spark, p, right_delta=_right(spark, [(2, "y", 1), (3, "z", 1)]), on="k"
    )
    assert _served(spark, p) == {(1, "a", "x", 1), (2, "b", "y", 1)}


def test_matview_replay_admits_nothing(spark, tmp_path):
    p = _store(tmp_path, "mv2")
    b = _left(spark, [(1, "a", 1)])
    r = _right(spark, [(1, "x", 1)])
    matview_ingest(spark, p, b, r, on="k")
    before = _served(spark, p)
    matview_ingest(spark, p, left_delta=b, on="k")
    matview_ingest(spark, p, right_delta=r, on="k")
    assert _served(spark, p) == before == {(1, "a", "x", 1)}


def test_matview_delete_never_inserted_is_noop(spark, tmp_path):
    p = _store(tmp_path, "mv3")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1)]),
        _right(spark, [(1, "x", 1)]),
        on="k",
    )
    matview_ingest(spark, p, left_delta=_left(spark, [(9, "q", -1)]), on="k")
    assert _served(spark, p) == {(1, "a", "x", 1)}


def test_matview_simultaneous_both_side_delete_inclusion_exclusion(
    spark, tmp_path
):
    # deleting a matching pair in ONE batch: ΔA⋈B and A⋈ΔB each
    # subtract the pair, ΔA⋈ΔB ((-1)·(-1)=+1) adds it back — net -1
    p = _store(tmp_path, "mv4")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1), (2, "b", 1)]),
        _right(spark, [(1, "x", 1), (2, "y", 1)]),
        on="k",
    )
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", -1)]),
        _right(spark, [(1, "x", -1)]),
        on="k",
    )
    assert _served(spark, p) == {(2, "b", "y", 1)}


def test_matview_time_travel_and_out_of_range(spark, tmp_path):
    p = _store(tmp_path, "mv5")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1)]),
        _right(spark, [(1, "x", 1)]),
        on="k",
    )
    matview_ingest(spark, p, left_delta=_left(spark, [(1, "a", -1)]), on="k")
    assert _served(spark, p) == set()
    assert _served(spark, p, as_of_batches=1) == {(1, "a", "x", 1)}
    with pytest.raises(ValueError, match="out of range"):
        matview_read(spark, p, as_of_batches=3)


def test_matview_compaction_invariant_and_single_batch(spark, tmp_path):
    p = _store(tmp_path, "mv6")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1), (2, "b", 1)]),
        _right(spark, [(1, "x", 1), (2, "y", 1)]),
        on="k",
    )
    matview_ingest(spark, p, left_delta=_left(spark, [(2, "b", -1)]), on="k")
    before = _served(spark, p)
    assert compact_matview_store(spark, p)  # rewrote >=2 batches
    assert _served(spark, p) == before == {(1, "a", "x", 1)}
    for t in MATVIEW_TABLES:
        dirs = [d for d in os.listdir(os.path.join(p, t)) if d.startswith("batch=")]
        assert len(dirs) == 1, (t, dirs)


def test_matview_takedown_removes_bytes_everywhere(spark, tmp_path):
    p = _store(tmp_path, "mv7")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1), (2, "b", 1)]),
        _right(spark, [(1, "x", 1), (2, "y", 1)]),
        on="k",
    )
    victims = spark.createDataFrame([(1,)], ["k"])
    matview_takedown(spark, p, victims, id_col="k")
    assert _served(spark, p) == {(2, "b", "y", 1)}
    # bytes gone from every table, not just the served view
    for t in MATVIEW_TABLES:
        remaining = spark.read.parquet(os.path.join(p, t, "batch=*"))
        assert remaining.filter(F.col("k") == 1).count() == 0, t


def test_matview_agg_equals_agg_over_net_view(spark, tmp_path):
    p = _store(tmp_path, "mv8")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1), (2, "a", 1), (3, "b", 1)]),
        _right(
            spark, [(1, 10.0, 1), (2, 20.0, 1), (3, 40.0, 1)]
        ).toDF("k", "rv", "m"),
        on="k",
    )
    matview_ingest(
        spark,
        p,
        _left(spark, [(2, "a", -1)]),
        _right(spark, [(2, 20.0, -1)]).toDF("k", "rv", "m"),
        on="k",
    )
    got = {
        (r.lv, r.total, r.n_rows)
        for r in matview_agg(
            spark, p, ["lv"], F.col("rv"), alias="total"
        ).collect()
    }
    net = matview_read(spark, p)
    want = {
        (r.lv, r.total, r.n_rows)
        for r in net.groupBy("lv")
        .agg(
            F.sum(F.col("rv") * F.col("mult")).alias("total"),
            F.sum("mult").alias("n_rows"),
        )
        .collect()
    }
    assert got == want == {("a", 10.0, 1), ("b", 40.0, 1)}


def test_matview_bootstrap_requires_both_sides(spark, tmp_path):
    p = _store(tmp_path, "mv9")
    with pytest.raises(ValueError, match="bootstrap"):
        matview_ingest(spark, p, left_delta=_left(spark, [(1, "a", 1)]), on="k")
    with pytest.raises(ValueError, match="no delta"):
        matview_ingest(spark, p, on="k")


def test_matview_policy_compaction_and_snapshot_pin(spark, tmp_path):
    # fleet parity for the new family: the policy pass compacts a
    # matview store through its own rewrite, a registered snapshot pin
    # BLOCKS that compaction (retention precedence), and takedown
    # ignores the pin (right-to-be-forgotten precedence)
    from libmr_spark.operators.policy import apply_maintenance_policy
    from libmr_spark.operators.snapshot import (
        fleet_snapshot,
        register_snapshot,
        release_snapshot,
        snapshot_batches,
    )

    p = _store(tmp_path, "mv_pol")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1), (2, "b", 1)]),
        _right(spark, [(1, "x", 1), (2, "y", 1)]),
        on="k",
    )
    matview_ingest(spark, p, left_delta=_left(spark, [(3, "c", 1)]), on="k")
    before = _served(spark, p)

    snap = fleet_snapshot({"mv": p})
    assert snapshot_batches(snap, "mv") == 2
    # pinned read serves the snapshot prefix even after a later commit
    matview_ingest(spark, p, right_delta=_right(spark, [(3, "z", 1)]), on="k")
    assert _served(spark, p, as_of_batches=snapshot_batches(snap, "mv")) == before

    register_snapshot(snap, "mv-run-1")
    policy = [{"metric": "n_dirs", "op": ">", "threshold": 1, "action": "compact"}]
    stores = {"mv": ("matview", p)}
    with pytest.raises(ValueError, match="snapshot"):
        apply_maintenance_policy(spark, policy, stores)

    # takedown beats the pin; the pinned prefix is then out of range
    matview_takedown(spark, p, spark.createDataFrame([(1,)], ["k"]), id_col="k")
    with pytest.raises(ValueError, match="out of range"):
        matview_read(spark, p, as_of_batches=snapshot_batches(snap, "mv"))
    release_snapshot(snap, "mv-run-1")

    # rebuild the multi-commit state: policy compaction now fires
    matview_ingest(spark, p, left_delta=_left(spark, [(4, "d", 1)]), on="k")
    matview_ingest(spark, p, right_delta=_right(spark, [(4, "w", 1)]), on="k")
    served = _served(spark, p)
    audit = apply_maintenance_policy(spark, policy, stores).collect()
    assert len(audit) == 1 and audit[0].executed is True and audit[0].result > 0
    assert _served(spark, p) == served
    # re-run: compacted store no longer matches the rule
    assert apply_maintenance_policy(spark, policy, stores).count() == 0


def test_matview_integrity_detects_corruption(spark, tmp_path):
    # healthy store: zero mismatch; a part file smuggled into a view
    # batch dir (bypassing ingest) must surface as mismatch_rows > 0
    from libmr_spark.operators.matview import matview_integrity

    p = _store(tmp_path, "mv_fsck")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1), (2, "b", 1)]),
        _right(spark, [(1, "x", 1), (2, "y", 1)]),
        on="k",
    )
    matview_ingest(spark, p, left_delta=_left(spark, [(2, "b", -1)]), on="k")
    ok = matview_integrity(spark, p).collect()[0]
    assert (
        ok.left_net_rows,
        ok.right_net_rows,
        ok.view_rows,
        ok.recomputed_rows,
        ok.mismatch_rows,
    ) == (1, 2, 1, 1, 0)

    tagdir = sorted(
        d
        for d in os.listdir(os.path.join(p, "view"))
        if d.startswith("batch=")
    )[0]
    spark.createDataFrame([(9, "zz", "qq", 1)], ["k", "lv", "rv", "mult"]).coalesce(
        1
    ).write.mode("append").parquet(os.path.join(p, "view", tagdir))
    bad = matview_integrity(spark, p).collect()[0]
    assert bad.mismatch_rows > 0 and bad.view_rows == 2


def test_matview_outer_serve_flips_on_match_count_zero(spark, tmp_path):
    # the outer-join IVM hard case: deleting a left row's LAST match
    # must move it from the inner view to the null-extended leg on
    # the same commit; re-inserting a match moves it back
    from libmr_spark.operators.matview import matview_read_outer

    p = _store(tmp_path, "mv_outer")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1), (2, "b", 1)]),
        _right(spark, [(1, "x", 1)]),
        on="k",
    )

    def outer():
        return {
            (r.k, r.lv, r.rv, r.mult)
            for r in matview_read_outer(spark, p).collect()
        }

    assert outer() == {(1, "a", "x", 1), (2, "b", None, 1)}
    matview_ingest(spark, p, right_delta=_right(spark, [(1, "x", -1)]), on="k")
    assert outer() == {(1, "a", None, 1), (2, "b", None, 1)}
    matview_ingest(spark, p, right_delta=_right(spark, [(2, "y", 1)]), on="k")
    assert outer() == {(1, "a", None, 1), (2, "b", "y", 1)}


def test_matview_ingest_serializes_on_store_lock(spark, tmp_path):
    # commits must linearize (the delta-join rule is only exact
    # against the committed pre-state): with the _INGEST lock held by
    # another "writer", an ingest must time out rather than race
    from libmr_spark.core.store import _manifest_lock

    p = _store(tmp_path, "mv_lock")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1)]),
        _right(spark, [(1, "x", 1)]),
        on="k",
    )
    with _manifest_lock(os.path.join(p, "_INGEST"), timeout_s=5.0):
        with pytest.raises(TimeoutError):
            matview_ingest(
                spark,
                p,
                left_delta=_left(spark, [(2, "b", 1)]),
                on="k",
                lock_timeout_s=1.0,
            )
    # lock released: the same ingest now commits
    matview_ingest(
        spark, p, left_delta=_left(spark, [(2, "b", 1)]), on="k"
    )
    assert _served(spark, p) == {(1, "a", "x", 1)}


def test_matview_change_feed_slices_and_raises(spark, tmp_path):
    # state(k) − state(j) equals the net of batches j+1..k; both
    # polarities surface; out-of-range slice raises; from genesis
    # equals the as-of state
    from libmr_spark.operators.matview import matview_changes

    p = _store(tmp_path, "mv_cdf")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1), (2, "b", 1)]),
        _right(spark, [(1, "x", 1)]),
        on="k",
    )
    matview_ingest(spark, p, right_delta=_right(spark, [(2, "y", 1)]), on="k")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", -1)]),
        _right(spark, [(1, "x", -1)]),
        on="k",
    )

    def feed(f, t=None):
        return {
            (r.k, r.lv, r.rv, r.mult_delta)
            for r in matview_changes(spark, p, f, t).collect()
        }

    assert feed(1, 3) == {(2, "b", "y", 1), (1, "a", "x", -1)}
    assert feed(2, 3) == {(1, "a", "x", -1)}
    # added-then-deleted inside the slice nets to zero rows for key 1
    assert feed(0, 3) == {(2, "b", "y", 1)}
    assert feed(3, 3) == set()
    with pytest.raises(ValueError, match="out of range"):
        matview_changes(spark, p, from_batches=4)
    with pytest.raises(ValueError, match="out of range"):
        matview_changes(spark, p, from_batches=0, to_batches=9)


def test_matview_full_outer_both_legs(spark, tmp_path):
    from libmr_spark.operators.matview import matview_read_full_outer

    p = _store(tmp_path, "mv_fo")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1), (2, "b", 1)]),
        _right(spark, [(1, "x", 1), (3, "z", 1)]),
        on="k",
    )
    got = {
        (r.k, r.lv, r.rv, r.mult)
        for r in matview_read_full_outer(spark, p).collect()
    }
    assert got == {(1, "a", "x", 1), (2, "b", None, 1), (3, None, "z", 1)}


def test_matview_schema_evolution_null_safe(spark, tmp_path):
    # a later commit introduces a column: old rows read null-filled,
    # an OLD-SCHEMA delete (the CDC row as originally written) still
    # matches its store row null-safely, replay stays a no-op, and
    # compaction folds the evolved history without losing the column
    p = _store(tmp_path, "mv_evo")
    b1 = _mk(spark, [(1, "a", 1), (2, "b", 1)], ["k", "lv", "m"])
    matview_ingest(spark, p, b1, _right(spark, [(1, "x", 1), (2, "y", 1)]), on="k")
    # evolved batch adds lv2
    matview_ingest(
        spark,
        p,
        left_delta=_mk(spark, [(3, "c", "C", 1)], ["k", "lv", "lv2", "m"]),
        on="k",
    )
    matview_ingest(spark, p, right_delta=_right(spark, [(3, "z", 1)]), on="k")

    def served():
        return {
            (r.k, r.lv, r.lv2, r.rv, r.mult)
            for r in matview_read(spark, p).collect()
        }

    assert served() == {
        (1, "a", None, "x", 1),
        (2, "b", None, "y", 1),
        (3, "c", "C", "z", 1),
    }
    # old-schema replay: no-op
    matview_ingest(spark, p, left_delta=b1, on="k")
    assert served() == {
        (1, "a", None, "x", 1),
        (2, "b", None, "y", 1),
        (3, "c", "C", "z", 1),
    }
    # old-schema delete retracts the null-filled row null-safely
    matview_ingest(
        spark, p, left_delta=_mk(spark, [(1, "a", -1)], ["k", "lv", "m"]), on="k"
    )
    assert served() == {(2, "b", None, "y", 1), (3, "c", "C", "z", 1)}
    before = served()
    assert compact_matview_store(spark, p)
    assert served() == before


def test_decontamination_store_suite_retirement(spark, tmp_path):
    # suite retirement must unflag docs hit ONLY by the retired suite
    # while docs also hit by a surviving suite stay flagged
    p = _store(tmp_path, "mv_decon")
    # shingle universe: s1 hits d1 only via suite a; s2 hits d2 via
    # both suites; s3 hits d3 via suite b only
    suites = _mk(
        spark,
        [(10, "a", 1), (20, "a", 1), (20, "b", 1), (30, "b", 1)],
        ["s", "suite", "m"],
    )
    train = _mk(
        spark,
        [(10, 1, 1), (20, 2, 1), (30, 3, 1), (99, 4, 1)],
        ["s", "doc_id", "m"],
    )
    matview_ingest(
        spark, p, suites.filter(F.col("suite") == "a"), train, on="s"
    )
    matview_ingest(
        spark, p, left_delta=suites.filter(F.col("suite") == "b"), on="s"
    )

    def flagged():
        return {
            r.doc_id
            for r in matview_read(spark, p).select("doc_id").distinct().collect()
        }

    assert flagged() == {1, 2, 3}
    matview_ingest(
        spark,
        p,
        left_delta=suites.filter(F.col("suite") == "a").withColumn(
            "m", F.lit(-1)
        ),
        on="s",
    )
    assert flagged() == {2, 3}  # d1 unflagged; d2 survives via suite b


def test_takedown_txlog_crash_recovery(spark, tmp_path):
    # coordinator 2PC-lite: intent -> idempotent family deletes ->
    # done marker. A simulated crash mid-fleet leaves one store
    # cleaned and one untouched; recovery replays the request to
    # completion with exactly-once effects, and a duplicate request
    # id returns the recorded audit without touching stores again.
    import libmr_spark.operators.dedup as DD
    from libmr_spark.operators.takedown import (
        recover_takedowns,
        takedown_with_txlog,
    )

    exact = _store(tmp_path, "tx_exact")
    DD.dedup_incremental_exact(
        spark,
        exact,
        spark.createDataFrame(
            [(i, f"doc {i} body") for i in range(8)], "doc_id long, text string"
        ),
    )
    mv = _store(tmp_path, "tx_mv")
    matview_ingest(
        spark,
        mv,
        spark.createDataFrame([(i, i % 2) for i in range(8)], ["doc_id", "odd"])
        .withColumn("m", F.lit(1)),
        spark.createDataFrame([(i, i * 10) for i in range(8)], ["doc_id", "val"])
        .withColumn("m", F.lit(1)),
        on="doc_id",
    )
    victims = spark.createDataFrame([(2,), (4,)], ["doc_id"])
    txlog = _store(tmp_path, "txlog")

    with pytest.raises(RuntimeError, match="simulated"):
        takedown_with_txlog(
            spark,
            txlog,
            victims,
            "req-1",
            _crash_after=1,
            table_stores={"exact": (exact, ("fps",))},
            matview_stores=[("mv", mv)],
        )
    # first family (table_stores) ran; matview untouched; no done marker
    assert os.path.exists(os.path.join(txlog, "req-1.intent"))
    assert not os.path.exists(os.path.join(txlog, "req-1.done"))
    mv_ids = {r.doc_id for r in matview_read(spark, mv).collect()}
    assert {2, 4} <= mv_ids  # the crash left the second store dirty

    recovered = recover_takedowns(spark, txlog)
    assert set(recovered) == {"req-1"}
    # completed store no-ops on replay, interrupted one finishes
    assert recovered["req-1"]["exact"] == 0  # already deleted pre-crash
    assert recovered["req-1"]["mv"] == 2
    assert not (
        {2, 4} & {r.doc_id for r in matview_read(spark, mv).collect()}
    )
    assert os.path.exists(os.path.join(txlog, "req-1.done"))
    # recovery is idempotent and a duplicate request returns the audit
    assert recover_takedowns(spark, txlog) == {}
    again = takedown_with_txlog(
        spark,
        txlog,
        victims,
        "req-1",
        table_stores={"exact": (exact, ("fps",))},
        matview_stores=[("mv", mv)],
    )
    assert again == recovered["req-1"]


@pytest.mark.slow  # r12: excluded from the driver verify budget (see conftest)
def test_matview_random_cdc_soak_matches_model(spark, tmp_path):
    # the store-soak protocol applied to the join MV: a seeded random
    # sequence of unit-CDC events (inserts, deletes, replays, no-op
    # deletes, one-sided and both-sided batches) over a small key
    # universe; after EVERY commit the served view must equal a pure-
    # python Z-set model, and the integrity audit must report zero
    # mismatch
    import random

    from libmr_spark.operators.matview import matview_integrity

    rng = random.Random(23)
    p = _store(tmp_path, "mv_soak")
    L, R = {}, {}  # model: row -> net multiplicity (0/1 under unit CDC)

    def model_view():
        out = {}
        for (lk, lv) in [k for k, m in L.items() if m > 0]:
            for (rk, rv) in [k for k, m in R.items() if m > 0]:
                if lk == rk:
                    out[(lk, lv, rv)] = 1
        return out

    def batch(side):
        # generate events, then apply them to the model the way the
        # STORE does: net the batch per row first, THEN admit against
        # the pre-batch state (an insert+delete of one row inside a
        # batch cancels; the model must not apply them sequentially)
        rows, n = [], rng.randint(1, 4)
        state = L if side == "l" else R
        for _ in range(n):
            k = rng.randint(1, 5)
            v = rng.choice("pq") if side == "l" else rng.choice("xy")
            want_delete = rng.random() < 0.4 and state.get((k, v), 0) > 0
            rows.append((k, v, -1 if want_delete else 1))
        nets = {}
        for k, v, m in rows:
            nets[(k, v)] = nets.get((k, v), 0) + m
        for key, dm in nets.items():
            pre = state.get(key, 0)
            if dm > 0 and pre <= 0:
                state[key] = 1
            elif dm < 0 and pre >= 1:
                state[key] = 0
        return rows

    cols = lambda side: ["k", "lv" if side == "l" else "rv", "m"]
    matview_ingest(
        spark,
        p,
        _mk(spark, batch("l"), cols("l")),
        _mk(spark, batch("r"), cols("r")),
        on="k",
    )
    for step in range(5):
        which = rng.choice(["l", "r", "both"])
        ld = _mk(spark, batch("l"), cols("l")) if which in ("l", "both") else None
        rd = _mk(spark, batch("r"), cols("r")) if which in ("r", "both") else None
        matview_ingest(spark, p, left_delta=ld, right_delta=rd, on="k")
        if step == 2:
            # compact mid-soak: subsequent commits take the
            # base-served-as-written pre-state path (_pre_parts) and
            # must keep matching the model exactly
            compact_matview_store(spark, p)
        got = {
            (r.k, r.lv, r.rv): r.mult for r in matview_read(spark, p).collect()
        }
        assert got == model_view(), f"diverged at step {step}"
    audit = matview_integrity(spark, p).collect()[0]
    assert audit.mismatch_rows == 0


@pytest.mark.slow  # r12: excluded from the driver verify budget (see conftest)
def test_matview_pre_parts_base_served_without_refold(spark, tmp_path):
    # the scale lever's structural pin: after compaction the leading
    # compact batch is served AS WRITTEN (a bare scan — no Aggregate in
    # its plan), and only the post-compaction ingest tail is net-folded
    from libmr_spark.core.store import _manifest_read
    from libmr_spark.operators.matview import _pre_parts

    p = _store(tmp_path, "mv_preparts")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1), (2, "b", 1)]),
        _right(spark, [(1, "x", 1), (2, "y", 1)]),
        on="k",
    )
    matview_ingest(spark, p, left_delta=_left(spark, [(3, "c", 1)]), on="k")
    compact_matview_store(spark, p)
    matview_ingest(spark, p, left_delta=_left(spark, [(4, "d", 1)]), on="k")

    tags = _manifest_read(os.path.join(p, "_BATCHES"), None)
    assert tags[0].startswith("compact-") and len(tags) == 2
    parts = _pre_parts(spark, p, "left", tags, "m")
    assert len(parts) == 2
    base_plan = parts[0]._jdf.queryExecution().optimizedPlan().toString()
    tail_plan = parts[1]._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in base_plan, base_plan
    assert "Aggregate" in tail_plan, tail_plan
    # the part sum equals the netted full state
    from libmr_spark.core.store import read_batches
    from libmr_spark.operators.matview import _net

    full = {
        (r.k, r.lv): r.m
        for r in _net(
            read_batches(spark, p, "left", tags, merge_schema=True), "m"
        ).collect()
    }
    summed = {}
    for part in parts:
        for r in part.collect():
            summed[(r.k, r.lv)] = summed.get((r.k, r.lv), 0) + r.m
    assert {k: v for k, v in summed.items() if v != 0} == full


def test_matview_integrity_on_evolved_store(spark, tmp_path):
    # the audit must hold on a schema-evolved store, where the view's
    # merged column order differs from the L+R-derived recompute order
    from libmr_spark.operators.matview import matview_integrity

    p = _store(tmp_path, "mv_fsck_evo")
    matview_ingest(
        spark,
        p,
        _mk(spark, [(1, "a", 1)], ["k", "lv", "m"]),
        _right(spark, [(1, "x", 1)]),
        on="k",
    )
    matview_ingest(
        spark,
        p,
        left_delta=_mk(spark, [(2, "b", "B", 1)], ["k", "lv", "lv2", "m"]),
        right_delta=_right(spark, [(2, "y", 1)]),
        on="k",
    )
    audit = matview_integrity(spark, p).collect()[0]
    assert audit.mismatch_rows == 0 and audit.view_rows == 2


def test_matview_zonemap_lookup_prunes_files(spark, tmp_path):
    # zone-mapped compaction: the lookup must open ONLY the part files
    # whose min/max covers the probe, and still serve exactly the
    # unpruned result; a post-compaction ingest (no zones yet)
    # contributes all its files without breaking exactness
    from libmr_spark.operators.matview import matview_lookup

    p = _store(tmp_path, "mv_zone")
    rows = [(k, f"l{k}", 1) for k in range(1, 101)]
    matview_ingest(
        spark,
        p,
        _mk(spark, rows, ["k", "lv", "m"]),
        _mk(spark, [(k, f"r{k}", 1) for k in range(1, 101)], ["k", "rv", "m"]),
        on="k",
    )
    matview_ingest(spark, p, left_delta=_left(spark, [(1, "l1", -1)]), on="k")
    compact_matview_store(spark, p, zone_by="k", n_files=8)

    looked = matview_lookup(spark, p, "k", 40, 45)
    opened = {f.split("/")[-1] for f in looked.inputFiles()}
    vdir = [
        d
        for d in os.listdir(os.path.join(p, "view"))
        if d.startswith("batch=")
    ]
    assert len(vdir) == 1
    total = [
        f
        for f in os.listdir(os.path.join(p, "view", vdir[0]))
        if f.endswith(".parquet")
    ]
    assert len(total) >= 6 and len(opened) < len(total), (opened, total)
    got = {(r.k, r.lv, r.rv, r.mult) for r in looked.collect()}
    assert got == {(k, f"l{k}", f"r{k}", 1) for k in range(40, 46)}

    # deleted row never resurfaces through a pruned path
    assert matview_lookup(spark, p, "k", 1).count() == 0
    # fresh unzoned ingest still serves exactly through the fallback
    matview_ingest(spark, p, left_delta=_left(spark, [(200, "x", 1)]), on="k")
    matview_ingest(spark, p, right_delta=_right(spark, [(200, "y", 1)]), on="k")
    assert {
        tuple(r) for r in matview_lookup(spark, p, "k", 200).collect()
    } == {(200, "x", "y", 1)}
    # a probe outside every zone and every unzoned dir returns empty
    assert matview_lookup(spark, p, "k", 10_000).count() == 0


@pytest.mark.slow  # r12: excluded from the driver verify budget (see conftest)
def test_matview_multi_view_shared_maintenance(spark, tmp_path):
    # two views over the same input pair maintained from ONE delta
    # computation per commit: a filtered view and a projected view
    # whose row-merging projection must SUM multiplicities; deletes
    # flow through both; changing the view set is refused loudly
    from libmr_spark.operators.matview import matview_multi_ingest

    p = _store(tmp_path, "mv_multi")
    views = {
        "v_odd": lambda dv: dv.filter(F.col("k") % 2 == 1),
        "v_proj": lambda dv: dv.select("lv", "mult"),
    }
    matview_multi_ingest(
        spark,
        p,
        views,
        _mk(spark, [(1, "a", 1), (2, "a", 1), (3, "b", 1)], ["k", "lv", "m"]),
        _right(spark, [(1, "x", 1), (2, "y", 1), (3, "z", 1)]),
        on="k",
    )

    def read(vt, cols):
        return {
            tuple(getattr(r, c) for c in cols)
            for r in matview_read(spark, p, view_table=vt).collect()
        }

    assert read("v_odd", ["k", "lv", "rv", "mult"]) == {
        (1, "a", "x", 1),
        (3, "b", "z", 1),
    }
    # the projection merged the two lv='a' rows: mult 2
    assert read("v_proj", ["lv", "mult"]) == {("a", 2), ("b", 1)}

    # a both-side delete propagates through both views in one commit
    matview_multi_ingest(
        spark,
        p,
        views,
        left_delta=_mk(spark, [(1, "a", -1)], ["k", "lv", "m"]),
        right_delta=_right(spark, [(1, "x", -1)]),
        on="k",
    )
    assert read("v_odd", ["k", "lv", "rv", "mult"]) == {(3, "b", "z", 1)}
    assert read("v_proj", ["lv", "mult"]) == {("a", 1), ("b", 1)}

    # the view SET is part of the store signature
    with pytest.raises(ValueError, match="parameter mismatch"):
        matview_multi_ingest(
            spark,
            p,
            {"v_odd": views["v_odd"]},
            left_delta=_mk(spark, [(5, "c", 1)], ["k", "lv", "m"]),
            on="k",
        )


def _multi_store(spark, tmp_path, name):
    from libmr_spark.operators.matview import matview_multi_ingest

    p = _store(tmp_path, name)
    views = {
        "v_odd": lambda dv: dv.filter(F.col("k") % 2 == 1),
        "v_proj": lambda dv: dv.select("lv", "mult"),
    }
    matview_multi_ingest(
        spark,
        p,
        views,
        _mk(spark, [(1, "a", 1), (2, "a", 1), (3, "b", 1)], ["k", "lv", "m"]),
        _right(spark, [(1, "x", 1), (2, "y", 1), (3, "z", 1)]),
        on="k",
    )
    matview_multi_ingest(
        spark,
        p,
        views,
        left_delta=_mk(spark, [(5, "c", 1)], ["k", "lv", "m"]),
        right_delta=_right(spark, [(5, "w", 1)]),
        on="k",
    )
    return p, views


def _read_view(spark, p, vt, cols):
    return {
        tuple(getattr(r, c) for c in cols)
        for r in matview_read(spark, p, view_table=vt).collect()
    }


@pytest.mark.slow  # r12: excluded from the driver verify budget (see conftest)
def test_matview_multi_view_compaction_preserves_custom_views(
    spark, tmp_path
):
    # a multi-view store's custom view tables must be folded and
    # re-listed by compaction like 'view' — a rewrite that folded only
    # left/right would publish a manifest whose tags the custom tables
    # never got, orphaning (then sweeping) the served multi-view data
    p, _ = _multi_store(spark, tmp_path, "mv_multi_compact")
    before_odd = _read_view(spark, p, "v_odd", ["k", "lv", "rv", "mult"])
    before_proj = _read_view(spark, p, "v_proj", ["lv", "mult"])
    assert compact_matview_store(spark, p)
    assert _read_view(spark, p, "v_odd", ["k", "lv", "rv", "mult"]) == (
        before_odd
    ) == {(1, "a", "x", 1), (3, "b", "z", 1), (5, "c", "w", 1)}
    assert _read_view(spark, p, "v_proj", ["lv", "mult"]) == before_proj
    # every table folded to the single compact batch dir
    for t in ("left", "right", "v_odd", "v_proj"):
        dirs = [
            d
            for d in os.listdir(os.path.join(p, t))
            if d.startswith("batch=")
        ]
        assert len(dirs) == 1 and dirs[0].startswith("batch=compact-"), (
            t,
            dirs,
        )


def test_matview_multi_view_takedown_scrubs_and_recomputes(spark, tmp_path):
    # takedown on a multi-view store: tables carrying the id anti-join;
    # a projection that DROPPED the id is re-derived from the scrubbed
    # sides (victim-derived rows must not survive in any served view)
    p, views = _multi_store(spark, tmp_path, "mv_multi_takedown")
    victims = spark.createDataFrame([(1,), (2,)], ["k"])
    with pytest.raises(ValueError, match="v_proj"):
        matview_takedown(spark, p, victims, id_col="k")  # no transforms
    removed = matview_takedown(spark, p, victims, id_col="k", views=views)
    assert _read_view(spark, p, "v_odd", ["k", "lv", "rv", "mult"]) == {
        (3, "b", "z", 1),
        (5, "c", "w", 1),
    }
    # the 'a' contributions (k=1,2) are gone from the recomputed
    # projection — not merely reduced
    assert _read_view(spark, p, "v_proj", ["lv", "mult"]) == {
        ("b", 1),
        ("c", 1),
    }
    # v_odd lost k=1; v_proj lost the 'a' row
    assert removed == 2
    for t in ("left", "right", "v_odd"):
        remaining = spark.read.parquet(os.path.join(p, t, "batch=*"))
        assert remaining.filter(F.col("k").isin(1, 2)).count() == 0, t


def test_matview_rewrite_waits_for_ingest_lock(spark, tmp_path):
    # takedown/compaction must serialize against ingest: a rewrite
    # racing an in-flight commit would let that commit publish view
    # rows derived from just-deleted inputs (the pre-state race the
    # ingest lock exists to prevent)
    from libmr_spark.core.store import _manifest_lock

    p = _store(tmp_path, "mv_rewrite_lock")
    matview_ingest(
        spark,
        p,
        _left(spark, [(1, "a", 1), (2, "b", 1)]),
        _right(spark, [(1, "x", 1), (2, "y", 1)]),
        on="k",
    )
    matview_ingest(spark, p, left_delta=_left(spark, [(3, "c", 1)]), on="k")
    victims = spark.createDataFrame([(1,)], ["k"])
    with _manifest_lock(os.path.join(p, "_INGEST"), timeout_s=5.0):
        with pytest.raises(TimeoutError):
            matview_takedown(
                spark, p, victims, id_col="k", lock_timeout_s=1.0
            )
        with pytest.raises(TimeoutError):
            compact_matview_store(spark, p, lock_timeout_s=1.0)
    # lock released: both maintenance paths proceed
    assert compact_matview_store(spark, p)
    assert matview_takedown(spark, p, victims, id_col="k") == 1
    assert _served(spark, p) == {(2, "b", "y", 1)}


def test_matview_lookup_serves_files_missing_from_zones(spark, tmp_path):
    # pruning may only remove files PROVEN empty for the probe: a part
    # file with no usable zone entry (statless footer recorded as
    # null, or absent from _ZONES.json entirely) must serve
    # unconditionally, never be silently dropped from the scan
    import json

    from libmr_spark.operators.matview import matview_lookup

    p = _store(tmp_path, "mv_zone_missing")
    n = 100
    matview_ingest(
        spark,
        p,
        _mk(spark, [(k, f"l{k}", 1) for k in range(1, n + 1)], ["k", "lv", "m"]),
        _mk(spark, [(k, f"r{k}", 1) for k in range(1, n + 1)], ["k", "rv", "m"]),
        on="k",
    )
    matview_ingest(
        spark, p, left_delta=_left(spark, [(n + 1, "q", 1)]), on="k"
    )
    matview_ingest(
        spark, p, left_delta=_left(spark, [(n + 1, "q", -1)]), on="k"
    )
    compact_matview_store(spark, p, zone_by="k", n_files=8)
    vdir = [
        d for d in os.listdir(os.path.join(p, "view")) if d.startswith("batch=")
    ]
    assert len(vdir) == 1
    zpath = os.path.join(p, "view", vdir[0], "_ZONES.json")
    with open(zpath) as f:
        z = json.load(f)
    listed = sorted(z["files"])
    assert len(listed) >= 3
    # simulate one statless file (null zone) and one file the zones
    # write never covered (entry deleted)
    z["files"][listed[0]] = None
    del z["files"][listed[1]]
    with open(zpath, "w") as f:
        json.dump(z, f)
    full = {
        (r.k, r.lv, r.rv, r.mult)
        for r in matview_lookup(spark, p, "k", 1, n).collect()
    }
    assert full == {(k, f"l{k}", f"r{k}", 1) for k in range(1, n + 1)}
    # the two unproven files are in EVERY probe's scan; proven-empty
    # files are still pruned
    probe = matview_lookup(spark, p, "k", 40, 45)
    opened = {f.split("/")[-1] for f in probe.inputFiles()}
    assert {listed[0], listed[1]} <= opened
    assert len(opened) < len(listed)
    assert {(r.k, r.lv, r.rv, r.mult) for r in probe.collect()} == {
        (k, f"l{k}", f"r{k}", 1) for k in range(40, 46)
    }


def test_min_piece_segmentation_bfs_optimality(spark):
    # BFS must be OPTIMAL where greedy longest-match fails: with
    # vocab {x, y, xy, yyy}, greedy on "xyyy" takes xy first and then
    # needs y|y (3 pieces); BFS finds x|yyy = 2. Also pins the
    # coverage contract: a word containing a character outside the
    # vocab is ABSENT from the result, never mis-segmented.
    from libmr_spark.operators.tokenizer_store import min_piece_segmentation

    words = spark.createDataFrame([("xyyy",), ("x",), ("xyxy",)], ["word"])
    vocab = spark.createDataFrame([("x",), ("y",), ("xy",), ("yyy",)], ["piece"])
    got = {
        (r.word, r.n_pieces)
        for r in min_piece_segmentation(spark, words, vocab).collect()
    }
    assert got == {("xyyy", 2), ("x", 1), ("xyxy", 2)}

    # un-coverable word (vocab missing a char) surfaces as ABSENT
    words2 = spark.createDataFrame([("xz",), ("xx",)], ["word"])
    vocab2 = spark.createDataFrame([("x",)], ["piece"])
    got2 = {
        (r.word, r.n_pieces)
        for r in min_piece_segmentation(spark, words2, vocab2).collect()
    }
    assert got2 == {("xx", 2)}


def test_unigram_viterbi_cost_and_tie_break(spark):
    # Viterbi must pick the MIN-COST segmentation (greedy longest-match
    # "xy y y" loses to "x yyy" under equal piece costs), and break
    # exact cost ties on the lexicographically smallest path ("x y"
    # beats "xy" when both cost 20); uncoverable words are absent
    from libmr_spark.operators.tokenizer_store import (
        unigram_viterbi_segment,
    )

    pc = spark.createDataFrame(
        [("x", 10), ("y", 10), ("xy", 20), ("yyy", 10), ("ab", 10),
         ("a", 10), ("b", 10)],
        ["piece", "cost_u"],
    )
    words = spark.createDataFrame(
        [("xyyy",), ("xy",), ("ab",), ("qq",)], ["word"]
    )
    seg = {
        r.word: r.path
        for r in unigram_viterbi_segment(spark, words, pc).collect()
    }
    assert seg == {
        "xyyy": "x yyy",  # cost 20 beats xy|y|y (40) and x|y|y|y (40)
        "xy": "x y",      # tie at 20 with "xy": "x y" < "xy"
        "ab": "ab",       # 10 beats a|b (20)
    }


def test_unigram_em_prunes_and_washes_costs(spark):
    # the EM loop: unused pieces prune after the E-step, surviving
    # counts conserve the path algebra, and every emitted cost is
    # EXACTLY round(-ln(cnt/total)*1e6) of the emitted counts (the
    # washed integer micro-nat contract the oracle re-derives)
    import math

    from libmr_spark.operators.tokenizer_store import unigram_em_train

    w = spark.createDataFrame([("aaab", 3), ("ab", 1)], ["word", "freq"])
    pieces = spark.createDataFrame(
        [("a",), ("b",), ("aa",), ("ab",)], ["piece"]
    )
    rows = unigram_em_train(spark, w, pieces, em_rounds=2).collect()
    out = {r.piece: (r.n_uses, r.cost_u) for r in rows}
    assert set(out) <= {"a", "b", "aa", "ab"}
    assert all(n > 0 for n, _ in out.values())
    total = sum(n for n, _ in out.values())
    for piece, (n, cu) in out.items():
        assert cu == round(-math.log(n / total) * 1e6), (piece, n, cu)
    # coverage: both words remain segmentable by the surviving vocab
    # (winning paths only ever use surviving pieces)
    alphabet_pieces = {p for p in out}
    def coverable(word):
        reach = {0}
        for pos in range(len(word)):
            if pos in reach:
                for piece in alphabet_pieces:
                    if word.startswith(piece, pos):
                        reach.add(pos + len(piece))
        return len(word) in reach
    assert coverable("aaab") and coverable("ab")


@pytest.mark.slow  # r12: excluded from the driver verify budget (see conftest)
def test_matview_ingest_prunes_state_by_batch_key_range(spark, tmp_path):
    # post-compaction, a commit's state reads open only the files
    # whose zone covers the BATCH's key range; a disjoint-range batch
    # contributes no base part at all — and every serve stays exact
    from libmr_spark.core.store import _manifest_read
    from libmr_spark.operators.matview import _pre_parts

    p = _store(tmp_path, "mv_prune_ingest")
    n = 100
    matview_ingest(
        spark,
        p,
        _mk(spark, [(k, f"l{k}", 1) for k in range(1, n + 1)], ["k", "lv", "m"]),
        _mk(spark, [(k, f"r{k}", 1) for k in range(1, n + 1)], ["k", "rv", "m"]),
        on="k",
    )
    matview_ingest(spark, p, left_delta=_left(spark, [(1, "l1", -1)]), on="k")
    compact_matview_store(spark, p, n_files=8)

    tags = _manifest_read(os.path.join(p, "_BATCHES"), None)
    full = _pre_parts(spark, p, "right", tags, "m")
    assert len(full) == 1
    total_files = set(full[0].inputFiles())
    assert len(total_files) >= 6

    narrow = _pre_parts(
        spark, p, "right", tags, "m", zone_col="k", key_range=(40, 45)
    )
    assert len(narrow) == 1
    assert set(narrow[0].inputFiles()) < total_files
    disjoint = _pre_parts(
        spark, p, "right", tags, "m", zone_col="k", key_range=(5000, 5001)
    )
    assert disjoint == []

    # end-to-end: an overlapping-range commit joins correctly, and a
    # disjoint-range commit (fully pruned base) still admits and joins
    # against nothing, exactly
    matview_ingest(spark, p, left_delta=_left(spark, [(50, "LX", 1)]), on="k")
    got = {
        tuple(r) for r in matview_read(spark, p).filter(F.col("k") == 50).collect()
    }
    assert got == {(50, "l50", "r50", 1), (50, "LX", "r50", 1)}
    matview_ingest(
        spark,
        p,
        _mk(spark, [(9000, "lz", 1)], ["k", "lv", "m"]),
        _mk(spark, [(9000, "rz", 1)], ["k", "rv", "m"]),
        on="k",
    )
    assert {
        tuple(r)
        for r in matview_read(spark, p).filter(F.col("k") == 9000).collect()
    } == {(9000, "lz", "rz", 1)}
    # replay of the disjoint batch admits nothing (admission consults
    # the netted tail even when the base fully prunes)
    matview_ingest(
        spark, p, left_delta=_mk(spark, [(9000, "lz", 1)], ["k", "lv", "m"]),
        on="k",
    )
    assert {
        tuple(r)
        for r in matview_read(spark, p).filter(F.col("k") == 9000).collect()
    } == {(9000, "lz", "rz", 1)}


def test_matview_read_skips_fold_post_compaction(spark, tmp_path):
    # serving reuses the part decomposition: a post-compaction serve
    # with no tail is a bare filtered scan (no Aggregate in the plan),
    # and with a tail only tail-touched identities re-fold while the
    # rest of the base streams through — equal to the full fold
    p = _store(tmp_path, "mv_serve_fast")
    matview_ingest(
        spark,
        p,
        _left(spark, [(k, f"l{k}", 1) for k in range(1, 21)]),
        _right(spark, [(k, f"r{k}", 1) for k in range(1, 21)]),
        on="k",
    )
    matview_ingest(spark, p, left_delta=_left(spark, [(1, "l1", -1)]), on="k")
    compact_matview_store(spark, p)

    served = matview_read(spark, p)
    plan = served._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan, plan
    want = {(k, f"l{k}", f"r{k}", 1) for k in range(2, 21)}
    assert _served(spark, p) == want

    # tail present: retraction of a base row + a new pair
    matview_ingest(
        spark,
        p,
        _left(spark, [(2, "l2", -1), (50, "l50", 1)]),
        _right(spark, [(50, "r50", 1)]),
        on="k",
    )
    got = _served(spark, p)
    assert got == (want - {(2, "l2", "r2", 1)}) | {(50, "l50", "r50", 1)}
    # cross-check against the naive full fold
    from libmr_spark.core.store import _manifest_read, read_batches
    from libmr_spark.operators.matview import _net

    tags = _manifest_read(os.path.join(p, "_BATCHES"), None)
    naive = {
        (r.k, r.lv, r.rv, r.mult)
        for r in _net(read_batches(spark, p, "view", tags, merge_schema=True), "mult")
        .filter(F.col("mult") > 0)
        .collect()
    }
    assert got == naive


@pytest.mark.slow  # r12: excluded from the driver verify budget (see conftest)
def test_matview_compaction_with_date_join_key(spark, tmp_path):
    # non-JSON-native zone stats (ADVICE r10): compact_matview_store
    # auto-zones the side tables on keys[0], so a DATE join key used
    # to crash write_zones at json.dump (pyarrow footer stats return
    # datetime.date); the tagged encoding must round-trip and the
    # zoned lookup must still prune correctly
    import datetime

    from libmr_spark.operators.matview import matview_lookup

    p = _store(tmp_path, "mv_date_key")
    d = lambda s: datetime.date.fromisoformat(s)  # noqa: E731
    left = _mk(
        spark,
        [(d(f"2024-01-{i:02d}"), f"l{i}", 1) for i in range(1, 21)],
        ["k", "lv", "m"],
    )
    right = _mk(
        spark,
        [(d(f"2024-01-{i:02d}"), f"r{i}", 1) for i in range(1, 21)],
        ["k", "rv", "m"],
    )
    matview_ingest(spark, p, left.filter("k < '2024-01-11'"),
                   right.filter("k < '2024-01-11'"), on="k")
    matview_ingest(spark, p, left.filter("k >= '2024-01-11'"),
                   right.filter("k >= '2024-01-11'"), on="k")
    # this call crashed before the tagged zone encoding
    compact_matview_store(spark, p, zone_by="k", n_files=4)
    got = {
        (r.k, r.lv, r.rv)
        for r in matview_lookup(
            spark, p, "k", d("2024-01-05"), d("2024-01-07")
        ).collect()
    }
    assert got == {(d(f"2024-01-{i:02d}"), f"l{i}", f"r{i}") for i in (5, 6, 7)}
    # post-compaction ingest proves the zoned side-table read path
    # (_pre_parts pruning) survives date keys too
    matview_ingest(
        spark, p, left_delta=_mk(spark, [(d("2024-01-05"), "l5b", 1)], ["k", "lv", "m"]),
        on="k",
    )
    got = {
        (r.k, r.lv, r.rv)
        for r in matview_lookup(
            spark, p, "k", d("2024-01-05"), d("2024-01-05")
        ).collect()
    }
    assert got == {
        (d("2024-01-05"), "l5", "r5"),
        (d("2024-01-05"), "l5b", "r5"),
    }


def test_zones_non_json_native_types_roundtrip(spark, tmp_path):
    # the zones layer itself: date / timestamp / decimal / binary
    # columns get tagged-encoded bounds that prune exactly; a string
    # probe against a date zone degrades to serve-unpruned (TypeError
    # guard) instead of raising or wrongly pruning
    import datetime
    import decimal
    import os

    from libmr_spark.operators.zones import pruned_paths, write_zones

    store = str(tmp_path / "zraw")
    d = lambda s: datetime.date.fromisoformat(s)  # noqa: E731
    df = spark.createDataFrame(
        [
            (
                d(f"2024-02-{i:02d}"),
                datetime.datetime(2024, 2, i, 12, 0),
                decimal.Decimal(f"{i}.25"),
                bytes([i]),
                i,
            )
            for i in range(1, 17)
        ],
        "dt date, ts timestamp, dec decimal(10,2), bin binary, i int",
    )
    base = os.path.join(store, "t", "batch=b1")
    df.repartition(4, "i").sortWithinPartitions("dt").write.parquet(base)

    allfiles = [f for f in os.listdir(base) if f.endswith(".parquet")]
    for col, lo, hi, prunes in [
        ("dt", d("2024-02-03"), d("2024-02-03"), True),
        ("ts", datetime.datetime(2024, 2, 3, 0, 0),
         datetime.datetime(2024, 2, 3, 23, 59), True),
        # pyarrow cannot extract decimal footer stats — the zone
        # degrades to NULL and the serve falls back to all files
        ("dec", decimal.Decimal("3.25"), decimal.Decimal("3.25"), False),
        ("bin", bytes([3]), bytes([3]), True),
    ]:
        write_zones(store, "t", "b1", col)  # must not raise
        paths = pruned_paths(store, "t", ["b1"], col, lo, hi)
        if prunes:
            assert 0 < len(paths) < len(allfiles), (col, paths)
        else:
            assert len(paths) == len(allfiles), (col, paths)
        got = {r.i for r in spark.read.parquet(*paths).filter(
            (F.col(col) >= lo) & (F.col(col) <= hi)).collect()}
        assert got == {3}, col

    # incomparable probe type: serve everything rather than guess
    write_zones(store, "t", "b1", "dt")
    paths = pruned_paths(store, "t", ["b1"], "dt", "2024-02-03", "2024-02-03")
    assert len(paths) == len(
        [f for f in os.listdir(base) if f.endswith(".parquet")]
    )
