"""Tests of the benchmark's seeded op generator and of its metric list.

    python3 -m pytest perfbench -q -p no:cacheprovider

No Spark needed: the generator is a pure function of the seed.
"""

from __future__ import annotations

import itertools
import json
import os

import numpy as np
import pytest

from perfbench import metrics, opgen, steps

N_KEYS = 150_000


def pipeline_ops(seed: int, rounds: int = 5):
    params, it = opgen.pipeline_plan(seed)
    return params, list(itertools.islice(it, rounds))


def serve_ops(seed: int, blocks: int = 15):
    warmup, it = opgen.serve_plan(seed, N_KEYS)
    return warmup + [op for block in itertools.islice(it, blocks) for op in block]


@pytest.mark.parametrize("gen", [pipeline_ops, serve_ops])
def test_same_seed_same_sequence(gen):
    assert gen(7) == gen(7)


@pytest.mark.parametrize("gen", [pipeline_ops, serve_ops])
def test_different_seeds_different_sequences(gen):
    seqs = [gen(seed) for seed in range(1, 6)]
    assert all(a != b for a, b in itertools.combinations(seqs, 2))


def test_rounds_are_permutations():
    _params, rounds = pipeline_ops(3, 20)
    assert all(sorted(r) == sorted(opgen.PIPELINE_OPS) for r in rounds)


def test_serve_mix_and_batches():
    warmup, it = opgen.serve_plan(11, N_KEYS)
    assert [op.kind for op in warmup] == ["read", "write", "admin"]
    blocks = list(itertools.islice(it, 100))
    assert all(sorted(op.kind for op in b) == sorted(opgen.BLOCK) for b in blocks)
    assert opgen.BLOCK.count("read") / len(opgen.BLOCK) == 0.80
    assert opgen.BLOCK.count("write") / len(opgen.BLOCK) == 0.15
    ops = warmup + [op for b in blocks for op in b]
    seen_new: set[str] = set()
    written: set[str] = set()
    for op in ops:
        if op.kind == "read":
            assert int(op.key[3:]) < N_KEYS or op.key in written
        elif op.kind == "write":
            keys = [k for k, _ in op.rows]
            assert len(keys) == len(set(keys)) == opgen.UPSERT_UPDATES + opgen.UPSERT_INSERTS
            assert {opgen.bucket_of(k) for k in keys} == {op.bucket}
            new = [k for k in keys if int(k[3:]) >= N_KEYS]
            assert len(new) == opgen.UPSERT_INSERTS and not seen_new & set(new)
            seen_new |= set(new)
            written |= set(keys)


def test_bucket_of_matches_redis_slots():
    # published Redis cluster slots: "foo" -> 12182, "123456789" -> 0x31C3 & 0x3FFF
    assert opgen.bucket_of("foo") == 12182 % opgen.N_BUCKETS
    assert opgen.bucket_of("123456789") == (0x31C3 & 0x3FFF) % opgen.N_BUCKETS


def test_pipeline_expected_matches_the_steps():
    rng = np.random.default_rng(0)
    keys = np.arange(2_000)
    status = rng.choice(np.array(["F", "O", "P"]), keys.size)
    price = rng.integers(100_000, 500_000, keys.size) / 100
    params, _ = opgen.pipeline_plan(5)
    exp = opgen.pipeline_expected(params, keys, status, price)

    def run(filter_fn, map_fn):
        results = errors = 0
        for k, p in zip(keys, price):
            rec = {"key": f"key{k}", "value": repr(float(p))}
            if not filter_fn(rec):
                continue
            try:
                map_fn(rec, params.fail)
                results += 1
            except steps.InjectedStepError:
                errors += 1
        return results, errors

    got = run(lambda r: steps.keep_shard(r, params.filter_shard), steps.double_value)
    assert got == (exp["py_filter_map"].results, exp["py_filter_map"].errors)
    got = run(lambda r: steps.in_shard(r["key"], *params.rel_shard), steps.value_len)
    assert got == (exp["rel_filter_reshuffle_map"].results, exp["rel_filter_reshuffle_map"].errors)
    assert exp["kv_count"].value == keys.size
    assert exp["kv_reshuffle_rmw"].results == int((status == "O").sum())


def test_metric_lists_match_benchmark_json():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == metrics.per_layer_specs()
