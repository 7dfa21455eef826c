"""Property-based tests (hypothesis) for the pure primitives the
distributed operators rest on — these run without a SparkSession, so
they're fast enough for wide random coverage."""

from __future__ import annotations

from datetime import datetime

from hypothesis import given, settings
from hypothesis import strategies as st

from libmr_spark.core.partitioner import NUM_SLOTS, crc16, extract_hashtag, key_slot

# valid-unicode text (no lone surrogates — keys are utf-8 encodable)
_text = st.text(alphabet=st.characters(blacklist_categories=("Cs",)))
_tag_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="{}"),
    min_size=1,
    max_size=20,
)


def test_crc16_known_vectors():
    # published XMODEM check value and Redis slot anchors
    assert crc16(b"123456789") == 0x31C3
    assert crc16(b"") == 0
    # the Redis cluster spec's canonical example: "foo" and "{foo}.bar"
    # must land on the same slot
    assert key_slot("foo") == key_slot("{foo}.bar")


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=300)
def test_crc16_range_and_determinism(data):
    v = crc16(data)
    assert 0 <= v <= 0xFFFF
    assert crc16(data) == v


@given(_text)
@settings(max_examples=300)
def test_key_slot_in_range(key):
    assert 0 <= key_slot(key) < NUM_SLOTS


@given(_tag_text)
@settings(max_examples=200)
def test_hashtag_rule(tag):
    # a non-empty {tag} section hashes exactly like the bare tag
    assert extract_hashtag("prefix{" + tag + "}suffix") == tag
    assert key_slot("prefix{" + tag + "}suffix") == key_slot(tag)
    # no braces → whole key
    assert extract_hashtag(tag) == tag


def test_key_slots_np_adversarial_parity():
    # table-driven parity of the vectorized path against the scalar
    # reference on every branch: ASCII, hashtags, unicode, empty, long,
    # and NUL-bearing keys (a TRAILING NUL is indistinguishable from
    # numpy's S/U padding, so it must take the scalar path — ADVICE r4)
    from libmr_spark.core.partitioner import key_slots_np

    keys = [
        "foo", "", "a", "key42", "x" * 300,
        "{foo}.bar", "prefix{tag}suffix", "empty{}braces", "unterminated{",
        "naïve-ключ", "日本語キー", "emoji🎯key",
        "abc\x00", "abc\x00\x00", "\x00", "\x00abc", "ab\x00cd",
        "{t\x00ag}x", "mixed🎯\x00tail\x00",
    ]
    assert list(key_slots_np(keys)) == [key_slot(k) for k in keys]


@given(st.lists(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40), max_size=30))
@settings(max_examples=200)
def test_key_slots_np_property_parity(keys):
    from libmr_spark.core.partitioner import key_slots_np

    assert list(key_slots_np(keys)) == [key_slot(k) for k in keys]


@given(_tag_text)
@settings(max_examples=200)
def test_hashtag_degenerate_cases(key):
    # for a brace-free key: an appended empty {} or unterminated {
    # falls back to hashing the whole key (the published Redis rule)
    assert extract_hashtag(key + "{}") == key + "{}"
    assert extract_hashtag(key + "{") == key + "{"


# ---------------------------------------------------------------------
# accumulator algebra: LibMR requires folds to be commutative +
# associative (record arrival order is nondeterministic — SURVEY §2.3);
# verify the builtin count accumulator's zero/fold/merge laws over
# arbitrary partitionings of an input stream.
# ---------------------------------------------------------------------

from libmr_spark.core.registry import GLOBAL_REGISTRY, StepType  # noqa: E402


def _fold_all(acc_impl, records):
    state = acc_impl.zero
    for r in records:
        state = acc_impl.fn(state, r)
    return state


@given(st.lists(st.integers(), max_size=60), st.integers(min_value=0, max_value=60))
@settings(max_examples=200)
def test_count_accumulator_partition_invariance(xs, split):
    acc = GLOBAL_REGISTRY.get(StepType.ACCUMULATOR, "count").fn
    records = [{"v": x} for x in xs]
    whole = _fold_all(acc, records)
    split = min(split, len(records))
    left, right = records[:split], records[split:]
    merged = acc.merge(_fold_all(acc, left), _fold_all(acc, right))
    assert merged == whole == {"count": len(records)}


def test_slot_col_expr_spark_parity(spark):
    # round 6: the pure-Column CRC16 (slot_col_expr) and the production
    # Arrow-batched UDF (slot_col) must both match the scalar reference
    # on every branch — ASCII, hashtag edge cases (first-brace rule,
    # empty {}, unterminated, multiple tags), unicode, NUL bytes, empty
    # and long keys — plus NULL passthrough.
    from libmr_spark.core.partitioner import slot_col, slot_col_expr

    keys = [
        "foo", "", "a", "key42", "x" * 300,
        "{foo}.bar", "prefix{tag}suffix", "empty{}braces", "unterminated{",
        "}a{b}", "a}b{c}", "{a}{b}", "a{b}c{d}e", "{}",
        "naïve-ключ", "日本語キー", "emoji🎯key",
        "abc\x00", "\x00abc", "{t\x00ag}x",
    ]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    out = df.select(
        "key",
        slot_col("key").alias("udf_slot"),
        slot_col_expr("key").alias("expr_slot"),
    ).collect()
    for r in out:
        want = key_slot(r.key)
        assert r.udf_slot == want, (repr(r.key), r.udf_slot, want)
        assert r.expr_slot == want, (repr(r.key), r.expr_slot, want)
    null_row = (
        spark.createDataFrame([(None,)], "key string")
        .select(slot_col("key").alias("u"), slot_col_expr("key").alias("e"))
        .first()
    )
    assert null_row.u is None and null_row.e is None


def test_manifest_publish_cross_process_no_lost_update(tmp_path):
    # the manifest lock is a FILESYSTEM contract (a kernel flock), so prove it
    # across real processes, not just threads: 6 processes each publish
    # 5 tags concurrently; every tag must survive and the manifest must
    # remain parseable. No SparkSession needed — publication is pure
    # file I/O.
    import json
    import multiprocessing as mp

    from libmr_spark.core.store import _manifest_publish

    mp_ctx = mp.get_context("fork")
    manifest = str(tmp_path / "_BATCHES")

    def worker(wid):
        for j in range(5):
            _manifest_publish(manifest, {"p": 1}, add_tags=[f"w{wid}-{j}"])

    procs = [mp_ctx.Process(target=worker, args=(w,)) for w in range(6)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
        assert p.exitcode == 0
    tags = json.load(open(manifest))["batches"]
    assert sorted(tags) == sorted(f"w{w}-{j}" for w in range(6) for j in range(5))


# -- the Python stages' record loop ----------------------------------------

_cell_kinds = {
    "int": st.integers(-(2**62), 2**62),
    "nullable_int": st.one_of(st.none(), st.integers(-(2**62), 2**62)),
    "float": st.one_of(st.floats(allow_infinity=False), st.just(float("nan"))),
    "str": st.one_of(st.none(), _text),
    "bool": st.booleans(),
    "nullable_bool": st.one_of(st.none(), st.booleans()),
    "decimal": st.one_of(st.none(), st.decimals(allow_nan=False, allow_infinity=False, places=2)),
    "timestamp": st.one_of(st.none(), st.datetimes(datetime(1900, 1, 1), datetime(2200, 1, 1))),
    "list": st.one_of(st.none(), st.lists(st.integers(-100, 100), max_size=3)),
}


@st.composite
def _frames(draw):
    import numpy as np
    import pandas as pd

    n = draw(st.integers(0, 6))
    kinds = draw(st.lists(st.sampled_from(sorted(_cell_kinds)), min_size=1, max_size=5))
    data = {}
    for i, kind in enumerate(kinds):
        vals = draw(st.lists(_cell_kinds[kind], min_size=n, max_size=n))
        if kind == "timestamp":
            vals = pd.to_datetime(pd.Series(vals, dtype=object))
        elif kind == "list" and draw(st.booleans()):
            # Arrow hands list columns to pandas as numpy arrays
            vals = pd.Series([None if v is None else np.array(v) for v in vals], dtype=object)
        elif kind == "int" and draw(st.booleans()):
            vals = pd.Series([np.int64(v) for v in vals], dtype=object)  # numpy scalars in an object column
        elif kind == "nullable_int":
            vals = pd.Series(vals, dtype="Int64")  # an extension column: pd.NA for nulls
        data[f"c{i}_{kind}"] = vals
    return pd.DataFrame(data, index=range(n))


def _typed(records):
    # compare types and reprs, so NaN equals NaN and int never equals float
    return [{k: (type(v), repr(v)) for k, v in rec.items()} for rec in records]


@given(_frames())
@settings(max_examples=300, deadline=None)
def test_records_match_to_dict(pdf):
    from libmr_spark.core.builder import _records

    got = list(_records(pdf))
    assert all(err is None for err, _ in got)
    assert _typed(rec for _, rec in got) == _typed(pdf.to_dict("records"))
