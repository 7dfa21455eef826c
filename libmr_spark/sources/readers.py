"""Sources: parquet/csv/json table readers + the kv-keyspace view.

The reference's canonical source is a Redis keyspace scan with an
optional key-prefix filter (KeysReader,
``/root/reference/tests/mr_test_module/src/lib.rs:822-916``). The
engine-level equivalent is a scan of a ``kv(key, value, type)`` table
(FIXTURES.md §1) — here projected deterministically from the driver's
``orders`` table so every kv pipeline has a DuckDB-expressible oracle.

All readers return lazy DataFrames: filters/projections applied later
reach the parquet scan via Catalyst pushdown (verify with
``plans.explain.scan_info``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.registry import reader

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Schema guard: the driver regenerates testdata between rounds and has
# already changed column physical types once (events.ts
# TIMESTAMP(NANOS) -> timestamp[us]).  Fail LOUDLY at load time when a
# table drifts from the dtypes every downstream query assumes, instead
# of letting one AnalysisException surface per-query.  Values are
# Spark simpleString dtypes; a set means "any of these" (the one
# permitted polymorphism is events.ts, dispatched in _normalize_events_ts).
EXPECTED_DTYPES: dict[str, dict[str, set[str]]] = {
    "region": {"r_regionkey": {"bigint", "int"}, "r_name": {"string"}},
    "nation": {"n_nationkey": {"bigint", "int"}, "n_name": {"string"}, "n_regionkey": {"bigint", "int"}},
    "customer": {"c_custkey": {"bigint", "int"}, "c_name": {"string"}, "c_acctbal": {"double", "decimal(15,2)"}},
    "supplier": {"s_suppkey": {"bigint", "int"}, "s_name": {"string"}, "s_nationkey": {"bigint", "int"}},
    "part": {"p_partkey": {"bigint", "int"}, "p_name": {"string"}, "p_retailprice": {"double", "decimal(15,2)"}},
    "orders": {
        "o_orderkey": {"bigint", "int"},
        "o_custkey": {"bigint", "int"},
        "o_totalprice": {"double", "decimal(15,2)"},
        "o_orderdate": {"date", "timestamp", "timestamp_ntz"},
    },
    "lineitem": {
        "l_orderkey": {"bigint", "int"},
        "l_quantity": {"double", "decimal(15,2)"},
        "l_extendedprice": {"double", "decimal(15,2)"},
        "l_shipdate": {"date", "timestamp", "timestamp_ntz"},
    },
    "events": {
        "event_id": {"bigint"},
        "ts": {"bigint", "timestamp", "timestamp_ntz"},
        "user_id": {"bigint"},
        "event_type": {"string"},
        "value": {"double"},
        "props": {"string"},
    },
    "documents": {"doc_id": {"bigint"}, "text": {"string"}, "lang": {"string"}, "source": {"string"}},
    "embeddings": {"vec_id": {"bigint"}, "embedding": {"array<float>", "array<double>"}, "label": {"bigint", "int"}},
}


class SchemaDriftError(RuntimeError):
    pass


def check_schema(name: str, df: DataFrame) -> None:
    """Assert the loaded table matches the dtype contract above.

    Extra columns are fine (forward-compatible); a missing column or a
    changed dtype raises with enough context to fix the reader in one
    glance rather than debugging N downstream AnalysisExceptions.
    """
    expected = EXPECTED_DTYPES.get(name)
    if not expected:
        return
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems = []
    for col, allowed in expected.items():
        got = actual.get(col)
        if got is None:
            problems.append(f"missing column {col!r} (expected one of {sorted(allowed)})")
        elif got not in allowed:
            problems.append(f"column {col!r} is {got!r}, expected one of {sorted(allowed)}")
    if problems:
        raise SchemaDriftError(
            f"testdata schema drift in table {name!r}: " + "; ".join(problems)
            + f". Loaded schema: {df.schema.simpleString()}. "
            "Update libmr_spark/sources/readers.py (EXPECTED_DTYPES + any "
            "dtype dispatch) for the new physical layout."
        )


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name == "events":
        return events_table(spark, sf_dir)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    check_schema(name, df)
    return df


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Dispatch on the physical dtype of ``ts`` and produce a session-tz
    TIMESTAMP regardless of how the driver wrote the column.

    The driver has shipped events.ts as parquet TIMESTAMP(NANOS)
    (round 1) and timestamp[us] (round 2+); handle both, plus plain
    TIMESTAMP, so a future regeneration can't silently break every
    events consumer again:

    - long (nanosAsLong fallback for TIMESTAMP(NANOS)): floor-divide to
      micros — matches DuckDB's ns flooring in ``epoch_ms``.
    - timestamp_ntz (timestamp[us], isAdjustedToUTC=false): cast to
      TIMESTAMP. Session tz is pinned to UTC (session.py), so the cast
      is value-preserving vs DuckDB's naive-timestamp arithmetic.
    - timestamp: already what downstream expects; pass through.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(dt, T.TimestampType):
        return df
    raise SchemaDriftError(
        f"events.ts has unsupported dtype {dt.simpleString()!r}; "
        "expected bigint (nanos), timestamp_ntz, or timestamp"
    )


def events_table(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """events with a usable timestamp column (see _normalize_events_ts).

    ``nanosAsLong`` is set defensively before the read: it only takes
    effect when the file actually carries TIMESTAMP(NANOS) (in which
    case the vectorized reader would otherwise reject the file) and is
    a no-op for timestamp[us] data.
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    check_schema("events", raw)
    return _normalize_events_ts(raw)


def events_stream(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """readStream twin of :func:`events_table` — same dtype dispatch, so
    every streaming query shares one reader instead of five inline
    copies of the ts workaround (that duplication is what let round 2's
    schema drift break four streaming queries at once)."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    sdf = spark.readStream.schema(raw_schema).parquet(os.path.join(sf_dir, "events*.parquet"))
    return _normalize_events_ts(sdf)


# SQL used by BOTH the Spark kv view and the DuckDB oracle (FIXTURES.md
# notes the kv shape "can be projected from any driver table").
KV_PROJECTION_SQL = (
    "SELECT concat('key', CAST(o_orderkey AS VARCHAR)) AS key, "
    "CAST(o_totalprice AS VARCHAR) AS value, "
    "CASE WHEN o_orderstatus = 'O' THEN 'string' ELSE 'hash' END AS type "
    "FROM orders"
)


def kv_table(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """The Redis-keyspace-shaped table: kv(key, value, type)."""
    o = load_table(spark, "orders", sf_dir)
    return o.select(
        F.concat(F.lit("key"), F.col("o_orderkey").cast("string")).alias("key"),
        F.col("o_totalprice").cast("string").alias("value"),
        F.when(F.col("o_orderstatus") == "O", "string").otherwise("hash").alias("type"),
    )


@reader("KeysReader")
def keys_reader(spark: SparkSession, args) -> DataFrame:
    """Keyspace scan with optional key-prefix filter, parity with the
    reference KeysReader (``tests/mr_test_module/src/lib.rs:822-916``).

    args: {"sf_dir": str | None, "prefix": str | None}
    The prefix filter is a relational ``startswith`` so it compiles to a
    pushed-down predicate, not a per-record Python call.
    """
    args = args or {}
    df = kv_table(spark, args.get("sf_dir"))
    prefix = args.get("prefix")
    if prefix:
        df = df.filter(F.col("key").startswith(prefix))
    return df


@reader("ParquetReader")
def parquet_reader(spark: SparkSession, args) -> DataFrame:
    """args: {"path": str} or {"table": str, "sf_dir": str|None}"""
    if "path" in args:
        return spark.read.parquet(args["path"])
    return load_table(spark, args["table"], args.get("sf_dir"))


@reader("CsvReader")
def csv_reader(spark: SparkSession, args) -> DataFrame:
    return spark.read.options(**args.get("options", {"header": "true", "inferSchema": "true"})).csv(args["path"])


@reader("JsonReader")
def json_reader(spark: SparkSession, args) -> DataFrame:
    return spark.read.options(**args.get("options", {})).json(args["path"])
