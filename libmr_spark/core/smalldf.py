"""Driver-bounded frames: the one constructor and the one set of rules.

A frame is driver-bounded when its rows already sit on the driver:
vocab-scale artifacts, probe/query sets, audit rows, a point read, a
merge batch built from pandas. The reference short-circuits to a direct
call when the data is local (``src/mr.c:2133-2136``); here such a frame
is a ``LocalRelation``, whose actions start no Spark job (``is_local``).
``local_df`` builds one from rows or an Arrow table, and the fast paths
that act on the driver (``rpc.run_on_key``'s point read,
``sinks.merge_upsert``'s batch checks and its pyarrow merge of the
touched partitions, the union-find of ``operators.dedup``) take their
type tables, file-schema rule (``stored_exactly``) and size bounds from
here.
"""

from __future__ import annotations

import datetime
import decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Spark types whose values come back unchanged through Arrow (with
#: ``StringType()`` of the default collation, see ``exact_type``).
#: Timestamps depend on the session time zone on the way and do not
#: qualify.
_ARROW_EXACT_TYPES = (
    T.BinaryType, T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
    T.LongType, T.FloatType, T.DoubleType, T.DecimalType, T.DateType,
)

#: The exact types whose Python values compare equal exactly when Spark
#: groups them together. Floats (NaN, -0.0) and binary (unhashable
#: bytearray) are not among them.
_DRIVER_GROUPABLE_TYPES = tuple(
    t for t in _ARROW_EXACT_TYPES if t not in (T.BinaryType, T.FloatType, T.DoubleType)
)

#: Python key type → the column types it compares with, without coercion
#: beyond integral/decimal widening (an out-of-range key fails to become
#: an Arrow scalar and falls back).
_KEY_TYPES = {
    str: (T.StringType,),
    bytes: (T.BinaryType,),
    bool: (T.BooleanType,),
    int: (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    float: (T.DoubleType,),
    decimal.Decimal: (T.DecimalType,),
    datetime.date: (T.DateType,),
}

#: Input-byte ceiling of the driver-local parquet reads: ``run_on_key``'s
#: point read and ``merge_upsert``'s pyarrow merge of the touched
#: partitions. Above it both take their Spark route unchanged. On a
#: 4-core host (``local[3]``), for the point read on a 16-bucket kv store
#: it sits at the measured crossover: the pyarrow read plus
#: ``LocalRelation`` costs 113 ms at 32 MB against 203 ms for the Spark
#: filter, 170 against 183 ms at 51 MB, and 220 against 159 ms at 65 MB.
#: The merge wins at every size below it: a 256-key upsert into one
#: bucket of 8.2 / 25.1 / 46.4 MiB took 220 / 542 / 872 ms on the driver
#: against 1283 / 2060 / 3144 ms (3 jobs) through Spark (p50 of 6).
_DRIVER_READ_MAX_BYTES = 48 << 20

#: Edge/hop-count ceiling for the driver-local fast paths in
#: ``dedup.connected_components`` and ``dedup._resolve_remap``: below it
#: the graph is collected and solved in one pass on the driver (same
#: decision structure as a broadcast join — a few MB of keys are cheaper
#: to move once than to iterate over with 2 Spark jobs per round).
#: 200k edges is ~3 MB collected. Measured at 199k random edges over
#: 300k nodes (``local[3]``, 4-core host): the driver path takes 2.8 s
#: warm, the distributed path 25 s in 8 rounds; of the driver path,
#: building the 200k-row result with ``local_df`` from a typed
#: ``pyarrow.Table`` is 0.18-0.24 s (0.6-0.9 s from a row list, most of
#: it PySpark's row verifier). Above it the distributed
#: large-star/small-star (resp. pointer-doubling) path runs unchanged.
_CC_DRIVER_MAX_EDGES = 200_000


def exact_type(dt: T.DataType, types: tuple = _ARROW_EXACT_TYPES) -> bool:
    """``dt`` is ``StringType()`` of the default collation (a collated
    string compares differently from its UTF-8 bytes) or one of
    ``types``."""
    return dt == T.StringType() or isinstance(dt, types)


def stored_exactly(schema, physical, part_names) -> bool:
    """Whether pyarrow reads a parquet file whose Arrow schema is
    ``physical`` as Spark does under the Arrow ``schema``: Spark matches
    names case-insensitively and takes partition values over file
    columns, so each stored column that matches a field of ``schema``
    must carry that field's exact name and Arrow type, and must not be
    one of ``part_names``."""
    by_lower = {n.lower(): n for n in schema.names}
    for f in physical:
        name = by_lower.get(f.name.lower())
        if name is not None and (name != f.name or name in part_names or schema.field(name).type != f.type):
            return False
    return True


def is_local(df: DataFrame) -> bool:
    """Whether ``df`` is computed on the driver: its optimized plan is a
    ``LocalRelation``, so its actions start no Spark job."""
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"


def _arrow_route(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        return _arrow_route(dt.elementType)
    return exact_type(dt)


def local_df(spark: SparkSession, data, schema) -> DataFrame:
    """A ``LocalRelation`` of ``schema`` from a driver-local row list or
    ``pyarrow.Table``.

    Rows are checked eagerly by PySpark's own type verifier and coerced
    as ``spark.createDataFrame(rows, schema)`` does, so both raise the
    same errors and give the same rows. When every column is of an exact
    type (or an array of one) the rows go through Arrow into a zero-job
    ``LocalRelation``; any other schema, or a value Arrow will not take
    as is, keeps the row path, a one-slice ``LogicalRDD`` whose first
    action is one task.
    """
    import pyarrow as pa
    from pyspark.errors import PySparkException
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _create_converter, _make_type_verifier

    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    if isinstance(data, pa.Table):
        # createDataFrame drops every row when the leading batches are
        # empty (a filtered multi-file scan yields exactly that): one
        # batch only
        return spark.createDataFrame(data.combine_chunks(), schema)
    verify, convert = _make_type_verifier(schema), _create_converter(schema)
    rows = []
    for row in data:
        verify(row)
        rows.append(convert(row))
    if not rows or all(_arrow_route(f.dataType) for f in schema.fields):
        try:
            arrow_schema = to_arrow_schema(schema)
            table = pa.Table.from_arrays(
                [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)],
                schema=arrow_schema,
            )
            return spark.createDataFrame(table, schema)
        except (pa.ArrowException, PySparkException):
            pass  # a type or value Arrow does not carry as is
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema, verifySchema=False)
