"""Distributed prefix sum (global running total in a global order).

Spark's window functions express a global running sum only as an
UNPARTITIONED window — a single-task sort that serializes the whole
table through one executor, the canonical scale-killer `plan_lint.py`
rejects. The scalable rendering is the classic two-pass prefix-sum:

1. range-partition by the order columns (so partition i holds a
   contiguous slice of the global order), sort within partitions;
2. one tiny aggregate computes each partition's subtotal; the driver
   turns subtotals into per-partition starting offsets (P numbers for
   P partitions — never row-proportional driver traffic);
3. a partition-local pandas fold adds offset + within-partition
   cumulative sum. `mapInPandas` is narrow, so the ONLY exchange in
   the whole plan is the range partition itself.

The partitioning is frozen with an eager ``localCheckpoint`` between
pass 1 and pass 3: ``repartitionByRange`` samples its boundaries, so
re-evaluating the lineage in the offsets job and the output job could
otherwise disagree about which partition a row lands in (the offsets
would then be applied to the wrong rows). On a real cluster use
``checkpoint()`` to durable storage for executor-loss tolerance — the
same cadence note as the iterative operators in ``graph.py``.

Used by the ``token_budget_file_splits`` query (order-preserving
corpus sharding into fixed-token-budget files); the general operator
serves any "global cumulative" need — cumulative event totals,
byte-offset assignment for concatenated outputs, global ranks over
sortable keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.layout import freeze


def prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = inclusive running sum of ``value_col`` in the
    global ``order_cols`` order. Exact for integer values (the partial
    subtotals and the fold are plain integer adds, so the distributed
    result is bit-identical to a sequential scan); ``order_cols`` must
    be a total order (include a unique tie-break column).

    ``value_col`` must be non-null: the driver offsets use a
    null-skipping ``F.sum`` while the pandas fold cumsums NaN, so nulls
    would silently diverge — rejected up front with a clear error
    instead (callers wanting null-as-zero should ``fillna`` first,
    making the convention explicit in THEIR code).
    """
    import pandas as pd  # noqa: F401 — resolved by mapInPandas type hints

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    d = freeze(
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid__", F.spark_partition_id())
    )
    # pass 2: P subtotal rows -> P starting offsets (driver-bounded).
    # The null guard piggybacks on this aggregate (count(value) vs
    # count(*)) — zero extra passes over the data.
    subtotals = d.groupBy("__pid__").agg(
        F.sum(value_col).alias("__st__"),
        (F.count(F.lit(1)) - F.count(value_col)).alias("__nulls__"),
    ).collect()
    if any(r["__nulls__"] for r in subtotals):
        raise ValueError(
            f"prefix_sum: value_col {value_col!r} contains NULLs; "
            "fill or filter them first (e.g. fillna(0)) so the "
            "null-as-zero convention is explicit at the call site"
        )
    offsets: dict[int, int] = {}
    running = 0
    for r in sorted(subtotals, key=lambda r: r["__pid__"]):
        offsets[r["__pid__"]] = running
        running += r["__st__"] or 0

    out_schema = d.drop("__pid__").schema.add(out_col, "long")

    def fold(batches):
        run = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if run is None:
                run = offsets.get(int(pdf["__pid__"].iloc[0]), 0)
            cs = pdf[value_col].cumsum() + run
            run = int(cs.iloc[-1])
            out = pdf.drop(columns=["__pid__"])
            out[out_col] = cs.astype("int64")
            yield out

    # mapInPandas is NARROW: batches arrive in the sorted partition
    # order, so the closure's running total continues across batches
    return d.mapInPandas(fold, schema=out_schema)