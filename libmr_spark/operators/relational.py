"""Relational operator surface — the capability categories the brief
requires that are absent from the reference (SURVEY §2.2: the step enum
``/root/reference/src/mr.c:181-189`` has no join/window/sort/set-op).
Each operator is a thin, scale-aware composition of Spark built-ins:
declarative plans so Catalyst applies pushdown/pruning/join selection,
explicit broadcast for dimension tables, deterministic tie-breaks on
every top-k so results are reproducible across cluster sizes.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_join(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Join with an explicit broadcast of the (small) dimension side —
    at 100 TB the fact table never shuffles for a dim join."""
    return fact.join(F.broadcast(dim), on, how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS: rows of ``left`` with a match in ``right``."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS: rows of ``left`` without a match in ``right``."""
    return left.join(right, on, "left_anti")


def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k. Spark turns orderBy+limit into TakeOrderedAndProject
    (per-partition heap + driver merge of k rows) — no global sort, so
    it scales to arbitrary input size. Callers must include a unique
    tie-break column for determinism."""
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame, partition_by: Sequence[str], order_by: Sequence[Column], k: int, rank_col: str = "rn"
) -> DataFrame:
    """Top-k within each group via row_number — one shuffle on the
    group key, no global sort."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str],
    right_cols: Sequence[str],
    tolerance: Column | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for every left row, the single right row nearest in
    ``on`` (per ``direction``), matching on the ``by`` equi-keys.

    * ``backward`` — greatest right.on ≤ left.on (the default, and the
      common "latest quote before the trade" semantics),
    * ``forward``  — smallest right.on ≥ left.on,
    * ``nearest``  — whichever of the two is closer (ties → backward).

    The reference has no join at all (SURVEY §2.2); this is built
    Spark-first as union + window carry — ONE shuffle on (by, on), no
    range-explosion, no broadcast requirement, so it holds at 100 TB
    where a naive range join would quadratically blow up:

    1. tag both sides, union on the (by, on) spine,
    2. per ``by`` group ordered by ``on``, carry the nearest right row
       as ONE struct (all carried fields come from the same right row,
       and legitimately-null right values survive),
    3. keep left rows; optionally null out matches farther than
       ``tolerance`` (same units as ``on``).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    by = list(by)
    lcols = [c for c in left.columns]
    tag = "__asof_side__"
    rv = "__asof_r__"

    r_struct_of = lambda prefix: F.struct(
        F.col(on).alias("__on__"), *[F.col(prefix + rc).alias(rc) for rc in right_cols]
    )

    l_tagged = left.select(
        *[F.col(c) for c in lcols],
        F.lit(1).alias(tag),
        *[F.lit(None).cast(right.schema[rc].dataType).alias("__in_" + rc) for rc in right_cols],
    )
    # align right onto the left schema: shared (by, on) columns pass
    # through, every other left column becomes a typed null
    r_full = right.select(
        *[
            F.col(c) if (c in by or c == on) else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        F.lit(0).alias(tag),
        *[F.col(rc).alias("__in_" + rc) for rc in right_cols],
    )

    unioned = l_tagged.unionByName(r_full)
    # one struct per right row; null on left rows so ignorenulls skips them
    unioned = unioned.withColumn(rv, F.when(F.col(tag) == 0, r_struct_of("__in_")))
    unioned = unioned.drop(*["__in_" + rc for rc in right_cols])

    carried = unioned
    gap_bwd = F.col(on).cast("double") - F.col("__bwd__.__on__").cast("double")
    gap_fwd = F.col("__fwd__.__on__").cast("double") - F.col(on).cast("double")
    if direction in ("backward", "nearest"):
        # right rows (tag=0) sort before left rows at the same timestamp,
        # so an exact-timestamp right row IS visible to the left row (<=)
        wb = Window.partitionBy(*by).orderBy(F.col(on).asc(), F.col(tag).asc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
        carried = carried.withColumn("__bwd__", F.last(rv, ignorenulls=True).over(wb))
        if tolerance is not None:
            carried = carried.withColumn("__bwd__", F.when(gap_bwd <= tolerance, F.col("__bwd__")))
    if direction in ("forward", "nearest"):
        # left rows sort before right rows at the same timestamp, so an
        # exact-timestamp right row is inside [current, following] (>=)
        wf = Window.partitionBy(*by).orderBy(F.col(on).asc(), F.col(tag).desc()).rowsBetween(
            0, Window.unboundedFollowing
        )
        carried = carried.withColumn("__fwd__", F.first(rv, ignorenulls=True).over(wf))
        if tolerance is not None:
            carried = carried.withColumn("__fwd__", F.when(gap_fwd <= tolerance, F.col("__fwd__")))

    if direction == "backward":
        chosen = F.col("__bwd__")
    elif direction == "forward":
        chosen = F.col("__fwd__")
    else:
        chosen = (
            F.when(F.col("__bwd__").isNull(), F.col("__fwd__"))
            .when(F.col("__fwd__").isNull(), F.col("__bwd__"))
            .when(gap_fwd < gap_bwd, F.col("__fwd__"))
            .otherwise(F.col("__bwd__"))
        )
    out = carried.withColumn(rv, chosen).filter(F.col(tag) == 1)
    out = out.select(
        *[F.col(c) for c in lcols],
        *[F.col(rv)[rc].alias(rc) for rc in right_cols],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_val: str,
    lo: str,
    hi: str,
    bucket_width: float | None = None,
) -> DataFrame:
    """Join rows of ``left`` to interval rows of ``right`` where
    ``left.left_val ∈ [right.lo, right.hi)``.

    Naive theta-join is a broadcast nested loop — fine for small
    interval tables, quadratic at scale. With ``bucket_width`` set,
    both sides are bucketed into fixed-width bins first (intervals
    explode into the bins they overlap) so the join becomes an
    equi-join on the bin id + residual predicate: one hash shuffle,
    no nested loop.
    """
    pred = (F.col(left_val) >= F.col(lo)) & (F.col(left_val) < F.col(hi))
    if bucket_width is None:
        return left.join(F.broadcast(right), pred)
    b = float(bucket_width)
    lb = left.withColumn("__bin__", F.floor(F.col(left_val) / b))
    rb = right.withColumn(
        "__bin__",
        F.explode(F.sequence(F.floor(F.col(lo) / b), F.floor((F.col(hi) - F.lit(1e-9)) / b))),
    )
    return lb.join(rb, "__bin__").filter(pred).drop("__bin__")


def write_bucketed(df: DataFrame, table_name: str, key: str, num_buckets: int) -> None:
    """Persist ``df`` hash-bucketed (and sorted) by ``key``: the
    pre-shuffle that makes every later equi-join/agg on ``key``
    exchange-free. ``repartition`` first so each bucket is one sorted
    file — then a join of two co-bucketed tables needs neither Exchange
    nor Sort (verified in test_bucketed_join_is_exchange_free).

    This is the durable analog of the reference's keyspace partitioning:
    LibMR data is permanently hash-sliced across shards
    (``/root/reference/src/cluster.c:1820-1843``), so its reshuffle step
    is a no-op for already-owned records (``src/mr.c:745-749``);
    bucketing gives Spark the same "already co-located" property.
    """
    (
        df.repartition(num_buckets, F.col(key))
        .write.mode("overwrite")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(table_name)
    )


def co_located_join(spark, left_table: str, right_table: str, on, how: str = "inner") -> DataFrame:
    """Join two tables previously written with ``write_bucketed`` on
    their bucket key: scan-local merge join, zero shuffle of either
    side. ``hint('merge')`` pins sort-merge so a small side doesn't
    broadcast away the demonstration at test scale."""
    return spark.table(left_table).hint("merge").join(spark.table(right_table), on, how)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    num_salts: int = 8,
    how: str = "inner",
    salt_col: str = "__salt__",
    hot_threshold: int | None = None,
) -> DataFrame:
    """Skew-mitigating equi-join: spread hot fact keys across
    ``num_salts`` sub-keys and replicate the matching dim rows that many
    times, so one pathological key occupies ``num_salts`` reducers
    instead of one. Complements AQE's runtime skew splitting (enabled in
    session.py) when skew is known ahead of time.

    ``hot_threshold=None`` salts EVERY key (dim side replicated
    ``num_salts``× wholesale). That is the right call when the hot set
    is unknown and the dim side is small, but it multiplies the entire
    dim shuffle by ``num_salts`` — measured 12× wall for 10× data on a
    uniform corpus (SCALING.md round-4 stress), i.e. pure overhead for
    every key that wasn't hot.

    ``hot_threshold=N`` salts ONLY keys with more than N fact rows: one
    exact key-frequency aggregate over the fact's key column (map-side
    partial ⇒ the shuffle carries ≤ |distinct keys| rows) yields the
    hot-key set — bounded by |fact| / N rows BY CONSTRUCTION, so it
    broadcasts — and both sides get salt values from a broadcast probe
    against it: hot fact rows take a round-robin salt, cold rows salt 0;
    hot dim rows explode to all ``num_salts`` salts, cold dim rows stay
    single. One join, one shuffle per side, dim inflation
    = (num_salts−1)·|hot dim rows| instead of (num_salts−1)·|dim|. At a
    production threshold (say 10⁵ rows/key) the hot set is a handful of
    keys and the plan is within noise of the plain join on uniform data
    — the same melt-away shape as the dedup ``max_df`` defense.

    The salt value only balances rows — any assignment yields the same
    join result — so it's derived from ``monotonically_increasing_id``
    (cheap, no extra hash of row content).

    Only ``inner``/``left`` joins are valid: dim rows are replicated, so
    a right/full outer join would emit every unmatched dim row once per
    salt. Use a plain join for those.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(f"salted_join supports inner/left only (dim side is replicated), got {how!r}")
    if hot_threshold is None:
        fact_s = fact.withColumn(salt_col, F.pmod(F.monotonically_increasing_id(), F.lit(num_salts)).cast("int"))
        rep = dim.crossJoin(
            F.broadcast(
                dim.sparkSession.range(num_salts).select(F.col("id").cast("int").alias(salt_col))
            )
        )
        return fact_s.join(rep, [on, salt_col], how).drop(salt_col)

    hot = (
        fact.groupBy(on)
        .agg(F.count(F.lit(1)).alias("__cnt__"))
        .filter(F.col("__cnt__") > hot_threshold)
        .select(on, F.lit(True).alias("__is_hot__"))
    )
    fact_s = (
        fact.join(F.broadcast(hot), on, "left")
        .withColumn(
            salt_col,
            F.when(
                F.col("__is_hot__"), F.pmod(F.monotonically_increasing_id(), F.lit(num_salts))
            )
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("__is_hot__")
    )
    dim_s = (
        dim.join(F.broadcast(hot), on, "left")
        .withColumn(
            salt_col,
            F.explode(
                F.when(F.col("__is_hot__"), F.sequence(F.lit(0), F.lit(num_salts - 1))).otherwise(
                    F.sequence(F.lit(0), F.lit(0))
                )
            ),
        )
        .drop("__is_hot__")
    )
    return fact_s.join(dim_s, [on, salt_col], how).drop(salt_col)


def interval_overlap_join(
    intervals: DataFrame,
    start: str,
    end: str,
    bucket: str = "hour",
    pair_filter=None,
) -> tuple[DataFrame, DataFrame]:
    """Self-join an interval table on the OVERLAP predicate
    (``a.start <= b.end AND b.start <= a.end``) without the cartesian
    fallback a theta-only join plans to: each interval is exploded to
    the time buckets it covers, pairs meet inside a shared bucket
    (equi-join on the bucket column), and the exact predicate verifies.
    Transparent because two overlapping intervals always share the
    bucket containing ``max(a.start, b.start)``; a pair sharing k
    buckets appears k times, so callers must de-duplicate on their pair
    key (the returned pair frame is pre-``distinct``-ed on all output
    columns). Candidate work is bounded by per-bucket occupancy — the
    bucket width trades explode fan-out against bucket density, the
    same bounded-blocking contract as dedup's max_df.

    Returns ``(pairs, bucketed)`` where ``pairs`` has every column of
    both sides aliased ``a_*`` / ``b_*`` and ``bucketed`` is the
    exploded intermediate (exposed for tests / reuse).
    ``pair_filter(a, b) -> Column`` restricts which pairs are emitted
    (e.g. an anti-reflexivity key order); default pairs every row with
    every other including itself, which is rarely wanted — pass one.
    """
    # bucket must be a date_trunc unit so bucket values are GLOBALLY
    # aligned — per-interval-offset buckets would break the shared-
    # bucket guarantee and silently drop overlapping pairs
    if bucket not in {"hour", "day", "week"}:
        raise ValueError(f"bucket must be one of hour/day/week, got {bucket!r}")
    bucketed = intervals.withColumn(
        "__bucket__",
        F.explode(
            F.sequence(
                F.date_trunc(bucket, F.col(start)),
                F.date_trunc(bucket, F.col(end)),
                F.expr(f"INTERVAL 1 {bucket}"),
            )
        ),
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cond = (
        (F.col("a.__bucket__") == F.col("b.__bucket__"))
        & (F.col(f"a.{start}") <= F.col(f"b.{end}"))
        & (F.col(f"b.{start}") <= F.col(f"a.{end}"))
    )
    if pair_filter is not None:
        cond = cond & pair_filter(a, b)
    cols = [c for c in intervals.columns]
    pairs = (
        a.join(b, cond)
        .select(
            *[F.col(f"a.{c}").alias(f"a_{c}") for c in cols],
            *[F.col(f"b.{c}").alias(f"b_{c}") for c in cols],
        )
        .distinct()
    )
    return pairs, bucketed
