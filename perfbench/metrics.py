"""The metrics a run reports: their names, units and how they are computed.

End-to-end metrics (untraced runs) are reported by every workload:

* ``setup_s``: process start until ready (session, package shipping,
  fixture staging, one verified warm-up op per type), less the time spent
  generating or checking the input tables (``datagen.ensure_data``), so
  the first run in a checkout is not an outlier.
* ``ops_per_s``: completed timed ops / timed wall clock.
* ``latency_geomean_ms``: geometric mean over op types of each type's
  median latency.
* ``read_p50_ms``: the median latency of the ops that change no stored
  data, taken per op type and combined by geometric mean over types: the
  point reads of ``serve``; every op type of ``pipeline`` (so there it
  equals ``latency_geomean_ms``).  A percentile pooled over op types of
  very different cost would sit on the edge of one type's samples and
  jump between runs.

The read tail is the per-layer ``serve.read_p90_ms``, not an end-to-end
metric: every workload reports every end-to-end metric, and a pipeline
run holds two samples of each op type (``Pipeline.min_rounds``), too few
for a 90th percentile.

A failed op counts with infinite latency, so it misses every limit.

Per-layer metrics (traced runs) are listed by :func:`per_layer_specs`.
A layer a workload does not exercise reports 0 there.  Exact counts
(``spark.*_per_op.*``, ``builder.*_rows``) come from the warm-up pass,
whose ops are a pure function of the seed, except for the noop-forced
queries, whose warm-up op collects to the driver for the oracle check:
their Spark work is counted on their first timed op.  Timings come from
the timed ops, every one of them traced.  ``trace.overhead_pct`` is the
share of the timed ops' wall time that their spans cost: the measured
cost of one span around a call, times the spans recorded, over the
ops' total latency.  End-to-end figures always come from untraced runs.
"""

from __future__ import annotations

import math
import statistics

from . import opgen

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("latency_geomean_ms", "ms", "lower"),
    ("read_p50_ms", "ms", "lower"),
)

LAYERS = ("op", "queries", "operators", "builder", "rpc", "readers", "sinks", "spark")
RPC_CALLS = ("run_on_key", "run_on_all_shards", "internal_command")


def per_layer_specs() -> list[tuple[str, str, str]]:
    all_ops = opgen.PIPELINE_OPS + opgen.SERVE_OPS
    return [
        ("session.get_spark_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("builder.create_execution_ms", "ms", "lower"),
        ("builder.run_ms", "ms", "lower"),
        ("builder.result_rows", "count", "higher"),
        ("builder.error_rows", "count", "lower"),
        *[(f"pipeline.{op}.p50_ms", "ms", "lower") for op in opgen.PIPELINE_OPS],
        *[(f"rpc.{c}_ms", "ms", "lower") for c in RPC_CALLS],
        ("readers.store_open_ms", "ms", "lower"),
        ("readers.load_table_ms", "ms", "lower"),
        ("sinks.merge_upsert_ms", "ms", "lower"),
        ("sinks.store_files", "count", "lower"),
        ("sinks.bytes_written_per_user_byte", "ratio", "lower"),
        ("sinks.store_bytes_per_live_byte", "ratio", "lower"),
        ("serve.write_p50_ms", "ms", "lower"),
        ("serve.read_p90_ms", "ms", "lower"),
        *[(f"queries.{op}.{part}_ms", "ms", "lower") for op in opgen.PIPELINE_QUERY_OPS for part in ("plan", "exec")],
        *[(f"spark.{what}_per_op.{op}", "count", "lower") for what in ("jobs", "stages", "tasks") for op in all_ops],
        ("jvm.gc_ms_per_op", "ms", "lower"),
        *[(f"self_ms_per_op.{layer}", "ms", "lower") for layer in LAYERS],
        ("trace.overhead_pct", "%", "lower"),
        ("trace.spans_per_op", "count", "lower"),
    ]


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; infinite if it touches a failed op."""
    if not values:
        return math.nan
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo, hi = v[math.floor(pos)], v[math.ceil(pos)]
    if math.isinf(lo) or math.isinf(hi):
        return math.inf
    return lo + (hi - lo) * (pos - math.floor(pos))


def iqr_over_median(values: list[float]) -> float:
    """Spread of one op type's latencies within a run."""
    q1, med, q3 = (quantile(values, q) for q in (0.25, 0.5, 0.75))
    return (q3 - q1) / med


def geomean(values: list[float]) -> float:
    if not values:
        return math.nan
    if any(math.isinf(v) for v in values):
        return math.inf
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _median0(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _emit(values: dict[str, float], specs) -> dict[str, dict]:
    """Name -> {value, unit}; a non-finite value (failed ops) prints as null."""
    out = {}
    for name, unit, _better in specs:
        v = float(values[name])
        out[name] = {"value": v if math.isfinite(v) else None, "unit": unit}
    return out


def per_kind(samples, kinds) -> dict[str, list[float]]:
    return {k: [s.ms for s in samples if s.kind == k] for k in kinds}


def end_to_end(wl, h, *, setup_s: float, wall_s: float) -> dict[str, dict]:
    samples = h.samples
    lat = per_kind(samples, wl.ops)
    reads = [v for k, v in lat.items() if k in wl.read_kinds and v]
    values = {
        "setup_s": setup_s,
        "ops_per_s": sum(math.isfinite(s.ms) for s in samples) / wall_s,
        "latency_geomean_ms": geomean([quantile(v, 0.5) for v in lat.values() if v]),
        "read_p50_ms": geomean([quantile(v, 0.5) for v in reads]),
    }
    return _emit(values, END_TO_END)


def jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def per_layer(wl, h, tracer, *, get_spark_s: float, warmup_s: float, gc_ms: float) -> dict[str, dict]:
    # spans of the timed ops only (warm-up spans carry first-call costs)
    timed = [(i, s) for i, s in enumerate(tracer.spans) if s.op >= h.timed_from]
    kind_of = {s.op: s.name[3:] for _i, s in timed if s.layer == "op"}

    def durations(name, kind=None, root_child=False):
        return [
            s.ms for _i, s in timed
            if s.name == name and (kind is None or kind_of.get(s.op) == kind)
            and (not root_child or (s.parent >= 0 and tracer.spans[s.parent].layer == "op"))
        ]

    values: dict[str, float] = {name: 0.0 for name, _u, _b in per_layer_specs()}
    values.update(wl.layer_metrics())
    values["session.get_spark_s"] = get_spark_s
    values["session.warmup_s"] = warmup_s
    values["builder.create_execution_ms"] = _median0(durations("builder.create_execution"))
    values["builder.run_ms"] = _median0(durations("builder.run"))
    values["readers.load_table_ms"] = _median0(durations("readers.load_table"))
    values["readers.store_open_ms"] = _median0(durations("readers.open_parquet", root_child=True))
    values["sinks.merge_upsert_ms"] = _median0(durations("sinks.merge_upsert"))
    for c in RPC_CALLS:
        values[f"rpc.{c}_ms"] = _median0(durations(f"rpc.{c}"))
    if wl.name == "pipeline":
        for op, v in per_kind(h.samples, wl.ops).items():
            values[f"pipeline.{op}.p50_ms"] = _median0(v)
        for op in opgen.PIPELINE_QUERY_OPS:
            values[f"queries.{op}.plan_ms"] = _median0(durations(f"queries.{op}", op))
            values[f"queries.{op}.exec_ms"] = _median0(durations("spark.save", op))
    for op, (jobs, stages, tasks) in h.counts.items():
        if op in wl.ops:
            values[f"spark.jobs_per_op.{op}"] = jobs
            values[f"spark.stages_per_op.{op}"] = stages
            values[f"spark.tasks_per_op.{op}"] = tasks
    values["jvm.gc_ms_per_op"] = gc_ms / max(1, len(h.samples))

    if kind_of:  # self time per layer, per timed op
        child_ms = [0.0] * len(tracer.spans)
        for _i, s in timed:
            if s.parent >= 0:
                child_ms[s.parent] += s.ms
        for i, s in timed:
            if s.layer in LAYERS:
                values[f"self_ms_per_op.{s.layer}"] += (s.ms - child_ms[i]) / len(kind_of)
        values["trace.spans_per_op"] = len(timed) / len(kind_of)
    timed_ms = sum(s.ms for s in h.samples if math.isfinite(s.ms))
    if timed_ms:
        values["trace.overhead_pct"] = 100.0 * tracer.span_cost_s() * 1e3 * len(timed) / timed_ms
    return _emit(values, per_layer_specs())
