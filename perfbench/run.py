"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload {pipeline,serve} \\
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout.  The first run generates the
sf0.1-shaped input tables under ``.perfbench/``; every run refuses to go
on if their fingerprint is not the pinned one.  It then starts Spark at
``local[K]`` sized to the host, stages the workload's fixtures, runs one
verified warm-up op of every type, and drives the closed loop in full
rounds of ops that fit in ``--seconds`` (at least the workload's
``min_rounds``).  Everything it writes stays under ``.perfbench/``;
what one run writes there (store, Spark scratch, temp files) is removed
at exit, except the span file of a traced run.

The last stdout line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (``metrics.py``).  Two lines before it record the run
environment and the timed loop (warm-up latency, sample count and
median per op type, CPU busy and stolen shares).  Without the engine package beside
``perfbench/`` it exits with status 2 and prints no result.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def machine_settings() -> dict[str, str]:
    """Spark parallelism and heap sized to the host: one core is left
    to the client and the JVM's own threads, the heap is 1/8 of RAM
    (at most 4 GiB)."""
    nproc = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return {
        "nproc": str(nproc),
        "SPARK_GRAFT_CPUS": str(max(1, min(nproc - 1, 8))),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, mem_mb // 8))}m",
    }


def cpu_times() -> list[int] | None:
    """Aggregate CPU jiffies from /proc/stat (user ... steal), if present."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def cpu_shares(before, after) -> dict[str, float] | None:
    """Busy and stolen shares of all CPUs between two :func:`cpu_times`."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy_pct": 100.0 * (total - d[3] - d[4]) / total, "steal_pct": 100.0 * d[7] / total}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import libmr_spark  # noqa: F401  (the engine under test)
    except ImportError as e:
        print(f"perfbench: cannot import the engine package libmr_spark from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import datagen

    base = os.path.join(ROOT, ".perfbench")
    t0 = time.perf_counter()
    try:
        data_dir = datagen.ensure_data(base)
    except datagen.FingerprintError as e:
        print(f"perfbench: {e}; refusing to compare runs over different data", file=sys.stderr)
        return 3
    data_s = time.perf_counter() - t0  # not set-up: excluded from setup_s
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    settings = machine_settings()
    dirs = {d: os.path.join(work, d) for d in ("tmp", "spark-local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        SPARK_GRAFT_SF_DIR=data_dir,
        SPARK_GRAFT_CPUS=settings["SPARK_GRAFT_CPUS"],
        SPARK_GRAFT_DRIVER_MEM=settings["SPARK_GRAFT_DRIVER_MEM"],
    )
    try:
        return _run(args, settings, dirs, data_dir, work, base, data_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, settings, dirs, data_dir, work, base, data_s) -> int:
    import pandas as pd

    from perfbench import datagen, metrics, trace
    from perfbench.workloads import WORKLOADS, Harness

    tracer = trace.Tracer(enabled=bool(args.trace))
    if args.trace:
        trace.instrument(tracer)
    from libmr_spark import session

    tmp = dirs["tmp"]
    t0 = time.perf_counter()
    spark = session.get_spark(
        f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    get_spark_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        h = Harness(spark, tracer)
        orders = pd.read_parquet(os.path.join(data_dir, "orders.parquet"))
        wl = WORKLOADS[args.workload](h, data_dir, orders, args.seed, work)
        t0 = time.perf_counter()
        wl.setup()
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START - data_s

        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "K": int(settings["SPARK_GRAFT_CPUS"]),
            "master": spark.sparkContext.master,
            "driver_memory": settings["SPARK_GRAFT_DRIVER_MEM"],
            "nproc": int(settings["nproc"]),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "data_fingerprint": datagen.EXPECTED_FINGERPRINT,
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "data_s": data_s,
        }
        print(json.dumps({"env": env}), flush=True)

        gc0, cpu0 = metrics.jvm_gc_ms(spark), cpu_times()
        t0 = time.perf_counter()
        h.start_timed()
        wl.run_timed(t0 + args.seconds)
        wall_s = time.perf_counter() - t0
        gc_ms = metrics.jvm_gc_ms(spark) - gc0
        lat = metrics.per_kind(h.samples, wl.ops)
        detail = {
            "timed_s": wall_s,
            "warmup_ms": h.warmup_ms,
            "samples": {k: len(v) for k, v in lat.items()},
            "p50_ms": {k: metrics.quantile(v, 0.5) for k, v in lat.items() if v},
            "iqr_over_median": {k: metrics.iqr_over_median(v) for k, v in lat.items() if len(v) > 1},
            "cpu": cpu_shares(cpu0, cpu_times()),
        }
        print(json.dumps({"detail": detail}), flush=True)

        if args.trace:
            out = metrics.per_layer(wl, h, tracer, get_spark_s=get_spark_s, warmup_s=warmup_s, gc_ms=gc_ms)
            tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            out = metrics.end_to_end(wl, h, setup_s=setup_s, wall_s=wall_s)
        result = {
            "correct": h.failed == 0,
            "attempted": h.attempted,
            "failed": h.failed,
            "metrics": out,
        }
    finally:
        proc = gateway.proc
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
