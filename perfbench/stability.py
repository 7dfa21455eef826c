"""Run-to-run stability check for the benchmark.

    python3 perfbench/stability.py --workload pipeline --runs 10 \\
        [--first-seed 1] [--seconds 20] [--trace 0]

Runs ``perfbench/run.py`` once per seed (first-seed, first-seed+1, ...),
one run at a time, then prints for every metric its median, first and
third quartile (``statistics.quantiles(values, n=4)``) and the spread
IQR/median, and names every metric whose spread exceeds its bound in
``BENCHMARK.json`` (a third of the bound is the target for a steady
benchmark).  It then gives the same spread for each op type's median
latency, the calibration that decides which op types a workload keeps.
Exits 1 if any run failed or was incorrect, or if a spread exceeds its
bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """(result, detail) of one run."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    detail = next((json.loads(x)["detail"] for x in lines if x.startswith('{"detail"')), {})
    detail["wall_s"] = time.perf_counter() - t0
    return json.loads(lines[-1]), detail


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, IQR/median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    results, details = [], []
    for i in range(args.runs):
        seed = args.first_seed + i
        r, detail = run_once(args.workload, seed, seconds, args.trace)
        results.append(r)
        details.append(detail)
        shown = " ".join(f"{k}={v['value']:.6g}" for k, v in r["metrics"].items() if k in bounds)
        cpu = detail.get("cpu") or {}
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} {shown} "
              f"samples={sum(detail.get('samples', {}).values())} steal%={cpu.get('steal_pct', float('nan')):.1f} "
              f"wall={detail['wall_s']:.0f}s",
              flush=True)

    bad = [r for r in results if not r["correct"] or r["failed"]]
    over = []
    print(f"\n{'metric':<28} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} {'bound':>6}")
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        if any(v is None for v in values) or len(values) < 2:
            print(f"{name:<28} (missing values)")
            continue
        med, q1, q3, rel = spread(values)
        bound = bounds.get(name)
        flag = ""
        if bound is not None:
            if rel > bound:
                flag = "OVER BOUND"
                over.append(name)
            elif rel > bound / 3:
                flag = "above bound/3"
        shown_bound = "" if bound is None else bound
        print(f"{name:<28} {med:>12.6g} {q1:>12.6g} {q3:>12.6g} {rel:>8.3f} {shown_bound:>6} {flag}")
    print(f"\n{'op type: median latency':<40} {'median':>12} {'iqr/med':>8}")
    for kind in details[0].get("p50_ms", {}):
        values = [d["p50_ms"][kind] for d in details if kind in d.get("p50_ms", {})]
        if len(values) > 1:
            med, _q1, _q3, rel = spread(values)
            print(f"{kind:<40} {med:>12.6g} {rel:>8.3f}")
    if bad:
        print(f"{len(bad)} run(s) incorrect or with failed ops")
    if over:
        print("spread over bound: " + ", ".join(over))
    return 1 if bad or over else 0


if __name__ == "__main__":
    sys.exit(main())
