#!/usr/bin/env python
"""Per-query bench regression guard: compare the newest bench result
against ONE OR MORE baselines, normalized by the MEDIAN raw ratio
over common queries (the denominator of record — BASELINE.md "gate
scope"; the Spark-shaped calibration probe is a cross-check), and
alarm on queries
that slowed past the threshold against EVERY baseline (a query slow vs
one baseline but at parity vs another is machine noise, not a plan
regression — exactly the round-8 adjudication: the driver round showed
6 queries >=2x while the same-code committed run had all of them
<=1.15x once normalized).

    python scripts/bench_compare.py
        # newest BENCH_r*.json vs BOTH the prior BENCH_r*.json and the
        # committed BENCH_full.json (multi-baseline default)
    python scripts/bench_compare.py OLD.json NEW.json
    python scripts/bench_compare.py OLD1.json OLD2.json NEW.json
        # last file is the candidate, all earlier files are baselines
    ... [--threshold 1.5]

Exit code 1 when a query regresses past the threshold against every
baseline, so CI/driver wrappers can fail loudly.
"""

from __future__ import annotations

import glob
import json
import os
import sys


def load(path: str) -> dict:
    with open(path) as fh:
        d = json.load(fh)
    # the driver's BENCH_r{N}.json wraps bench.py's line under "parsed"
    return d.get("parsed", d)


def queries_of(d: dict) -> dict:
    """Full-sweep timings when present (rotated-out queries regress
    there), with the headline's min-of-2 winning on overlap. A pinned
    name that errored is a null on the headline line and has no time."""
    q = dict((d.get("full") or {}).get("queries") or {})
    q.update(d.get("queries") or {})
    return {k: v for k, v in q.items() if v is not None}


def main(argv: list[str]) -> int:
    threshold = 1.5
    if "--threshold" in argv:
        i = argv.index("--threshold")
        threshold = float(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if len(argv) >= 2:
        base_paths, new_path = argv[:-1], argv[-1]
    else:
        benches = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
        if not benches:
            print("no BENCH_r*.json found — nothing to do")
            return 0
        new_path = benches[-1]
        base_paths = benches[-2:-1]
        committed = os.path.join(here, "BENCH_full.json")
        if os.path.exists(committed):
            base_paths.append(committed)
        if not base_paths:
            print("need at least one baseline — nothing to do")
            return 0

    new = load(new_path)
    nq_raw = queries_of(new)
    nc = new.get("calib_spark_sec") or new.get("calib_matmul_sec")
    print(f"candidate: {os.path.basename(new_path)} "
          f"(total {new.get('value', 0):.2f}s raw, calib {nc})")

    # per-baseline normalized ratios
    ratios: dict[str, dict[str, float]] = {}
    base_names = []
    for bp in base_paths:
        old = load(bp)
        bn = os.path.basename(bp)
        base_names.append(bn)
        oq = queries_of(old)
        # calibration pairs only match like-for-like: the round-10
        # Spark-shaped probe (calib_spark_sec — shuffle+agg, measures
        # the thing being normalized) or the legacy matmul for
        # pre-round-10 baselines
        if new.get("calib_spark_sec") and old.get("calib_spark_sec"):
            oc, cal_name = old["calib_spark_sec"], "spark-probe"
            cal_speed = new["calib_spark_sec"] / oc
        elif new.get("calib_matmul_sec") and old.get("calib_matmul_sec"):
            oc, cal_name = old["calib_matmul_sec"], "matmul(legacy)"
            cal_speed = new["calib_matmul_sec"] / oc
        else:
            oc, cal_name, cal_speed = None, "none", None
        common = set(oq) & set(nq_raw)
        # PRIMARY denominator (BASELINE.md "gate scope"): the median
        # raw ratio over all common queries — ~300 queries don't all
        # change plan at once, so the median is a self-normalizing
        # machine-speed estimate that by construction measures the
        # workload being normalized.  The calibration probe is a
        # SECONDARY cross-check: report when it disagrees >1.5x
        # (round-9 finding: the matmul probe drifted with BLAS
        # threading while query walls were steady).
        raw_rs = sorted(
            nq_raw[k] / max(oq[k], 0.005) for k in common if oq[k] > 0
        )
        med = raw_rs[len(raw_rs) // 2] if raw_rs else None
        if med is not None:
            speed = med
            norm = f"median-normalized ({len(raw_rs)} common)"
            if cal_speed and (cal_speed / med > 1.5 or med / cal_speed > 1.5):
                print(
                    f"  CALIB CROSS-CHECK vs {bn}: {cal_name} says "
                    f"x{cal_speed:.2f} but the median raw ratio is "
                    f"x{med:.2f} — median is the denominator of record"
                )
        elif cal_speed:
            speed, norm = cal_speed, f"calib-normalized ({cal_name})"
        else:
            speed, norm = 1.0, "RAW (no common queries, no calib)"
        o_tot = sum(oq[k] for k in common)
        n_tot = sum(nq_raw[k] / speed for k in common)
        print(f"\nvs {bn}: speed x{speed:.2f} ({norm}; "
              f"{cal_name} cross-check "
              f"{f'x{cal_speed:.2f}' if cal_speed else 'n/a'}); "
              f"{len(common)} common queries, total "
              f"{o_tot:.2f}s -> {n_tot:.2f}s ({(n_tot / o_tot) if o_tot else 0:.2f}x)")
        # floor the denominator at 5ms: a baseline wall that rounded to
        # 0.00 must yield a HUGE ratio (and get flagged if material),
        # not silently drop out of the gate and masquerade as NEW
        ratios[bn] = {
            k: (nq_raw[k] / speed) / max(oq[k], 0.005) for k in common
        }
        for gone in sorted(set(oq) - set(nq_raw)):
            print(f"  GONE    {gone} (was {oq[gone]:.2f}s in {bn})")

    # combined table: flag only what regressed against EVERY baseline
    all_q = sorted(set().union(*[set(r) for r in ratios.values()]) if ratios else [])
    regressions = []
    print(f"\nper-query ({threshold}x flag needs every baseline to agree):")
    for name in all_q:
        rs = {bn: ratios[bn][name] for bn in base_names if name in ratios[bn]}
        worst, best = max(rs.values()), min(rs.values())
        if best > threshold and nq_raw.get(name, 0) > 0.5:
            # materiality floor: sub-half-second walls near the 5ms
            # denominator floor are JIT/launch noise, not plan shape
            regressions.append((name, best))
            mark = "REGRESS"
        elif worst > threshold:
            mark = "noise? "  # slow vs some baseline, parity vs another
        elif worst < 1 / threshold:
            mark = "faster "
        else:
            continue
        detail = ", ".join(f"{bn}: {r:.2f}x" for bn, r in rs.items())
        print(f"  {mark} {name}: {detail}")
    for name in sorted(set(nq_raw) - set(all_q)):
        print(f"  NEW     {name}: {nq_raw[name]:.2f}s")

    if regressions:
        print(f"\n{len(regressions)} regression(s) > {threshold}x vs every baseline: "
              + ", ".join(n for n, _ in regressions))
        return 1
    print("\nno per-query regressions above threshold against every baseline")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
