"""Generate PLANS.md: per-headline-query physical-plan report —
shuffle-exchange count, broadcast joins, pushed filters, read schemas —
the evidence that each plan is the one we'd want on a 1000-executor
cluster, not just the first one that passed.

Usage: python scripts/explain_report.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from libmr_spark.plans.explain import (  # noqa: E402
    count_broadcast_exchanges,
    count_exchanges,
    scan_info,
)
from libmr_spark.queries import QUERIES  # noqa: E402
from libmr_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-report")
    print("# PLANS — physical-plan audit of the headline queries")
    print()
    print(f"Generated by `scripts/explain_report.py` at `{sf_dir}`. For each")
    print("query: number of shuffle exchanges (the cost that dominates at")
    print("100 TB), broadcast joins (dim tables that never shuffle the fact")
    print("side), and what actually reaches the parquet scan (pushed filters")
    print("+ pruned read schema). Regenerate after plan-affecting changes.")
    print()
    print("| query | shuffle exchanges | broadcast exchanges | pushed filters | scan columns |")
    print("|---|---|---|---|---|")
    for name in HEADLINE:
        df = QUERIES[name].fn(spark, sf_dir)
        info = scan_info(df)
        nex = count_exchanges(df)
        nbc = count_broadcast_exchanges(df)
        pushed = "; ".join(p for p in info["pushed_filters"] if p)[:80] or "—"
        cols = "; ".join(s.split("struct<")[-1].rstrip(">")[:60] for s in info["read_schemas"][:2]) or "—"
        print(f"| {name} | {nex} | {nbc} | `{pushed}` | `{cols}` |")
    print()
    print("Notes:")
    print()
    print("* Shuffle counts are at the audit SF — AQE may coalesce further at")
    print("  runtime. Broadcast decisions shift with table size; the dedup/knn")
    print("  LSH pipelines keep their candidate-join shuffle proportional to")
    print("  candidate volume by construction (see operators/dedup.py docstring).")
    print("* `kv_*` queries derive key from o_orderkey, so their scans prune to")
    print("  exactly the projected columns; derived-column predicates cannot")
    print("  push down. `run_on_key` reads only a small bare local parquet")
    print("  scan on the driver (gate in the core/rpc.py module docstring);")
    print("  a derived frame like these takes the Spark filter.")
    print("* `revenue_share_window` / `dense_rank_ties` intentionally use")
    print("  UNPARTITIONED windows (WindowExec warns during the audit): both")
    print("  window over POST-AGGREGATE rows bounded by group cardinality")
    print("  (3 order statuses / ~50 distinct quantities), never the fact")
    print("  table — the single-partition window input is O(|groups|), not")
    print("  O(rows), so the warning does not indicate a scale hazard. The")
    print("  precondition is stated in each query's description.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
