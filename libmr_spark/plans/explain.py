"""Plan inspection helpers — used by tests to assert that plans stay
scale-worthy: filters pushed to the scan, columns pruned, joins
broadcast when one side is small, whole-stage codegen covering the hot
path. "Correct but unoptimized" fails these checks.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def scan_info(df: DataFrame) -> dict:
    """Extract PushedFilters / ReadSchema from the formatted plan of the
    parquet scans feeding ``df``."""
    plan = formatted_plan(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: ([^\n]+)", plan)
    return {"pushed_filters": pushed, "read_schemas": schemas, "plan": plan}


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    info = scan_info(df)
    return any(fragment in p for p in info["pushed_filters"])


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """Number of *shuffle* exchanges in the physical plan — the metric
    to minimize at 100 TB. Broadcast exchanges are excluded (they move
    dim-table bytes, not the fact table); each operator is counted once
    via its numbered entry in the formatted plan's detail section."""
    return len(re.findall(r"^\(\d+\) Exchange\b", formatted_plan(df), re.MULTILINE))


def count_broadcast_exchanges(df: DataFrame) -> int:
    return len(re.findall(r"^\(\d+\) BroadcastExchange\b", formatted_plan(df), re.MULTILINE))
