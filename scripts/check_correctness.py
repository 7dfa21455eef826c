"""Local simulation of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same sf dir, compare row count + column names + order-insensitive
canonicalized values. Usage:

    python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from libmr_spark.core.layout import materialised
from libmr_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if pd.isna(v):
        return "NULL"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return repr(v)  # keep float repr to catch type drift
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    return str(v)


def canon_df(pdf: pd.DataFrame) -> list[str]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = ["|".join(canon_cell(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    return sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if not os.path.isdir(a))

    # SPARK_GRAFT_SHUFFLE overrides the partition count — rerunning the
    # whole gate at an adversarial (prime) count is the cheap way to
    # catch any result that depends on partial-aggregation order
    spark = get_spark(
        "check-correctness",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "16")),
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed, passed, rows_only = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with materialised():
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failed.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            failed.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        s_cols, d_cols = sorted(sdf.columns), sorted(ddf.columns)
        if s_cols != d_cols:
            failed.append(name)
            print(f"FAIL  {name}: columns differ spark={s_cols} duck={d_cols}")
            continue
        if len(sdf) != len(ddf):
            failed.append(name)
            print(f"FAIL  {name}: rowcount spark={len(sdf)} duck={len(ddf)}")
            continue
        s_rows, d_rows = canon_df(sdf), canon_df(ddf)
        if s_rows != d_rows:
            failed.append(name)
            diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
            print(f"FAIL  {name}: values differ; first diffs:")
            for a, b in diffs:
                print(f"      spark: {a}\n      duck : {b}")
            continue
        passed.append(name)
        print(f"PASS  {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(passed)} passed, {len(failed)} failed, {len(rows_only)} rows-only")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
