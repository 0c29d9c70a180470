"""Local stand-in for the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over the
same sf dir, then compares row count, column names/dtypes, and
order-insensitive values (rows sorted by all columns; columns sorted by
name). Floats compared exactly after the queries' own rounding — any
mismatch here would be a mismatch in CORRECTNESS_r{N}.json.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import numpy as np

    if isinstance(v, np.generic):
        v = v.item()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        # dtype-faithful: the driver's hash distinguishes 0.0 from 0, so a
        # float cell must never normalize to the same string as an int cell
        # (round-2 sessionization failed exactly this way — HUGEINT sums land
        # in pandas as float64 while Spark returns int64).
        return "f:" + repr(v)
    if isinstance(v, bool):
        return "b:" + str(v)
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(r[c]) for c in cols) for _, r in df.iterrows()]
    return sorted(rows)


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """What keeps the Spark frame ``sdf`` from matching the oracle frame
    ``odf``: row count, column names, then canonical rows. Empty means
    a match."""
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount {len(sdf)} != {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns {sorted(sdf.columns)} != {sorted(odf.columns)}")
    if not problems:
        a, b = canon(sdf), canon(odf)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ, first diffs: {diff}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    if os.environ.get("SPARK_GRAFT_VANILLA") == "1":
        # driver-sim: the real gate runs with NO custom confs — catch any
        # conf-dependent query the tuned session would hide
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from ngxspark.session import get_spark

        spark = get_spark(app="oracle-check", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_connection(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (rows-only check, no oracle)")
            if len(sdf) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error {str(e)[:300]}")
            continue
        problems = compare(sdf, odf)
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(p[:400] for p in problems)}")
        else:
            print(f"OK    {name}: {len(sdf)} rows")
    print()
    if failures:
        print(f"{len(failures)} FAILURES")
        return 1
    print("ALL MATCH")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
