"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship parse→enrich→route pipeline at sf0.001.
queries()       — operator registry (SURVEY.md §2 + training-data ops).
oracle_sql()    — DuckDB-equivalent SQL per query (CORRECTNESS gate).

Implementation lives in ngxspark.queries; this module is the thin
driver-facing shim.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ngxspark import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: render combined-format
    lines from orders, parse with the vectorized engine, enrich with the
    status-class literal-map lookup, route to sinks, per-sink counts."""
    return _q.q_route_sinks(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
