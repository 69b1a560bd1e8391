"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``piholelongtermstats_spark/`` (operators per
SURVEY.md §2); this module is a thin adapter over the query registry
(piholelongtermstats_spark/plans/: registry.py plus one module per
query domain).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from piholelongtermstats_spark.plans import ORACLE, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the query-stats card
    (total/blocked/allowed counts + percentages — reference
    stats.py:35-52) over the DNS fact table."""
    return QUERIES["status_counts"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query (same column aliases)."""
    return dict(ORACLE)
