"""Parquet readers for the driver's synthetic tables (TESTDATA.md).

Replaces the reference's SQLite scan path (db.py:111-152). Parquet +
Catalyst give us for free what the reference hand-rolls: predicate
pushdown to row-group stats (db.py:130-135 → O1), column pruning
(db.py:131 → O2), and chunked reads (db.py:144-150 → partitions).

Scale note: the events fact is read through its date-partitioned
layout (sources/layout.py), so time-range queries become partition
pruning; join-heavy tables would be bucketed by the high-cardinality
join key where relevant (sources/bucketing.py).
The readers here take any directory of ``<table>.parquet``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """Session-scoped memo of the ANALYZED reader frame for a static
    parquet path.

    ``spark.read.parquet`` pays DataSource resolution — file listing
    plus footer/schema read — in the JVM on EVERY call (~60-90 ms per
    table here); a steady-state construction pass over the registry
    made 86 such calls (7.6 s) for the same handful of immutable
    paths (r12, guide §1.2 applied to the driver). The memo returns
    the same immutable DataFrame (logical plan) object instead; the
    SCAN still executes per action — this is plan-construction reuse,
    not data caching, and holds at any scale (a production driver
    resolving a 10⁵-file table per query would pay far more).

    Keyed per SESSION OBJECT (the memo dies with the session) and per
    absolute path. Only for paths that are immutable once written —
    driver testdata tables, committed snapshot ``v=N`` dirs, and the
    staged-rename layout/zorder dirs, whose writers call
    ``invalidate_read_memo`` after every rewrite."""
    memo = spark.__dict__.setdefault("_phlts_read_memo", {})
    key = os.path.abspath(path)
    df = memo.get(key)
    if df is None:
        df = spark.read.parquet(path)
        memo[key] = df
    return df


def invalidate_read_memo(spark: SparkSession, root: str) -> None:
    """Drop memoized reader frames at/under ``root`` (writers call
    this after a staged rename so no consumer can see a stale file
    listing)."""
    memo = getattr(spark, "_phlts_read_memo", None)
    if memo:
        r = os.path.abspath(root)
        for k in [k for k in memo if k == r or k.startswith(r + os.sep)]:
            del memo[k]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table from ``sf_dir``."""
    return read_parquet_memo(spark, os.path.join(sf_dir, f"{name}.parquet"))


def union_all(*dfs: DataFrame) -> DataFrame:
    """Multi-source UNION ALL, duplicates kept.

    Reference: the multi-DB concat (db.py:137-152, app.py:144-154);
    duplicates deliberately retained (README.md:56) ⇒ unionByName,
    never distinct (SURVEY.md §2.1 S6).
    """
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), dfs)
