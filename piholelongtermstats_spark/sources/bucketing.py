"""Bucketed-table layout for shuffle-free co-located joins.

The reference is a single-process engine — it has no join layout
problem (SURVEY.md §2.4: no merge call anywhere). At 100 TB the
story inverts: the fact⋈fact joins (e.g. lineitem⋈orders on
orderkey, or a documents self-join keyed by shingle bucket) shuffle
BOTH sides on every query unless the tables are pre-bucketed on the
join key. Bucketing pays the shuffle once at write time; every later
join/aggregation on the bucket key is map-side:

  - both sides bucketed by the same key into the same bucket count
    ⇒ SortMergeJoin with NO Exchange on either side;
  - groupBy(bucket key) ⇒ no Exchange before the final aggregate.

These helpers wrap the saveAsTable bucketing API (the DataFrame
`parquet(path)` writer silently ignores bucketBy — a classic
pitfall, so writing through the catalog is mandatory) and the tests
assert the no-Exchange property straight off `.explain`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist `df` as a parquet table bucketed (and optionally
    sorted) by `bucket_cols` — the one-time shuffle that later joins
    and aggregations on those columns skip.

    Sorting within buckets additionally lets SortMergeJoin skip its
    sort, and gives parquet row groups tight min/max bounds on the
    sort columns (range-predicate row-group skipping).

    ``path`` makes it an EXTERNAL table at that location (the bucket
    spec still lives in the catalog — which is what makes bucketing
    effective; a bare ``parquet(path)`` write silently drops it).
    """
    w = df.write.format("parquet").mode("overwrite").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def colocated_join(
    spark: SparkSession, left: str, right: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two same-key same-bucket-count tables; with bucketing in
    effect the physical plan has no Exchange on either side."""
    return spark.table(left).join(spark.table(right), on, how)
