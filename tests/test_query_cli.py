"""Plan censuses of scripts/query.py on small constructed plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from scripts.query import global_sorts, leaf_scans, parquet_paths


def test_path_keys_survive_metadata_truncation(spark, tmp_path):
    # The rendered `Location [...]` string is cut at
    # spark.sql.maxMetadataStringLength (100), so two paths sharing a
    # longer prefix used to collapse into one key.
    base = tmp_path / ("p" * 120)
    for leg in ("a", "b"):
        spark.range(3).write.parquet(str(base / leg))
    df = spark.read.parquet(str(base / "a")).union(
        spark.read.parquet(str(base / "b"))
    )
    keys = parquet_paths(df)
    assert len(keys) == 2
    assert len(set(keys)) == 2
    assert all(k.endswith(("/a", "/b")) for k in keys)


def test_same_path_twice_is_one_key(spark, tmp_path):
    spark.range(3).write.parquet(str(tmp_path / "t"))
    one = spark.read.parquet(str(tmp_path / "t"))
    keys = parquet_paths(one.union(one.select((F.col("id") + 1).alias("id"))))
    assert len(keys) == 2 and len(set(keys)) == 1
    assert len(set(leaf_scans(one.union(one)))) == 1


def test_sorts_under_a_limit_are_not_global_sorts(spark, tmp_path):
    spark.range(1000).write.parquet(str(tmp_path / "t"))
    rows = spark.read.parquet(str(tmp_path / "t")).select((F.col("id") % 7).alias("k"))
    assert [b for _, b in global_sorts(rows.orderBy("k"))] == [False]
    assert global_sorts(rows.orderBy("k").limit(5)) == []
    bounded = rows.groupBy("k").count().orderBy("k")
    assert [b for _, b in global_sorts(bounded)] == [True]
