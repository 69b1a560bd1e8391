"""Idempotent keyed-upsert sink on plain parquet (foreachBatch MERGE).

The rollup stream (streaming/rollup.py) emits UPDATED (hour_bucket,
status_type, client) counts each micro-batch. A file sink in append
mode would duplicate keys; blind partition overwrite would drop
unchanged keys sharing a partition. The standard no-lakehouse MERGE
is read-modify-write per affected partition inside foreachBatch:

  1. restrict the existing table to the partitions present in the
     batch (partition pruning — untouched dates are never read);
  2. anti-join existing rows against the batch's keys (survivors);
  3. union survivors + batch rows, write with the writer option
     partitionOverwriteMode=dynamic — only the affected date
     partitions are replaced, and the session conf is never touched.

Idempotent: replaying a batch rewrites the same rows to the same
values. At scale the same loop runs per trigger with partitions
bounded by the watermark (late data can only touch recent dates).
A Delta/Iceberg MERGE INTO replaces steps 1-3 one-for-one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from piholelongtermstats_spark.streaming.rollup import streaming_hourly_rollup

KEY_COLS = ["hour_bucket", "status_type", "client"]
PART_COL = "p_date"


def merge_batch(spark: SparkSession, batch: DataFrame, target_dir: str) -> None:
    """Upsert one (possibly replayed) batch of rollup rows into the
    date-partitioned parquet table at target_dir. An empty batch
    writes nothing."""
    batch = batch.withColumn(PART_COL, F.to_date("hour_bucket")).cache()
    try:
        touched = [r[PART_COL] for r in batch.select(PART_COL).distinct().collect()]
        if not touched:
            return
        try:
            existing = spark.read.parquet(target_dir)
        except Exception:  # first batch: nothing to merge
            existing = None
        out = batch
        if existing is not None:
            survivors = existing.filter(F.col(PART_COL).isin(touched)).join(
                batch.select(*KEY_COLS), KEY_COLS, "left_anti"
            )
            out = survivors.unionByName(batch)
        # Materialize BEFORE the overwrite: `out` lazily reads the very
        # files the write below replaces — localCheckpoint pins the
        # merged rows to executor storage so the overwrite never races
        # its own input. (Atomicity across a mid-write crash is the
        # lakehouse formats' job — a Delta/Iceberg MERGE INTO replaces
        # this whole block; plain parquet gets idempotent-replay
        # safety, which the checkpointed source already provides.)
        out = out.repartition(PART_COL).localCheckpoint(eager=True)
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(PART_COL)
            .parquet(target_dir)
        )
    finally:
        batch.unpersist()


def start_rollup_upsert(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Continuously maintain the hourly rollup as a queryable
    date-partitioned parquet table via foreachBatch upsert."""
    rollup = streaming_hourly_rollup(spark, source_dir, watermark)
    return (
        rollup.writeStream.outputMode("update")
        .foreachBatch(lambda df, _id: merge_batch(spark, df, target_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
