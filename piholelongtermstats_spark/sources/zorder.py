"""Z-order (Morton-curve) clustered events layout — multi-dimensional
data clustering so parquet min/max statistics prune scans on EITHER
filter dimension, not just the sort leader.

The date-partitioned layout (sources/layout.py) solves time-range
pruning at directory level. But the reference's interactive drill-down
also filters by CLIENT (db.py:133 passes client= through the same
query path), and at 100 TB a single-client scan over a time-sorted
layout touches every file: client values are uniformly spread, so each
file's client min/max spans the whole domain and no row group is
skippable. The lakehouse answer (Delta/Iceberg OPTIMIZE ZORDER BY) is
to sort by the interleaved bits of both dimensions: any contiguous
z-range covers a small rectangle of (client, hour) space, so every
file carries TIGHT min/max stats on BOTH raw columns, and the
parquet reader's row-group statistics skip the rest. Crucially the
pruning acts on the ordinary `user_id`/`ts` column stats — the query
never mentions the z-value, so the layout is transparent to every
existing predicate.

The z-value is ONLY a clustering key: correctness never depends on it
(tests pin z-scan ≡ DuckDB's FACT_CTE row-for-row), so
clamping/wrapping the dimension encodings is harmless — worst case is
weaker locality.

Scale shape: the one-time layout job is a repartitionByRange on the
z-value (Spark samples range bounds — one pass) + per-partition local
sort + parquet write; a daily-ingest deployment z-orders each day's
partition independently (compose with layout.py's p_date directories).
tests/test_zorder.py measures the evidence: the executed scan's
numOutputRows (rows surviving row-group pruning, BEFORE Spark's
residual Filter) collapses for client-equality scans versus the
identically-sized time-sorted layout.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.sources.events import canonical_ts, project_fact
from piholelongtermstats_spark.sources.layout import (
    PARTITION_COL,
    _materialize,
    micros_write,
    prune_dates,
)
from piholelongtermstats_spark.sources.parquet import (
    invalidate_read_memo,
    load_table,
    read_parquet_memo,
)

BITS = 8  # per-dimension resolution: 2^8 = 256 cells/dim
N_FILES = 16


def zvalue(a: Column, b: Column, bits: int = BITS) -> Column:
    """Morton interleave of two non-negative long encodings, clamped
    to ``bits`` bits each (clamp = locality loss only, never a
    correctness issue). Bit i of `a` lands at z-bit 2i, bit i of `b`
    at 2i+1 — pure shift/and/sum Column arithmetic, whole-stage
    codegen friendly."""
    a = F.least(a.cast("long"), F.lit((1 << bits) - 1))
    b = F.least(b.cast("long"), F.lit((1 << bits) - 1))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _events_with_hour(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, Column]:
    """(canonical-ts events, epoch-hour Column)."""
    ev = canonical_ts(load_table(spark, sf_dir, "events"))
    hour = F.floor(F.unix_micros(F.col("ts")) / F.lit(3_600_000_000))
    return ev, hour.cast("long")


def write_events_zordered(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    bits: int = BITS,
    n_files: int = N_FILES,
) -> None:
    """One-time clustering job: events sorted by z(user_bucket,
    hour_bucket) into ``n_files`` range-partitioned files.

    Both dimensions are first normalized to EQUAL-width 2^bits bucket
    encodings via min/max scaling (one tiny agg job) — interleaving
    the raw values would let the wider dimension's high bits dominate
    and the curve degenerates to a single-dim sort (measured: raw
    user_id 0-1499 vs epoch-hour offset 0-719 z-ordered ≈ a time
    sort). Equal-frequency ranks (Delta's range_partition_id) would
    handle skewed dims too; min/max scaling is enough for these
    near-uniform keys and costs one aggregate instead of two windows.

    Non-ts columns are preserved byte-for-byte, ts is canonicalized to
    INT64 UTC micros (events.canonical_ts — INT96/NTZ encodings carry
    no usable stats), and the z column is NOT persisted; pruning acts
    through ordinary user_id/ts min-max file statistics."""
    ev, hour = _events_with_hour(spark, sf_dir)
    if ev.isEmpty():
        ev.write.mode("overwrite").parquet(path)
        invalidate_read_memo(spark, path)
        return
    r = ev.select(
        F.min(F.col("user_id")).alias("u0"),
        F.max(F.col("user_id")).alias("u1"),
        F.min(hour).alias("h0"),
        F.max(hour).alias("h1"),
    ).first()

    def _scale(col: Column, lo: int, hi: int) -> Column:
        span = max(int(hi) - int(lo) + 1, 1)
        return F.floor(
            (col - F.lit(int(lo))) * F.lit(1 << bits) / F.lit(span)
        ).cast("long")

    z = zvalue(
        _scale(F.col("user_id"), r["u0"], r["u1"]),
        _scale(hour, r["h0"], r["h1"]),
        bits,
    )
    with micros_write(spark):
        (
            ev.withColumn("_z", z)
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(path)
        )
    invalidate_read_memo(spark, path)


def write_events_zordered_by_date(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    bits: int = BITS,
    files_per_day: int = 4,
) -> None:
    """The PRODUCTION composition (r5 VERDICT #6): hive ``p_date``
    directories (directory-level date pruning, exactly layout.py's
    contract) with each day's files z-ordered on (client,
    hour-of-day) — a daily-ingest job z-orders only its own day, so
    the layout is maintainable incrementally while a (client, range)
    drill-down prunes TWICE: Catalyst drops out-of-range directories,
    then the parquet reader drops row groups whose user_id min/max
    misses the client.

    Within a day the time dimension is HOUR-OF-DAY (fixed 0-23 domain
    — no per-day stats pass needed); the cross-day time dimension
    lives entirely in the directory key. One repartitionByRange over
    (p_date, z) gives every output task a contiguous (day, z-stripe)
    slice ⇒ ~files_per_day files per directory, each covering a tight
    (client, hour) rectangle."""
    ev, hour = _events_with_hour(spark, sf_dir)
    if ev.isEmpty():
        keyed = ev.withColumn(PARTITION_COL, F.to_date(F.col("ts")))
        keyed.write.mode("overwrite").parquet(path)
        invalidate_read_memo(spark, path)
        return
    r = ev.select(
        F.min(F.col("user_id")).alias("u0"),
        F.max(F.col("user_id")).alias("u1"),
        F.countDistinct(F.floor(hour / 24)).alias("n_days"),
    ).first()

    def _scale_user(col: Column) -> Column:
        span = max(int(r["u1"]) - int(r["u0"]) + 1, 1)
        return F.floor(
            (col - F.lit(int(r["u0"]))) * F.lit(1 << bits) / F.lit(span)
        ).cast("long")

    hod = hour % 24
    z = zvalue(
        _scale_user(F.col("user_id")),
        F.floor(hod * F.lit(1 << bits) / F.lit(24)).cast("long"),
        bits,
    )
    n_part = max(int(r["n_days"] or 1), 1) * files_per_day
    with micros_write(spark):
        (
            ev.withColumn("_z", z)
            .withColumn(PARTITION_COL, F.to_date(F.col("ts")))
            .repartitionByRange(n_part, PARTITION_COL, "_z")
            .sortWithinPartitions(PARTITION_COL, "_z")
            .drop("_z")
            .write.mode("overwrite")
            .partitionBy(PARTITION_COL)
            .parquet(path)
        )
    invalidate_read_memo(spark, path)


def scan_events_zdate(
    spark: SparkSession,
    path: str,
    client_id: "int | None" = None,
    lo: "dt.datetime | None" = None,
    hi: "dt.datetime | None" = None,
) -> DataFrame:
    """Enriched-fact scan over the composed layout: p_date directory
    pruning (UTC calendar dates of the bound instants, hi exclusive —
    layout.scan_events_date_partitioned's contract) + user_id/raw-ts
    PushedFilters against the per-file stats the within-day z-sort
    tightened."""
    ev = prune_dates(read_parquet_memo(spark, path), lo, hi)
    return project_fact(ev, lo, hi, client_id)


def write_events_time_sorted(
    spark: SparkSession, sf_dir: str, path: str, n_files: int = N_FILES
) -> None:
    """The single-dimension baseline layout (sorted by raw ts into the
    same file count) — exists so tests can measure the z-order pruning
    delta against an equally-sized, equally-sorted alternative."""
    ev = load_table(spark, sf_dir, "events")
    with micros_write(spark):
        (
            canonical_ts(ev)
            .repartitionByRange(n_files, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(path)
        )
    invalidate_read_memo(spark, path)


def ensure_zorder_layout(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once) the z-ordered layout of sf_dir and return
    its path (layout._materialize)."""
    return _materialize(spark, sf_dir, "events_zorder", write_events_zordered)


def scan_events_zordered(
    spark: SparkSession,
    path: str,
    client_id: "int | None" = None,
    lo: "dt.datetime | None" = None,
    hi: "dt.datetime | None" = None,
) -> DataFrame:
    """Enriched-fact scan over the z-ordered layout with raw-column
    predicates (user_id equality, [lo, hi) raw-ts range — both reach
    the parquet reader as PushedFilters and prune via the tight
    per-file min/max the z-sort created)."""
    return project_fact(read_parquet_memo(spark, path), lo, hi, client_id)
