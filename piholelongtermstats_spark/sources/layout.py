"""Date-partitioned events layout — the physical design the S4 range
scan (reference db.py:133, the date-window query) runs against at
100 TB.

Every events read goes through it: sources/events.dns_fact
materializes it from the flat ``events.parquet`` on first use and
scans nothing else. Parquet row-group statistics alone would skip most
of an out-of-range file, but at 100 TB a date-range query must prune
ENTIRE partitions at planning time — directory-level `PartitionFilters`, before any file footer is
opened — not just row groups inside files the scan already touched.
Hive-style `p_date=YYYY-MM-DD/` partitioning gives exactly that:

  - the [lo, hi) window becomes a p_date range predicate that Catalyst
    turns into PartitionFilters (pruned at plan time, visible in
    `.explain("formatted")`);
  - the ts bounds stay as PushedFilters for the boundary days'
    row groups (sources/events.filter_raw_ts);
  - daily ingest appends one new directory — no rewrite of history,
    and retention is a directory drop.

Partition count math: ~3 years of DNS logs ≈ 1,100 partitions — far
under the ~10k where Hive-metastore listing becomes the bottleneck;
within a day the files stay row-group-sized (128 MB) via
maxRecordsPerFile at real scale.

tests/test_scale_layout.py asserts PartitionFilters appears in the
plan, the pruned scan reads only the in-range partitions, and the
result matches DuckDB's FACT_CTE over the flat file row-for-row.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.sources.events import (
    _epoch_us,
    canonical_ts,
    project_fact,
)
from piholelongtermstats_spark.sources.parquet import (
    invalidate_read_memo,
    load_table,
    read_parquet_memo,
)

PARTITION_COL = "p_date"


_TS_TYPE_CONF = "spark.sql.parquet.outputTimestampType"


class micros_write:
    """Scoped outputTimestampType=TIMESTAMP_MICROS (save/restore). A
    session that never set the conf gets it unset again, so its
    ``spark.conf.getAll`` reads the same after the write as before."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.getAll.get(_TS_TYPE_CONF)
        self.spark.conf.set(_TS_TYPE_CONF, "TIMESTAMP_MICROS")

    def __exit__(self, *exc):
        if self.prev is None:
            self.spark.conf.unset(_TS_TYPE_CONF)
        else:
            self.spark.conf.set(_TS_TYPE_CONF, self.prev)

# One write per (application, layout path): the existence check alone
# would race a concurrent in-session write of the same path.
_READY: set[tuple] = set()


def _layout_path(sf_dir: str, name: str) -> str:
    """Deterministic on-disk location of layout ``name`` for a given
    source dir. Root overridable via SPARK_GRAFT_LAYOUT_DIR (the
    cluster deployment points it at the warehouse); default is a
    tmp-dir keyed by sf name + an abspath digest — basename alone
    would silently alias two different dirs that share a name (e.g.
    /a/sf0.1 and /b/sf0.1) onto one layout."""
    root = os.environ.get(
        "SPARK_GRAFT_LAYOUT_DIR",
        os.path.join(tempfile.gettempdir(), "phlts_layout"),
    )
    ap = os.path.abspath(sf_dir.rstrip("/"))
    sf_name = os.path.basename(ap) or "events"
    digest = hashlib.md5(ap.encode()).hexdigest()[:8]
    return os.path.join(root, f"{sf_name}-{digest}", name)


_META_FILE = "_PHLTS_SRC_META"
# Bumped when the layout FORMAT changes (v2: ts canonicalized to INT64
# UTC micros) so stale-format layouts from earlier sessions regenerate.
LAYOUT_VERSION = 2


def _src_stat(sf_dir: str) -> "str | None":
    src = os.path.join(sf_dir, "events.parquet")
    try:
        st = os.stat(src)
    except OSError:
        return None
    return f"v{LAYOUT_VERSION}:{st.st_mtime_ns}:{st.st_size}"


def _is_fresh(sf_dir: str, path: str) -> bool:
    """True iff a completed layout exists at path and was derived from
    the CURRENT source bytes. Freshness compares the source's
    (mtime_ns, size) recorded at write time — a plain mtime>=mtime
    check misses a source regenerated within the filesystem's mtime
    granularity of the layout write (staleness must never win over
    correctness)."""
    cur = _src_stat(sf_dir)
    if cur is None or not os.path.exists(os.path.join(path, "_SUCCESS")):
        return False
    try:
        with open(os.path.join(path, _META_FILE)) as f:
            return f.read().strip() == cur
    except OSError:
        return False


def _materialize(spark: SparkSession, sf_dir: str, name: str, write) -> str:
    """Idempotently materialize layout ``name`` of sf_dir with
    ``write(spark, sf_dir, path)`` and return its path. The write runs
    at most once per (application, path); a fresh on-disk layout from
    an earlier session is reused (daily-ingest model: history
    directories are immutable).

    Cross-PROCESS collisions (bench + a concurrent parity run on the
    same sf) are narrowed by writing to a pid-unique staging dir and
    renaming into place: a concurrent reader sees either the old
    complete layout or the new complete layout, never a half-written
    one. (The production contract needs none of this — the warehouse
    layout is append-only daily ingest; the swap exists for the local
    regenerate-testdata loop.)"""
    path = _layout_path(sf_dir, name)
    key = (spark.sparkContext.applicationId, path)
    if key in _READY:
        return path
    if not _is_fresh(sf_dir, path):
        src_stat = _src_stat(sf_dir)
        staging = f"{path}.staging.{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        write(spark, sf_dir, staging)
        with open(os.path.join(staging, _META_FILE), "w") as f:
            f.write(src_stat or "")
        if _is_fresh(sf_dir, path):
            # another process completed the same layout while we wrote
            shutil.rmtree(staging, ignore_errors=True)
        else:
            shutil.rmtree(path, ignore_errors=True)
            os.rename(staging, path)
        invalidate_read_memo(spark, path)
    _READY.add(key)
    return path


def ensure_layout(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once) the date-partitioned layout of sf_dir and
    return its path (_materialize)."""
    return _materialize(
        spark, sf_dir, "events_by_date", write_events_date_partitioned
    )


def write_events_date_partitioned(
    spark: SparkSession, sf_dir: str, path: str
) -> None:
    """One-time layout job: events → hive-partitioned parquet keyed by
    UTC date. Non-ts columns are preserved byte-for-byte; ts is
    canonicalized to INT64 UTC micros (canonical_ts — same µs-truncated
    instants the fact table derives, but now with USABLE parquet
    statistics, so the boundary days' ts PushedFilters skip row
    groups instead of silently reading the whole edge directory)."""
    ev = canonical_ts(load_table(spark, sf_dir, "events"))
    keyed = ev.withColumn(PARTITION_COL, F.to_date(F.col("ts")))
    # Empty source (the reference's first-class empty-DB path,
    # tests/test_db.py:272-362): a zero-row partitionBy write creates
    # NO partition directories, leaving a path whose schema cannot be
    # inferred back. Write the zero-row frame unpartitioned instead —
    # p_date becomes an ordinary (empty) DATE column, so the scan path
    # reads, filters, and projects identically. isEmpty() is a
    # LIMIT-1 probe: O(first row) on any real table.
    with micros_write(spark):
        if keyed.isEmpty():
            keyed.write.mode("overwrite").parquet(path)
            return
        keyed.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(path)


def _utc_date(t: dt.datetime) -> dt.date:
    return dt.datetime.fromtimestamp(_epoch_us(t) / 1e6, tz=dt.timezone.utc).date()


def _date_bounds(
    lo: "dt.datetime | None", hi: "dt.datetime | None"
) -> "tuple[dt.date | None, dt.date | None]":
    """First and last p_date a [lo, hi) window keeps (None: unbounded)."""
    first = None if lo is None else _utc_date(lo)
    last = None if hi is None else _utc_date(hi - dt.timedelta(microseconds=1))
    return first, last


def prune_dates(
    ev: DataFrame,
    lo: "dt.datetime | None" = None,
    hi: "dt.datetime | None" = None,
) -> DataFrame:
    """p_date range predicate for [lo, hi) — Catalyst turns it into
    PartitionFilters, so out-of-range directories are pruned at plan
    time.

    hi is END-EXCLUSIVE (db.py:85 contract): the last candidate
    partition is the date of (hi − 1µs), so a midnight hi does not
    touch the following day's directory at all.

    Partition bounds are taken from the UTC date of the bound INSTANT
    (r4 ADVICE): p_date is derived from UTC event time, and the ts
    bounds accept tz-aware datetimes, so a tz-aware bound (e.g. UTC+14
    early morning — already the previous day in UTC) must prune on its
    UTC calendar date, not its local wall-clock date, or the directory
    holding in-range rows would be pruned away.
    """
    first, last = _date_bounds(lo, hi)
    if first is not None:
        ev = ev.filter(F.col(PARTITION_COL) >= F.lit(first.isoformat()).cast("date"))
    if last is not None:
        ev = ev.filter(F.col(PARTITION_COL) <= F.lit(last.isoformat()).cast("date"))
    return ev


def window_bytes(
    path: str,
    lo: "dt.datetime | None" = None,
    hi: "dt.datetime | None" = None,
) -> int:
    """Bytes of the data files in the p_date directories of the layout
    at ``path`` that prune_dates keeps for [lo, hi) — the input size of
    a windowed scan, known before any plan runs. A local directory
    listing; hidden and ``_``-prefixed files are skipped as Spark's
    reader skips them. The NULL-date directory is kept only by an
    unbounded window, and an unpartitioned (empty-source) layout has
    no directories, so it reads 0."""
    first, last = _date_bounds(lo, hi)
    prefix = PARTITION_COL + "="
    total = 0
    with os.scandir(path) as entries:
        for d in entries:
            if not (d.is_dir() and d.name.startswith(prefix)):
                continue
            try:
                day = dt.date.fromisoformat(d.name[len(prefix):])
            except ValueError:  # __HIVE_DEFAULT_PARTITION__: NULL p_date
                if first is not None or last is not None:
                    continue
            else:
                if (first is not None and day < first) or (last is not None and day > last):
                    continue
            with os.scandir(d.path) as files:
                total += sum(
                    f.stat().st_size
                    for f in files
                    if f.is_file() and not f.name.startswith((".", "_"))
                )
    return total


def scan_events_date_partitioned(
    spark: SparkSession,
    path: str,
    lo: "dt.datetime | None" = None,
    hi: "dt.datetime | None" = None,
) -> DataFrame:
    """The S4 range scan over the partitioned layout: directory-level
    pruning on p_date (prune_dates) plus exact ts bounds for the
    boundary days (events.filter_raw_ts). Returns the enriched fact
    schema (events.project_fact)."""
    ev = prune_dates(read_parquet_memo(spark, path), lo, hi)
    return project_fact(ev, lo, hi)
