"""Z-order clustered layout (sources/zorder.py): Morton-interleave
unit math, measured row-group pruning evidence vs the time-sorted
baseline, and layout-transparency (z-scan ≡ DuckDB's FACT_CTE rows).

The pruning numbers are EXECUTED evidence (scan numOutputRows = rows
surviving the parquet reader's row-group statistics filter, before
Spark's residual Filter) — the same measure-don't-guess discipline as
tests/test_scale_layout.py's DPP/bloom assertions."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from piholelongtermstats_spark.plans.metrics import _walk
from piholelongtermstats_spark.sources import zorder
from piholelongtermstats_spark.sources.events import filter_raw_ts
from tests.conftest import duck_fact_rows, fact_rows

SF = "/root/testdata/sf0.01"


def _scan_rows(df) -> int:
    df.collect()
    tot = 0
    for node in _walk(df._jdf.queryExecution().executedPlan()):
        if "FileSourceScan" in node.getClass().getSimpleName():
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    tot += kv._2().value()
    return tot


def test_zvalue_interleave(spark):
    # a=0b101 → z bits 0,4; b=0b011 → z bits 1,3 ⇒ 1+2+8+16 = 27
    row = spark.range(1).select(
        zorder.zvalue(F.lit(5), F.lit(3), bits=3).alias("z"),
        zorder.zvalue(F.lit(0), F.lit(0), bits=3).alias("z0"),
        # clamp: values ≥ 2^bits saturate, never wrap
        zorder.zvalue(F.lit(9999), F.lit(0), bits=3).alias("zmax"),
    ).first()
    assert row.z == 27
    assert row.z0 == 0
    assert row.zmax == 0b010101  # a=0b111 interleaved at even bits


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("zorder")
    zp, tp = str(out / "z"), str(out / "t")
    zorder.write_events_zordered(spark, SF, zp)
    zorder.write_events_time_sorted(spark, SF, tp)
    return zp, tp


def test_client_dim_pruning_beats_time_sorted(spark, layouts):
    """The marquee z-order claim: a client-equality scan over the
    time-sorted layout reads ~everything (client min/max spans the
    domain in every file); the z-layout reads a fraction. Measured at
    sf0.01/16 files: 3742 vs 9376 of 10000."""
    zp, tp = layouts
    z = _scan_rows(spark.read.parquet(zp).filter(F.col("user_id") == 42).select("event_id"))
    t = _scan_rows(spark.read.parquet(tp).filter(F.col("user_id") == 42).select("event_id"))
    total = spark.read.parquet(zp).count()
    assert z <= 0.6 * t, (z, t)
    assert z <= 0.5 * total, (z, total)


def test_time_dim_still_prunes_on_zlayout(spark, layouts):
    """The traded dimension: time-range pruning weakens vs a pure time
    sort but must NOT disappear — the z-curve keeps hour high-bits in
    the file ranges. Measured: 3178 (z) vs 1254 (t-sorted) vs 10000
    (no stats pruning — which is what INT96/NTZ timestamps silently
    give; the layout writes INT64 micros exactly for this)."""
    zp, tp = layouts
    lo, hi = dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 12)
    zf = filter_raw_ts(spark.read.parquet(zp), lo, hi)
    tf = filter_raw_ts(spark.read.parquet(tp), lo, hi)
    z, t = _scan_rows(zf.select("event_id")), _scan_rows(tf.select("event_id"))
    total = spark.read.parquet(zp).count()
    assert t <= z, (t, z)  # sort leader stays best on its own dim
    assert z <= 0.5 * total, (z, total)


def test_zscan_matches_flat_scan(spark, layouts):
    """Layout transparency: the z-ordered scan returns row-for-row
    DuckDB's fact over the flat file for the same (client, window)
    predicate."""
    zp, _ = layouts
    lo, hi = dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 18)
    zdf = zorder.scan_events_zordered(spark, zp, client_id=7, lo=lo, hi=hi)
    expected = duck_fact_rows(SF, lo, hi, client="7")
    assert fact_rows(zdf) == expected and expected


def test_ensure_layout_idempotent(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path))
    p1 = zorder.ensure_zorder_layout(spark, SF)
    import os

    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    p2 = zorder.ensure_zorder_layout(spark, SF)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_SUCCESS")) == mtime


@pytest.fixture(scope="module")
def composed_layout(spark, tmp_path_factory):
    from piholelongtermstats_spark.sources.layout import (
        write_events_date_partitioned,
    )

    out = tmp_path_factory.mktemp("zdate")
    zd, dp = str(out / "zdate"), str(out / "pdate")
    zorder.write_events_zordered_by_date(spark, SF, zd)
    write_events_date_partitioned(spark, SF, dp)
    return zd, dp


def test_zdate_combined_pruning_beats_both_baselines(
    spark, layouts, composed_layout
):
    """r5 VERDICT #6: for a (client, 2-day) predicate the composed
    layout (p_date dirs + within-day z-order) must out-prune BOTH
    single-dimension layouts — the date-only directories (which read
    every row of the in-window days) and the flat z-order (which has
    no directory pruning, so the 2-day window leaks across z-files).
    numOutputRows = rows surviving directory + row-group pruning,
    before Spark's residual Filter."""
    zd, dp = composed_layout
    zp, _ = layouts
    lo, hi = dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 12)

    def _pred(df):
        df = df.filter(F.col("user_id") == 42)
        return filter_raw_ts(df, lo, hi).select("event_id")

    def _dated(path):
        df = spark.read.parquet(path)
        df = df.filter(
            (F.col("p_date") >= F.lit("2024-01-10").cast("date"))
            & (F.col("p_date") <= F.lit("2024-01-11").cast("date"))
        )
        return _pred(df)

    composed = _scan_rows(_dated(zd))
    date_only = _scan_rows(_dated(dp))
    flat_z = _scan_rows(_pred(spark.read.parquet(zp)))
    total = spark.read.parquet(zp).count()
    # directory pruning alone caps both dated layouts at the window's
    # share of rows; the within-day z-sort must cut strictly deeper
    assert composed < date_only, (composed, date_only)
    assert composed < flat_z, (composed, flat_z)
    assert composed <= 0.05 * total, (composed, total)


def test_zdate_scan_matches_flat_scan(spark, composed_layout):
    """Layout transparency for the composition: scan_events_zdate
    returns row-for-row DuckDB's fact over the flat file."""
    zd, _ = composed_layout
    lo, hi = dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 18)
    zdf = zorder.scan_events_zdate(spark, zd, client_id=7, lo=lo, hi=hi)
    expected = duck_fact_rows(SF, lo, hi, client="7")
    assert fact_rows(zdf) == expected and expected
