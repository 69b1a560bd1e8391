"""Shared fixtures. Test strategy mirrors the reference's
(SURVEY.md §5): deterministic synthetic frames with exact-value
assertions on constructed edge cases, plus differential tests against
DuckDB that the reference never had."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import SparkSession

from piholelongtermstats_spark.session import get_spark

UTC = dt.timezone.utc


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark("phlts-tests", cpus=4, shuffle_partitions=4)
    yield s


def make_fact(spark: SparkSession, rows: list[tuple]) -> "DataFrame":  # noqa: F821
    """Build an enriched fact frame from (event_id, ts_iso, client,
    domain, status_type, reply_time) tuples — the canonical shape
    produced by sources/events.dns_fact."""
    from pyspark.sql import functions as F

    from piholelongtermstats_spark.functions.derive import enrich_time

    df = spark.createDataFrame(
        [
            (i, dt.datetime.fromisoformat(ts), c, d, st, rt)
            for (i, ts, c, d, st, rt) in rows
        ],
        "event_id long, ts timestamp, client string, domain string, "
        "status_type string, reply_time double",
    )
    return enrich_time(df, "ts")


def duck_fact_rows(
    sf_dir: str, lo=None, hi=None, client=None,
    cols: str = "event_id, epoch_us(ts), status_type",
) -> list:
    """Sorted ``cols`` rows of DuckDB's FACT_CTE over the flat
    ``events.parquet`` in [lo, hi) (tz-aware bounds taken at their UTC
    instant) and for one client — the reference for a layout scan that
    shares no code with it."""
    import duckdb

    from piholelongtermstats_spark.sources.events import FACT_CTE

    def _utc(t: dt.datetime) -> dt.datetime:
        return t.astimezone(UTC).replace(tzinfo=None) if t.tzinfo else t

    where = ["TRUE"]
    if lo is not None:
        where.append(f"ts >= TIMESTAMP '{_utc(lo)}'")
    if hi is not None:
        where.append(f"ts < TIMESTAMP '{_utc(hi)}'")
    if client is not None:
        where.append(f"client = '{client}'")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    sql = FACT_CTE + f"SELECT {cols} FROM fact WHERE {' AND '.join(where)}"
    return sorted(con.sql(sql).fetchall())


def fact_rows(df) -> list:
    """Sorted (event_id, epoch µs, status_type) rows of a fact frame,
    comparable with duck_fact_rows."""
    from pyspark.sql import functions as F

    cols = (F.col("event_id"), F.unix_micros("ts"), F.col("status_type"))
    return sorted(tuple(r) for r in df.select(*cols).collect())
