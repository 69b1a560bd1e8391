"""SQLite ingestion path (reference tests: test_db.py)."""

from __future__ import annotations

import sqlite3

import pytest

from piholelongtermstats_spark.sources.sqlite import read_sqlite

DDL = """CREATE TABLE queries (
  id INTEGER, timestamp INTEGER, type INTEGER, status INTEGER,
  domain TEXT, client TEXT, forward TEXT, additional_info TEXT,
  reply_type INTEGER, reply_time REAL, dnssec INTEGER, list_id TEXT,
  ede INTEGER)"""


@pytest.fixture()
def dbs(tmp_path):
    paths = []
    for n, (n_rows, t0) in enumerate([(50, 1_700_000_000), (30, 1_700_100_000)]):
        p = str(tmp_path / f"ftl{n}.db")
        conn = sqlite3.connect(p)
        conn.execute(DDL)
        conn.executemany(
            "INSERT INTO queries VALUES (?,?,?,?,?,?,?,?,?,?,?,?,?)",
            [
                (i, t0 + i * 60, 1, 2 if i % 2 else 1, f"dom{i % 5}.com",
                 "192.168.1.2", None, None, 0, 0.01 * i, 0, None, 0)
                for i in range(n_rows)
            ],
        )
        conn.commit()
        conn.close()
        paths.append(p)
    return paths


def test_projection_and_schema(spark, dbs):
    """7-column projection (db.py:130-134)."""
    df = read_sqlite(spark, dbs[0])
    assert df.columns == [
        "id", "timestamp", "type", "status", "domain", "client", "reply_time"
    ]
    assert df.count() == 50


def test_union_all_multi_db(spark, dbs):
    """Duplicates kept across DBs (app.py:144-154, README.md:56)."""
    df = read_sqlite(spark, dbs)
    assert df.count() == 80
    # same DB twice → full duplication, no dedup
    assert read_sqlite(spark, [dbs[0], dbs[0]]).count() == 100


def test_range_scan_exclusive_end(spark, dbs):
    """timestamp >= lo AND timestamp < hi (db.py:130-135)."""
    lo = 1_700_000_000 + 10 * 60
    hi = 1_700_000_000 + 20 * 60
    df = read_sqlite(spark, dbs[0], lo, hi)
    ts = sorted(r["timestamp"] for r in df.collect())
    assert ts[0] == lo and ts[-1] == hi - 60
    assert len(ts) == 10


def test_lossy_utf8_decode(spark, tmp_path):
    """Undecodable domain bytes are replaced, not raised (db.py:21)."""
    p = str(tmp_path / "bad.db")
    conn = sqlite3.connect(p)
    conn.execute(DDL)
    # invalid UTF-8 stored as TEXT (a bytes param would store a BLOB,
    # which text_factory never sees)
    hex_bytes = b"bad\xffdomain.com".hex().upper()
    conn.execute(
        "INSERT INTO queries VALUES (1, 1700000000, 1, 2, "
        f"CAST(X'{hex_bytes}' AS TEXT), 'c', NULL, NULL, 0, 0.1, 0, NULL, 0)"
    )
    conn.commit()
    conn.close()
    row = read_sqlite(spark, p).collect()[0]
    assert row["domain"] == "bad�domain.com"


def test_empty_db(spark, tmp_path):
    """Empty source → empty frame with correct schema (app.py:158-164)."""
    p = str(tmp_path / "empty.db")
    conn = sqlite3.connect(p)
    conn.execute(DDL)
    conn.commit()
    conn.close()
    df = read_sqlite(spark, p)
    assert df.count() == 0
    assert "domain" in df.columns


def test_ingest_to_parquet_roundtrip_and_pruning(spark, dbs, tmp_path):
    """SQLite → date-partitioned parquet roundtrip: all rows survive,
    and a date-equality read prunes partitions at the SCAN (the
    at-scale payoff of partitioning by event date — S4/O1)."""
    from pyspark.sql import functions as F

    from piholelongtermstats_spark.sources.sqlite import ingest_to_parquet

    out = str(tmp_path / "ingested")
    ingest_to_parquet(spark, dbs, out)
    back = spark.read.parquet(out)
    assert back.count() == 80  # 50 + 30, duplicates kept (S6)

    one_day = back.filter(F.col("event_date") == "2023-11-14")
    plan = one_day._jdf.queryExecution().explainString(
        one_day._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1][:200]
    # pruned read returns exactly that day's rows
    got_days = {r["event_date"] for r in one_day.select("event_date").distinct().collect()}
    assert got_days <= {__import__("datetime").date(2023, 11, 14)}
