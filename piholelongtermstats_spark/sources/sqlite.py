"""SQLite → DataFrame ingestion (the reference's only source).

Reference: piholelongtermstats/db.py. Reproduced contracts:

- lossy UTF-8 decode: undecodable domain bytes are replaced, never
  raised (text_factory at db.py:21) — S1;
- projection of exactly the 7 analytic columns (db.py:130-134) — P1;
- parameterized time-range predicate ``timestamp >= ? AND timestamp <
  ?`` with exclusive end (db.py:130-135) — S4/P2;
- chunked reads (db.py:144-150) — S5;
- multi-DB UNION ALL with duplicates kept (db.py:137-152,
  app.py:144-154, README.md:56) — S6.

Two paths:
- ``read_sqlite``: stdlib sqlite3 on the driver, chunked into Arrow
  batches → one Spark DataFrame. Right for the reference's actual data
  scale (a Pi-hole FTL DB is GBs at most) and for one-shot conversion
  to Parquet (``ingest_to_parquet``), after which everything is
  distributed scans.
- On a real cluster with huge SQLite inputs one would mount the file
  and use ``spark.read.jdbc`` with sqlite-jdbc + partitionColumn=
  timestamp for parallel pull; not exercised here (no JDBC driver in
  the container), but the bounds logic is identical.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.schema import QUERIES_SCHEMA
from piholelongtermstats_spark.sources.parquet import union_all

_SELECT = (
    "SELECT id, timestamp, type, status, domain, client, reply_time FROM queries"
)


def _connect(db_path: str) -> sqlite3.Connection:
    """Read-only connection with lossy UTF-8 decode (db.py:16-30)."""
    conn = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    conn.text_factory = lambda b: b.decode(errors="replace")
    return conn


def _iter_chunks(
    db_path: str,
    start_epoch: int | None,
    end_epoch: int | None,
    chunk_rows: int,
) -> Iterator[pd.DataFrame]:
    """Chunked range scan over one DB (db.py:111-152).

    The predicate is parameterized exactly like the reference
    (anti-injection comment db.py:129); end bound exclusive.
    """
    sql = _SELECT
    params: tuple = ()
    if start_epoch is not None and end_epoch is not None:
        sql += " WHERE timestamp >= ? AND timestamp < ?"
        params = (start_epoch, end_epoch)
    with _connect(db_path) as conn:
        yield from pd.read_sql_query(sql, conn, params=params, chunksize=chunk_rows)


def read_sqlite(
    spark: SparkSession,
    db_paths: list[str] | str,
    start_epoch: int | None = None,
    end_epoch: int | None = None,
    chunk_rows: int = 500_000,
) -> DataFrame:
    """Read one or more FTL DBs as a single UNION ALL DataFrame."""
    if isinstance(db_paths, str):
        db_paths = [db_paths]
    dfs = []
    for path in db_paths:
        chunks = [
            spark.createDataFrame(chunk, schema=QUERIES_SCHEMA)
            for chunk in _iter_chunks(path, start_epoch, end_epoch, chunk_rows)
        ]
        dfs.extend(chunks)
    if not dfs:
        # Empty result: the reference raises at app.py:158-164; we
        # return an empty frame with the right schema and let the
        # caller decide (tests assert the schema).
        return spark.createDataFrame([], schema=QUERIES_SCHEMA)
    return union_all(*dfs)


def ingest_to_parquet(
    spark: SparkSession,
    db_paths: list[str] | str,
    out_dir: str,
    start_epoch: int | None = None,
    end_epoch: int | None = None,
) -> None:
    """One-shot SQLite → date-partitioned Parquet conversion.

    Partitioning by event date makes every reference time-range query
    (S4/S7) a partition-pruned scan at any scale.
    """
    from pyspark.sql import functions as F

    df = read_sqlite(spark, db_paths, start_epoch, end_epoch)
    (
        df.withColumn("event_date", F.to_date(F.timestamp_seconds("timestamp")))
        .repartition("event_date")
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(out_dir)
    )
