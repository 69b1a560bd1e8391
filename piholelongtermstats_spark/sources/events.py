"""Canonical DNS fact table over the driver's `events` parquet.

FIXTURES.md §2 maps the driver's synthetic ``events`` table onto the
Pi-hole `queries` fact table: ts→timestamp, user_id→client (as string),
props→domain, value→reply_time, and event_type bucketed into the 3-way
status_type the reference derives from the status enum
(process.py:71-77). The bucket mapping below is the fixed declaration
FIXTURES.md asks for; it is mirrored verbatim in FACT_CTE so the Spark
plan and the DuckDB oracle can never drift.

All derived time columns match functions/derive.py (process.py:60-79)
with session timezone pinned to UTC.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.functions.derive import enrich_time
from piholelongtermstats_spark.sources.parquet import load_table


def _epoch_us(t: dt.datetime) -> int:
    """UTC epoch microseconds of a (naive ⇒ UTC) datetime."""
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    return int(t.timestamp() * 1_000_000)

# Fixed event_type → status_type mapping (FIXTURES.md §2).
EVENT_ALLOWED = ("view", "click", "purchase")
EVENT_BLOCKED = ("error",)
# everything else (signup) → 'Other'


def canonical_ts(ev: DataFrame) -> DataFrame:
    """Decode the stored ts column to UTC TimestampType — the one
    place that knows the stored encodings of events.ts: parquet
    TIMESTAMP(NANOS) (read as nanos-long via
    session.ensure_session_defaults), TIMESTAMP(MICROS) without
    timezone (read as TIMESTAMP_NTZ), or a plain timestamp. Nanos are
    truncated to µs exactly like DuckDB's TIMESTAMP_NS → TIMESTAMP
    cast (integer DIV keeps full int64 precision); NTZ wall-clock is
    reinterpreted as a UTC instant (session TZ is pinned to UTC, so
    derived date/hour/day_name match DuckDB's naive-timestamp
    semantics).

    Layout writes run this under `layout.micros_write` so ts lands as
    INT64 micros: Spark's default INT96 encoding carries NO usable
    parquet statistics, and TIMESTAMP_NTZ stats are ignored by the
    reader's row-group filter (both measured in sources/zorder.py: a
    2-day window over a ts-SORTED 16-file layout read 10000/10000 rows
    under either default, 1236 under INT64 micros)."""
    ts_type = dict(ev.dtypes).get("ts")
    if ts_type == "bigint":
        return ev.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))


def filter_raw_ts(
    ev: DataFrame,
    lo: "dt.datetime | None" = None,
    hi: "dt.datetime | None" = None,
) -> DataFrame:
    """Apply [lo, hi) bounds to the STORED ts column of a layout
    written through canonical_ts (UTC TimestampType).

    The bounds compare the column itself, with no column-side
    expression, so they reach PushedFilters on the scan and skip row
    groups. Literals are built from UTC epoch micros — a
    naive-datetime literal would be converted through the host OS
    timezone, shifting the window on a non-UTC host;
    timestamp_micros(lit) is OS-independent and constant-folds BEFORE
    pushdown, so PushedFilters still sees a plain literal.
    """
    if lo is not None:
        ev = ev.filter(F.col("ts") >= F.timestamp_micros(F.lit(_epoch_us(lo))))
    if hi is not None:
        ev = ev.filter(F.col("ts") < F.timestamp_micros(F.lit(_epoch_us(hi))))
    return ev


def project_fact(
    ev: DataFrame,
    lo: "dt.datetime | None" = None,
    hi: "dt.datetime | None" = None,
    client_id: "int | None" = None,
) -> DataFrame:
    """Canonical-ts events → the enriched fact table, with the
    optional user_id equality and [lo, hi) bounds applied to the raw
    columns first so both reach PushedFilters. Pure projection — fuses
    into the parquet scan; no shuffle."""
    if client_id is not None:
        ev = ev.filter(F.col("user_id") == client_id)
    df = filter_raw_ts(ev, lo, hi).select(
        F.col("event_id"),
        F.col("ts"),
        F.col("user_id").cast("string").alias("client"),
        F.col("props").alias("domain"),
        (
            F.when(F.col("event_type").isin(*EVENT_ALLOWED), F.lit("Allowed"))
            .when(F.col("event_type").isin(*EVENT_BLOCKED), F.lit("Blocked"))
            .otherwise(F.lit("Other"))
        ).alias("status_type"),
        F.col("value").alias("reply_time"),
    )
    return enrich_time(df, "ts")


def dns_fact(
    spark: SparkSession,
    sf_dir: str,
    lo: "dt.datetime | None" = None,
    hi: "dt.datetime | None" = None,
) -> DataFrame:
    """The enriched DNS fact table over `events`.

    Columns: event_id, ts, client, domain, status_type, reply_time,
    date, hour, day_name, day_period.

    The scan always reads the date-partitioned hive layout
    (sources/layout.py), materialized from ``events.parquet`` on first
    use and reused while the source bytes are unchanged. ``lo``/``hi``
    (UTC, end-exclusive — db.py:133/S4 contract) prune whole p_date
    directories at plan time (PartitionFilters) and bound the stored
    ts column of the boundary days (PushedFilters) — a filter on a
    derived column would evaluate post-scan and read everything at
    100 TB.
    """
    from piholelongtermstats_spark.sources import layout

    path = layout.ensure_layout(spark, sf_dir)
    return layout.scan_events_date_partitioned(spark, path, lo, hi)


# DuckDB oracle prelude: the exact same fact derivation in ANSI-ish SQL.
# Every oracle query in plans/ is written as
#   FACT_CTE + "SELECT ... FROM fact ..."
FACT_CTE = """
WITH fact AS (
  SELECT
    event_id,
    ts,
    CAST(user_id AS VARCHAR)               AS client,
    props                                  AS domain,
    CASE WHEN event_type IN ('view','click','purchase') THEN 'Allowed'
         WHEN event_type IN ('error')                   THEN 'Blocked'
         ELSE 'Other' END                  AS status_type,
    value                                  AS reply_time,
    date_trunc('day', ts)                  AS date,
    CAST(hour(ts) AS BIGINT)               AS hour,
    dayname(ts)                            AS day_name,
    CASE WHEN hour(ts) BETWEEN 6 AND 23 THEN 'Day' ELSE 'Night' END AS day_period
  FROM events
)
"""



def raw_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_id, ts, user_id, event_type) — the UNBUCKETED event
    stream for journey analytics (funnels need the raw step names the
    fact's 3-way status mapping collapses). Same ts decoding as the
    fact (canonical_ts); pure projection, fuses into the parquet
    scan."""
    ev = canonical_ts(load_table(spark, sf_dir, "events"))
    return ev.select("event_id", "ts", "user_id", "event_type")
