"""Driver-facing query registry: Spark plan + DuckDB oracle per operator.

Every implemented operator from SURVEY.md §2 appears here twice:
``QUERIES[name]`` is the Spark implementation (spark, sf_dir) →
DataFrame, and ``ORACLE[name]`` is the equivalent ANSI SQL DuckDB runs
on the same parquet tables. The driver hash-compares the two at
sf0.01; tests/test_oracle_parity.py runs the identical comparison
locally at sf0.001 and sf0.01. ``META[name]`` holds the query's policy
(rows-only reason, bench budget, funnel waiver), declared in the same
``register(...)`` call.

Determinism rules applied throughout (the hash is exact):
- every top-K pins a total tie-break order (cnt DESC, key ASC);
- float aggregates are exact integer/decimal sums with ONE final
  division, identical expression shape on both sides;
- DuckDB sums are CAST to BIGINT (DuckDB sum(BIGINT) → HUGEINT,
  which pandas would mangle);
- column names and types are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.functions.exclude import exclude_domains
from piholelongtermstats_spark.operators import counts, sequential, timeagg, topk
from piholelongtermstats_spark.plans.cache import shared_docs, shared_emb, shared_input
from piholelongtermstats_spark.session import ensure_session_defaults
from piholelongtermstats_spark.sources.events import FACT_CTE, dns_fact
from piholelongtermstats_spark.sources.parquet import load_table, union_all

QuerySpec = Callable[[SparkSession, str], DataFrame]


class Meta(NamedTuple):
    """Per-query policy, declared at the registration site.

    rows_only: why the query has no DuckDB oracle (checked for rows and
      schema only). budget: (ceiling_sec, reason) for a query over the
      bench's per-query budget by design. funnel_waiver: why an
      unbounded single-partition funnel in its plan is counts-sized
      anyway (tests/test_plan_gate.py).
    """

    rows_only: str | None
    budget: tuple[float, str] | None
    funnel_waiver: str | None


QUERIES: dict[str, QuerySpec] = {}
ORACLE: dict[str, str] = {}
META: dict[str, Meta] = {}


def register(
    name: str,
    oracle: str | None = None,
    *,
    rows_only: str | None = None,
    budget: tuple[float, str] | None = None,
    funnel_waiver: str | None = None,
):
    # Every query is either oracle-checked or declares why it is not.
    if (oracle is None) == (rows_only is None):
        raise ValueError(f"{name}: give exactly one of oracle and rows_only")

    def deco(fn: QuerySpec) -> QuerySpec:
        # Duplicate names silently SHADOW an earlier wave's entry (a
        # first-draft M61 Benford overwrote the richer M23 one before
        # this guard existed) — fail loudly at import time instead.
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        META[name] = Meta(rows_only, budget, funnel_waiver)
        return fn

    return deco


def _fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared persisted enriched fact table (SURVEY §4 O5: the
    resident working set every query starts from)."""
    ensure_session_defaults(spark)
    return shared_input(
        spark, "dns_fact", sf_dir, lambda: dns_fact(spark, sf_dir)
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared persisted documents corpus (plans/cache.shared_docs)."""
    ensure_session_defaults(spark)
    return shared_docs(spark, sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared persisted embeddings table (plans/cache.shared_emb)."""
    ensure_session_defaults(spark)
    return shared_emb(spark, sf_dir)


# ---------------------------------------------------------------------------
# M1 — count/percentage family (stats.py:35-52)
# ---------------------------------------------------------------------------

@register(
    "status_counts",
    FACT_CTE
    + """
SELECT
  count(*) AS total_queries,
  count(*) FILTER (WHERE status_type = 'Blocked') AS blocked_count,
  count(*) FILTER (WHERE status_type = 'Allowed') AS allowed_count,
  CASE WHEN count(*) > 0
       THEN round((count(*) FILTER (WHERE status_type = 'Blocked')) * 100.0 / count(*), 4)
       ELSE 0.0 END AS blocked_pct,
  CASE WHEN count(*) > 0
       THEN round((count(*) FILTER (WHERE status_type = 'Allowed')) * 100.0 / count(*), 4)
       ELSE 0.0 END AS allowed_pct
FROM fact
""",
)
def q_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return counts.status_counts(_fact(spark, sf_dir))


@register(
    "day_night_counts",
    FACT_CTE
    + """
SELECT day_period,
  count(*) AS total_queries,
  count(*) FILTER (WHERE status_type = 'Blocked') AS blocked_count,
  count(*) FILTER (WHERE status_type = 'Allowed') AS allowed_count
FROM fact GROUP BY day_period
""",
)
def q_day_night_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return counts.day_night_counts(_fact(spark, sf_dir))


@register(
    "uniques",
    FACT_CTE
    + """
SELECT count(DISTINCT domain) AS unique_domains,
       count(DISTINCT client) AS unique_clients
FROM fact
""",
)
def q_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    return counts.uniques(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# M2 — top-K / argmax family (stats.py:55-146, 418-439; plot.py:29-101)
# ---------------------------------------------------------------------------

@register(
    "top_clients",
    FACT_CTE
    + """
SELECT client, count(*) AS cnt FROM fact
GROUP BY client ORDER BY cnt DESC, client LIMIT 10
""",
)
def q_top_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk.top_k_counts(_fact(spark, sf_dir), "client", 10)


@register(
    "top_domains",
    FACT_CTE
    + """
SELECT domain, count(*) AS cnt FROM fact
GROUP BY domain ORDER BY cnt DESC, domain LIMIT 10
""",
)
def q_top_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk.top_k_counts(_fact(spark, sf_dir), "domain", 10)


@register(
    "top_clients_per_status",
    FACT_CTE
    + """
SELECT status_type, client, cnt FROM (
  SELECT status_type, client, count(*) AS cnt,
         row_number() OVER (PARTITION BY status_type ORDER BY count(*) DESC, client) AS rn
  FROM fact GROUP BY status_type, client
) WHERE rn = 1
""",
)
def q_top_clients_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk.top_clients_per_status(_fact(spark, sf_dir))


@register(
    "top_domain_top_client",
    FACT_CTE
    + """
, cdc AS (
  SELECT status_type, domain, client, count(*) AS pair_cnt
  FROM fact GROUP BY 1, 2, 3
), dom AS (
  SELECT status_type, domain, CAST(sum(pair_cnt) AS BIGINT) AS domain_cnt
  FROM cdc GROUP BY 1, 2
), top_dom AS (
  SELECT status_type, domain, domain_cnt FROM (
    SELECT *, row_number() OVER (PARTITION BY status_type
                                 ORDER BY domain_cnt DESC, domain) AS rn
    FROM dom
  ) WHERE rn = 1
), top_cli AS (
  SELECT status_type, domain, client AS top_client FROM (
    SELECT *, row_number() OVER (PARTITION BY status_type, domain
                                 ORDER BY pair_cnt DESC, client) AS rn
    FROM cdc
  ) WHERE rn = 1
)
SELECT t.status_type, t.domain, t.domain_cnt, c.top_client
FROM top_dom t JOIN top_cli c USING (status_type, domain)
""",
)
def q_top_domain_top_client(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk.top_domain_top_client(_fact(spark, sf_dir))


@register(
    "most_persistent_client",
    FACT_CTE
    + """
SELECT client, domain, count(*) AS repeat_attempts
FROM fact WHERE status_type = 'Blocked'
GROUP BY client, domain
ORDER BY repeat_attempts DESC, client, domain LIMIT 1
""",
)
def q_most_persistent_client(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk.most_persistent_client(_fact(spark, sf_dir))


@register(
    "most_diverse_client",
    FACT_CTE
    + """
SELECT client, count(DISTINCT domain) AS unique_domains_count
FROM fact GROUP BY client
ORDER BY unique_domains_count DESC, client LIMIT 1
""",
)
def q_most_diverse_client(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk.most_diverse_client(_fact(spark, sf_dir))


@register(
    "top_clients_stacked",
    FACT_CTE
    + """
, topk AS (
  SELECT client FROM fact GROUP BY client
  ORDER BY count(*) DESC, client LIMIT 5
)
SELECT client, status_type, count(*) AS cnt
FROM fact WHERE client IN (SELECT client FROM topk)
GROUP BY client, status_type
""",
)
def q_top_clients_stacked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk.semi_join_top_clients(_fact(spark, sf_dir), 5)


@register(
    "client_domain_scatter",
    FACT_CTE
    + """
, topc AS (
  SELECT client FROM fact GROUP BY client ORDER BY count(*) DESC, client LIMIT 5
), topd AS (
  SELECT domain FROM fact GROUP BY domain ORDER BY count(*) DESC, domain LIMIT 10
)
SELECT client, domain, status_type, count(*) AS cnt
FROM fact
WHERE client IN (SELECT client FROM topc) AND domain IN (SELECT domain FROM topd)
GROUP BY client, domain, status_type
""",
)
def q_client_domain_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk.client_domain_scatter(_fact(spark, sf_dir), 5, 10)


# ---------------------------------------------------------------------------
# M3 — time-dimension aggregates (stats.py:153-206; process.py:86-113;
#      plot.py:76-139, 213-225)
# ---------------------------------------------------------------------------

@register(
    "daily_counts",
    FACT_CTE
    + """
SELECT date,
  count(*) AS total_cnt,
  count(*) FILTER (WHERE status_type = 'Blocked') AS blocked_cnt,
  count(*) FILTER (WHERE status_type = 'Allowed') AS allowed_cnt
FROM fact GROUP BY date
""",
)
def q_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeagg.daily_counts(_fact(spark, sf_dir))


@register(
    "hourly_histogram",
    FACT_CTE + "SELECT hour, count(*) AS cnt FROM fact GROUP BY hour",
)
def q_hourly_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeagg.hourly_histogram(_fact(spark, sf_dir))


@register(
    "weekday_avg",
    FACT_CTE
    + """
, daily AS (
  SELECT date, day_name, count(*) AS cnt FROM fact GROUP BY date, day_name
)
SELECT day_name, round(CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE) / count(*), 6) AS avg_queries
FROM daily GROUP BY day_name
""",
)
def q_weekday_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeagg.weekday_avg(_fact(spark, sf_dir))


@register(
    "hourly_rollup",
    FACT_CTE
    + """
SELECT date_trunc('hour', ts) AS hour_bucket, status_type, client, count(*) AS cnt
FROM fact GROUP BY 1, 2, 3
""",
)
def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeagg.hourly_rollup(_fact(spark, sf_dir))


@register(
    "hour_spine_zerofill",
    FACT_CTE
    + """
, series AS (
  SELECT date_trunc('hour', ts) AS hour_bucket, status_type, count(*) AS cnt
  FROM fact GROUP BY 1, 2
), bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM fact
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_bucket FROM bounds
), dims AS (
  SELECT DISTINCT status_type FROM fact
)
SELECT s.hour_bucket, d.status_type, coalesce(x.cnt, 0) AS cnt
FROM spine s
CROSS JOIN dims d
LEFT JOIN series x ON x.hour_bucket = s.hour_bucket AND x.status_type = d.status_type
""",
)
def q_hour_spine_zerofill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeagg.hour_spine_zerofill(_fact(spark, sf_dir))


def _heatmap_oracle(where: str) -> str:
    cols = ",\n  ".join(
        f"count(*) FILTER (WHERE hour = {h}) AS \"{h}\"" for h in range(24)
    )
    return FACT_CTE + f"SELECT day_name,\n  {cols}\nFROM fact {where} GROUP BY day_name"


@register("day_hour_heatmap", _heatmap_oracle(""))
def q_day_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeagg.day_hour_heatmap(_fact(spark, sf_dir))


@register("day_hour_heatmap_blocked", _heatmap_oracle("WHERE status_type = 'Blocked'"))
def q_day_hour_heatmap_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeagg.day_hour_heatmap(
        _fact(spark, sf_dir), F.col("status_type") == "Blocked"
    )


@register(
    "reply_time_stats",
    FACT_CTE
    + """
SELECT
  round(CAST(sum(CAST(abs(reply_time) AS DECIMAL(18,2))) AS DOUBLE)
        / count(reply_time) * 1000, 3) AS avg_reply_ms,
  round(max(abs(reply_time)) * 1000, 3) AS max_reply_ms,
  round(min(abs(reply_time)) * 1000, 3) AS min_reply_ms
FROM fact
""",
)
def q_reply_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeagg.reply_time_stats(_fact(spark, sf_dir))


@register(
    "slowest_domains",
    FACT_CTE
    + """
SELECT domain,
  round(CAST(sum(CAST(reply_time AS DECIMAL(18,2))) AS DOUBLE) / count(reply_time), 6)
    AS avg_reply_time
FROM fact GROUP BY domain
ORDER BY avg_reply_time DESC NULLS LAST, domain LIMIT 5
""",
)
def q_slowest_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeagg.slowest_domains(_fact(spark, sf_dir), 5)


@register(
    "daily_avg_reply",
    FACT_CTE
    + """
SELECT date,
  round(CAST(sum(CAST(reply_time AS DECIMAL(18,2))) AS DOUBLE)
        / count(reply_time) * 1000, 3) AS avg_reply_ms
FROM fact GROUP BY date
""",
)
def q_daily_avg_reply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return timeagg.daily_avg_reply(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# M4 — sequential / window operators (stats.py:324-408, 506-515)
# ---------------------------------------------------------------------------

@register(
    "idle_gaps_top",
    FACT_CTE
    + """
, g AS (
  SELECT lag(ts) OVER (ORDER BY ts, event_id) AS prev_ts, ts AS next_ts FROM fact
)
SELECT prev_ts, next_ts, epoch_us(next_ts) - epoch_us(prev_ts) AS gap_us
FROM g WHERE prev_ts IS NOT NULL
ORDER BY gap_us DESC, next_ts LIMIT 10
""",
)
def q_idle_gaps_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequential.idle_gaps_top(_fact(spark, sf_dir), 10)


@register(
    "longest_streaks",
    FACT_CTE
    + """
, flg AS (
  SELECT ts, event_id, status_type,
         CASE WHEN lag(status_type) OVER w IS NULL
                OR lag(status_type) OVER w <> status_type THEN 1 ELSE 0 END AS chg
  FROM fact
  WINDOW w AS (ORDER BY ts, event_id)
), grp AS (
  SELECT *, CAST(sum(chg) OVER (ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
  FROM flg
), runs AS (
  SELECT run_id, status_type, count(*) AS streak_len, min(ts) AS start_ts
  FROM grp GROUP BY 1, 2
)
SELECT status_type, streak_len, start_ts FROM (
  SELECT *, row_number() OVER (PARTITION BY status_type
                               ORDER BY streak_len DESC, start_ts) AS rn
  FROM runs
) WHERE rn = 1
""",
)
def q_longest_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stitched = distributed decomposition (no global-order window over
    # the fact table); tests assert it matches longest_streaks exactly.
    return sequential.longest_streaks_stitched(_fact(spark, sf_dir))


@register(
    "avg_gap_per_status",
    FACT_CTE
    + """
, bg AS (
  SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (ORDER BY ts, event_id)) AS gap_us
  FROM fact WHERE status_type = 'Blocked'
), ag AS (
  SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (ORDER BY ts, event_id)) AS gap_us
  FROM fact WHERE status_type = 'Allowed'
)
SELECT 'Blocked' AS status_type,
       round(CAST(CAST(sum(gap_us) AS BIGINT) AS DOUBLE) / count(*) / 1000000.0, 6) AS avg_gap_sec
FROM bg WHERE gap_us IS NOT NULL
UNION ALL
SELECT 'Allowed' AS status_type,
       round(CAST(CAST(sum(gap_us) AS BIGINT) AS DOUBLE) / count(*) / 1000000.0, 6) AS avg_gap_sec
FROM ag WHERE gap_us IS NOT NULL
""",
)
def q_avg_gap_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequential.avg_gap_per_status(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Scans / filters / set ops (db.py:111-152; process.py:27-44; app.py:144-154)
# ---------------------------------------------------------------------------

@register(
    "range_scan",
    FACT_CTE
    + """
SELECT status_type, count(*) AS cnt FROM fact
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
GROUP BY status_type
""",
)
def q_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range scan with pushed-down predicate + exclusive end
    (db.py:130-135, S4/S7). The bounds are applied to the RAW nanos
    column inside dns_fact so `.explain` shows them in PushedFilters
    on the parquet scan (row-group skipping) — a filter on the derived
    µs timestamp would evaluate post-scan and read everything."""
    import datetime as dt

    ensure_session_defaults(spark)
    fact = dns_fact(
        spark,
        sf_dir,
        lo=dt.datetime(2024, 1, 10),
        hi=dt.datetime(2024, 1, 20),
    )
    return fact.groupBy("status_type").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "union_all_sources",
    FACT_CTE
    + """
SELECT status_type, count(*) AS cnt FROM (
  SELECT * FROM fact UNION ALL SELECT * FROM fact
) GROUP BY status_type
""",
)
def q_union_all_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-DB UNION ALL semantics — duplicates kept (app.py:144-154,
    README.md:56, S6). Reading the same source twice stands in for two
    FTL databases."""
    fact = _fact(spark, sf_dir)
    return (
        union_all(fact, fact)
        .groupBy("status_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "regex_exclusion",
    FACT_CTE
    + r"""
SELECT status_type, count(*) AS cnt, count(DISTINCT domain) AS n_domains
FROM fact
WHERE (domain IS NULL OR NOT regexp_matches(domain, '"k": [12]'))
GROUP BY status_type
""",
)
def q_regex_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex domain exclusion with NULL-keep semantics
    (process.py:27-44, P3)."""
    fact = _fact(spark, sf_dir)
    return (
        exclude_domains(fact, ['"k": [12]'])
        .groupBy("status_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("domain").alias("n_domains"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped queries — exercise join/agg operators on the star schema
# (the reference has no explicit joins, SURVEY.md §2.4; these prove the
# engine's join surface at scale: broadcast dims, shuffled fact joins)
# ---------------------------------------------------------------------------

_DEC = "decimal(18,2)"


@register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: multi-aggregate groupBy with
    map-side partial aggregation (the canonical A1/A2 shape at scale)."""
    ensure_session_defaults(spark)
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(_DEC)
    price = F.col("l_extendedprice").cast(_DEC)
    disc_price = price * (F.lit(1) - F.col("l_discount").cast(_DEC))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "top_unshipped_orders",
    """
SELECT l_orderkey, o_orderdate,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10
""",
)
def q_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter → broadcast customer into
    orders, shuffle join to lineitem, grouped revenue, top-10.

    Only the filtered CUSTOMER side is broadcast-hinted: the
    orders⨝customer product is O(|orders|) (BUILDING is ~1/5 of
    customers), so pinning a broadcast there OOMs executors at 100×.
    The fact-fact edge (lineitem ⨝ orders) is left to Catalyst/AQE —
    small at low SF (static BHJ), sort-merge or AQE-converted at
    scale. Guarded by test_plan_properties.py (hint audit)."""
    ensure_session_defaults(spark)
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    revenue = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount").cast(_DEC)
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "returned_item_customers",
    """
SELECT c_custkey, c_name, n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey LIMIT 20
""",
)
def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: customers who returned the most revenue in a
    window. Aggregate-then-join: revenue is grouped per custkey BEFORE
    the customer/nation dims attach, so the dim join's left side
    shrinks from |filtered lineitem| to |customers with returns|;
    the 6-month orders slice joins lineitem UNHINTED (billions of rows
    at 100 TB even filtered — Catalyst broadcasts it when its size
    estimate allows, AQE converts at runtime otherwise); global top-20
    compiles to TakeOrderedAndProject."""
    ensure_session_defaults(spark)
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-07-01 00:00:00").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    revenue = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount").cast(_DEC)
    )
    rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(revenue).alias("_rev"))
    )
    dims = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", "n_name")
    )
    return (
        rev.join(dims, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("_rev").cast("double").alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "region_nation_revenue",
    """
SELECT n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY n_name
""",
)
def q_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: nation/region broadcast-hinted (tiny,
    always safe); customer⨝dims and orders⨝that are UNHINTED — with no
    date filter the orders side is ~40% of ALL orders (ASIA+EUROPE),
    so a pinned broadcast there is the canonical 100×-OOM. Catalyst
    picks BHJ at low SF from size estimates; at scale the fact edges
    go sort-merge (or AQE skew/broadcast-converts at runtime)."""
    ensure_session_defaults(spark)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    revenue = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1) - F.col("l_discount").cast(_DEC)
    )
    dims = (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders.join(dims, F.col("o_custkey") == F.col("c_custkey")),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming-capable session windows (beyond-reference; streaming/sessions.py)
# ---------------------------------------------------------------------------

_SESSION_CTE = (
    FACT_CTE
    + """
, flagged AS (
  SELECT client, ts, event_id,
         -- Spark session_window merges an event at EXACTLY the prior
         -- session end (ts == last+gap): strictly-greater starts new
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM fact WINDOW w AS (PARTITION BY client ORDER BY ts, event_id)
), sess AS (
  SELECT client, ts,
         sum(new_s) OVER (PARTITION BY client ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), sessions AS (
  SELECT client,
         min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_events
  FROM sess GROUP BY client, sid
)
"""
)


@register(
    "client_sessions",
    _SESSION_CTE
    + "SELECT client, session_start, session_end, n_events FROM sessions",
)
def q_client_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per client via native
    F.session_window — the same plan sessionizes a stream after
    .withWatermark (streaming/sessions.py)."""
    from piholelongtermstats_spark.streaming.sessions import client_sessions

    return client_sessions(_fact(spark, sf_dir))


@register(
    "session_summary",
    _SESSION_CTE
    + """
SELECT client,
       count(*) AS n_sessions,
       round(CAST(CAST(sum(n_events) AS BIGINT) AS DOUBLE) / count(*), 6)
         AS avg_events_per_session,
       round(CAST(max(epoch_us(session_end) - epoch_us(session_start)) AS DOUBLE)
             / 1000000.0, 6) AS longest_session_sec
FROM sessions GROUP BY client
""",
)
def q_session_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-client session stats over the session windows."""
    from piholelongtermstats_spark.streaming.sessions import session_summary

    return session_summary(_fact(spark, sf_dir))


@register(
    "salted_top_domains",
    FACT_CTE
    + """
SELECT domain, count(*) AS cnt FROM fact
GROUP BY domain ORDER BY cnt DESC, domain LIMIT 10
""",
)
def q_salted_top_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top domains via the SALTED two-stage aggregation
    (operators/skew.py) — identical result to the direct groupBy
    (the oracle is the plain SQL), but the hot key fans over 32
    stage-1 reducers; this is the plan you run when one tracker
    domain is 30% of 100 TB."""
    from piholelongtermstats_spark.operators import skew

    return (
        skew.salted_count(_fact(spark, sf_dir), "domain", "event_id")
        .orderBy(F.col("cnt").desc(), F.col("domain").asc())
        .limit(10)
    )


_ROLLUP_CTE = (
    FACT_CTE
    + """
, roll AS (
  SELECT date_trunc('hour', ts) AS hour_bucket, status_type, client,
         count(*) AS cnt
  FROM fact GROUP BY 1, 2, 3
), bounds AS (SELECT min(hour_bucket) AS lo, max(hour_bucket) AS hi FROM roll),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_bucket
  FROM bounds
)
"""
)


@register(
    "client_activity",
    _ROLLUP_CTE
    + """
, series AS (
  SELECT hour_bucket, CAST(sum(cnt) AS BIGINT) AS cnt FROM roll
  WHERE client = (SELECT min(client) FROM fact) GROUP BY 1
), sbounds AS (SELECT min(hour_bucket) AS lo, max(hour_bucket) AS hi FROM series),
sspine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_bucket
  FROM sbounds
)
SELECT s.hour_bucket, coalesce(x.cnt, 0) AS cnt
FROM sspine s LEFT JOIN series x ON x.hour_bucket = s.hour_bucket
""",
)
def q_client_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interactive single-client hourly activity off the ROLLUP (never
    the fact table), zero-filled between the client's own first/last
    active hour — the reference's pd.date_range is built from the
    client-FILTERED frame (plot.py:321-331), so the spine bounds come
    from the filtered series, not the full rollup. The probed client
    (min) is deterministic on both engines."""
    from piholelongtermstats_spark.operators import plotdata

    fact = _fact(spark, sf_dir)
    client = fact.agg(F.min("client")).first()[0]
    return plotdata.client_activity(timeagg.hourly_rollup(fact), client)


@register(
    "filtered_timeseries_client",
    _ROLLUP_CTE
    + """
, series AS (
  SELECT hour_bucket, status_type, CAST(sum(cnt) AS BIGINT) AS cnt FROM roll
  WHERE client = (SELECT min(client) FROM fact) GROUP BY 1, 2
), dims AS (SELECT DISTINCT status_type FROM roll)
SELECT s.hour_bucket, d.status_type, coalesce(x.cnt, 0) AS cnt
FROM spine s CROSS JOIN dims d
LEFT JOIN series x ON x.hour_bucket = s.hour_bucket
                  AND x.status_type = d.status_type
""",
)
def q_filtered_timeseries_client(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interactive per-status series for ONE client off the rollup,
    zero-filled against the full (hour × status) spine
    (plot.py:165-265)."""
    from piholelongtermstats_spark.operators import plotdata

    fact = _fact(spark, sf_dir)
    client = fact.agg(F.min("client")).first()[0]
    return plotdata.filtered_timeseries(timeagg.hourly_rollup(fact), client)


@register(
    "uniques_approx",
    rows_only="HLL++ sketch values aren't portable SQL; the accuracy"
    " contract of the HLL approach is hash-checked by the"
    " register-replayed hll_distinct_audit (registry_m57)",
)
def q_uniques_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts — the constant-space scale
    variant of `uniques` (tests bound the error vs exact). rsd=0.016
    opted into HERE (not the operator default): precision p=13 keeps
    two 8K-register sketches L1-resident — measured 0.38 s vs 2.4 s
    at p=14 on the sf0.1 serving path (approx.py module docstring)."""
    from piholelongtermstats_spark.operators import approx

    return approx.uniques_approx(_fact(spark, sf_dir), rsd=0.016)


@register(
    "reply_time_quantiles",
    rows_only="GK-sketch percentile VALUES aren't portable SQL; the"
    " sketch's rank-error contract is hash-checked by"
    " quantile_sketch_eval (registry_m42, graduated r11)",
)
def q_reply_time_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass mergeable reply-time percentiles (no distributed
    full sort)."""
    from piholelongtermstats_spark.operators import approx

    return approx.reply_time_quantiles(_fact(spark, sf_dir))


@register(
    "asof_rollup_enrich",
    FACT_CTE
    + """
, rollup AS (
  SELECT date_trunc('hour', ts) AS hour_bucket, status_type,
         CAST(count(*) AS BIGINT) AS cnt
  FROM fact GROUP BY 1, 2
), joined AS (
  SELECT f.status_type AS status_type, r.cnt AS cnt
  FROM fact f ASOF LEFT JOIN rollup r
    ON f.status_type = r.status_type AND f.ts >= r.hour_bucket
)
SELECT status_type,
       CAST(count(cnt) AS BIGINT) AS matched,
       CAST(sum(cnt) AS BIGINT) AS sum_cnt
FROM joined GROUP BY status_type
""",
)
def q_asof_rollup_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): every event enriched with the
    most recent hourly-rollup row at or before its timestamp, per
    status — then re-aggregated so the oracle result is small. DuckDB
    checks it with its native ASOF JOIN."""
    from piholelongtermstats_spark.operators import asof, timeagg

    fact = _fact(spark, sf_dir)
    rollup = timeagg.hourly_rollup(fact).groupBy("hour_bucket", "status_type").agg(
        F.sum("cnt").alias("cnt")
    )
    # Project the left side to exactly what the final aggregation
    # consumes (r13, guide §2.3 "project before the exchange"):
    # event_id was carried through the operator's per-(key, date)
    # window exchange inside the _row struct and then dropped by the
    # groupBy — the enrichment result is identical without it.
    joined = asof.asof_join(
        fact.select("ts", "status_type"),
        rollup,
        key="status_type",
        left_ts="ts",
        right_ts="hour_bucket",
        value_cols=["cnt"],
    )
    return joined.groupBy("status_type").agg(
        F.count("cnt").alias("matched"),
        F.sum("cnt").cast("bigint").alias("sum_cnt"),
    )


@register(
    "range_join_blocked_windows",
    FACT_CTE
    + """
, iv AS (
  SELECT min(ts) AS start_ts, max(ts) AS end_ts
  FROM fact WHERE status_type = 'Blocked' GROUP BY date
)
SELECT f.status_type AS status_type, CAST(count(*) AS BIGINT) AS in_window
FROM fact f JOIN iv ON f.ts >= iv.start_ts AND f.ts <= iv.end_ts
GROUP BY 1
""",
)
def q_range_join_blocked_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/rangejoin.py): count events inside each
    day's blocked-activity window [first, last blocked ts]. Binned
    equi-join plan — a bare BETWEEN theta-join would nested-loop."""
    from piholelongtermstats_spark.operators.rangejoin import range_join_binned

    fact = _fact(spark, sf_dir)
    iv = (
        fact.filter(F.col("status_type") == "Blocked")
        .groupBy("date")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
        .select("start_ts", "end_ts")
    )
    joined = range_join_binned(fact.select("ts", "status_type"), iv)
    return joined.groupBy("status_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("in_window")
    )


@register(
    "activity_rollup_hierarchy",
    FACT_CTE
    + """
SELECT date, status_type, CAST(count(*) AS BIGINT) AS cnt,
       CAST(grouping(date) * 2 + grouping(status_type) AS BIGINT) AS gid
FROM fact
GROUP BY ROLLUP (date, status_type)
""",
)
def q_activity_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (date, status_type) → per-pair, per-date, and
    grand totals in ONE pass with partial aggregation — the
    multi-granularity summary a dashboard would otherwise compute as
    three separate scans. gid disambiguates NULL-as-total from a
    genuine NULL key (grouping_id semantics match DuckDB)."""
    fact = _fact(spark, sf_dir)
    return (
        fact.rollup("date", "status_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select("date", "status_type", "cnt", "gid")
    )


# ---------------------------------------------------------------------------
# Partitioned-layout range scan (r4 VERDICT #3): the S4 range scan
# executed against the hive p_date layout (sources/layout.py) with an
# exact oracle over the FLAT file — a green row proves directory-level
# partition pruning returns byte-identical results to the layout the
# oracle reads. Same SQL as `range_scan`; only the Spark physical
# design differs.
# ---------------------------------------------------------------------------

@register(
    "range_scan_pruned",
    FACT_CTE
    + """
SELECT status_type, count(*) AS cnt FROM fact
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
GROUP BY status_type
""",
)
def q_range_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range scan over the date-partitioned layout: [lo, hi) becomes
    PartitionFilters (whole directories pruned at plan time) plus
    raw-ts PushedFilters for the boundary days
    (tests/test_scale_layout.py asserts both in the plan and the
    pruned partition count in the executed SQLMetrics)."""
    import datetime as dt

    from piholelongtermstats_spark.sources import layout

    ensure_session_defaults(spark)
    path = layout.ensure_layout(spark, sf_dir)
    fact = layout.scan_events_date_partitioned(
        spark, path, lo=dt.datetime(2024, 1, 10), hi=dt.datetime(2024, 1, 20)
    )
    return fact.groupBy("status_type").agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# Sequential-tier doubling proofs (r4 VERDICT #6): the stitched
# order-dependent operators run over events ∪ a ts-shifted copy (2×
# the fact volume, uncached) with the oracle computed DIRECTLY on the
# doubled input — the same methodology that made dedup_scale_2x the
# repo's strongest scale evidence (6d4cf92), now covering the one real
# distributed-algorithm decision in the DNS tier (SURVEY §2.6: no
# global-order window over fact rows). tests/test_scale2x_sequential.py
# asserts zero spill and that every unpartitioned window orders a
# reduced summary, not fact rows.
# ---------------------------------------------------------------------------

# +64 days clears the ~30-day event span, so the copy lands strictly
# after the original (the junction is one honest mega-gap, which the
# oracle computes too); the id shift keeps (ts, event_id) tie-break
# order canonical and collision-free (events ids are far below 2^40).
_SEQ2X_ID_SHIFT = 1 << 40

_DBL_CTE = (
    FACT_CTE
    + f"""
, dbl AS (
  SELECT ts, event_id, status_type, client FROM fact
  UNION ALL
  SELECT ts + INTERVAL 64 DAY, event_id + {_SEQ2X_ID_SHIFT}, status_type, client
  FROM fact
)
"""
)


def _fact2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events ∪ (+64 d, +2^40-id)-shifted copy, time-enriched — built
    per call (NOT persisted): the point is the 2× execution volume."""
    from piholelongtermstats_spark.functions.derive import enrich_time

    base = _fact(spark, sf_dir).select("ts", "event_id", "status_type", "client")
    shifted = base.select(
        (F.col("ts") + F.expr("INTERVAL 64 DAYS")).alias("ts"),
        (F.col("event_id") + F.lit(_SEQ2X_ID_SHIFT)).alias("event_id"),
        "status_type",
        "client",
    )
    return enrich_time(base.unionByName(shifted), "ts")


@register(
    "streaks_scale_2x",
    _DBL_CTE
    + """
, flg AS (
  SELECT ts, event_id, status_type,
         CASE WHEN lag(status_type) OVER w IS NULL
                OR lag(status_type) OVER w <> status_type THEN 1 ELSE 0 END AS chg
  FROM dbl
  WINDOW w AS (ORDER BY ts, event_id)
), grp AS (
  SELECT *, CAST(sum(chg) OVER (ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
  FROM flg
), runs AS (
  SELECT run_id, status_type, count(*) AS streak_len, min(ts) AS start_ts
  FROM grp GROUP BY 1, 2
)
SELECT status_type, streak_len, start_ts FROM (
  SELECT *, row_number() OVER (PARTITION BY status_type
                               ORDER BY streak_len DESC, start_ts) AS rn
  FROM runs
) WHERE rn = 1
""",
)
def q_streaks_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """longest_streaks (prefix-count run keys) at 2× fact volume. The
    junction can legally merge the original's tail run with the
    copy's head run — the oracle's global-order SQL sees the same
    doubled sequence, so the comparison is exact either way."""
    return sequential.longest_streaks_stitched(_fact2x(spark, sf_dir))


@register(
    "gaps_scale_2x",
    _DBL_CTE
    + """
, g AS (
  SELECT lag(ts) OVER (ORDER BY ts, event_id) AS prev_ts, ts AS next_ts FROM dbl
)
SELECT prev_ts, next_ts, epoch_us(next_ts) - epoch_us(prev_ts) AS gap_us
FROM g WHERE prev_ts IS NOT NULL
ORDER BY gap_us DESC, next_ts LIMIT 10
""",
)
def q_gaps_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """idle_gaps_top (date-partition + boundary stitch) at 2× volume;
    the 64-day junction gap is the expected #1 row on both engines."""
    return sequential.idle_gaps_top(_fact2x(spark, sf_dir), 10)


@register(
    "sessions_scale_2x",
    _DBL_CTE
    + """
, flagged AS (
  SELECT client, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM dbl WINDOW w AS (PARTITION BY client ORDER BY ts, event_id)
), sess AS (
  SELECT client, ts,
         sum(new_s) OVER (PARTITION BY client ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), sessions AS (
  SELECT client,
         min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_events
  FROM sess GROUP BY client, sid
)
SELECT client,
       count(*) AS n_sessions,
       round(CAST(CAST(sum(n_events) AS BIGINT) AS DOUBLE) / count(*), 6)
         AS avg_events_per_session,
       round(CAST(max(epoch_us(session_end) - epoch_us(session_start)) AS DOUBLE)
             / 1000000.0, 6) AS longest_session_sec
FROM sessions GROUP BY client
""",
)
def q_sessions_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window summary at 2× volume: each client's session set
    doubles (the 64-day shift can never bridge a 30-min gap)."""
    from piholelongtermstats_spark.streaming.sessions import session_summary

    return session_summary(_fact2x(spark, sf_dir))


@register(
    "pricing_scale_2x",
    """
WITH li2 AS (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem)
SELECT l_returnflag, l_linestatus,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
  count(*) AS count_order
FROM li2
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 at 2× fact volume (lineitem ∪ lineitem, uncached) —
    the doubling methodology (dedup_scale_2x / streaks_scale_2x)
    extended to the partial-agg tier: exact DECIMAL sums and counts
    double, averages are invariant, and the oracle recomputes the
    doubled input directly. Map-side partial aggregation is what makes
    the 2× input cost ~2× map work and an IDENTICAL shuffle size (6
    groups × partials) — the property that holds at any scale-up."""
    ensure_session_defaults(spark)
    li = load_table(spark, sf_dir, "lineitem")
    li2 = union_all(li, li)
    qty = F.col("l_quantity").cast(_DEC)
    price = F.col("l_extendedprice").cast(_DEC)
    disc_price = price * (F.lit(1) - F.col("l_discount").cast(_DEC))
    return (
        li2.filter(
            F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join (r5): the bucketing tier (sources/
# bucketing.py) gets an oracle-checked registry entry, not just plan
# tests. The one-time bucketed write pays the orderkey shuffle at
# layout time; the recorded join then runs with NO Exchange on either
# fact-sized side — the physical design for fact⋈fact at 100 TB. The
# oracle recomputes the same revenue rollup from the flat files.
# ---------------------------------------------------------------------------

_BUCKETED_READY: dict[tuple, tuple] = {}


def _ensure_bucketed_orderkey(spark: SparkSession, sf_dir: str) -> tuple:
    """Write lineitem/orders bucketed by orderkey (8 buckets, sorted)
    once per (application, sf_dir); external paths keep the data in a
    deterministic tmp location, the in-memory catalog carries the
    bucket spec. Table names and paths carry an abspath digest —
    basename alone would let two same-named sf dirs clobber each
    other's tables while the first's memo still points at them."""
    import hashlib
    import os
    import re
    import tempfile

    from piholelongtermstats_spark.sources import bucketing

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _BUCKETED_READY:
        return _BUCKETED_READY[key]
    ap = os.path.abspath(sf_dir.rstrip("/"))
    tag = re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(ap))
    # The tag carries the applicationId as well as the sf-dir hash:
    # the on-disk path is shared host state, and two CONCURRENT
    # sessions (e.g. a parity run next to the pytest suite) writing
    # the same path race on each other's _temporary cleanup
    # (observed: TASK_WRITE_FAILED/chmod-on-missing-file, r11). Keyed
    # per app, concurrent sessions build side-by-side tables.
    app = re.sub(
        r"[^A-Za-z0-9_]", "_", spark.sparkContext.applicationId
    )[-12:]
    tag = f"{tag}_{hashlib.md5(ap.encode()).hexdigest()[:8]}_{app}"
    li_t, ord_t = f"phlts_li_bucketed_{tag}", f"phlts_ord_bucketed_{tag}"
    root = os.path.join(tempfile.gettempdir(), "phlts_bucketed", tag)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    for df, t in ((li, li_t), (orders, ord_t)):
        bucketing.write_bucketed(
            df, t, ["l_orderkey"], 8, ["l_orderkey"],
            path=os.path.join(root, t),
        )
    _BUCKETED_READY[key] = (li_t, ord_t)
    return li_t, ord_t


@register(
    "bucketed_join_revenue",
    """
SELECT date_trunc('month', o_orderdate) AS order_month,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
""",
)
def q_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue off the BUCKETED lineitem⋈orders join: both
    sides pre-bucketed by orderkey ⇒ SortMergeJoin with no Exchange
    on either side (tests/test_scale_layout.py pins the no-Exchange
    property; this entry pins the RESULT against the flat-file
    oracle). The month rollup after the join is the only shuffle."""
    from piholelongtermstats_spark.sources import bucketing

    ensure_session_defaults(spark)
    li_t, ord_t = _ensure_bucketed_orderkey(spark, sf_dir)
    joined = bucketing.colocated_join(spark, li_t, ord_t, ["l_orderkey"])
    price = F.col("l_extendedprice").cast(_DEC)
    rev = price * (F.lit(1) - F.col("l_discount").cast(_DEC))
    return joined.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("order_month")
    ).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# r7 — TPC-H Q4/Q16-shaped additions: EXISTS semi-join and
# NOT-IN anti-join + multi-key distinct count
# ---------------------------------------------------------------------------


@register(
    "order_priority_counts",
    """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: orders in a quarter having at least one
    late-shipping lineitem (EXISTS), counted by priority.

    The EXISTS compiles to a LEFT SEMI join on the orderkey equality
    with the shipdate inequality as a residual join condition — the
    fact side streams through once and duplicate matches never
    materialize (semi-join short-circuits per order). Fact-fact edge,
    so no broadcast hint (same policy as top_unshipped_orders): AQE
    picks the strategy from runtime stats."""
    ensure_session_defaults(spark)
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    semi = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        semi.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


@register(
    "supplier_part_counts",
    """
SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 13, 17)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
""",
)
def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: distinct suppliers per (brand, size) slice,
    excluding a brand and suppliers below the account-balance floor.

    The NOT IN is a LEFT ANTI join against the filtered supplier dim
    (broadcast — suppliers are dimension-sized at any SF; the exclusion
    list is a fraction of that); part is the other broadcast dim. The
    lineitem bridge provides the part-supplier pairs (this schema has
    no partsupp table); COUNT(DISTINCT) runs as the standard two-phase
    expand/partial-agg — keys are (brand, size, suppkey), bounded and
    unskewed."""
    ensure_session_defaults(spark)
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 9, 13, 17)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)
