"""Dashboard queries over the DNS fact: the Pi-hole long-term-stats
surface and the behavioural analytics built on the same events.

- The reference dashboard: status / day-night counts, uniques, the
  top-K families, daily / hourly / weekday series, heatmaps, reply
  times, idle gaps, streaks and per-status gaps.
- Scans and filters: date-range scans over the partitioned layout,
  the multi-database union, regex exclusion, z-order clustered scans.
- Sessions, rollups and joins: session windows, hourly rollup
  hierarchies, as-of and range joins.
- Behaviour: cohort retention, funnels and journeys, sequences and
  transitions, sliding windows, baskets, heavy hitters, graph
  summaries (PageRank, k-core, triangles, assortativity).
- Doubling proofs (``*_scale_2x``): the same query over a doubled
  fact (``_fact2x``), whose answer is a closed-form function of the
  single-copy answer.

Every oracle reads the fact through ``FACT_CTE`` (sources/events.py),
the same projection ``dns_fact`` applies on the Spark side.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import functions as _F

from piholelongtermstats_spark.functions.exclude import exclude_domains
from piholelongtermstats_spark.operators import (
    anomaly,
    approx,
    basket,
    cohort,
    counts,
    dq,
    freq,
    fuzzy,
    graph,
    journey,
    profiling,
    sequential,
    timeagg,
    topk,
)
from piholelongtermstats_spark.operators import approx as _approx
from piholelongtermstats_spark.operators import cohort as _cohort
from piholelongtermstats_spark.operators import counts as _counts
from piholelongtermstats_spark.operators import graph as _graph
from piholelongtermstats_spark.operators import timeagg as _timeagg
from piholelongtermstats_spark.plans.cache import fan_degenerate, shared_input
from piholelongtermstats_spark.plans.registry import _fact, register
from piholelongtermstats_spark.session import ensure_session_defaults
from piholelongtermstats_spark.sources.events import (
    FACT_CTE,
    dns_fact,
    raw_event_stream,
)
from piholelongtermstats_spark.sources.events import FACT_CTE as _FACT_CTE
from piholelongtermstats_spark.sources.events import dns_fact as _dns_fact
from piholelongtermstats_spark.sources.parquet import load_table, union_all
from piholelongtermstats_spark.streaming.join import attributed_conversions_batch as _conv_batch
from piholelongtermstats_spark.streaming.sliding import sliding_busiest


# ---------------------------------------------------------------------------
# Count/percentage family (stats.py:35-52)
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
# Top-K / argmax family (stats.py:55-146, 418-439; plot.py:29-101)
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
# Time-dimension aggregates (stats.py:153-206; process.py:86-113;
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
# Sequential / window operators (stats.py:324-408, 506-515)
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
# Partitioned-layout range scan: the S4 range scan
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
# Sequential-tier doubling proofs: the stitched
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


# ---------------------------------------------------------------------------
# Z-order clustered scan (sources/zorder.py) — the multi-dimensional
# layout proof: the SAME [client, time-window] drill-down the
# reference serves (db.py:133 passes client= into the range query),
# executed against the Morton-clustered layout where BOTH predicate
# dimensions prune row groups through ordinary column min/max stats.
# The oracle runs on the flat table — layout must never change results.
# ---------------------------------------------------------------------------


_Z_CLIENT = 7
_Z_LO = _dt.datetime(2024, 1, 10)
_Z_HI = _dt.datetime(2024, 1, 18)

_ZORDER_SQL = FACT_CTE + f"""
SELECT status_type,
       count(*) AS n,
       CAST(sum(event_id) AS BIGINT) AS event_id_sum
FROM fact
WHERE client = '{_Z_CLIENT}'
  AND ts >= TIMESTAMP '{_Z_LO:%Y-%m-%d %H:%M:%S}'
  AND ts <  TIMESTAMP '{_Z_HI:%Y-%m-%d %H:%M:%S}'
GROUP BY status_type
ORDER BY status_type
"""


@register("zorder_scan_pruned", _ZORDER_SQL)
def q_zorder_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Client + 8-day-window status rollup over the z-ordered layout;
    both predicates reach the parquet reader and prune via the tight
    per-file min/max the Morton sort created (measured in
    tests/test_zorder.py: client-equality reads ~2.5× fewer rows than
    the time-sorted baseline, time windows still prune ~3×)."""
    from piholelongtermstats_spark.sources import zorder

    path = zorder.ensure_zorder_layout(spark, sf_dir)
    df = zorder.scan_events_zordered(
        spark, path, client_id=_Z_CLIENT, lo=_Z_LO, hi=_Z_HI
    )
    return (
        df.groupBy("status_type")
        .agg(
            _F.count("*").alias("n"),
            _F.sum("event_id").alias("event_id_sum"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# Exact per-group quantiles (operators/approx.py:exact_group_quantiles)
# — nearest-rank over a value histogram: the oracle-checkable exact
# member of the quantile family (the GK sketch stays rows-only). No
# interpolation ⇒ no fp: q_p is an ACTUAL data value selected by
# integer rank comparison, bit-identical across engines.
# ---------------------------------------------------------------------------


_RQE_SQL = _FACT_CTE + """
, h AS (
  SELECT status_type, reply_time, count(*) AS cnt
  FROM fact WHERE reply_time IS NOT NULL
  GROUP BY status_type, reply_time),
c AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY status_type ORDER BY reply_time
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY status_type) AS n
  FROM h)
SELECT status_type,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       min(CASE WHEN cum >= ceil(0.5 * n) THEN reply_time END) AS p50,
       min(CASE WHEN cum >= ceil(0.9 * n) THEN reply_time END) AS p90,
       min(CASE WHEN cum >= ceil(0.99 * n) THEN reply_time END) AS p99
FROM c GROUP BY status_type ORDER BY status_type
"""


@register("reply_quantiles_exact", _RQE_SQL)
def q_reply_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 reply time per status via the histogram
    nearest-rank method — selected data values, zero interpolation."""
    return _approx.exact_group_quantiles(
        _fact(spark, sf_dir), "status_type", "reply_time"
    )


# ---------------------------------------------------------------------------
# Behavioral analytics (cohort retention, ordered
# funnel) and time-series smoothing — classic OLAP shapes the
# reference's dashboard does not cover, over the same fact/events
# tables. All-integer outputs (counts, day offsets) except the moving
# average, which divides exact integer window sums once.
# ---------------------------------------------------------------------------

def _events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw events (event_type granularity — the funnel stages the
    enriched fact's status buckets merge away)."""
    ensure_session_defaults(spark)
    return shared_input(
        spark,
        "events_raw",
        sf_dir,
        # fanned at cache build (r12): the single-file test layout
        # otherwise persists as ONE partition (see cache.shared_docs)
        lambda: fan_degenerate(
            spark, load_table(spark, sf_dir, "events"), "user_id"
        ),
    )


_RETENTION_SQL = FACT_CTE + """
, d AS (SELECT DISTINCT client, date FROM fact),
first AS (SELECT client, min(date) AS cohort_date FROM d GROUP BY client)
SELECT cohort_date,
       date_diff('day', cohort_date, d.date) AS age_days,
       count(DISTINCT d.client) AS n_clients
FROM d JOIN first USING (client)
GROUP BY cohort_date, age_days
ORDER BY cohort_date, age_days
"""


@register("client_retention", _RETENTION_SQL)
def q_client_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: distinct clients active age_days after
    their first active date."""
    return cohort.client_retention(_fact(spark, sf_dir))


_FUNNEL_SQL = """
WITH base AS (SELECT user_id, event_type, ts FROM events),
t1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t1
       FROM base GROUP BY user_id),
t2 AS (SELECT b.user_id, min(b.ts) AS t2
       FROM base b JOIN t1 USING (user_id)
       WHERE b.event_type = 'click' AND b.ts > t1.t1
       GROUP BY b.user_id),
t3 AS (SELECT b.user_id, min(b.ts) AS t3
       FROM base b JOIN t2 USING (user_id)
       WHERE b.event_type = 'purchase' AND b.ts > t2.t2
       GROUP BY b.user_id)
SELECT count(*) AS n_clients,
       count(t1.t1) AS n_view,
       count(t2.t2) AS n_click_after_view,
       count(t3.t3) AS n_purchase_after_click
FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
"""


@register("funnel_counts", _FUNNEL_SQL)
def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel audit row."""
    return cohort.funnel_counts(_events_raw(spark, sf_dir))


_MA7_SQL = FACT_CTE + """
, daily AS (SELECT date, count(*) AS cnt FROM fact GROUP BY date)
SELECT date, cnt,
       CAST(sum(cnt) OVER w AS DOUBLE) / count(*) OVER w AS ma7
FROM daily
WINDOW w AS (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY date
"""


@register("daily_counts_ma7", _MA7_SQL)
def q_daily_counts_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily totals with a 7-day trailing moving average — the global
    window orders the ~|dates| aggregate rows, never the fact (the
    tiny-frame global-window rule, operators/sequential.py)."""
    daily = (
        _fact(spark, sf_dir).groupBy("date").agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("date").rowsBetween(-6, 0)
    return daily.select(
        "date",
        "cnt",
        (F.sum("cnt").over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "ma7"
        ),
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (timeagg.merge_rollup): the rollup of
# history merged with the rollup of a late-arriving slice must equal
# the full recompute — COUNT/SUM self-mergeability as an ORACLE-
# checked identity, not just a claim. Both legs run real pushed-down
# range scans (dns_fact lo/hi on the raw column).
# ---------------------------------------------------------------------------


_ROLLUP_CUT = _dt.datetime(2024, 1, 25)

_ROLLUP_DELTA_SQL = FACT_CTE + """
SELECT date,
  count(*) AS total_cnt,
  count(*) FILTER (WHERE status_type = 'Blocked') AS blocked_cnt,
  count(*) FILTER (WHERE status_type = 'Allowed') AS allowed_cnt
FROM fact GROUP BY date
"""


@register("rollup_delta", _ROLLUP_DELTA_SQL)
def q_rollup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """daily_counts(history < cut) merged with daily_counts(delta ≥
    cut) — the oracle is the FULL recompute, so the merge identity is
    hash-verified end to end."""
    old = _timeagg.daily_counts(_dns_fact(spark, sf_dir, hi=_ROLLUP_CUT))
    new = _timeagg.daily_counts(_dns_fact(spark, sf_dir, lo=_ROLLUP_CUT))
    return _timeagg.merge_rollup(old, new)


_DEGREE_SQL = FACT_CTE + """
, deg AS (SELECT client, count(DISTINCT domain) AS degree
          FROM fact GROUP BY client)
SELECT degree, count(*) AS n_clients FROM deg
GROUP BY degree ORDER BY degree
"""


@register("client_degree_histogram", _DEGREE_SQL)
def q_client_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the client→domain interaction graph."""
    return _counts.client_degree_histogram(_fact(spark, sf_dir))


_P99_SQL = FACT_CTE + """
, h AS (
  SELECT client, reply_time, count(*) AS cnt
  FROM fact WHERE reply_time IS NOT NULL
  GROUP BY client, reply_time),
c AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY client ORDER BY reply_time
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY client) AS n
  FROM h),
q AS (
  SELECT client,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         min(CASE WHEN cum >= ceil(0.5 * n) THEN reply_time END) AS p50,
         min(CASE WHEN cum >= ceil(0.9 * n) THEN reply_time END) AS p90,
         min(CASE WHEN cum >= ceil(0.99 * n) THEN reply_time END) AS p99
  FROM c GROUP BY client)
SELECT client, n_rows, p50, p90, p99 FROM q
ORDER BY p99 DESC, client LIMIT 10
"""


@register("slowest_clients_p99", _P99_SQL)
def q_slowest_clients_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-latency outlier report: top-10 clients by EXACT p99 reply
    time (nearest-rank histogram per client — the SRE-grade variant of
    the reference's avg-based slowest_domains; slowest_domains itself
    stays reference-parity). TakeOrdered cut, ties on client."""
    from piholelongtermstats_spark.operators import approx as _approx

    q = _approx.exact_group_quantiles(
        _fact(spark, sf_dir), "client", "reply_time"
    )
    return q.orderBy(F.col("p99").desc(), F.col("client").asc()).limit(10)


_FFILL_SQL = FACT_CTE + """
, sel AS (
  SELECT client, date_trunc('hour', ts) AS hour_bucket, reply_time
  FROM fact WHERE client IN ('1','2','3') AND reply_time IS NOT NULL),
hourly AS (
  SELECT client, hour_bucket, count(*) AS n_obs,
         round(CAST(sum(CAST(reply_time AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) AS avg_reply
  FROM sel GROUP BY client, hour_bucket),
bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
                  date_trunc('hour', max(ts)) AS hi FROM fact),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
            AS hour_bucket FROM bounds),
grid AS (SELECT c.client, s.hour_bucket
         FROM spine s CROSS JOIN (VALUES ('1'),('2'),('3')) AS c(client))
SELECT g.client, g.hour_bucket,
       coalesce(h.n_obs, 0) AS n_obs,
       last_value(h.avg_reply IGNORE NULLS) OVER (
         PARTITION BY g.client ORDER BY g.hour_bucket
         ROWS UNBOUNDED PRECEDING) AS avg_reply_ffill
FROM grid g LEFT JOIN hourly h USING (client, hour_bucket)
ORDER BY client, hour_bucket
"""


@register("client_hourly_ffill", _FFILL_SQL)
def q_client_hourly_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-client hourly series with last-observation-carried-forward
    gap fill over the corpus hour spine."""
    return _timeagg.ffill_client_hourly(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Conversion attribution — the BATCH twin of the stream-stream
# windowed join (streaming/join.py). The oracle checks the batch
# definition; tests/test_streaming_join.py pins stream ≡ batch on
# shared files, so this entry extends driver-grade checking to the
# streaming join's result contract.
# ---------------------------------------------------------------------------


_CONV_SQL = _FACT_CTE + """
SELECT v.event_id AS view_id,
       v.ts AS view_ts,
       v.client AS client,
       v.domain AS view_domain,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts
FROM (SELECT * FROM fact WHERE status_type = 'Allowed') v
JOIN (SELECT * FROM fact WHERE status_type = 'Blocked') p
  ON v.client = p.client
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 30 MINUTE
ORDER BY view_id, purchase_id
"""


@register("conversion_attribution", _CONV_SQL)
def q_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views matched to same-client purchases within the 30-minute
    attribution window — batch twin of the streaming join."""
    from piholelongtermstats_spark.plans.registry import _fact

    return _conv_batch(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Rolling distinct actives (operators/cohort.py:rolling_active_clients)
# ---------------------------------------------------------------------------


_ROLLING_SQL = _FACT_CTE + """
, daily AS (SELECT DISTINCT date, client FROM fact),
dates AS (SELECT DISTINCT date FROM fact)
SELECT d.date, CAST(count(DISTINCT c.client) AS BIGINT) AS active_7d
FROM dates d
JOIN daily c ON c.date BETWEEN d.date - INTERVAL 6 DAY AND d.date
GROUP BY d.date ORDER BY d.date
"""


@register("rolling_active_clients", _ROLLING_SQL)
def q_rolling_active_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct active clients per observed date."""
    from piholelongtermstats_spark.plans.registry import _fact

    return _cohort.rolling_active_clients(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# PageRank (operators/graph.py) — ORACLE-CHECKED since r10 via the
# fixed-point twin (r9 VERDICT #3, the hll_distinct_audit playbook):
# ranks are integers in parts-per-10^12 and every step is integer
# arithmetic (DIV per edge, the 17/20 damping as an exact rational),
# so integer sums are accumulation-order-free and the DuckDB oracle
# replays all 10 power iterations bit-for-bit as unrolled CTEs. The
# float-mass variant stays the production default (operators/graph.py
# pagerank), pinned by the numpy differential + the fixed-vs-float
# top-k agreement test.
# ---------------------------------------------------------------------------


_PR_ITER = _graph.N_ITER
_PR_TOP = 20


def _pagerank_sql(n_iter: int = _PR_ITER, k: int = _PR_TOP) -> str:
    """10 unrolled integer power iterations; e is MATERIALIZED (it is
    referenced once per iteration — inlining would re-derive the edge
    relation n_iter times). The damping rational and the ppt scale
    are generated from the operator's own module constants
    (graph.DAMPING_NUM/DEN, graph.PPT_SCALE) so a default change
    cannot silently desynchronize the oracle (r10 ADVICE, the M59
    generated-oracle protocol)."""
    num, den, ppt = _graph.DAMPING_NUM, _graph.DAMPING_DEN, _graph.PPT_SCALE
    parts = [
        FACT_CTE,
        f"""
, cd AS (SELECT DISTINCT 'c:' || client AS src, 'd:' || domain AS dst
         FROM fact),
ed AS MATERIALIZED (
  SELECT src, dst FROM cd UNION ALL SELECT dst, src FROM cd),
dg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM ed GROUP BY src),
e AS MATERIALIZED (
  SELECT ed.src, ed.dst, dg.outdeg FROM ed JOIN dg USING (src)),
nn AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n FROM ed),
r0 AS (SELECT DISTINCT src AS node,
              (SELECT CAST({ppt} // n AS BIGINT) FROM nn) AS rank_ppt
       FROM ed)""",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
r{i} AS (
  SELECT e.dst AS node,
         CAST((SELECT ({den - num} * {ppt}) // ({den} * n) FROM nn)
              + ({num} * sum(r.rank_ppt // e.outdeg)) // {den} AS BIGINT)
           AS rank_ppt
  FROM e JOIN r{i - 1} r ON r.node = e.src GROUP BY e.dst)"""
        )
    parts.append(
        f"""
SELECT node, rank_ppt FROM r{n_iter}
ORDER BY rank_ppt DESC, node LIMIT {k}"""
    )
    return "".join(parts)


@register(
    "pagerank_top",
    _pagerank_sql(),
    budget=(
        6.0,
        "ten real distributed power iterations; cost is the"
        " iteration count, not a scale defect",
    ),
)
def q_pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 client/domain nodes by bipartite fixed-point PageRank
    (10 integer power iterations, damping 17/20;
    operators/graph.py:pagerank_fixedpoint)."""
    from piholelongtermstats_spark.plans.registry import _fact

    return _graph.pagerank_fixedpoint(_fact(spark, sf_dir), top=_PR_TOP)


# ---------------------------------------------------------------------------
# k-anonymous export gate (operators/counts.py:kanon_domain_daily)
# ---------------------------------------------------------------------------


_KANON_K = 5

_KANON_SQL = _FACT_CTE + f"""
, c AS (SELECT domain, date, count(*) AS cnt FROM fact GROUP BY domain, date),
a AS (SELECT CAST(sum(CASE WHEN cnt < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS suppressed_groups,
             CAST(coalesce(sum(CASE WHEN cnt < {_KANON_K} THEN cnt END), 0)
               AS BIGINT) AS suppressed_rows
      FROM c)
SELECT domain, date, CAST(cnt AS BIGINT) AS cnt,
       suppressed_groups, suppressed_rows
FROM c, a WHERE cnt >= {_KANON_K}
ORDER BY domain, date
"""


@register("kanon_domain_daily", _KANON_SQL)
def q_kanon_domain_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymous (domain, date) export with suppression audit."""
    from piholelongtermstats_spark.plans.registry import _fact

    return _counts.kanon_domain_daily(_fact(spark, sf_dir), _KANON_K)


@register(
    "rolling_active_approx",
    rows_only="sketch internals aren't portable SQL; the HLL accuracy"
    " contract is hash-checked by hll_distinct_audit and the exact twin"
    " rolling_active_clients is green",
)
def q_rolling_active_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-merge (DataSketches HLL) rolling 7-day distinct actives
    — the constant-width scale path of rolling_active_clients; error
    bound vs exact test-asserted."""
    from piholelongtermstats_spark.plans.registry import _fact

    return _cohort.rolling_active_clients_approx(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Two-pass exact heavy hitters (operators/freq.py). k=100 == "domains
# above the uniform share"; the MG candidate pass bounds the shuffle
# at k·P rows regardless of key cardinality, the exact pass restores
# determinism, and the oracle is the plain GROUP BY ... HAVING answer.
# ---------------------------------------------------------------------------

_HH_K = 100

_HH_SQL = (
    FACT_CTE
    + f"""
SELECT domain AS item, count(*) AS cnt,
       (SELECT count(*) FROM fact) AS n_total
FROM fact GROUP BY domain
HAVING count(*) * {_HH_K} > (SELECT count(*) FROM fact)
ORDER BY cnt DESC, item
"""
)


@register("heavy_hitters_exact", _HH_SQL)
def q_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return freq.heavy_hitters_exact(_fact(spark, sf_dir), "domain", _HH_K)


# ---------------------------------------------------------------------------
# First-seen novelty series (operators/anomaly.py).
# ---------------------------------------------------------------------------

_FIRST_SEEN_SQL = (
    FACT_CTE
    + """
SELECT first_date AS date, count(*) AS new_domains
FROM (SELECT domain, min(date) AS first_date FROM fact GROUP BY domain)
GROUP BY first_date ORDER BY date
"""
)


@register("first_seen_domains", _FIRST_SEEN_SQL)
def q_first_seen_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    return anomaly.first_seen_domains(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Per-client daily volume spikes, z>3 against the client's own history.
# The DuckDB twin carries the identical cross-multiplied gate in
# HUGEINT (DuckDB's sum(BIGINT) is already HUGEINT); Spark carries it
# in DECIMAL — both exact, so the qualifying row set cannot drift.
# ---------------------------------------------------------------------------

_SPIKES_SQL = (
    FACT_CTE
    + """
, daily AS (SELECT client, date, count(*) AS cnt FROM fact GROUP BY 1, 2),
st AS (
  SELECT client, date, cnt,
         count(*) OVER w AS n, sum(cnt) OVER w AS s1, sum(cnt*cnt) OVER w AS s2
  FROM daily WINDOW w AS (PARTITION BY client))
SELECT client, date, cnt, CAST(n AS BIGINT) AS n_days,
       round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS avg_cnt
FROM st
WHERE n >= 3 AND n * cnt > s1
  AND CAST(n*cnt - s1 AS HUGEINT) * CAST(n*cnt - s1 AS HUGEINT) * (n - 1)
      > 9 * CAST(n*s2 - s1*s1 AS HUGEINT) * n
ORDER BY client, date
"""
)


@register("client_daily_spikes", _SPIKES_SQL)
def q_client_daily_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return anomaly.client_daily_spikes(_fact(spark, sf_dir), z=3, min_days=3)


# ---------------------------------------------------------------------------
# Heavy-hitters doubling proof: the identical query over fact ∪ fact.
# Same hitters, doubled counts, doubled N — the candidate bound (k·P
# rows) and the single-aggregation recount are volume-independent.
# ---------------------------------------------------------------------------

_HH_2X_SQL = (
    FACT_CTE
    + f"""
, f2 AS (SELECT * FROM fact UNION ALL SELECT * FROM fact)
SELECT domain AS item, count(*) AS cnt,
       (SELECT count(*) FROM f2) AS n_total
FROM f2 GROUP BY domain
HAVING count(*) * {_HH_K} > (SELECT count(*) FROM f2)
ORDER BY cnt DESC, item
"""
)


@register("hh_scale_2x", _HH_2X_SQL)
def q_hh_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _fact(spark, sf_dir)
    return freq.heavy_hitters_exact(f.unionByName(f), "domain", _HH_K)


# ---------------------------------------------------------------------------
# Key-skew diagnostic (operators/skew.py:key_skew_report) — the
# measurement behind every salting/AQE decision, over the domain key.
# ---------------------------------------------------------------------------

_SKEW_REPORT_SQL = (
    FACT_CTE
    + """
, c AS (SELECT domain, count(*) AS cnt FROM fact GROUP BY domain),
tk AS (SELECT CAST(sum(cnt) AS BIGINT) AS topk_cnt
       FROM (SELECT cnt FROM c ORDER BY cnt DESC, domain LIMIT 10))
SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
       count(*) AS n_keys,
       CAST(max(cnt) AS BIGINT) AS max_cnt,
       round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS max_share,
       (SELECT topk_cnt FROM tk) AS topk_cnt,
       round(CAST((SELECT topk_cnt FROM tk) AS DOUBLE)
             / CAST(sum(cnt) AS DOUBLE), 6) AS topk_share
FROM c
"""
)


@register("domain_skew_report", _SKEW_REPORT_SQL)
def q_domain_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from piholelongtermstats_spark.operators import skew

    return skew.key_skew_report(_fact(spark, sf_dir), "domain", top_k=10)


# ---------------------------------------------------------------------------
# Sketch-audit + data-mixture completion:
#
# - ``cms_domain_estimates``  Count-Min sketch point estimates audited
#   against exact counts (Cormode & Muthukrishnan 2005; portable
#   md5-chunk hashing so the sketch itself is oracle-checkable).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Count-Min sketch audit (operators/freq.py): the top-10 exact domains
# probed against the d=4 x w=1024 grid. over_cnt >= 0 row-for-row is
# the CMS upper-bound guarantee, checked by the oracle re-deriving the
# identical grid in SQL. At 100 TB the grid is d*w counters per task
# (map-side combined) — fixed state at any key cardinality, the tier
# below Misra-Gries candidates when even k*P candidate rows is too
# much.
# ---------------------------------------------------------------------------

_CMS_SQL = (
    FACT_CTE
    + """
, rows_r AS (SELECT unnest(generate_series(0, 3)) AS r),
ex AS (
  SELECT domain, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM fact GROUP BY domain
  ORDER BY exact_cnt DESC, domain LIMIT 10),
sk AS (
  SELECT r, ('0x' || substr(md5(domain), 1 + 8*r, 8))::BIGINT % 1024 AS b,
         CAST(count(*) AS BIGINT) AS cnt
  FROM fact, rows_r GROUP BY 1, 2),
est AS (
  SELECT e.domain, CAST(min(sk.cnt) AS BIGINT) AS cms_cnt
  FROM ex e, rows_r r
  JOIN sk ON sk.r = r.r
  WHERE sk.b = ('0x' || substr(md5(e.domain), 1 + 8*r.r, 8))::BIGINT % 1024
  GROUP BY 1)
SELECT e.domain AS domain, e.exact_cnt, est.cms_cnt,
       est.cms_cnt - e.exact_cnt AS over_cnt
FROM ex e JOIN est USING (domain)
ORDER BY exact_cnt DESC, domain
"""
)


@register("cms_domain_estimates", _CMS_SQL)
def q_cms_domain_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = _fact(spark, sf_dir)
    sketch = freq.cms_sketch(fact, "domain")
    exact = (
        fact.groupBy("domain")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "domain")
        .limit(10)
    )
    est = freq.cms_estimate(sketch, exact.select("domain"), "domain")
    return (
        exact.join(est, "domain")
        .select(
            "domain",
            "exact_cnt",
            "cms_cnt",
            (F.col("cms_cnt") - F.col("exact_cnt")).alias("over_cnt"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# SQL-surface + layout-infrastructure + training-pairs:
#
# - ``status_hour_cube``       CUBE multi-granularity aggregate with
#   grouping-id disambiguation — the one canonical grouping surface
#   (ROLLUP landed in registry.py as activity_rollup_hierarchy) the
#   suite had not yet covered.
# - ``reply_range_boundaries`` balanced range-partitioner boundaries
#   from the exact value histogram (the input a sorted/z-ordered
#   layout writer needs; integer cross-multiplied rank rule).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# CUBE (status_type, hour): all four granularities in ONE pass with
# partial aggregation (Spark expands the grouping sets before the
# exchange, so the shuffle carries <= 4x the distinct-group rows —
# grand totals included — never 4 scans). gid is composed explicitly
# as grouping(a)*2 + grouping(b) so the bit order is pinned
# cross-engine rather than relying on each engine's grouping_id
# convention.
# ---------------------------------------------------------------------------

_CUBE_SQL = (
    FACT_CTE
    + """
SELECT status_type, CAST(hour AS BIGINT) AS hour,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(grouping(status_type) * 2 + grouping(hour) AS BIGINT) AS gid
FROM fact
GROUP BY CUBE (status_type, hour)
"""
)


@register("status_hour_cube", _CUBE_SQL)
def q_status_hour_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = _fact(spark, sf_dir)
    return fact.cube("status_type", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        (F.grouping("status_type") * 2 + F.grouping("hour"))
        .cast("long")
        .alias("gid"),
    ).select("status_type", F.col("hour").cast("long").alias("hour"), "cnt", "gid")


# ---------------------------------------------------------------------------
# Balanced range boundaries over reply_time (operators/approx.py).
# 8 buckets → 7 boundaries; reply_time repeats heavily (the
# data-card-measured 5.6x histogram compression), so quantize_to is
# not needed here — the enforcement parameter exists for
# quasi-continuous metrics.
# ---------------------------------------------------------------------------

_BOUNDS_SQL = (
    FACT_CTE
    + """
, h AS (
  SELECT reply_time AS val, count(*) AS cnt
  FROM fact WHERE reply_time IS NOT NULL GROUP BY 1),
c AS (
  SELECT val,
         CAST(sum(cnt) OVER (ORDER BY val) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM h),
b AS (SELECT unnest(generate_series(1, 7)) AS bucket)
SELECT CAST(b.bucket AS BIGINT) AS bucket, min(val) AS boundary
FROM c JOIN b ON c.cum * 8 >= b.bucket * c.n
GROUP BY 1 ORDER BY bucket
"""
)


@register("reply_range_boundaries", _BOUNDS_SQL)
def q_reply_range_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return approx.range_boundaries(_fact(spark, sf_dir), "reply_time", 8)


# ---------------------------------------------------------------------------
# Sequence & fingerprint analytics:
#
# - ``status_transition_matrix`` — first-order Markov transitions over
#   per-client status sequences (lag within (client, date) partitions +
#   cross-midnight stitch; the oracle uses the plain per-client lag —
#   same result since date order refines client order).
# - ``event_debounce`` — keep-first-of-burst suppression audit; Spark
#   runs native session_window (JVM burst merging, no ordered window),
#   the oracle runs the classic lag → flag → running-sum
#   gaps-and-islands SQL, pinning the two formulations equivalent.
#
# Determinism: winnowing is all-integer; both analytics queries divide
# exact integer counts once and round to 6 on both sides.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Markov status transitions. The oracle's plain per-client lag equals
# the engine's (client, date)-partitioned lag + midnight stitch
# because date order refines (ts, event_id) order within a client.
# ---------------------------------------------------------------------------

_TRANSITION_SQL = (
    FACT_CTE
    + """
, seq AS (
  SELECT client,
         lag(status_type) OVER (PARTITION BY client
                                ORDER BY ts, event_id) AS prev_status,
         status_type AS status
  FROM fact
), mat AS (
  SELECT prev_status, status, count(*) AS cnt
  FROM seq WHERE prev_status IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT prev_status, CAST(sum(cnt) AS BIGINT) AS total
  FROM mat GROUP BY 1
)
SELECT m.prev_status, m.status, m.cnt,
       round(CAST(m.cnt AS DOUBLE) * 100.0 / CAST(t.total AS DOUBLE), 6)
         AS pct
FROM mat m JOIN tot t ON m.prev_status = t.prev_status
ORDER BY m.prev_status, m.status
"""
)


@register("status_transition_matrix", _TRANSITION_SQL)
def q_status_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-client status
    sequences — the behavioral-sequence counting family (bigram LM
    over event streams instead of tokens)."""
    return sequential.status_transitions(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Debounce. Spark: session_window (merge rule: an event at EXACTLY
# last + gap still merges; strictly greater starts a new burst —
# mirrored in the oracle's `ts > lag + INTERVAL`, the _SESSION_CTE
# convention). Oracle: gaps-and-islands.
# ---------------------------------------------------------------------------

_DEBOUNCE_SQL = (
    FACT_CTE
    + """
, flagged AS (
  SELECT client, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_b
  FROM fact WINDOW w AS (PARTITION BY client ORDER BY ts, event_id)
), marked AS (
  SELECT client,
         sum(new_b) OVER (PARTITION BY client ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS bid
  FROM flagged
), bursts AS (
  SELECT client, bid, count(*) AS n_in_burst
  FROM marked GROUP BY client, bid
)
SELECT client,
       CAST(sum(n_in_burst) AS BIGINT) AS n_events,
       count(*) AS n_kept,
       round(CAST(count(*) AS DOUBLE) * 100.0
             / CAST(CAST(sum(n_in_burst) AS BIGINT) AS DOUBLE), 6)
         AS kept_pct
FROM bursts GROUP BY client
ORDER BY client
"""
)


@register("event_debounce", _DEBOUNCE_SQL)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first-of-burst debounce audit (stream-hygiene op): how
    many events survive 10-minute burst collapse per client. Native
    session_window vs the oracle's gaps-and-islands SQL — the same
    relation from two formulations."""
    return sequential.debounce_summary(_fact(spark, sf_dir), gap="10 minutes")


# ---------------------------------------------------------------------------
# Basket & bar analytics:
#
# - ``domain_association_rules`` — market-basket mining (the Apriori
#   pair tier) over (client, day) domain baskets: support, confidence,
#   lift. The lift>1 decision is cross-multiplied onto exact BIGINTs
#   (n·cnt_ab > cnt_a·cnt_b); baskets larger than the cap are dropped
#   whole (the df_cap recall-trade pattern) and ALL supports count over
#   the capped universe, keeping the three measures consistent.
# - ``hourly_ohlc_reply`` — OHLC bars (first/max/min/last per hour) via
#   min_by/max_by on the canonical (ts, event_id) order — no window,
#   one partial-agg shuffle; the oracle builds the same bars from
#   row_number windows, pinning the two formulations equivalent.
# ---------------------------------------------------------------------------

_RULES_SQL = (
    FACT_CTE
    + """
, baskets_all AS (
  SELECT DISTINCT client, date, domain FROM fact
), sizes AS (
  SELECT client, date, count(*) AS basket_size
  FROM baskets_all GROUP BY client, date
), baskets AS (
  SELECT b.client, b.date, b.domain
  FROM baskets_all b JOIN sizes s
    ON b.client = s.client AND b.date = s.date
  WHERE s.basket_size <= 64
), bn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_baskets
  FROM (SELECT DISTINCT client, date FROM baskets)
), items AS (
  SELECT domain, count(*) AS item_cnt FROM baskets GROUP BY domain
), pairs AS (
  SELECT a.domain AS domain_a, b.domain AS domain_b, count(*) AS cnt_ab
  FROM baskets a
  JOIN baskets b
    ON a.client = b.client AND a.date = b.date AND a.domain < b.domain
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT domain_a, domain_b, cnt_ab,
       ca.item_cnt AS cnt_a, cb.item_cnt AS cnt_b,
       round(CAST(cnt_ab AS DOUBLE) / CAST(ca.item_cnt AS DOUBLE), 6)
         AS conf_ab,
       round(CAST(n_baskets * cnt_ab AS DOUBLE)
             / CAST(ca.item_cnt * cb.item_cnt AS DOUBLE), 6) AS lift,
       n_baskets * cnt_ab > ca.item_cnt * cb.item_cnt AS lift_gt1
FROM pairs
JOIN items ca ON domain_a = ca.domain
JOIN items cb ON domain_b = cb.domain
CROSS JOIN bn
ORDER BY cnt_ab DESC, domain_a, domain_b
LIMIT 25
"""
)


@register("domain_association_rules", _RULES_SQL)
def q_domain_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 co-visited domain pairs with support/confidence/lift —
    the market-basket family (operators/basket.py)."""
    return basket.domain_association_rules(
        _fact(spark, sf_dir), min_support=3, top_k=25, basket_cap=64
    )


_OHLC_SQL = (
    FACT_CTE
    + """
, ranked AS (
  SELECT date_trunc('hour', ts) AS hour_ts, reply_time,
         row_number() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM fact WHERE reply_time IS NOT NULL
)
SELECT hour_ts,
       count(*) AS n,
       max(CASE WHEN rn_a = 1 THEN reply_time END) AS open,
       max(reply_time) AS high,
       min(reply_time) AS low,
       max(CASE WHEN rn_d = 1 THEN reply_time END) AS close
FROM ranked
GROUP BY hour_ts
ORDER BY hour_ts
"""
)


@register("hourly_ohlc_reply", _OHLC_SQL)
def q_hourly_ohlc_reply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars of reply_time — argmin/argmax per bucket with
    min_by/max_by, windowless (operators/timeagg.py)."""
    return timeagg.hourly_ohlc_reply(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Fuzzy-match & regression:
#
# - ``domain_typo_pairs`` — SymSpell deletion-neighborhood blocking
#   (Garbe 2012 / FastSS) + exact Levenshtein re-score. The ORACLE is
#   the brute-force all-pairs scan, so a green row PROVES the blocking
#   scheme's completeness guarantee (d<=1 pairs always share a deletion
#   variant) on real data rather than arguing it.
# - ``basket_scale_2x`` — association rules at 2× volume (fact ∪
#   client-renamed fact) with the support gate scaled alongside
#   (min_support 6 = 2·3 — relative support is the scale-invariant
#   notion): every support count exactly doubles while confidence and
#   lift are INVARIANT (n·c_ab/(c_a·c_b) = 2n·2c/(2a·2b)) — the
#   doubling methodology extended to ratio measures, oracle recomputed
#   on the doubled input.
# ---------------------------------------------------------------------------

_TYPO_SQL = (
    FACT_CTE
    + """
, doms AS (SELECT DISTINCT domain FROM fact)
SELECT a.domain AS domain_a, b.domain AS domain_b,
       CAST(levenshtein(a.domain, b.domain) AS BIGINT) AS dist
FROM doms a JOIN doms b ON a.domain < b.domain
WHERE levenshtein(a.domain, b.domain) <= 1
ORDER BY domain_a, domain_b
"""
)


@register("domain_typo_pairs", _TYPO_SQL)
def q_domain_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein<=1 domain pairs (typosquatting detection) —
    SymSpell-blocked in Spark, brute-forced in the oracle: the hash
    match IS the completeness proof (operators/fuzzy.py)."""
    return fuzzy.typo_pairs(_fact(spark, sf_dir))


# Doubled fact: the copy's clients are renamed so baskets stay
# disjoint — every basket (and so every support count) appears exactly
# twice; ratio measures must come out identical to the 1x run.
_FACT2_CTE = (
    FACT_CTE
    + """
, fact2 AS (
  SELECT * FROM fact
  UNION ALL
  SELECT event_id, ts, client || '#b' AS client, domain, status_type,
         reply_time, date, hour, day_name, day_period
  FROM fact
)
"""
)

_BASKET2X_SQL = (
    _FACT2_CTE
    + """
, baskets_all AS (
  SELECT DISTINCT client, date, domain FROM fact2
), sizes AS (
  SELECT client, date, count(*) AS basket_size
  FROM baskets_all GROUP BY client, date
), baskets AS (
  SELECT b.client, b.date, b.domain
  FROM baskets_all b JOIN sizes s
    ON b.client = s.client AND b.date = s.date
  WHERE s.basket_size <= 64
), bn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_baskets
  FROM (SELECT DISTINCT client, date FROM baskets)
), items AS (
  SELECT domain, count(*) AS item_cnt FROM baskets GROUP BY domain
), pairs AS (
  SELECT a.domain AS domain_a, b.domain AS domain_b, count(*) AS cnt_ab
  FROM baskets a
  JOIN baskets b
    ON a.client = b.client AND a.date = b.date AND a.domain < b.domain
  GROUP BY 1, 2
  HAVING count(*) >= 6
)
SELECT domain_a, domain_b, cnt_ab,
       ca.item_cnt AS cnt_a, cb.item_cnt AS cnt_b,
       round(CAST(cnt_ab AS DOUBLE) / CAST(ca.item_cnt AS DOUBLE), 6)
         AS conf_ab,
       round(CAST(n_baskets * cnt_ab AS DOUBLE)
             / CAST(ca.item_cnt * cb.item_cnt AS DOUBLE), 6) AS lift,
       n_baskets * cnt_ab > ca.item_cnt * cb.item_cnt AS lift_gt1
FROM pairs
JOIN items ca ON domain_a = ca.domain
JOIN items cb ON domain_b = cb.domain
CROSS JOIN bn
ORDER BY cnt_ab DESC, domain_a, domain_b
LIMIT 25
"""
)


@register(
    "basket_scale_2x",
    _BASKET2X_SQL,
    budget=(
        4.5,
        "association rules over a deliberately doubled"
        " basket volume (slope 1.98x at 8x, SCALING.md)",
    ),
)
def q_basket_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules at 2× basket volume — supports double,
    confidence/lift invariant (the ratio-measure doubling proof).

    The support gate SCALES WITH VOLUME (min_support 6 = 2·3): a
    fixed absolute gate would admit base-support-2 pairs at 2× and
    reshuffle the top-25 — relative support, not absolute, is the
    scale-invariant notion. With the scaled gate the qualifying set,
    its order, and every ratio are provably identical to the 1× run
    (counts double monotonically; ties break on domains)."""
    f = _fact(spark, sf_dir)
    f2 = f.unionByName(
        f.withColumn("client", F.concat(F.col("client"), F.lit("#b")))
    )
    return basket.domain_association_rules(
        f2, min_support=6, top_k=25, basket_cap=64
    )


# ---------------------------------------------------------------------------
# Weighted-sampling / graph-census:
#
# - ``domain_cograph_triangles`` — triangle census + global clustering
#   coefficient of the domain co-occurrence graph under a top-decile
#   support cut — the ordered node-iterator (a<b<c) join, all counts
#   exact BIGINT.
# ---------------------------------------------------------------------------

_TRI_SQL = (
    FACT_CTE
    + """
, b AS (
  SELECT DISTINCT client, date, domain FROM fact
), p AS (
  SELECT a.domain AS d1, bb.domain AS d2, CAST(count(*) AS BIGINT) AS co
  FROM b a JOIN b bb ON a.client = bb.client AND a.date = bb.date
                    AND a.domain < bb.domain
  GROUP BY a.domain, bb.domain
), h AS (
  SELECT co, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY co
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_pairs FROM h
), thr AS (
  SELECT coalesce(
           (SELECT min(co) FROM (
              SELECT co,
                     sum(cnt) OVER (ORDER BY co DESC
                                    ROWS UNBOUNDED PRECEDING) AS cum
              FROM h), tot
            WHERE cum * 10 <= n_pairs),
           (SELECT max(co) FROM h)) AS co_thr,
         (SELECT n_pairs FROM tot) AS n_pairs
), e AS (
  SELECT d1, d2 FROM p, thr WHERE co >= co_thr
), deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT d1 AS v FROM e UNION ALL SELECT d2 AS v FROM e
  ) GROUP BY v
), wedges AS (
  SELECT CAST(coalesce(sum(deg * (deg - 1)), 0) AS BIGINT) AS wedges2
  FROM deg
), tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e e1 JOIN e e2 ON e2.d1 = e1.d2
            JOIN e e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2
), ecnt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e
)
SELECT thr.n_pairs AS n_pairs,
       thr.co_thr AS co_thr,
       ecnt.n_edges AS n_edges,
       wedges.wedges2 AS wedges2,
       tri.n_triangles AS n_triangles,
       round(CASE WHEN wedges.wedges2 > 0
         THEN (6.0 * CAST(tri.n_triangles AS DOUBLE))
              / CAST(wedges.wedges2 AS DOUBLE)
       END, 6) AS clustering
FROM thr, ecnt, wedges, tri
"""
)


@register("domain_cograph_triangles", _TRI_SQL)
def q_domain_cograph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the domain co-occurrence graph, top-decile
    support cut (operators/graph.py)."""
    return graph.domain_cograph_triangles(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Event-time window / concentration:
#
# - ``sliding_peak_30min`` — per-client peak 30-minute load via an
#   event-time RANGE frame over epoch microseconds (burst detection as
#   a declarative window).
# - ``interarrival_burstiness`` — coefficient of variation of per-
#   client inter-arrival gaps from exact BIGINT/DECIMAL moments
#   (CV ≫ 1 ⇒ bursty, ≈ 1 ⇒ Poisson).
# - ``client_concentration_hhi`` — Herfindahl–Hirschman domain
#   concentration per client, exact integer numerator/denominator.
# ---------------------------------------------------------------------------

_PEAK_SQL = (
    FACT_CTE
    + """
, c AS (
  SELECT client, ts,
         CAST(count(*) OVER (
           PARTITION BY client ORDER BY epoch_us(ts)
           RANGE BETWEEN 1799999999 PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS win_cnt
  FROM fact
), p AS (
  SELECT client, win_cnt AS peak, ts AS peak_at,
         row_number() OVER (
           PARTITION BY client ORDER BY win_cnt DESC, ts ASC
         ) AS rn
  FROM c
)
SELECT client, peak, peak_at
FROM p WHERE rn = 1
ORDER BY peak DESC, client ASC
LIMIT 10
"""
)


@register("sliding_peak_30min", _PEAK_SQL)
def q_sliding_peak_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak trailing-30-minute event count per client, top-10
    (operators/sequential.py)."""
    return sequential.sliding_peak_30min(_fact(spark, sf_dir), k=10)


_BURST_SQL = (
    FACT_CTE
    + """
, g AS (
  SELECT client,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY client ORDER BY ts, event_id
         ) AS g
  FROM fact
), m AS (
  SELECT client,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(g) AS BIGINT) AS sum_g,
         CAST(sum(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS ssq_g
  FROM g WHERE g IS NOT NULL
  GROUP BY client
)
SELECT client, n_gaps, sum_g, CAST(ssq_g AS VARCHAR) AS ssq_g,
       round(sqrt(CAST(n_gaps AS DOUBLE) * CAST(ssq_g AS DOUBLE)
                  - CAST(sum_g AS DOUBLE) * CAST(sum_g AS DOUBLE))
             / CAST(sum_g AS DOUBLE), 6) AS cv
FROM m
WHERE n_gaps >= 2 AND sum_g > 0
ORDER BY cv DESC, client ASC
LIMIT 10
"""
)


@register("interarrival_burstiness", _BURST_SQL)
def q_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 burstiest clients by inter-arrival CV
    (operators/sequential.py)."""
    return sequential.interarrival_burstiness(_fact(spark, sf_dir), k=10)


_HHI_SQL = (
    FACT_CTE
    + """
, per_dom AS (
  SELECT client, domain, CAST(count(*) AS BIGINT) AS c
  FROM fact GROUP BY client, domain
), per_client AS (
  SELECT client,
         CAST(count(*) AS BIGINT) AS n_domains,
         CAST(sum(c * c) AS BIGINT) AS hhi_num,
         CAST(sum(c) AS BIGINT) AS tot
  FROM per_dom GROUP BY client
)
SELECT client, n_domains, hhi_num,
       tot * tot AS hhi_den,
       round(CAST(hhi_num AS DOUBLE) / CAST(tot * tot AS DOUBLE), 6) AS hhi
FROM per_client
ORDER BY hhi DESC, client ASC
LIMIT 10
"""
)


@register("client_concentration_hhi", _HHI_SQL)
def q_client_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most domain-concentrated clients by exact-integer HHI
    (operators/counts.py)."""
    return counts.client_concentration_hhi(_fact(spark, sf_dir), k=10)


# ---------------------------------------------------------------------------
# Sliding-window: the overlapping event-time window
# class, batch-twin oracle-checked (the streaming side of the same
# aggregation is pinned stream==batch by tests/test_streaming_sliding).
#
# - ``sliding_window_busiest`` — top-10 busiest (client, 30-min window
#   sliding every 5 min) cells; the oracle materializes Spark's
#   epoch-aligned window-assignment rule (6 grid slots per event)
#   explicitly in SQL.
# ---------------------------------------------------------------------------

_SLIDING_SQL = (
    FACT_CTE
    + """
, slots AS (
  SELECT client,
         make_timestamp(
           (epoch_us(ts) // 300000000) * 300000000 - k.k * 300000000
         ) AS window_start
  FROM fact CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5)) k(k)
), cells AS (
  SELECT client, window_start, CAST(count(*) AS BIGINT) AS cnt
  FROM slots GROUP BY client, window_start
)
SELECT client, window_start, cnt
FROM cells
ORDER BY cnt DESC, client ASC, window_start ASC
LIMIT 10
"""
)


@register("sliding_window_busiest", _SLIDING_SQL)
def q_sliding_window_busiest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Busiest overlapping 30-min/5-min (client, window) cells
    (streaming/sliding.py — same plan streams under a watermark)."""
    return sliding_busiest(_fact(spark, sf_dir), k=10)


# ---------------------------------------------------------------------------
# Data-profiling + retrieval-serving:
#
# - ``vocab_growth_curve`` — per-day new + cumulative distinct domains
#   (the Heaps-law curve; operators/profiling.py).
# ---------------------------------------------------------------------------

_VOCAB_SQL = (
    FACT_CTE
    + """
, fs AS (SELECT domain, min(date) AS d FROM fact GROUP BY domain)
, npd AS (
  SELECT d, CAST(count(*) AS BIGINT) AS new_domains FROM fs GROUP BY d
)
, spine AS (SELECT DISTINCT date FROM fact)
SELECT s.date AS date,
       CAST(coalesce(n.new_domains, 0) AS BIGINT) AS new_domains,
       CAST(sum(coalesce(n.new_domains, 0))
            OVER (ORDER BY s.date) AS BIGINT) AS cum_domains
FROM spine s LEFT JOIN npd n ON n.d = s.date
"""
)


@register("vocab_growth_curve", _VOCAB_SQL)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law domain-vocabulary growth (operators/profiling.py)."""
    return profiling.vocab_growth_curve(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Per-key robust / graph-moment / rank-surface:
#
# - ``degree_assortativity`` — Pearson degree correlation over the
#   distinct client↔domain edge set, exact BIGINT/DECIMAL(38,0)
#   moments + one IEEE expression (operators/graph.py).
# ---------------------------------------------------------------------------

_ASSORT_SQL = (
    FACT_CTE
    + """
, edges AS (SELECT DISTINCT client, domain FROM fact)
, degc AS (
  SELECT client, CAST(count(*) AS BIGINT) AS x FROM edges GROUP BY client
)
, degd AS (
  SELECT domain, CAST(count(*) AS BIGINT) AS y FROM edges GROUP BY domain
)
, e AS (
  SELECT x, y FROM edges JOIN degc USING (client) JOIN degd USING (domain)
)
, s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
  FROM e
)
SELECT n_edges, sx, sy,
  CAST(sxy AS DOUBLE) AS sxy,
  CAST(sxx AS DOUBLE) AS sxx,
  CAST(syy AS DOUBLE) AS syy,
  round(CASE WHEN
      (CAST(sxx AS DOUBLE) * CAST(n_edges AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
    AND
      (CAST(syy AS DOUBLE) * CAST(n_edges AS DOUBLE)
       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
  THEN
    (CAST(sxy AS DOUBLE) * CAST(n_edges AS DOUBLE)
     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
    / sqrt(
        (CAST(sxx AS DOUBLE) * CAST(n_edges AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        * (CAST(syy AS DOUBLE) * CAST(n_edges AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
  END, 6) AS assortativity
FROM s
"""
)


@register("degree_assortativity", _ASSORT_SQL)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite degree assortativity — exact moments, one IEEE
    expression (operators/graph.py)."""
    return graph.degree_assortativity(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# User-journey analytics (operators/journey.py): the ordered
# funnel and cohort-retention SERVING shapes, both DuckDB-oracle-checked.
#
# Relationship to the M11 tier (plans/dashboard.py, operators/cohort.py):
# M11's ``funnel_counts`` established the strictly-after anchor
# semantics (reached-stage counts) and ``client_retention`` the raw
# cohort × age matrix; this wave adds the rate-bearing serving variants
# — ``funnel_conversion`` (ppm conversion rates between stages, generic
# step list) and ``cohort_retention`` (cohort sizes + retention ppm,
# offset-capped). The two formulations are CROSS-VALIDATED, not
# redundant: tests/test_m41.py pins stage-count equality between
# funnel_conversion and funnel_counts, and n_active equality between
# cohort_retention and client_retention on shared inputs — two
# independently-written implementations of the same semantics agreeing
# is additional evidence for both.
# ---------------------------------------------------------------------------

_FUNNEL_RATES_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
), c AS (
  SELECT
    (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_users,
    (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_step1,
    (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_step2,
    (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_step3
)
SELECT n_users, n_step1, n_step2, n_step3,
  CAST(CASE WHEN n_step1 > 0 THEN n_step2 * 1000000 // n_step1 END
       AS BIGINT) AS conv_1_2_ppm,
  CAST(CASE WHEN n_step2 > 0 THEN n_step3 * 1000000 // n_step2 END
       AS BIGINT) AS conv_2_3_ppm,
  CAST(CASE WHEN n_step1 > 0 THEN n_step3 * 1000000 // n_step1 END
       AS BIGINT) AS conv_1_3_ppm
FROM c
"""


@register("funnel_conversion", _FUNNEL_RATES_SQL)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered 3-step funnel with ppm conversion rates
    (operators/journey.py)."""
    ensure_session_defaults(spark)
    raw = shared_input(
        spark,
        "raw_events",
        sf_dir,
        # fanned at cache build (r12, see cache.shared_docs)
        lambda: fan_degenerate(
            spark, raw_event_stream(spark, sf_dir), "user_id"
        ),
    )
    return journey.funnel_conversion(raw)


_COHORT_RATES_SQL = (
    FACT_CTE
    + """
, activity AS (SELECT DISTINCT client, date FROM fact)
, cohorts AS (
  SELECT client, min(date) AS cohort_date FROM activity GROUP BY client
), sizes AS (
  SELECT cohort_date, CAST(count(*) AS BIGINT) AS n_cohort
  FROM cohorts GROUP BY cohort_date
), active AS (
  SELECT c.cohort_date,
         CAST(date_diff('day', c.cohort_date, a.date) AS BIGINT)
           AS day_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM activity a JOIN cohorts c USING (client)
  WHERE date_diff('day', c.cohort_date, a.date) <= 13
  GROUP BY 1, 2
)
SELECT a.cohort_date, a.day_offset, s.n_cohort, a.n_active,
       CAST(a.n_active * 1000000 // s.n_cohort AS BIGINT) AS retention_ppm
FROM active a JOIN sizes s USING (cohort_date)
ORDER BY cohort_date, day_offset
"""
)


@register("cohort_retention", _COHORT_RATES_SQL)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen cohort × day-offset retention matrix, exact ppm
    (operators/journey.py)."""
    return journey.cohort_retention(_fact(spark, sf_dir), 13)


# ---------------------------------------------------------------------------
# Structural-break regression + k-core nucleus (+ the
#
# - ``kcore_summary`` — the k-core of the client↔domain graph by
#   synchronous peeling (rows-only: iterative fixpoint; brute-force
#   sequential-peel differential + disjoint-doubling invariance in
#   tests/test_m44.py).
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 40  # matches the operator's max_rounds raise guard


def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Synchronous peeling unrolled to the operator's max_rounds
    (r9 VERDICT #3): e_i keeps exactly the edges whose BOTH endpoints
    have degree >= k in e_{i-1} — the operator's two LEFT ANTI joins.
    Peeling is idempotent past the fixpoint, so extra rounds are
    no-ops; ``rounds`` replays as the number of strict edge-count
    decreases (sizes are strictly monotone until the plateau, so
    count(DISTINCT size) - 1 is exact). Every CTE is MATERIALIZED —
    each e_i is referenced three times and inlining would make the
    plan exponential in the unroll depth.
    """
    parts = [
        FACT_CTE,
        """
, e0 AS MATERIALIZED (SELECT DISTINCT client, domain FROM fact)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
e{i} AS MATERIALIZED (
  SELECT client, domain FROM e{i - 1}
  WHERE client IN (SELECT client FROM e{i - 1}
                   GROUP BY client HAVING count(*) >= {k})
    AND domain IN (SELECT domain FROM e{i - 1}
                   GROUP BY domain HAVING count(*) >= {k}))"""
        )
    counts = "\n  UNION ALL ".join(
        f"SELECT (SELECT count(*) FROM e{i}) AS c" for i in range(rounds + 1)
    )
    parts.append(
        f""",
cnts AS ({counts})
SELECT CAST({k} AS BIGINT) AS k,
       (SELECT CAST(count(DISTINCT c) - 1 AS BIGINT) FROM cnts) AS rounds,
       CAST(count(DISTINCT client) AS BIGINT) AS n_clients_core,
       CAST(count(DISTINCT domain) AS BIGINT) AS n_domains_core,
       CAST(count(*) AS BIGINT) AS n_edges_core
FROM e{rounds}"""
    )
    return "".join(parts)


@register("kcore_summary", _kcore_sql())
def q_kcore_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the client↔domain bipartite graph — synchronous
    peeling, confluent, with brute-force differential tests; the
    oracle replays the peel round-for-round as unrolled CTEs
    (operators/graph.py)."""
    return graph.kcore_decomposition(
        _fact(spark, sf_dir), _KCORE_K, max_rounds=_KCORE_ROUNDS
    )


# ---------------------------------------------------------------------------
# Growth accounting + join-size estimation audit:
#
# - ``growth_accounting_daily`` — the canonical per-day
#   new/retained/resurrected/churned decomposition of the client base
#   (DAU_t = new+retained+resurrected; ΔDAU = new+resurrected−churned),
#   exact counts over the distinct activity relation with a day spine.
# - ``join_cardinality_audit`` — |A ⋈ B| predicted exactly from key
#   histograms (Σ f_A·f_B) with a probe-key executed verification —
#   the optimizer-statistics workflow as a first-class query.
#
# Both DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_GROWTH_SQL = (
    FACT_CTE
    + """
, activity AS (SELECT DISTINCT client, date FROM fact)
, first AS (
  SELECT client, min(date) AS first_date FROM activity GROUP BY client
), y AS (
  SELECT client, date + INTERVAL 1 DAY AS date FROM activity
), flags AS (
  SELECT a.date,
    CASE WHEN a.date = f.first_date THEN 1 ELSE 0 END AS is_new,
    CASE WHEN a.date <> f.first_date AND y.client IS NOT NULL
         THEN 1 ELSE 0 END AS is_ret,
    CASE WHEN a.date <> f.first_date AND y.client IS NULL
         THEN 1 ELSE 0 END AS is_res
  FROM activity a
  JOIN first f USING (client)
  LEFT JOIN y ON y.client = a.client AND y.date = a.date
), per AS (
  SELECT date, CAST(count(*) AS BIGINT) AS dau,
         CAST(sum(is_new) AS BIGINT) AS new_clients,
         CAST(sum(is_ret) AS BIGINT) AS retained,
         CAST(sum(is_res) AS BIGINT) AS resurrected
  FROM flags GROUP BY date
), churn AS (
  SELECT y.date, CAST(count(*) AS BIGINT) AS churned
  FROM y LEFT JOIN activity t ON t.client = y.client AND t.date = y.date
  WHERE t.client IS NULL
  GROUP BY y.date
), spine AS (
  SELECT unnest(generate_series(min(date), max(date),
                                INTERVAL 1 DAY)) AS date
  FROM activity
)
SELECT s.date,
       CAST(coalesce(per.dau, 0) AS BIGINT) AS dau,
       CAST(coalesce(per.new_clients, 0) AS BIGINT) AS new_clients,
       CAST(coalesce(per.retained, 0) AS BIGINT) AS retained,
       CAST(coalesce(per.resurrected, 0) AS BIGINT) AS resurrected,
       CAST(coalesce(churn.churned, 0) AS BIGINT) AS churned
FROM spine s
LEFT JOIN per ON per.date = s.date
LEFT JOIN churn ON churn.date = s.date
ORDER BY s.date
"""
)


@register("growth_accounting_daily", _GROWTH_SQL)
def q_growth_accounting_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day new/retained/resurrected/churned decomposition
    (operators/journey.py)."""
    return journey.growth_accounting_daily(_fact(spark, sf_dir))


_N_PROBE = 20

_JOINCARD_SQL = (
    FACT_CTE
    + f"""
, bounds AS (
  SELECT min(date) AS d0,
         min(date) + to_days(CAST(date_diff('day', min(date), max(date)) // 2
                                  AS INT)) AS mid
  FROM fact
), hist AS (
  SELECT client,
         CAST(count(*) FILTER (WHERE date < mid) AS BIGINT) AS fa,
         CAST(count(*) FILTER (WHERE date >= mid) AS BIGINT) AS fb
  FROM fact, bounds GROUP BY client
), hb AS (
  SELECT * FROM hist WHERE fa > 0 AND fb > 0
), probe AS (
  SELECT client FROM (
    SELECT client,
           ('0x' || substr(md5(client), 1, 15))::BIGINT AS h
    FROM hb
  ) ORDER BY h, client LIMIT {_N_PROBE}
), tot AS (
  SELECT CAST(sum(fa) AS BIGINT) AS n_a_matched,
         CAST(sum(fb) AS BIGINT) AS n_b_matched,
         CAST(count(*) AS BIGINT) AS n_keys_common,
         CAST(CAST(sum(CAST(fa AS HUGEINT) * fb) AS HUGEINT) AS DOUBLE)
           AS predicted_total
  FROM hb
), pp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_probe_keys,
         CAST(coalesce(sum(fa * fb), 0) AS BIGINT) AS predicted_probe
  FROM hb JOIN probe USING (client)
), ev AS (
  SELECT f.client, f.event_id, f.date < b.mid AS is_a
  FROM fact f, bounds b
  JOIN probe p ON p.client = f.client
), actual AS (
  SELECT CAST(count(*) AS BIGINT) AS actual_probe
  FROM (SELECT client, event_id FROM ev WHERE is_a) a
  JOIN (SELECT client, event_id FROM ev WHERE NOT is_a) b USING (client)
)
SELECT tot.n_a_matched, tot.n_b_matched, tot.n_keys_common,
       tot.predicted_total, pp.n_probe_keys, pp.predicted_probe,
       actual.actual_probe,
       CAST(pp.predicted_probe = actual.actual_probe AS INT) AS probe_match
FROM tot, pp, actual
"""
)


@register("join_cardinality_audit", _JOINCARD_SQL)
def q_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-size prediction from key histograms + probe-key
    executed verification (operators/dq.py)."""
    return dq.join_cardinality_audit(_fact(spark, sf_dir), _N_PROBE)


# ---------------------------------------------------------------------------
# journey_scale_2x — the doubling proof for the ordered-funnel tier:
# events ∪ (user_id + 2^40)-shifted copy. Shifted users are DISJOINT
# twins with identical per-user event sequences, so every stage count
# exactly doubles and the conversion ppms are IDENTICAL to 1×
# (invariance pinned in tests/test_m41.py); the driver row
# hash-checks the doubled execution against a direct oracle on the
# doubled input.
# ---------------------------------------------------------------------------

_J2X_SHIFT = 1 << 40

_J2X_SQL = f"""
WITH ev2 AS (
  SELECT user_id, event_type, ts FROM events
  UNION ALL
  SELECT user_id + {_J2X_SHIFT}, event_type, ts FROM events
), s1 AS (
  SELECT user_id, min(ts) AS t FROM ev2
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM ev2 e JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM ev2 e JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
), c AS (
  SELECT
    (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM ev2) AS n_users,
    (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_step1,
    (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_step2,
    (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_step3
)
SELECT n_users, n_step1, n_step2, n_step3,
  CAST(CASE WHEN n_step1 > 0 THEN n_step2 * 1000000 // n_step1 END
       AS BIGINT) AS conv_1_2_ppm,
  CAST(CASE WHEN n_step2 > 0 THEN n_step3 * 1000000 // n_step2 END
       AS BIGINT) AS conv_2_3_ppm,
  CAST(CASE WHEN n_step1 > 0 THEN n_step3 * 1000000 // n_step1 END
       AS BIGINT) AS conv_1_3_ppm
FROM c
"""


@register("journey_scale_2x", _J2X_SQL)
def q_journey_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over the 2× user-shifted union — stage counts
    double, conversion ppms invariant (operators/journey.py)."""
    from pyspark.sql import functions as F

    from piholelongtermstats_spark.plans.cache import fan_degenerate, shared_input
    from piholelongtermstats_spark.session import ensure_session_defaults
    from piholelongtermstats_spark.sources.events import raw_event_stream

    ensure_session_defaults(spark)
    raw = shared_input(
        spark,
        "raw_events",
        sf_dir,
        # fanned at cache build (r12, see cache.shared_docs)
        lambda: fan_degenerate(
            spark, raw_event_stream(spark, sf_dir), "user_id"
        ),
    ).select("user_id", "event_type", "ts")
    shifted = raw.select(
        (F.col("user_id") + F.lit(_J2X_SHIFT)).alias("user_id"),
        "event_type",
        "ts",
    )
    return journey.funnel_conversion(raw.unionByName(shifted))


# ---------------------------------------------------------------------------
# Seasonally-adjusted anomaly, windowed funnel, spike
#
# - ``funnel_windowed`` — the ordered funnel with a per-step time
#   budget (30 min): the production "first touch within window" rule.
# ---------------------------------------------------------------------------

_FW_MIN = 30

_FUNNEL_W_SQL = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON s1.user_id = e.user_id
    AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL {_FW_MIN} MINUTE
  WHERE e.event_type = 'click' GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON s2.user_id = e.user_id
    AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL {_FW_MIN} MINUTE
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
), c AS (
  SELECT
    (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_users,
    (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_step1,
    (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_step2,
    (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_step3
)
SELECT n_users, n_step1, n_step2, n_step3,
  CAST(CASE WHEN n_step1 > 0 THEN n_step2 * 1000000 // n_step1 END
       AS BIGINT) AS conv_1_2_ppm,
  CAST(CASE WHEN n_step2 > 0 THEN n_step3 * 1000000 // n_step2 END
       AS BIGINT) AS conv_2_3_ppm,
  CAST(CASE WHEN n_step1 > 0 THEN n_step3 * 1000000 // n_step1 END
       AS BIGINT) AS conv_1_3_ppm
FROM c
"""


@register("funnel_windowed", _FUNNEL_W_SQL)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel with a 30-minute per-step budget
    (operators/journey.py)."""
    ensure_session_defaults(spark)
    raw = shared_input(
        spark,
        "raw_events",
        sf_dir,
        # fanned at cache build (r12, see cache.shared_docs)
        lambda: fan_degenerate(
            spark, raw_event_stream(spark, sf_dir), "user_id"
        ),
    )
    return journey.funnel_windowed(raw, within_minutes=_FW_MIN)


# ---------------------------------------------------------------------------
# day×hour heatmap panel: All / Blocked / Allowed in one frame
# (reference builds the three heatmaps separately, plot.py:104-139)
# ---------------------------------------------------------------------------

_SEGMENTS = (("All", None), ("Blocked", "Blocked"), ("Allowed", "Allowed"))


def _heatmap_segment_sql(segment: str, status: str | None) -> str:
    cols = ",\n  ".join(
        f"count(*) FILTER (WHERE hour = {h}) AS \"{h}\"" for h in range(24)
    )
    where = f"WHERE status_type = '{status}'" if status else ""
    return f"SELECT '{segment}' AS segment, day_name,\n  {cols}\nFROM fact {where} GROUP BY day_name"


@register(
    "day_hour_heatmap_panel",
    FACT_CTE
    + "\nUNION ALL\n".join(_heatmap_segment_sql(s, st) for s, st in _SEGMENTS),
)
def q_day_hour_heatmap_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's three day×hour heatmaps (all / blocked /
    allowed, plot.py:104-139) as ONE union-of-pivots frame tagged by
    segment. Catalyst reuses the cached fact scan across the three
    legs; each leg is the same static-value-list pivot as
    `day_hour_heatmap` (A16)."""
    fact = _fact(spark, sf_dir)
    parts = [
        timeagg.day_hour_heatmap(
            fact, None if st is None else F.col("status_type") == st
        ).select(F.lit(seg).alias("segment"), "*")
        for seg, st in _SEGMENTS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
