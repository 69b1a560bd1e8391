"""M43 — ingest contracts, irregular-sampling correction, and the
bootstrap kernel generalized:

- ``dq_expectations_panel`` — the dbt-test/Great-Expectations shape
  as one single-scan engine query over the raw feed (null/unique/
  domain/range gates; one conditional-count aggregation + stack).
- ``twap_reply_daily`` — per-day TIME-weighted average reply next to
  the plain mean (left-constant interpolation, exact µs weights):
  the irregular-sampling correction.
- ``bootstrap_daily_median_ci`` — the Poisson-bootstrap kernel on
  the MEDIAN (integer-exact end to end; no closed-form CI exists).

All three DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import dq, resample, timeagg
from piholelongtermstats_spark.operators.resample import POISSON1_CUM_PPB
from piholelongtermstats_spark.plans.cache import fan_degenerate, shared_input
from piholelongtermstats_spark.plans.registry import _fact, register
from piholelongtermstats_spark.session import ensure_session_defaults
from piholelongtermstats_spark.sources.events import FACT_CTE
from piholelongtermstats_spark.sources.parquet import load_table

_DQ_SQL = """
WITH one AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_total,
    CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
    CAST(count(event_id) AS BIGINT) AS n_id_nonnull,
    CAST(count(*) FILTER (WHERE event_id IS NULL) AS BIGINT)
      AS v_event_id_not_null,
    CAST(count(*) FILTER (WHERE ts IS NULL) AS BIGINT) AS v_ts_not_null,
    CAST(count(*) FILTER (WHERE ts IS NOT NULL AND
         (ts < TIMESTAMP '2000-01-01' OR ts >= TIMESTAMP '2100-01-01'))
         AS BIGINT) AS v_ts_in_range,
    CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT)
      AS v_user_id_not_null,
    CAST(count(*) FILTER (WHERE event_type IS NULL OR event_type NOT IN
         ('view','click','purchase','error','signup')) AS BIGINT)
      AS v_event_type_known,
    CAST(count(*) FILTER (WHERE value IS NOT NULL AND value < 0) AS BIGINT)
      AS v_value_nonnegative
  FROM events
), panel AS (
  SELECT n_total, 'event_id_not_null' AS check_name,
         v_event_id_not_null AS n_violations FROM one
  UNION ALL SELECT n_total, 'event_id_unique',
         n_id_nonnull - n_distinct FROM one
  UNION ALL SELECT n_total, 'ts_not_null', v_ts_not_null FROM one
  UNION ALL SELECT n_total, 'ts_in_range', v_ts_in_range FROM one
  UNION ALL SELECT n_total, 'user_id_not_null', v_user_id_not_null FROM one
  UNION ALL SELECT n_total, 'event_type_known', v_event_type_known FROM one
  UNION ALL SELECT n_total, 'value_nonnegative', v_value_nonnegative FROM one
)
SELECT check_name,
       n_total AS n_checked,
       CAST(n_violations AS BIGINT) AS n_violations,
       CAST(n_violations = 0 AS INT) AS pass_flag
FROM panel ORDER BY check_name
"""


@register("dq_expectations_panel", _DQ_SQL)
def q_dq_expectations_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan data-quality expectation panel over the raw feed
    (operators/dq.py)."""
    ensure_session_defaults(spark)
    ev = shared_input(
        spark,
        "events_rawcols",
        sf_dir,
        # fanned at cache build (r12, see cache.shared_docs)
        lambda: fan_degenerate(
            spark, _raw_with_ts(spark, sf_dir), "user_id"
        ),
    )
    return dq.dq_expectations_panel(ev)


def _raw_with_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw events with the nanos→µs ts conversion but every original
    column kept (the DQ panel checks the raw columns)."""
    from piholelongtermstats_spark.sources.events import canonical_ts

    ev = canonical_ts(load_table(spark, sf_dir, "events"))
    return ev.select("event_id", "ts", "user_id", "event_type", "value", "props")


_TWAP_SQL = (
    FACT_CTE
    + """
, m AS (
  SELECT date, ts, event_id,
         CAST(round(reply_time * 1000) AS BIGINT) AS r
  FROM fact WHERE reply_time IS NOT NULL
), seg AS (
  SELECT date, r,
         CAST(epoch_us(lead(ts) OVER w) - epoch_us(ts) AS BIGINT) AS dt_us
  FROM m WINDOW w AS (PARTITION BY date ORDER BY ts, event_id)
), per AS (
  SELECT date,
         CAST(sum(CAST(r AS HUGEINT) * dt_us) AS HUGEINT) AS num,
         CAST(sum(dt_us) AS BIGINT) AS den_us
  FROM seg WHERE dt_us IS NOT NULL GROUP BY date
), plain AS (
  SELECT date, CAST(count(*) AS BIGINT) AS n_replies,
         CAST(sum(r) AS BIGINT) AS sum_r
  FROM m GROUP BY date
)
SELECT p.date, p.n_replies,
       CAST(coalesce(per.den_us, 0) AS BIGINT) AS span_us,
       round(CAST(p.sum_r AS DOUBLE) / CAST(p.n_replies AS DOUBLE), 6)
         AS mean_q,
       round(CASE WHEN per.den_us > 0 THEN
         CAST(per.num AS DOUBLE) / CAST(per.den_us AS DOUBLE) END, 6)
         AS twap_q
FROM plain p LEFT JOIN per USING (date)
ORDER BY date
"""
)


@register("twap_reply_daily", _TWAP_SQL)
def q_twap_reply_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day time-weighted vs plain mean reply time
    (operators/timeagg.py)."""
    return timeagg.twap_reply_daily(_fact(spark, sf_dir))


_B = 200
_W_CASE = (
    "CASE "
    + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(POISSON1_CUM_PPB)
    )
    + " ELSE 9 END"
)

_BOOTMED_SQL = (
    FACT_CTE
    + f"""
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
, b AS (SELECT CAST(range AS INT) AS b FROM range({_B}))
, weighted AS (
  SELECT b.b, daily.y, CAST({_W_CASE} AS BIGINT) AS w
  FROM daily CROSS JOIN b
  CROSS JOIN LATERAL (
    SELECT ('0x' || substr(md5('bootmed' || ':' || b.b || ':'
                 || strftime(daily.date, '%Y-%m-%d')), 1, 15))::BIGINT
           % 1000000000 AS u
  ) h
), scanned AS (
  SELECT b, y,
    CAST(sum(w) OVER (PARTITION BY b ORDER BY y
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
    CAST(sum(w) OVER (PARTITION BY b) AS BIGINT) AS tw
  FROM weighted
), meds AS (
  SELECT b, CAST(min(CASE WHEN cumw >= (tw + 1) // 2 THEN y END) AS BIGINT)
    AS med
  FROM scanned WHERE tw > 0 GROUP BY b
), ranked AS (
  SELECT med, row_number() OVER (ORDER BY med, b) AS r,
         CAST(count(*) OVER () AS BIGINT) AS n_eff
  FROM meds
), ci AS (
  SELECT CAST(max(n_eff) AS BIGINT) AS n_resamples_eff,
         CAST(min(CASE WHEN r = (n_eff * 25 + 999) // 1000 THEN med END)
              AS BIGINT) AS lo_median,
         CAST(min(CASE WHEN r = (n_eff * 975 + 999) // 1000 THEN med END)
              AS BIGINT) AS hi_median
  FROM ranked
), pt AS (
  SELECT CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN y END) AS BIGINT)
    AS point_median
  FROM (
    SELECT y,
      CAST(count(*) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS BIGINT)
        AS cum,
      CAST(count(*) OVER () AS BIGINT) AS n
    FROM daily
  )
)
SELECT nd.n_days, ci.n_resamples_eff, pt.point_median,
       ci.lo_median, ci.hi_median
FROM nd, pt, ci
"""
)


@register("bootstrap_daily_median_ci", _BOOTMED_SQL)
def q_bootstrap_daily_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for the median daily count, integer-exact
    (operators/resample.py)."""
    return resample.bootstrap_daily_median_ci(_fact(spark, sf_dir), _B)
