r"""M40 — conformal forecasting, vocabulary richness, and the
behavioral-tier doubling proof:

- ``conformal_daily_interval`` — split-conformal prediction interval
  for tomorrow's volume under the persistence forecast: the
  distribution-free uncertainty statement (finite-sample +1
  correction, gap-aware residuals), all-integer.
- ``vocab_hapax_stats`` — per-language hapax share and type–token
  ratio in exact ppm (the Zipf-tail mass behind tokenizer budgets).
- ``profile_scale_2x`` — client_profile_distance over the 2× fact
  (events ∪ 64-day-shifted copy): the time shift preserves
  hour-of-day, so every client's profile mass doubles uniformly and
  the distances are IDENTICAL to 1× (invariance pytest-pinned); the
  driver row hash-checks the doubled execution against a direct
  oracle on the doubled input.

All DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import behavior, robust, text
from piholelongtermstats_spark.plans.registry import (
    _DBL_CTE,
    _fact,
    _fact2x,
    register,
)
from piholelongtermstats_spark.plans.registry import _docs
from piholelongtermstats_spark.sources.events import FACT_CTE

_CONFORMAL_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), resid AS (
  SELECT abs(y - y_prev) AS r FROM (
    SELECT y, lag(y) OVER (ORDER BY date) AS y_prev,
           lag(date) OVER (ORDER BY date) AS d_prev, date
    FROM daily
  ) WHERE y_prev IS NOT NULL AND date_diff('day', d_prev, date) = 1
), hist AS (
  SELECT r, CAST(count(*) AS BIGINT) AS cnt FROM resid GROUP BY r
), h AS (
  SELECT r,
    CAST(sum(cnt) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum,
    CAST(sum(cnt) OVER () AS BIGINT) AS m
  FROM hist
), q AS (
  SELECT CAST(max(m) AS BIGINT) AS n_resid,
         CAST(min(CASE WHEN cum >= least(
             (m + 1) * 950 // 1000
             + CAST(((m + 1) * 950) % 1000 > 0 AS BIGINT), m)
           THEN r END) AS BIGINT) AS q_resid
  FROM h
), last AS (
  SELECT y AS point_forecast FROM daily ORDER BY date DESC LIMIT 1
), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
SELECT nd.n_days, q.n_resid, last.point_forecast, q.q_resid,
       last.point_forecast - q.q_resid AS lo,
       last.point_forecast + q.q_resid AS hi
FROM nd, last, q
"""
)


@register("conformal_daily_interval", _CONFORMAL_SQL)
def q_conformal_daily_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal next-day volume interval, all-integer
    (operators/robust.py)."""
    return robust.conformal_daily_interval(_fact(spark, sf_dir))


_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> '')"

_HAPAX_SQL = f"""
WITH tok AS (
  SELECT lang, unnest({_TOKS}) AS t FROM documents
), tf AS (
  SELECT lang, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY lang, t
), per AS (
  SELECT lang,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab_size,
         CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS hapax_count
  FROM tf GROUP BY lang
)
SELECT lang, n_tokens, vocab_size, hapax_count,
  CAST(CASE WHEN vocab_size > 0
    THEN hapax_count * 1000000 // vocab_size END AS BIGINT) AS hapax_ppm,
  CAST(CASE WHEN n_tokens > 0
    THEN vocab_size * 1000000 // n_tokens END AS BIGINT) AS ttr_ppm
FROM per ORDER BY lang
"""


@register("vocab_hapax_stats", _HAPAX_SQL)
def q_vocab_hapax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language hapax share + type-token ratio, exact ppm
    (operators/text.py)."""
    return text.vocab_hapax_stats(_docs(spark, sf_dir))


_PROFILE2X_K = 10

_PROFILE2X_SQL = (
    _DBL_CTE
    + f"""
, ch AS (
  SELECT client, CAST(hour(ts) AS BIGINT) AS hour,
         CAST(count(*) AS BIGINT) AS c_h
  FROM dbl GROUP BY 1, 2
), gl AS (
  SELECT hour, CAST(sum(c_h) AS BIGINT) AS g_h FROM ch GROUP BY hour
), tot AS (SELECT CAST(sum(g_h) AS BIGINT) AS n_total FROM gl)
, per AS (
  SELECT client, CAST(sum(c_h) AS BIGINT) AS n_c FROM ch GROUP BY client
), obs AS (
  SELECT ch.client,
         max(per.n_c) AS n_c,
         max(tot.n_total) AS n_total,
         sum(abs(CAST(ch.c_h AS HUGEINT) * tot.n_total
                 - CAST(gl.g_h AS HUGEINT) * per.n_c)) AS l1_obs,
         CAST(sum(gl.g_h) AS BIGINT) AS g_obs
  FROM ch JOIN gl USING (hour) CROSS JOIN tot
       JOIN per ON per.client = ch.client
  GROUP BY ch.client
)
SELECT client,
       n_c AS n_events,
       CAST(((l1_obs + CAST(n_c AS HUGEINT) * (n_total - g_obs)) * 1000000)
            // (2 * CAST(n_c AS HUGEINT) * n_total) AS BIGINT) AS dist_ppm
FROM obs
ORDER BY dist_ppm DESC, client
LIMIT {_PROFILE2X_K}
"""
)


@register("profile_scale_2x", _PROFILE2X_SQL)
def q_profile_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """client_profile_distance over the doubled fact — direct oracle
    on the doubled input; per-client invariance vs 1× pinned in
    tests/test_m40.py (operators/behavior.py)."""
    return behavior.client_profile_distance(
        _fact2x(spark, sf_dir), _PROFILE2X_K
    )
