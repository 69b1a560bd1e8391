"""Statistical inference and time-series queries over the DNS fact.

Tests (t, Mann-Whitney, Kolmogorov-Smirnov, chi-square, ANOVA,
Kruskal-Wallis, Levene, runs, Ljung-Box), trends and change points
(Theil-Sen, Mann-Kendall, CUSUM, Pettitt, structural breaks),
forecasting (EWMA, Holt, Holt-Winters, conformal intervals), robust
statistics and anomaly screens, survival curves, resampling intervals,
effect sizes, spectra, sketch audits and tail indices.

Exactness policy: every statistic is built from integer or DECIMAL
sufficient statistics (counts, sums, sums of squares) that both
engines compute exactly, and the final statistic is ONE fixed IEEE
expression over them, rounded, so the Spark and DuckDB legs agree
bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import (
    anomaly,
    approx,
    behavior,
    counts,
    ranks,
    resample,
    robust,
    skew,
    stattests,
    survival,
    timeagg,
)
from piholelongtermstats_spark.operators.resample import POISSON1_CUM_PPB
from piholelongtermstats_spark.operators.robust import (
    WK_DET,
    WK_DET_A,
    WK_DET_B,
    WK_DET_C,
)
from piholelongtermstats_spark.operators.stattests import _STATUSES, _WEEKDAYS
from piholelongtermstats_spark.plans.dashboard import _DBL_CTE, _fact2x
from piholelongtermstats_spark.plans.registry import _fact, register
from piholelongtermstats_spark.sources.events import FACT_CTE


# ---------------------------------------------------------------------------
# Fuzzy-match & regression:
#
# - ``daily_trend_slope`` — OLS over the daily count series via
#   exact-integer sufficient statistics; slope/intercept/r² are each
#   one double division of exact BIGINTs.
# ---------------------------------------------------------------------------

_TREND_SQL = (
    FACT_CTE
    + """
, daily AS (SELECT date, count(*) AS y FROM fact GROUP BY date),
d0 AS (SELECT min(date) AS d0 FROM daily),
xy AS (
  SELECT CAST(date_diff('day', d0, date) AS BIGINT) AS x,
         CAST(y AS BIGINT) AS y
  FROM daily, d0
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM xy
)
SELECT n AS n_days,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0), 6) AS slope,
       round(CAST(sy * sxx - sx * sxy AS DOUBLE)
             / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0), 6) AS intercept,
       round(CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) AS DOUBLE)
             / NULLIF(CAST((n * sxx - sx * sx) * (n * syy - sy * sy)
                           AS DOUBLE), 0), 6)
         AS r2
FROM s
"""
)


@register("daily_trend_slope", _TREND_SQL)
def q_daily_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS trend of daily query counts — regression from exact-integer
    sufficient statistics (operators/timeagg.py:daily_trend)."""
    return timeagg.daily_trend(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Statistical-test (integer-exact sufficient statistics,
# continuing the M20 regression family):
#
# - ``cusum_changepoint`` — one-sided upward CUSUM change-point scan.
#   The sequential fold s_i = max(0, s_{i-1} + (y_i − ȳ)) is rewritten
#   through the drawup identity s_i = P_i − min(0, min_{j<=i} P_j)
#   with P the n-SCALED deviation prefix sum (n·y − Σy, so the mean
#   never divides) — two running windows over the tiny daily relation
#   replace the recursion, and both engines run the identical windows.
# - ``weekday_chi2_uniformity`` — χ² goodness-of-fit of volume against
#   a uniform day-of-week model: χ² = Σ(7·O_i − n)²/(7n); the numerator
#   is exact BIGINT over the zero-filled 7-category spine, χ² one
#   division.
# ---------------------------------------------------------------------------

_CUSUM_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
  FROM daily
), scanned AS (
  SELECT date,
         CAST(sum(n * y - sy) OVER (ORDER BY date ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS p
  FROM daily, tot
), s2 AS (
  SELECT date,
         p - least(0, min(p) OVER (ORDER BY date ROWS UNBOUNDED PRECEDING))
           AS s
  FROM scanned
)
SELECT t.n AS n_days,
       m.max_cusum,
       round(CAST(m.max_cusum AS DOUBLE) / NULLIF(CAST(t.n AS DOUBLE), 0), 6)
         AS cusum_norm,
       (SELECT min(date) FROM s2 WHERE s = m.max_cusum) AS peak_date
FROM tot t, (SELECT max(s) AS max_cusum FROM s2) m
"""
)


@register("cusum_changepoint", _CUSUM_SQL)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM upward change-point over daily counts — the sequential
    fold as two running windows (operators/timeagg.py)."""
    return timeagg.cusum_changepoint(_fact(spark, sf_dir))


_CHI2_SQL = (
    FACT_CTE
    + """
, spine AS (
  SELECT unnest(['Monday', 'Tuesday', 'Wednesday', 'Thursday',
                 'Friday', 'Saturday', 'Sunday']) AS day_name
), obs AS (
  SELECT day_name, count(*) AS o FROM fact GROUP BY day_name
), filled AS (
  SELECT CAST(coalesce(o, 0) AS BIGINT) AS o
  FROM spine LEFT JOIN obs USING (day_name)
), tot AS (
  SELECT CAST(sum(o) AS BIGINT) AS n FROM filled
)
SELECT max(n) AS n,
       CAST(sum((7 * o - n) * (7 * o - n)) AS BIGINT) AS chi2_num,
       round(CAST(sum((7 * o - n) * (7 * o - n)) AS DOUBLE)
             / NULLIF(CAST(7 * max(n) AS DOUBLE), 0), 6) AS chi2,
       CAST(6 AS BIGINT) AS dof
FROM filled, tot
"""
)


@register("weekday_chi2_uniformity", _CHI2_SQL)
def q_weekday_chi2_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square uniformity test of the day-of-week volume profile —
    exact-integer numerator, one division (operators/timeagg.py)."""
    return timeagg.weekday_chi2(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Nonparametric-test (the monitoring / drift tier,
# continuing M21's exact-sufficient-statistic policy):
#
# - ``mann_kendall_trend`` — Mann–Kendall S over daily counts (pure
#   integer pairwise signs on the tiny daily relation), tie-corrected
#   variance numerator exact BIGINT, continuity-corrected Z via one
#   division + one IEEE sqrt (both correctly rounded ⇒
#   engine-identical).
# - ``ks_day_night`` — two-sample Kolmogorov–Smirnov D between Day and
#   Night reply-time samples via the merged value histogram:
#   D-numerator max|cumA·nB − cumB·nA| exact BIGINT, one division.
# ---------------------------------------------------------------------------

_MK_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), s AS (
  SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM daily a JOIN daily b ON a.date < b.date
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM daily
), ties AS (
  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY y)
)
SELECT n AS n_days,
       s_stat,
       n * (n - 1) * (2 * n + 5) - tie_term AS var18_num,
       round(CASE
         WHEN s_stat = 0 OR n * (n - 1) * (2 * n + 5) - tie_term <= 0
           THEN 0.0
         ELSE (CASE WHEN s_stat > 0 THEN s_stat - 1
                    ELSE s_stat + 1 END)
              / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
                     / 18.0)
       END, 6) AS z
FROM s, nn, ties
"""
)


@register("mann_kendall_trend", _MK_SQL)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test over daily counts — integer pairwise
    signs, tie-corrected variance (operators/stattests.py)."""
    return stattests.mann_kendall_trend(_fact(spark, sf_dir))


_KS_SQL = (
    FACT_CTE
    + """
, hist AS (
  SELECT reply_time,
         count(*) FILTER (WHERE day_period = 'Day') AS ca,
         count(*) FILTER (WHERE day_period = 'Night') AS cb
  FROM fact WHERE reply_time IS NOT NULL
  GROUP BY reply_time
), tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
  FROM hist
), scanned AS (
  SELECT abs(sum(ca) OVER (ORDER BY reply_time ROWS UNBOUNDED PRECEDING)
               * nb
             - sum(cb) OVER (ORDER BY reply_time ROWS UNBOUNDED PRECEDING)
               * na) AS dev,
         na, nb
  FROM hist, tot
)
SELECT max(na) AS n_day,
       max(nb) AS n_night,
       CAST(max(dev) AS BIGINT) AS d_num,
       round(CAST(max(dev) AS DOUBLE)
             / NULLIF(CAST(max(na) * max(nb) AS DOUBLE), 0), 6) AS d_stat
FROM scanned
"""
)


@register("ks_day_night", _KS_SQL)
def q_ks_day_night(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic, Day vs Night reply times — exact
    BIGINT numerator over the merged value histogram
    (operators/stattests.py)."""
    return stattests.ks_day_night(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Parametric-inference / correlation:
#
# - ``welch_day_night`` — Welch's unequal-variance t between Day and
#   Night reply times; n/Σr/Σr² exact (BIGINT + DECIMAL(38,0)), t and
#   the Welch–Satterthwaite df one fixed IEEE expression.
# - ``spearman_volume_reply`` — Spearman ρ between daily volume and
#   daily total reply; tie-aware doubled ranks are integers, Pearson
#   moments over them all-BIGINT.
# - ``acf_daily_counts`` — autocorrelation of the daily series, lags
#   1..7, in the n²-cleared all-integer form.
# - ``benford_reply_digits`` — first-significant-digit audit vs
#   Benford's law, integer parts-per-billion, zero fp anywhere.
# ---------------------------------------------------------------------------

_WELCH_SQL = (
    FACT_CTE
    + """
, m AS (
  SELECT CAST(round(reply_time * 1000) AS BIGINT) AS r, day_period
  FROM fact WHERE reply_time IS NOT NULL
), agg AS (
  SELECT
    CAST(count(*) FILTER (WHERE day_period = 'Day') AS BIGINT)  AS n1,
    CAST(sum(r)  FILTER (WHERE day_period = 'Day') AS BIGINT)   AS s1,
    CAST(sum(CAST(r * r AS DECIMAL(38,0)))
             FILTER (WHERE day_period = 'Day') AS DECIMAL(38,0)) AS q1,
    CAST(count(*) FILTER (WHERE day_period = 'Night') AS BIGINT) AS n2,
    CAST(sum(r)  FILTER (WHERE day_period = 'Night') AS BIGINT)  AS s2,
    CAST(sum(CAST(r * r AS DECIMAL(38,0)))
             FILTER (WHERE day_period = 'Night') AS DECIMAL(38,0)) AS q2
  FROM m
)
SELECT n1, s1, CAST(q1 AS DOUBLE) AS q1, n2, s2, CAST(q2 AS DOUBLE) AS q2,
  round(CASE WHEN n1 > 1 AND n2 > 1 THEN
    (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
     - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
    / sqrt(
        ((CAST(q1 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
         / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
      + ((CAST(q2 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
         / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
  END, 6) AS t_stat,
  round(CASE WHEN n1 > 1 AND n2 > 1 THEN
    (  (((CAST(q1 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
         / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
      + ((CAST(q2 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
         / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
     * (((CAST(q1 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
         / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
      + ((CAST(q2 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
         / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)))
    / ( (((CAST(q1 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE))
        * (((CAST(q1 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE))
        / (CAST(n1 AS DOUBLE) - 1.0)
      + (((CAST(q2 AS DOUBLE)
           - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
          / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
        * (((CAST(q2 AS DOUBLE)
           - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
          / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
        / (CAST(n2 AS DOUBLE) - 1.0) )
  END, 6) AS df
FROM agg
"""
)


@register("welch_day_night", _WELCH_SQL)
def q_welch_day_night(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch t-test Day vs Night reply time — exact moments, one
    IEEE scalar expression (operators/stattests.py)."""
    return stattests.welch_day_night(_fact(spark, sf_dir))


_SPEARMAN_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date,
         CAST(count(*) AS BIGINT) AS x,
         CAST(coalesce(sum(CAST(round(reply_time * 1000) AS BIGINT))
                         FILTER (WHERE reply_time IS NOT NULL), 0)
              AS BIGINT) AS y
  FROM fact GROUP BY date
), ranked AS (
  SELECT
    CAST(2 * rank() OVER (ORDER BY x)
         + count(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS u,
    CAST(2 * rank() OVER (ORDER BY y)
         + count(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS v
  FROM daily
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(u) AS BIGINT) AS su,
         CAST(sum(v) AS BIGINT) AS sv,
         CAST(sum(u * v) AS BIGINT) AS suv,
         CAST(sum(u * u) AS BIGINT) AS suu,
         CAST(sum(v * v) AS BIGINT) AS svv
  FROM ranked
)
SELECT n AS n_days,
       n * suv - su * sv AS rho_num,
       n * suu - su * su AS den_u,
       n * svv - sv * sv AS den_v,
       round(CASE WHEN n * suu - su * su > 0 AND n * svv - sv * sv > 0
         THEN CAST(n * suv - su * sv AS DOUBLE)
              / sqrt(CAST(n * suu - su * su AS DOUBLE)
                     * CAST(n * svv - sv * sv AS DOUBLE))
       END, 6) AS rho
FROM s
"""
)


@register("spearman_volume_reply", _SPEARMAN_SQL)
def q_spearman_volume_reply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman ρ of daily volume vs daily total reply — integer
    doubled ranks (operators/stattests.py)."""
    return stattests.spearman_volume_reply(_fact(spark, sf_dir))


_ACF_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS x FROM fact GROUP BY date
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
         min(date) AS d0
  FROM daily
), d AS (
  SELECT CAST(date_diff('day', d0, date) AS BIGINT) AS idx,
         n * x - s AS c, n
  FROM daily, tot
), lags AS (
  SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) t(lag_k)
), den AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS acf_den FROM d
), pairs AS (
  SELECT l.lag_k, a.c AS c1, b.c AS c2, a.n
  FROM d a CROSS JOIN lags l JOIN d b ON b.idx = a.idx + l.lag_k
)
SELECT p.lag_k AS lag_k,
       CAST(max(p.n) AS BIGINT) AS n_days,
       CAST(sum(p.c1 * p.c2) AS BIGINT) AS acf_num,
       den.acf_den AS acf_den,
       round(CASE WHEN den.acf_den > 0
         THEN CAST(sum(p.c1 * p.c2) AS DOUBLE)
              / CAST(den.acf_den AS DOUBLE)
       END, 6) AS rho
FROM pairs p, den
GROUP BY p.lag_k, den.acf_den
ORDER BY lag_k
"""
)


@register("acf_daily_counts", _ACF_SQL)
def q_acf_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count autocorrelation, lags 1..7, n²-cleared integers
    (operators/stattests.py)."""
    return stattests.acf_daily_counts(_fact(spark, sf_dir))


_BENFORD_VALUES = ",".join(
    f"({d},{p})" for d, p in stattests.BENFORD_PPB.items()
)

_BENFORD_SQL = (
    FACT_CTE
    + f"""
, digits AS (
  SELECT CAST(substr(CAST(r AS VARCHAR), 1, 1) AS INT) AS digit
  FROM (
    SELECT CAST(round(reply_time * 1000) AS BIGINT) AS r
    FROM fact WHERE reply_time IS NOT NULL
  ) WHERE r > 0
), cnts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM digits GROUP BY digit
), tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cnts
), expd AS (
  SELECT * FROM (VALUES {_BENFORD_VALUES}) e(digit, expected_ppb)
)
SELECT c.digit AS digit,
       c.cnt AS cnt,
       CAST((c.cnt * 1000000000) // t.total AS BIGINT) AS obs_ppb,
       CAST(e.expected_ppb AS BIGINT) AS expected_ppb,
       CAST((c.cnt * 1000000000) // t.total - e.expected_ppb AS BIGINT)
         AS dev_ppb
FROM cnts c CROSS JOIN tot t JOIN expd e ON e.digit = c.digit
ORDER BY digit
"""
)


@register("benford_reply_digits", _BENFORD_SQL)
def q_benford_reply_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of reply times — integer ppb, no fp
    (operators/stattests.py)."""
    return stattests.benford_reply_digits(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Robust time-series / anomaly (operators/robust.py):
# median/MAD outlier days, Theil–Sen robust trend, EWMA smoothing,
# weekday multiplicative seasonal index. All four DuckDB-oracle-checked:
# decisions (outlier gate, median element selection) are exact integer
# arithmetic; reported fp values are one fixed IEEE expression per row
# replayed verbatim in the oracle (the EWMA fold becomes a recursive
# CTE with the identical per-step operand tree).
# ---------------------------------------------------------------------------

_DAILY = """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
)"""

_MAD_SQL = (
    FACT_CTE
    + _DAILY
    + """
, nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
, ry AS (
  SELECT y, row_number() OVER (ORDER BY y, date) AS r FROM daily
)
, med AS (
  SELECT CAST(CASE WHEN n % 2 = 1 THEN 2 * sum(y) ELSE sum(y) END
              AS BIGINT) AS med2
  FROM ry, nn WHERE r IN ((n + 1) // 2, n // 2 + 1) GROUP BY n
)
, dev AS (
  SELECT date, y, med2, abs(2 * y - med2) AS u FROM daily, med
)
, ru AS (SELECT u, row_number() OVER (ORDER BY u) AS r FROM dev)
, mad AS (
  SELECT CAST(CASE WHEN n % 2 = 1 THEN 2 * sum(u) ELSE sum(u) END
              AS BIGINT) AS mad4
  FROM ru, nn WHERE r IN ((n + 1) // 2, n // 2 + 1) GROUP BY n
)
SELECT d.date AS date, d.y AS y, d.med2 AS med2, mad.mad4 AS mad4,
  2 * d.y - d.med2 AS dev2,
  round(CASE WHEN mad.mad4 > 0 THEN
    (2.0 * CAST(2 * d.y - d.med2 AS DOUBLE))
    / (1.4826 * CAST(mad.mad4 AS DOUBLE)) END, 6) AS robust_z,
  CAST(4 * d.u > 7 * mad.mad4 AS INT) AS is_outlier
FROM dev d, mad
"""
)


@register("mad_outlier_days", _MAD_SQL)
def q_mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust per-day outlier audit, integer-exact 3.5-MAD
    gate (operators/robust.py)."""
    return robust.mad_outlier_days(_fact(spark, sf_dir))


_THEIL_SEN_SQL = (
    FACT_CTE
    + _DAILY
    + """
, d0 AS (SELECT min(date) AS d0 FROM daily)
, idx AS (
  SELECT CAST(date_diff('day', d0, date) AS BIGINT) AS i, y
  FROM daily, d0
)
, pairs AS (
  SELECT b.y - a.y AS num, b.i - a.i AS den
  FROM idx a JOIN idx b ON a.i < b.i
)
, np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
, ranked AS (
  SELECT CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS v,
         row_number() OVER (
           ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE), num, den
         ) AS r
  FROM pairs
)
, med AS (
  SELECT CASE WHEN n_pairs % 2 = 1 THEN sum(v) ELSE sum(v) / 2.0 END
         AS slope
  FROM ranked, np WHERE r IN ((n_pairs + 1) // 2, n_pairs // 2 + 1)
  GROUP BY n_pairs
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
       np.n_pairs AS n_pairs,
       round(med.slope, 6) AS slope_per_day
FROM med, np
"""
)


@register("theil_sen_trend", _THEIL_SEN_SQL)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust daily trend — exact rational median selection
    (operators/robust.py)."""
    return robust.theil_sen_daily_trend(_fact(spark, sf_dir))


# The EWMA recurrence needs WITH RECURSIVE; FACT_CTE's prefix is
# rewritten (RECURSIVE scopes the whole WITH list in DuckDB).
_EWMA_SQL = (
    FACT_CTE.replace("WITH fact AS", "WITH RECURSIVE fact AS", 1)
    + _DAILY
    + """
, seq AS (
  SELECT date, y, row_number() OVER (ORDER BY date) AS r FROM daily
)
, rec AS (
  SELECT r, date, y, CAST(y AS DOUBLE) AS e FROM seq WHERE r = 1
  UNION ALL
  SELECT s.r, s.date, s.y, 0.3 * CAST(s.y AS DOUBLE) + 0.7 * rec.e
  FROM seq s JOIN rec ON s.r = rec.r + 1
)
SELECT date, y, round(e, 6) AS ewma FROM rec
"""
)


@register("ewma_daily_counts", _EWMA_SQL)
def q_ewma_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA(α=0.3) of daily counts — JVM catalyst fold vs the
    oracle's recursive CTE, identical IEEE step (operators/robust.py)."""
    return robust.ewma_daily_counts(_fact(spark, sf_dir), alpha=0.3)


_SEASONAL_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, day_name, CAST(count(*) AS BIGINT) AS y
  FROM fact GROUP BY date, day_name
)
, per_wd AS (
  SELECT day_name, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(y) AS BIGINT) AS day_total
  FROM daily GROUP BY day_name
)
, tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_all, CAST(sum(y) AS BIGINT) AS s_all
  FROM daily
)
SELECT day_name, n_days, day_total,
       day_total * n_all AS idx_num,
       n_days * s_all AS idx_den,
       round(CAST(day_total * n_all AS DOUBLE)
             / CAST(n_days * s_all AS DOUBLE), 6) AS seasonal_index
FROM per_wd, tot
"""
)


@register("weekday_seasonal_index", _SEASONAL_SQL)
def q_weekday_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly multiplicative seasonal index — exact BIGINT
    cross-products, one division (operators/robust.py)."""
    return robust.weekday_seasonal_index(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Index-quality + robust-scale:
#
# - ``robust_scale_2x`` — the M28 MAD outlier audit over the disjoint
#   2× fact (original ∪ +64-day copy): a duplicated-multiset series
#   must reproduce each day's med2/mad4/flag VERBATIM on both halves
#   (robust statistics are multiset-invariant), and the oracle
#   recomputes everything from the doubled CTE independently.
# ---------------------------------------------------------------------------

_ROBUST_2X_SQL = (
    _DBL_CTE
    + """
, daily AS (
  SELECT date_trunc('day', ts) AS date, CAST(count(*) AS BIGINT) AS y
  FROM dbl GROUP BY 1
)
, nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
, ry AS (
  SELECT y, row_number() OVER (ORDER BY y, date) AS r FROM daily
)
, med AS (
  SELECT CAST(CASE WHEN n % 2 = 1 THEN 2 * sum(y) ELSE sum(y) END
              AS BIGINT) AS med2
  FROM ry, nn WHERE r IN ((n + 1) // 2, n // 2 + 1) GROUP BY n
)
, dev AS (
  SELECT date, y, med2, abs(2 * y - med2) AS u FROM daily, med
)
, ru AS (SELECT u, row_number() OVER (ORDER BY u) AS r FROM dev)
, mad AS (
  SELECT CAST(CASE WHEN n % 2 = 1 THEN 2 * sum(u) ELSE sum(u) END
              AS BIGINT) AS mad4
  FROM ru, nn WHERE r IN ((n + 1) // 2, n // 2 + 1) GROUP BY n
)
SELECT d.date AS date, d.y AS y, d.med2 AS med2, mad.mad4 AS mad4,
  2 * d.y - d.med2 AS dev2,
  round(CASE WHEN mad.mad4 > 0 THEN
    (2.0 * CAST(2 * d.y - d.med2 AS DOUBLE))
    / (1.4826 * CAST(mad.mad4 AS DOUBLE)) END, 6) AS robust_z,
  CAST(4 * d.u > 7 * mad.mad4 AS INT) AS is_outlier
FROM dev d, mad
"""
)


@register("robust_scale_2x", _ROBUST_2X_SQL)
def q_robust_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD outlier audit over the 2× disjoint-union fact; pytest pins
    the multiset-invariance of both halves (operators/robust.py)."""
    return robust.mad_outlier_days(_fact2x(spark, sf_dir))


# ---------------------------------------------------------------------------
# Per-key robust / graph-moment / rank-surface:
#
# - ``client_mad_outliers`` — the M28 MAD audit generalized per client:
#   every median is a PARTITIONED pair of order statistics over the
#   (client, day) relation, so per-key robust stats never funnel
#   through one partition (operators/robust.py).
# - ``client_rank_metrics`` — ntile / percent_rank / cume_dist panel
#   over per-client counts on a unique total order
#   (operators/ranks.py).
#
# All three DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_CLIENT_MAD_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT client, date, CAST(count(*) AS BIGINT) AS y
  FROM fact GROUP BY 1, 2
)
, ranked AS (
  SELECT client, y AS v,
         row_number() OVER (PARTITION BY client ORDER BY y, date) AS r,
         count(*) OVER (PARTITION BY client) AS n
  FROM daily
)
, med AS (
  SELECT client,
         CAST(CASE WHEN max(n) % 2 = 1 THEN 2 * sum(v) ELSE sum(v) END
              AS BIGINT) AS med2
  FROM ranked WHERE r IN ((n + 1) // 2, n // 2 + 1) GROUP BY client
)
, dev AS (
  SELECT d.client, d.date, d.y, m.med2, abs(2 * d.y - m.med2) AS u
  FROM daily d JOIN med m USING (client)
)
, ranked2 AS (
  SELECT client, u AS v,
         row_number() OVER (PARTITION BY client ORDER BY u) AS r,
         count(*) OVER (PARTITION BY client) AS n
  FROM dev
)
, mad AS (
  SELECT client,
         CAST(CASE WHEN max(n) % 2 = 1 THEN 2 * sum(v) ELSE sum(v) END
              AS BIGINT) AS mad4
  FROM ranked2 WHERE r IN ((n + 1) // 2, n // 2 + 1) GROUP BY client
)
SELECT d.client AS client, d.date AS date, d.y AS y, d.med2 AS med2,
  mad.mad4 AS mad4, 2 * d.y - d.med2 AS dev2,
  round(CASE WHEN mad.mad4 > 0 THEN
    (2.0 * CAST(2 * d.y - d.med2 AS DOUBLE))
    / (1.4826 * CAST(mad.mad4 AS DOUBLE)) END, 6) AS robust_z,
  CAST(4 * d.u > 7 * mad.mad4 AS INT) AS is_outlier
FROM dev d JOIN mad USING (client)
"""
)


@register("client_mad_outliers", _CLIENT_MAD_SQL)
def q_client_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-client robust outlier days — partitioned exact medians
    (operators/robust.py)."""
    return robust.client_mad_outliers(_fact(spark, sf_dir))


_RANKS_SQL = (
    FACT_CTE
    + """
, per AS (
  SELECT client, CAST(count(*) AS BIGINT) AS cnt FROM fact GROUP BY client
)
SELECT client, cnt,
  ntile(4) OVER w AS quartile,
  round(percent_rank() OVER w, 6) AS pct_rank,
  round(cume_dist() OVER w, 6) AS cume
FROM per WINDOW w AS (ORDER BY cnt DESC, client)
"""
)


@register("client_rank_metrics", _RANKS_SQL)
def q_client_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile/percent_rank/cume_dist panel on a unique total order
    (operators/ranks.py)."""
    return ranks.client_rank_metrics(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Forecasting & boxplot (operators/robust.py):
#
# - ``holt_linear_daily`` — Holt two-state (level+trend) smoothing as
#   one catalyst fold; the oracle's recursive CTE carries (l, b)
#   through the identical IEEE trees ⇒ bit-identical before round.
# - ``forecast_error_panel`` — persistence vs seasonal-naive MAE with
#   exact BIGINT numerators on a shared scoring set + the MASE-style
#   ratio of the two numerators.
# - ``tukey_fence_days`` — boxplot outlier audit with type-1
#   nearest-rank quartiles; fences are pure integer comparisons in
#   doubled units (2y < 5·Q1 − 3·Q3 / 2y > 5·Q3 − 3·Q1).
#
# All three DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_HOLT_SQL = (
    FACT_CTE.replace("WITH fact AS", "WITH RECURSIVE fact AS", 1)
    + _DAILY
    + """
, seq AS (
  SELECT date, y, row_number() OVER (ORDER BY date) AS r FROM daily
)
, rec AS (
  SELECT r, date, y, CAST(y AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
  FROM seq WHERE r = 1
  UNION ALL
  SELECT s.r, s.date, s.y,
         0.3 * CAST(s.y AS DOUBLE) + 0.7 * (rec.l + rec.b),
         0.2 * ((0.3 * CAST(s.y AS DOUBLE) + 0.7 * (rec.l + rec.b))
                - rec.l)
           + 0.8 * rec.b
  FROM seq s JOIN rec ON s.r = rec.r + 1
)
SELECT date, y, round(l, 6) AS level, round(b, 6) AS trend,
       round(l + b, 6) AS forecast_next
FROM rec
"""
)


@register("holt_linear_daily", _HOLT_SQL)
def q_holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt(α=0.3, β=0.2) level+trend smoothing — two-state catalyst
    fold vs recursive CTE (operators/robust.py)."""
    return robust.holt_linear_daily(_fact(spark, sf_dir), 0.3, 0.2)


_FC_ERR_SQL = (
    FACT_CTE
    + _DAILY
    + """
, lagged AS (
  SELECT y,
         lag(y, 1) OVER (ORDER BY date) AS p1,
         lag(y, 7) OVER (ORDER BY date) AS p7
  FROM daily
)
, s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_scored,
         CAST(sum(abs(y - p1)) AS BIGINT) AS mae_p_num,
         CAST(sum(abs(y - p7)) AS BIGINT) AS mae_s_num
  FROM lagged WHERE p7 IS NOT NULL
)
SELECT n_scored, mae_p_num, mae_s_num,
  round(CAST(mae_p_num AS DOUBLE) / CAST(n_scored AS DOUBLE), 6)
    AS mae_persistence,
  round(CAST(mae_s_num AS DOUBLE) / CAST(n_scored AS DOUBLE), 6)
    AS mae_seasonal,
  round(CASE WHEN mae_s_num > 0 THEN
    CAST(mae_p_num AS DOUBLE) / CAST(mae_s_num AS DOUBLE) END, 6)
    AS mase_persistence
FROM s
"""
)


@register("forecast_error_panel", _FC_ERR_SQL)
def q_forecast_error_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistence vs seasonal-naive forecast MAEs + MASE ratio,
    exact numerators (operators/robust.py)."""
    return robust.forecast_error_panel(_fact(spark, sf_dir))


_TUKEY_SQL = (
    FACT_CTE
    + _DAILY
    + """
, nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily)
, ranked AS (
  SELECT y, row_number() OVER (ORDER BY y, date) AS r FROM daily
)
, qs AS (
  SELECT CAST(min(CASE WHEN r = (n + 3) // 4 THEN y END) AS BIGINT) AS q1,
         CAST(min(CASE WHEN r = (3 * n + 3) // 4 THEN y END) AS BIGINT) AS q3
  FROM ranked, nn
)
SELECT d.date AS date, d.y AS y, qs.q1 AS q1, qs.q3 AS q3,
       qs.q3 - qs.q1 AS iqr,
       CAST(2 * d.y < 5 * qs.q1 - 3 * qs.q3 AS INT) AS below_fence,
       CAST(2 * d.y > 5 * qs.q3 - 3 * qs.q1 AS INT) AS above_fence
FROM daily d, qs
"""
)


@register("tukey_fence_days", _TUKEY_SQL)
def q_tukey_fence_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxplot-fence outlier audit, integer-exact fences
    (operators/robust.py)."""
    return robust.tukey_fence_days(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Inference completion (operators/stattests.py):
#
# - ``mann_whitney_day_night`` — nonparametric distribution-shift test
#   (rank-sum) with tie-corrected normal z; doubled midranks over the
#   merged value histogram keep every rank statistic exact DECIMAL.
# - ``levene_day_night`` — Brown–Forsythe scale test in the two-group
#   Welch form: absolute deviations from per-group HISTOGRAM medians
#   (integer half-units), then the exact-moment welch expression.
#
# With these the two-sample family covers mean (welch), distribution
# (ks), rank shift (mann-whitney), and variance (levene). Both
# DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_MW_SQL = (
    FACT_CTE
    + """
, m AS (
  SELECT CAST(round(reply_time * 1000) AS BIGINT) AS r, day_period
  FROM fact WHERE reply_time IS NOT NULL
)
, hist AS (
  SELECT r,
    CAST(count(*) FILTER (WHERE day_period = 'Day') AS BIGINT) AS ca,
    CAST(count(*) FILTER (WHERE day_period = 'Night') AS BIGINT) AS cb
  FROM m GROUP BY r
)
, scanned AS (
  SELECT ca, ca + cb AS t,
    CAST(coalesce(sum(ca + cb) OVER (
      ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS BIGINT) AS cum_before
  FROM hist
)
, agg AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n1,
         CAST(sum(t - ca) AS BIGINT) AS n2,
         CAST(sum(CAST(ca * (2 * cum_before + t + 1) AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS r2_day,
         CAST(sum(CAST(t * t * t - t AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS tie_term
  FROM scanned
)
, fin AS (
  SELECT n1, n2,
         r2_day - CAST(n1 * (n1 + 1) AS DECIMAL(38,0)) AS u2_day,
         tie_term,
         (CAST(n1 + n2 AS DECIMAL(38,0)) * CAST(n1 + n2 AS DECIMAL(38,0))
            * CAST(n1 + n2 AS DECIMAL(38,0))
          - CAST(n1 + n2 AS DECIMAL(38,0))) - tie_term AS bracket
  FROM agg
)
SELECT n1, n2,
  CAST(u2_day AS DOUBLE) AS u2_day,
  CAST(tie_term AS DOUBLE) AS tie_term,
  round(CASE WHEN n1 > 0 AND n2 > 0 AND bracket > 0 THEN
    (CAST(u2_day AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
    / (2.0 * sqrt(
        (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) * CAST(bracket AS DOUBLE)
        / (12.0 * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
           * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 1.0))))
  END, 6) AS z
FROM fin
"""
)


@register("mann_whitney_day_night", _MW_SQL)
def q_mann_whitney_day_night(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sum shift test Day vs Night, tie-corrected
    (operators/stattests.py)."""
    return stattests.mann_whitney_day_night(_fact(spark, sf_dir))


_LEVENE_SQL = (
    FACT_CTE
    + """
, m AS (
  SELECT CAST(round(reply_time * 1000) AS BIGINT) AS r, day_period
  FROM fact WHERE reply_time IS NOT NULL
)
, hist AS (
  SELECT day_period, r, CAST(count(*) AS BIGINT) AS cnt
  FROM m GROUP BY 1, 2
)
, h AS (
  SELECT day_period, r, cnt,
    CAST(sum(cnt) OVER (PARTITION BY day_period ORDER BY r
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
    CAST(sum(cnt) OVER (PARTITION BY day_period) AS BIGINT) AS n
  FROM hist
)
, med AS (
  SELECT day_period,
    CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN r END)
         + min(CASE WHEN cum >= n // 2 + 1 THEN r END) AS BIGINT) AS med2
  FROM h GROUP BY day_period
)
, agg AS (
  SELECT
    CAST(sum(cnt) FILTER (WHERE day_period = 'Day') AS BIGINT) AS n1,
    CAST(sum(cnt * abs(2 * r - med2))
         FILTER (WHERE day_period = 'Day') AS BIGINT) AS s1,
    CAST(sum(CAST(cnt * abs(2 * r - med2) * abs(2 * r - med2)
                  AS DECIMAL(38,0)))
         FILTER (WHERE day_period = 'Day') AS DECIMAL(38,0)) AS q1,
    CAST(sum(cnt) FILTER (WHERE day_period = 'Night') AS BIGINT) AS n2,
    CAST(sum(cnt * abs(2 * r - med2))
         FILTER (WHERE day_period = 'Night') AS BIGINT) AS s2,
    CAST(sum(CAST(cnt * abs(2 * r - med2) * abs(2 * r - med2)
                  AS DECIMAL(38,0)))
         FILTER (WHERE day_period = 'Night') AS DECIMAL(38,0)) AS q2
  FROM hist JOIN med USING (day_period)
)
SELECT n1, s1, CAST(q1 AS DOUBLE) AS q1, n2, s2, CAST(q2 AS DOUBLE) AS q2,
  round(CASE WHEN n1 > 1 AND n2 > 1 THEN
    (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
     - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
    / sqrt(
        ((CAST(q1 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
         / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
      + ((CAST(q2 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
         / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
  END, 6) AS t_stat,
  round(CASE WHEN n1 > 1 AND n2 > 1 THEN
    (  (((CAST(q1 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
         / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
      + ((CAST(q2 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
         / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
     * (((CAST(q1 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
         / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE)
      + ((CAST(q2 AS DOUBLE)
          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
         / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE)))
    / ( (((CAST(q1 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE))
        * (((CAST(q1 AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
          / (CAST(n1 AS DOUBLE) - 1.0)) / CAST(n1 AS DOUBLE))
        / (CAST(n1 AS DOUBLE) - 1.0)
      + (((CAST(q2 AS DOUBLE)
           - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
          / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
        * (((CAST(q2 AS DOUBLE)
           - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
          / (CAST(n2 AS DOUBLE) - 1.0)) / CAST(n2 AS DOUBLE))
        / (CAST(n2 AS DOUBLE) - 1.0) )
  END, 6) AS df
FROM agg
"""
)


@register("levene_day_night", _LEVENE_SQL)
def q_levene_day_night(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-shift test Day vs Night
    (operators/stattests.py)."""
    return stattests.levene_day_night(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Governance + envelope + tokenizer-eval:
#
# - ``rolling_bands_daily`` — trailing 7-day mean ± 2σ envelope with
#   exact window moments (operators/robust.py).
# ---------------------------------------------------------------------------

_BANDS_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
)
, base AS (
  SELECT date, y,
    CAST(count(*) OVER w AS BIGINT) AS win_n,
    CAST(sum(y) OVER w AS BIGINT) AS win_sum,
    CAST(sum(CAST(y * y AS DECIMAL(38,0))) OVER w AS DECIMAL(38,0))
      AS win_sumsq
  FROM daily
  WINDOW w AS (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT date, y, win_n, win_sum,
  CAST(win_sumsq AS DOUBLE) AS win_sumsq,
  round(CAST(win_sum AS DOUBLE) / CAST(win_n AS DOUBLE), 6) AS mean_w,
  round(CASE WHEN win_n > 1 THEN
    sqrt((CAST(win_sumsq AS DOUBLE)
          - CAST(win_sum AS DOUBLE) * CAST(win_sum AS DOUBLE)
            / CAST(win_n AS DOUBLE))
         / (CAST(win_n AS DOUBLE) - 1.0)) END, 6) AS sd_w,
  round(CASE WHEN win_n > 1 THEN
    CAST(win_sum AS DOUBLE) / CAST(win_n AS DOUBLE)
    + 2.0 * sqrt((CAST(win_sumsq AS DOUBLE)
          - CAST(win_sum AS DOUBLE) * CAST(win_sum AS DOUBLE)
            / CAST(win_n AS DOUBLE))
         / (CAST(win_n AS DOUBLE) - 1.0)) END, 6) AS upper,
  round(CASE WHEN win_n > 1 THEN
    CAST(win_sum AS DOUBLE) / CAST(win_n AS DOUBLE)
    - 2.0 * sqrt((CAST(win_sumsq AS DOUBLE)
          - CAST(win_sum AS DOUBLE) * CAST(win_sum AS DOUBLE)
            / CAST(win_n AS DOUBLE))
         / (CAST(win_n AS DOUBLE) - 1.0)) END, 6) AS lower
FROM base
"""
)


@register("rolling_bands_daily", _BANDS_SQL)
def q_rolling_bands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day mean ± 2σ envelope, exact window moments
    (operators/robust.py)."""
    return robust.rolling_bands_daily(_fact(spark, sf_dir), 7)


# ---------------------------------------------------------------------------
# Behavioral-anomaly / series-diagnostics / index-quality:
#
# - ``ccf_status_daily`` — cross-correlation between the daily Blocked
#   and Allowed series at lags −7..7 (the two-series complement of
#   acf_daily_counts), n²-cleared all-integer numerators.
# - ``runs_test_daily`` — Wald–Wolfowitz runs test on the daily
#   above/below-median sequence: is volume random or streaky?
# - ``rolling_range_bands`` — the CALENDAR (RANGE) variant of the
#   trailing Bollinger envelope: gaps in the date series shrink the
#   window instead of silently stretching it (tests pin a gapped
#   fixture where ROWS ≠ RANGE).
# - ``client_profile_distance`` — per-client hour-of-day profile L1
#   deviation from the fleet profile, exact cross-multiplied ppm.
# - ``shrunk_block_rates`` — pseudo-count-shrunk per-client block
#   rates (the small-n-safe "most blocked clients" ranking).
# - ``client_rank_metrics_ranged`` — the billion-client two-level rank
#   kernel (operators/ranks.py) checked directly against the SAME
#   oracle as the single-window variant: the driver verifies the
#   distributed kernel, not just the window function.
#
# All seven DuckDB-oracle-checked; every ordering/threshold decision is
# exact integer arithmetic (the engine-wide policy).
# ---------------------------------------------------------------------------

_CCF_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date,
         CAST(count(*) FILTER (WHERE status_type = 'Blocked') AS BIGINT) AS b,
         CAST(count(*) FILTER (WHERE status_type = 'Allowed') AS BIGINT) AS a
  FROM fact GROUP BY date
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(b) AS BIGINT) AS sb,
         CAST(sum(a) AS BIGINT) AS sa, min(date) AS d0
  FROM daily
), d AS (
  SELECT CAST(date_diff('day', d0, date) AS BIGINT) AS idx,
         n * b - sb AS cb, n * a - sa AS ca
  FROM daily, tot
), den AS (
  SELECT CAST(sum(cb * cb) AS BIGINT) AS db,
         CAST(sum(ca * ca) AS BIGINT) AS da
  FROM d
), lags AS (
  SELECT * FROM (VALUES (-7),(-6),(-5),(-4),(-3),(-2),(-1),(0),
                        (1),(2),(3),(4),(5),(6),(7)) t(lag_k)
), pairs AS (
  SELECT l.lag_k, x.cb, y.ca
  FROM d x CROSS JOIN lags l JOIN d y ON y.idx = x.idx + l.lag_k
)
SELECT p.lag_k AS lag_k,
       CAST(sum(p.cb * p.ca) AS BIGINT) AS ccf_num,
       den.db AS db, den.da AS da,
       round(CASE WHEN den.db > 0 AND den.da > 0 THEN
         CAST(sum(p.cb * p.ca) AS DOUBLE)
         / sqrt(CAST(den.db AS DOUBLE) * CAST(den.da AS DOUBLE))
       END, 6) AS rho
FROM pairs p, den
GROUP BY p.lag_k, den.db, den.da
ORDER BY lag_k
"""
)


@register("ccf_status_daily", _CCF_SQL)
def q_ccf_status_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked↔Allowed daily cross-correlation, lags −7..7
    (operators/stattests.py)."""
    return stattests.ccf_status_daily(_fact(spark, sf_dir))


_RUNS_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), h AS (
  SELECT y,
    CAST(sum(cnt) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum,
    CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM daily GROUP BY y)
), med AS (
  SELECT CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN y END)
         + min(CASE WHEN cum >= n // 2 + 1 THEN y END) AS BIGINT) AS med2
  FROM h
), signed AS (
  SELECT date, CAST(2 * y > med2 AS INT) AS s
  FROM daily, med WHERE 2 * y <> med2
), runs AS (
  SELECT s,
    CASE WHEN lag(s) OVER (ORDER BY date) IS NULL
           OR lag(s) OVER (ORDER BY date) <> s THEN 1 ELSE 0 END AS chg
  FROM signed
), agg AS (
  SELECT CAST(sum(s) AS BIGINT) AS n_above,
         CAST(sum(1 - s) AS BIGINT) AS n_below,
         CAST(sum(chg) AS BIGINT) AS n_runs
  FROM runs
)
SELECT n_above, n_below, n_runs,
  round(CASE WHEN n_above > 0 AND n_below > 0 AND n_above + n_below > 1
         AND 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
             * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                - (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)))
             / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE) - 1.0))
             > 0
  THEN
    (CAST(n_runs AS DOUBLE)
     - (1.0 + 2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
        / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))))
    / sqrt(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
           * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
              - (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)))
           / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
              * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
              * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE) - 1.0)))
  END, 6) AS z
FROM agg
"""
)


@register("runs_test_daily", _RUNS_SQL)
def q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily above/below-median
    sequence (operators/stattests.py)."""
    return stattests.runs_test_daily(_fact(spark, sf_dir))


_RANGE_BANDS_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), d0 AS (SELECT min(date) AS d0 FROM daily)
, idx AS (
  SELECT date, y, CAST(date_diff('day', d0, date) AS BIGINT) AS idx
  FROM daily, d0
), base AS (
  SELECT date, y,
    CAST(count(*) OVER w AS BIGINT) AS win_n,
    CAST(sum(y) OVER w AS BIGINT) AS win_sum,
    CAST(sum(CAST(y * y AS DECIMAL(38,0))) OVER w AS DECIMAL(38,0))
      AS win_sumsq
  FROM idx
  WINDOW w AS (ORDER BY idx RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT date, y, win_n, win_sum,
  CAST(win_sumsq AS DOUBLE) AS win_sumsq,
  round(CAST(win_sum AS DOUBLE) / CAST(win_n AS DOUBLE), 6) AS mean_w,
  round(CASE WHEN win_n > 1 THEN
    sqrt((CAST(win_sumsq AS DOUBLE)
          - CAST(win_sum AS DOUBLE) * CAST(win_sum AS DOUBLE)
            / CAST(win_n AS DOUBLE))
         / (CAST(win_n AS DOUBLE) - 1.0)) END, 6) AS sd_w,
  round(CASE WHEN win_n > 1 THEN
    CAST(win_sum AS DOUBLE) / CAST(win_n AS DOUBLE)
    + 2.0 * sqrt((CAST(win_sumsq AS DOUBLE)
          - CAST(win_sum AS DOUBLE) * CAST(win_sum AS DOUBLE)
            / CAST(win_n AS DOUBLE))
         / (CAST(win_n AS DOUBLE) - 1.0)) END, 6) AS upper,
  round(CASE WHEN win_n > 1 THEN
    CAST(win_sum AS DOUBLE) / CAST(win_n AS DOUBLE)
    - 2.0 * sqrt((CAST(win_sumsq AS DOUBLE)
          - CAST(win_sum AS DOUBLE) * CAST(win_sum AS DOUBLE)
            / CAST(win_n AS DOUBLE))
         / (CAST(win_n AS DOUBLE) - 1.0)) END, 6) AS lower
FROM base
"""
)


@register("rolling_range_bands", _RANGE_BANDS_SQL)
def q_rolling_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-window (RANGE) trailing mean ± 2σ envelope
    (operators/robust.py)."""
    return robust.rolling_range_bands(_fact(spark, sf_dir), 7)


_PROFILE_K = 10

_CLIENT_PROFILE_SQL = (
    FACT_CTE
    + f"""
, ch AS (
  SELECT client, hour, CAST(count(*) AS BIGINT) AS c_h
  FROM fact GROUP BY client, hour
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
LIMIT {_PROFILE_K}
"""
)


@register("client_profile_distance", _CLIENT_PROFILE_SQL)
def q_client_profile_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 clients by hour-profile L1 deviation from the fleet
    profile, exact ppm (operators/behavior.py)."""
    return behavior.client_profile_distance(_fact(spark, sf_dir), _PROFILE_K)


_SHRUNK_LAMBDA = 100
_SHRUNK_K = 10

_SHRUNK_SQL = (
    FACT_CTE
    + f"""
, per AS (
  SELECT client, CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (WHERE status_type = 'Blocked') AS BIGINT) AS x
  FROM fact GROUP BY client
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(x) AS BIGINT) AS xx FROM per
)
SELECT client, n AS n_events, x AS n_blocked,
       CAST(x * 1000000 // n AS BIGINT) AS raw_ppm,
       CAST(((CAST(x AS HUGEINT) * nn + {_SHRUNK_LAMBDA} * CAST(xx AS HUGEINT))
             * 1000000)
            // (CAST(nn AS HUGEINT) * (n + {_SHRUNK_LAMBDA})) AS BIGINT)
         AS shrunk_ppm
FROM per, tot
ORDER BY shrunk_ppm DESC, client
LIMIT {_SHRUNK_K}
"""
)


@register("shrunk_block_rates", _SHRUNK_SQL)
def q_shrunk_block_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-count-shrunk per-client block rates, top-10
    (operators/behavior.py)."""
    return behavior.shrunk_block_rates(
        _fact(spark, sf_dir), _SHRUNK_LAMBDA, _SHRUNK_K
    )


@register("client_rank_metrics_ranged", _RANKS_SQL)
def q_client_rank_metrics_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level range-partitioned rank kernel, checked against
    the SAME oracle as client_rank_metrics — the driver verifies the
    distributed formulation directly (operators/ranks.py)."""
    return ranks.client_rank_metrics_ranged(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Resampling inference + diversity + tail-latency:
#
# - ``bootstrap_daily_mean_ci`` — deterministic Poisson-bootstrap 95%
#   CI for the mean daily volume (operators/resample.py): per-(resample,
#   day) weights from the pinned Poisson(1) inverse-CDF over the
#   engine-wide md5 ppb uniform; B exact-integer means; nearest-rank
#   bounds. The bootstrap shape that actually distributes.
# - ``client_domain_simpson`` — Gini–Simpson domain-diversity ranking,
#   a rational (log-free) concentration measure in exact ppm.
# - ``reply_p95_heatmap`` — exact nearest-rank p95 reply time per
#   (day_name, hour) cell: where in the week is the service SLOW (the
#   tail-latency complement of the count heatmap).
#
# All DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_B = 200
_W_CASE = (
    "CASE "
    + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(POISSON1_CUM_PPB)
    )
    + " ELSE 9 END"
)

_BOOT_SQL = (
    FACT_CTE
    + f"""
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
, b AS (SELECT CAST(range AS INT) AS b FROM range({_B}))
, weighted AS (
  SELECT b.b, daily.y,
         CAST({_W_CASE} AS BIGINT) AS w
  FROM daily CROSS JOIN b
  CROSS JOIN LATERAL (
    SELECT ('0x' || substr(md5('boot' || ':' || b.b || ':'
                 || strftime(daily.date, '%Y-%m-%d')), 1, 15))::BIGINT
           % 1000000000 AS u
  ) h
), means AS (
  SELECT round(CAST(sum(w * y) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) AS m
  FROM weighted GROUP BY b HAVING sum(w) > 0
), ranked AS (
  SELECT m, row_number() OVER (ORDER BY m) AS r,
         CAST(count(*) OVER () AS BIGINT) AS n_eff
  FROM means
), ci AS (
  SELECT CAST(max(n_eff) AS BIGINT) AS n_resamples_eff,
         min(CASE WHEN r = (n_eff * 25 + 999) // 1000 THEN m END) AS lo_mean,
         min(CASE WHEN r = (n_eff * 975 + 999) // 1000 THEN m END) AS hi_mean
  FROM ranked
), pt AS (
  SELECT round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
    AS point_mean
  FROM daily
)
SELECT nd.n_days, ci.n_resamples_eff, pt.point_mean, ci.lo_mean, ci.hi_mean
FROM nd, pt, ci
"""
)


@register("bootstrap_daily_mean_ci", _BOOT_SQL)
def q_bootstrap_daily_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for mean daily volume, deterministic
    (operators/resample.py)."""
    return resample.bootstrap_daily_mean_ci(_fact(spark, sf_dir), _B)


_SIMPSON_K = 10

_SIMPSON_SQL = (
    FACT_CTE
    + f"""
, cd AS (
  SELECT client, domain, CAST(count(*) AS BIGINT) AS c
  FROM fact GROUP BY client, domain
), per AS (
  SELECT client, CAST(sum(c) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_domains,
         sum(CAST(c AS HUGEINT) * c) AS sq
  FROM cd GROUP BY client
)
SELECT client, n AS n_events, n_domains,
       CAST(((CAST(n AS HUGEINT) * n - sq) * 1000000)
            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS simpson_ppm
FROM per
ORDER BY simpson_ppm DESC, client
LIMIT {_SIMPSON_K}
"""
)


@register("client_domain_simpson", _SIMPSON_SQL)
def q_client_domain_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini–Simpson domain diversity per client, exact ppm, top-10
    (operators/behavior.py)."""
    return behavior.client_domain_simpson(_fact(spark, sf_dir), _SIMPSON_K)


_P95_SQL = (
    FACT_CTE
    + """
, m AS (
  SELECT day_name, hour, CAST(round(reply_time * 1000) AS BIGINT) AS r
  FROM fact WHERE reply_time IS NOT NULL
), hist AS (
  SELECT day_name, hour, r, CAST(count(*) AS BIGINT) AS cnt
  FROM m GROUP BY 1, 2, 3
), h AS (
  SELECT day_name, hour, r,
    CAST(sum(cnt) OVER (PARTITION BY day_name, hour ORDER BY r
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
    CAST(sum(cnt) OVER (PARTITION BY day_name, hour) AS BIGINT) AS n
  FROM hist
)
SELECT day_name, hour,
       CAST(max(n) AS BIGINT) AS n_replies,
       CAST(min(CASE WHEN cum >= (19 * n + 19) // 20 THEN r END) AS BIGINT)
         AS p95_q,
       round(CAST(min(CASE WHEN cum >= (19 * n + 19) // 20 THEN r END)
                  AS DOUBLE) / 1000.0, 6) AS p95_ms
FROM h GROUP BY day_name, hour
ORDER BY day_name, hour
"""
)


@register("reply_p95_heatmap", _P95_SQL)
def q_reply_p95_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank p95 reply per weekday×hour cell
    (operators/stattests.py)."""
    return stattests.reply_p95_heatmap(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Conformal forecasting, vocabulary richness, and the
# behavioral-tier doubling proof:
#
# - ``conformal_daily_interval`` — split-conformal prediction interval
#   for tomorrow's volume under the persistence forecast: the
#   distribution-free uncertainty statement (finite-sample +1
#   correction, gap-aware residuals), all-integer.
# - ``profile_scale_2x`` — client_profile_distance over the 2× fact
#   (events ∪ 64-day-shifted copy): the time shift preserves
#   hour-of-day, so every client's profile mass doubles uniformly and
#   the distances are IDENTICAL to 1× (invariance pytest-pinned); the
#   driver row hash-checks the doubled execution against a direct
#   oracle on the doubled input.
#
# All DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Classical decomposition, change detection, sketch audit:
#
# - ``stl_lite_daily`` — additive seasonal decomposition (centered-MA
#   trend, weekday seasonal means, doubly-n-cleared integer remainder).
# - ``domain_share_movers`` — top domains by absolute traffic-SHARE
#   change between the halves of the date range (surge/collapse
#   detection; share, not count, so volume drift cancels).
# - ``quantile_sketch_eval`` — percentile_approx rank-error audit vs
#   the exact histogram truth (rows-only: the GK sketch's compaction is
#   not SQL-replayable; the bound contract is pytest-pinned instead).
# ---------------------------------------------------------------------------

_STL_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), base AS (
  SELECT date, y,
    CAST(dayofweek(date) + 1 AS INT) AS wd,
    CAST(count(*) OVER w AS BIGINT) AS win_n,
    CAST(sum(y) OVER w AS BIGINT) AS win_sum
  FROM daily
  WINDOW w AS (ORDER BY date ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), d AS (
  SELECT *, win_n * y - win_sum AS det7 FROM base
), season AS (
  SELECT wd, CAST(sum(det7) AS BIGINT) AS s_sum,
         CAST(count(*) AS BIGINT) AS s_cnt
  FROM d GROUP BY wd
)
SELECT d.date, d.y, d.win_n, d.win_sum, d.det7,
       season.s_cnt AS wd_cnt,
       season.s_sum AS wd_det_sum,
       CAST(d.det7 * season.s_cnt - season.s_sum AS BIGINT)
         AS remain7_scaled,
       round(CAST(d.win_sum AS DOUBLE) / CAST(d.win_n AS DOUBLE), 6)
         AS trend_mean,
       round(CAST(season.s_sum AS DOUBLE) / CAST(season.s_cnt AS DOUBLE), 6)
         AS seasonal_mean
FROM d JOIN season USING (wd)
ORDER BY date
"""
)


@register("stl_lite_daily", _STL_SQL)
def q_stl_lite_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/seasonal/remainder decomposition of the daily
    series, integer-cleared (operators/robust.py)."""
    return robust.stl_lite_daily(_fact(spark, sf_dir))


_MOVERS_K = 10

_MOVERS_SQL = (
    FACT_CTE
    + f"""
, bounds AS (
  SELECT min(date) AS d0,
         min(date) + to_days(CAST(date_diff('day', min(date), max(date)) // 2
                                  AS INT)) AS mid
  FROM fact
), tagged AS (
  SELECT domain, CASE WHEN date < mid THEN 0 ELSE 1 END AS half
  FROM fact, bounds
), per AS (
  SELECT domain, half, CAST(count(*) AS BIGINT) AS c
  FROM tagged GROUP BY domain, half
), tot AS (
  SELECT half, CAST(sum(c) AS BIGINT) AS n FROM per GROUP BY half
), shares AS (
  SELECT domain,
    CAST(sum(CASE WHEN half = 0 THEN c ELSE 0 END) AS BIGINT) AS cnt_a,
    CAST(sum(CASE WHEN half = 1 THEN c ELSE 0 END) AS BIGINT) AS cnt_b,
    CAST(sum(CASE WHEN half = 0 THEN c * 1000000 // n ELSE 0 END) AS BIGINT)
      AS share_a_ppm,
    CAST(sum(CASE WHEN half = 1 THEN c * 1000000 // n ELSE 0 END) AS BIGINT)
      AS share_b_ppm
  FROM per JOIN tot USING (half) GROUP BY domain
)
SELECT domain, cnt_a, cnt_b, share_a_ppm, share_b_ppm,
       share_b_ppm - share_a_ppm AS delta_ppm,
       abs(share_b_ppm - share_a_ppm) AS abs_delta_ppm
FROM shares
ORDER BY abs_delta_ppm DESC, domain
LIMIT {_MOVERS_K}
"""
)


@register("domain_share_movers", _MOVERS_SQL)
def q_domain_share_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 domains by |share change| between date-range halves,
    exact ppm (operators/behavior.py)."""
    return behavior.domain_share_movers(_fact(spark, sf_dir), _MOVERS_K)


# Graduated from rows-only in r11: the GK sketch's
# COMPACTION isn't SQL-replayable, but its accuracy CONTRACT is
# checkable — the registered frame emits the exact-side columns (all
# SQL-derivable: nearest-rank quantile over the µs histogram, n, the
# promised ⌈n/accuracy⌉ bound) plus the audited within_bound verdict,
# and the oracle emits the PROMISE (within_bound = 1) next to its own
# exact legs. A hash match therefore certifies both that the exact
# side replays and that percentile_approx actually honoured its rank
# bound on this corpus at this run — a sketch violation now fails the
# driver gate, not just pytest. The raw sketch_q/rank_err columns
# stay pytest-pinned via the operator (tests/test_m38.py).
_QSK_SQL = (
    FACT_CTE
    + """
, m AS (SELECT CAST(round(reply_time * 1000) AS BIGINT) AS r
        FROM fact WHERE reply_time IS NOT NULL),
hist AS (SELECT r, CAST(count(*) AS BIGINT) AS cnt FROM m GROUP BY r),
h AS (SELECT r,
             CAST(sum(cnt) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS n
      FROM hist),
p AS (SELECT unnest([500, 950, 990]) AS p_pm),
exact AS (
  SELECT p_pm, CAST(max(n) AS BIGINT) AS n,
         CAST(min(r) AS BIGINT) AS exact_q
  FROM h CROSS JOIN p
  WHERE cum >= (p_pm * n + 999) // 1000
  GROUP BY p_pm)
SELECT p_pm, n, exact_q,
       CAST((n + 9999) // 10000 AS BIGINT) AS bound,
       CAST(1 AS INTEGER) AS within_bound
FROM exact ORDER BY p_pm
"""
)


@register("quantile_sketch_eval", _QSK_SQL)
def q_quantile_sketch_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx rank-error audit vs exact histogram truth —
    exact-side columns plus the audited within_bound verdict; the
    oracle states the GK promise, so a bound violation hash-fails
    (operators/stattests.py)."""
    return stattests.quantile_sketch_eval(_fact(spark, sf_dir)).select(
        "p_pm", "n", "exact_q", "bound", "within_bound"
    )


# ---------------------------------------------------------------------------
# Ingest contracts, irregular-sampling correction, and the
# bootstrap kernel generalized:
#
# - ``twap_reply_daily`` — per-day TIME-weighted average reply next to
#   the plain mean (left-constant interpolation, exact µs weights):
#   the irregular-sampling correction.
# - ``bootstrap_daily_median_ci`` — the Poisson-bootstrap kernel on
#   the MEDIAN (integer-exact end to end; no closed-form CI exists).
#
# All three DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Structural-break regression + k-core nucleus (+ the
# streaming MG sketch, which lives test-side: streaming/heavyhitters.py
# maintains per-shard Misra–Gries state incrementally; its batch twin
# ``heavy_hitters_exact`` is already a driver row, and the stream's
# guarantee bounds are pinned in tests/test_streaming_hh.py).
#
# - ``broken_trend_fit`` — piecewise OLS split at the CUSUM
#   change-point (did the trend CHANGE at the break?), exact BIGINT
#   sufficient statistics per segment; oracle-checked.
# ---------------------------------------------------------------------------

_BROKEN_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
         min(date) AS d0
  FROM daily
), scanned AS (
  SELECT date,
    CAST(sum(n * y - sy) OVER (ORDER BY date ROWS UNBOUNDED PRECEDING)
         AS BIGINT) AS p
  FROM daily, tot
), tau AS (
  SELECT date AS break_date FROM scanned ORDER BY abs(p) DESC, date LIMIT 1
), seg AS (
  SELECT CASE WHEN daily.date <= tau.break_date THEN 'a' ELSE 'b' END AS seg,
         CAST(date_diff('day', tot.d0, daily.date) AS BIGINT) AS x,
         daily.y AS y, tau.break_date
  FROM daily, tot, tau
), stats AS (
  SELECT seg, max(break_date) AS break_date,
         CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM seg GROUP BY seg
), per AS (
  SELECT seg, break_date, m,
    round(CAST(m * sxy - sx * sy AS DOUBLE)
          / nullif(CAST(m * sxx - sx * sx AS DOUBLE), 0), 6) AS sl,
    round(CAST(m * sxy - sx * sy AS DOUBLE)
          * CAST(m * sxy - sx * sy AS DOUBLE)
          / nullif(CAST(m * sxx - sx * sx AS DOUBLE)
                   * CAST(m * syy - sy * sy AS DOUBLE), 0), 6) AS r2
  FROM stats
), nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
SELECT nd.n_days,
       b.break_date,
       CAST(coalesce(a.m, 0) AS BIGINT) AS n_a,
       a.sl AS slope_a, a.r2 AS r2_a,
       b.m AS n_b, b.sl AS slope_b, b.r2 AS r2_b
FROM nd
CROSS JOIN (SELECT * FROM per WHERE seg = 'b') b
LEFT JOIN (SELECT * FROM per WHERE seg = 'a') a ON TRUE
"""
)


@register("broken_trend_fit", _BROKEN_SQL)
def q_broken_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise OLS at the CUSUM break, exact sufficient statistics
    (operators/timeagg.py)."""
    return timeagg.broken_trend_fit(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Seasonally-adjusted anomaly, windowed funnel, spike
# explanation, temporal drift:
#
# - ``seasonal_adjusted_outliers`` — the MAD outlier gate on the
#   STL-lite integer remainder: weekday effect removed before flagging.
# - ``spike_contribution`` — top domains by contribution to the
#   largest day-over-day volume change (Δtotal decomposes exactly into
#   per-domain Δcounts).
# - ``reply_drift_chi2`` — χ² drift of the reply distribution between
#   date-range halves over the first half's own exact deciles (the PSI
#   shape, log-free); the χ² sum runs as a bucket-ordered fold in both
#   engines (bit-identical doubles).
#
# All four DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_SEASONAL_OUT_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), base AS (
  SELECT date, y,
    CAST(dayofweek(date) + 1 AS INT) AS wd,
    CAST(count(*) OVER w AS BIGINT) AS win_n,
    CAST(sum(y) OVER w AS BIGINT) AS win_sum
  FROM daily
  WINDOW w AS (ORDER BY date ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), d AS (
  SELECT *, win_n * y - win_sum AS det7 FROM base
), season AS (
  SELECT wd, CAST(sum(det7) AS BIGINT) AS s_sum,
         CAST(count(*) AS BIGINT) AS s_cnt
  FROM d GROUP BY wd
), stl AS (
  SELECT d.date, d.y,
         CAST(d.det7 * season.s_cnt - season.s_sum AS BIGINT) AS adj
  FROM d JOIN season USING (wd)
), h1 AS (
  SELECT adj AS v,
    CAST(sum(cnt) OVER (ORDER BY adj ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum,
    CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM (SELECT adj, CAST(count(*) AS BIGINT) AS cnt FROM stl GROUP BY adj)
), med AS (
  SELECT CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END)
         + min(CASE WHEN cum >= n // 2 + 1 THEN v END) AS BIGINT) AS med2
  FROM h1
), dev AS (
  SELECT stl.*, med.med2, abs(2 * stl.adj - med.med2) AS u FROM stl, med
), h2 AS (
  SELECT u AS v,
    CAST(sum(cnt) OVER (ORDER BY u ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum,
    CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM (SELECT u, CAST(count(*) AS BIGINT) AS cnt FROM dev GROUP BY u)
), mad AS (
  SELECT CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END)
         + min(CASE WHEN cum >= n // 2 + 1 THEN v END) AS BIGINT) AS mad4
  FROM h2
)
SELECT dev.date, dev.y, dev.adj, dev.med2, mad.mad4,
  round(CASE WHEN mad.mad4 > 0 THEN
    (2.0 * CAST(2 * dev.adj - dev.med2 AS DOUBLE))
    / (1.4826 * CAST(mad.mad4 AS DOUBLE)) END, 6) AS robust_z,
  CAST(2 * 2 * dev.u > 7 * mad.mad4 AS INT) AS is_outlier
FROM dev, mad
ORDER BY dev.date
"""
)


@register("seasonal_adjusted_outliers", _SEASONAL_OUT_SQL)
def q_seasonal_adjusted_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD outlier gate on the seasonally-adjusted (STL remainder)
    series (operators/robust.py)."""
    return robust.seasonal_adjusted_outliers(_fact(spark, sf_dir))


_SPIKE_K = 10

_SPIKE_SQL = (
    FACT_CTE
    + f"""
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), deltas AS (
  SELECT date, y - lag(y) OVER (ORDER BY date) AS d,
         lag(date) OVER (ORDER BY date) AS prev_date
  FROM daily
), spike AS (
  SELECT date AS spike_date, prev_date AS before_date,
         CAST(d AS BIGINT) AS total_delta
  FROM deltas WHERE d IS NOT NULL
  ORDER BY abs(d) DESC, date LIMIT 1
), dd AS (
  SELECT f.domain,
    CAST(count(*) FILTER (WHERE f.date = s.before_date) AS BIGINT)
      AS cnt_before,
    CAST(count(*) FILTER (WHERE f.date = s.spike_date) AS BIGINT)
      AS cnt_after
  FROM fact f, spike s
  WHERE f.date = s.spike_date OR f.date = s.before_date
  GROUP BY f.domain
)
SELECT s.spike_date, s.total_delta, dd.domain, dd.cnt_before, dd.cnt_after,
       dd.cnt_after - dd.cnt_before AS delta,
       CAST((dd.cnt_after - dd.cnt_before) * 1000000 // s.total_delta
            AS BIGINT) AS share_ppm
FROM dd, spike s
ORDER BY abs(dd.cnt_after - dd.cnt_before) DESC, dd.domain
LIMIT {_SPIKE_K}
"""
)


@register("spike_contribution", _SPIKE_SQL)
def q_spike_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 domains explaining the largest day-over-day volume
    change (operators/behavior.py)."""
    return behavior.spike_contribution(_fact(spark, sf_dir), _SPIKE_K)


_NB = 10

_DRIFT_SQL = (
    FACT_CTE
    + f"""
, m AS (
  SELECT CAST(round(reply_time * 1000) AS BIGINT) AS r, date
  FROM fact WHERE reply_time IS NOT NULL
), bounds AS (
  SELECT min(date) + to_days(CAST(date_diff('day', min(date), max(date)) // 2
                                  AS INT)) AS mid
  FROM m
), v AS (
  SELECT r, CAST(date < mid AS INT) AS in_a FROM m, bounds
), hist AS (
  SELECT r, CAST(sum(in_a) AS BIGINT) AS ca,
         CAST(sum(1 - in_a) AS BIGINT) AS cb
  FROM v GROUP BY r
), h AS (
  SELECT r, ca, cb,
    CAST(sum(ca) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum_a,
    CAST(sum(ca) OVER () AS BIGINT) AS na
  FROM hist
), bucketed AS (
  SELECT CASE WHEN cum_a > 0
           THEN least(CAST((cum_a * {_NB} - 1) // na AS INT), {_NB - 1})
           ELSE 0 END AS b,
         ca, cb
  FROM h WHERE na > 0
), per AS (
  SELECT b, CAST(sum(ca) AS BIGINT) AS oa, CAST(sum(cb) AS BIGINT) AS ob
  FROM bucketed GROUP BY b
), tot AS (
  SELECT CAST(sum(oa) AS BIGINT) AS n_first,
         CAST(sum(ob) AS BIGINT) AS n_second
  FROM per
), terms AS (
  SELECT per.b,
    CASE WHEN CAST(tot.n_first AS HUGEINT) * tot.n_second
              * (per.oa + per.ob) > 0
    THEN CAST((CAST(tot.n_first AS HUGEINT) * per.ob
               - CAST(tot.n_second AS HUGEINT) * per.oa)
              * (CAST(tot.n_first AS HUGEINT) * per.ob
                 - CAST(tot.n_second AS HUGEINT) * per.oa) AS DOUBLE)
         / CAST(CAST(tot.n_first AS HUGEINT) * tot.n_second
                * (per.oa + per.ob) AS DOUBLE)
    ELSE 0.0 END AS t
  FROM per, tot
), folded AS (
  -- b-ordered LEFT FOLD of the double terms (the recursive-CTE twin
  -- of Spark's array fold: identical operand order => identical bits)
  WITH RECURSIVE f(i, acc) AS (
    -- anchor MUST be typed DOUBLE: a bare 0.0 is DECIMAL(2,1) in
    -- DuckDB and the accumulator would round every step to 1 digit
    SELECT -1, CAST(0.0 AS DOUBLE)
    UNION ALL
    SELECT i + 1,
           acc + coalesce((SELECT t FROM terms WHERE b = i + 1),
                          CAST(0.0 AS DOUBLE))
    FROM f WHERE i + 1 < {_NB}
  )
  SELECT acc AS chi2 FROM f WHERE i = {_NB} - 1
)
SELECT tot.n_first, tot.n_second,
       (SELECT CAST(count(*) AS BIGINT) FROM per) AS n_buckets_used,
       round(folded.chi2, 6) AS chi2,
       (SELECT CAST(count(*) - 1 AS BIGINT) FROM per) AS dof
FROM tot, folded
"""
)


@register("reply_drift_chi2", _DRIFT_SQL)
def q_reply_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile-bucketed χ² drift of reply time between date-range
    halves (operators/stattests.py)."""
    return stattests.reply_drift_chi2(_fact(spark, sf_dir), _NB)


# ---------------------------------------------------------------------------
# Survival, rank-based changepoint, fleet inequality:
#
# - ``kaplan_meier_clients`` — Kaplan–Meier product-limit survival over
#   client lifetimes, right-censored near the window end; the survival
#   product folds left-to-right with the recursive-CTE twin (the
#   ewma/holt bit-identical-fold contract).
# - ``pettitt_changepoint`` — Pettitt's nonparametric changepoint over
#   the daily count series (exact BIGINT U statistics; the rank-based
#   sibling of cusum_changepoint).
# - ``client_gini`` — Gini coefficient of the per-client event-count
#   distribution via the count-value histogram (no per-client rank
#   window at any scale).
#
# All three DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

# Registry pin: horizon 2 days. The synthetic corpus is 30 dense days
# (TESTDATA.md), so at the production default (7) no client ever
# churns and the curve is a degenerate all-censored 1.0 line; at 2 the
# driver check exercises real event steps at every SF.
_KM_H = 2

_KM_SQL = (
    FACT_CTE
    + f"""
, per AS (
  SELECT client, min(date) AS first_d, max(date) AS last_d
  FROM fact GROUP BY client
), g AS (
  SELECT max(date) AS g_end FROM fact
), life AS (
  SELECT CAST(date_diff('day', first_d, last_d) AS BIGINT) AS t,
         CAST(date_diff('day', last_d, g_end) >= {_KM_H} AS INT) AS observed
  FROM per, g
), hist AS (
  SELECT t, CAST(sum(observed) AS BIGINT) AS d,
         CAST(sum(1 - observed) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS m
  FROM life GROUP BY t
), risked AS (
  SELECT t, d, c,
    CAST((SELECT count(*) FROM life)
         - (sum(m) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) - m)
         AS BIGINT) AS n_risk
  FROM hist
), idx AS (
  SELECT t, d, c, n_risk,
         CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i
  FROM risked
), folded AS (
  -- t-ordered LEFT FOLD of surv *= (n_risk - d)/n_risk: the
  -- recursive-CTE twin of Spark's array fold (identical operand
  -- order => identical doubles)
  WITH RECURSIVE f(i, surv) AS (
    SELECT CAST(0 AS BIGINT), CAST(1.0 AS DOUBLE)
    UNION ALL
    SELECT f.i + 1,
           f.surv * (CAST((SELECT n_risk - d FROM idx WHERE i = f.i + 1)
                          AS DOUBLE)
                     / CAST((SELECT n_risk FROM idx WHERE i = f.i + 1)
                            AS DOUBLE))
    FROM f WHERE f.i < (SELECT count(*) FROM idx)
  )
  SELECT i, surv FROM f WHERE i > 0
)
SELECT idx.t AS t_days, idx.n_risk, idx.d AS n_events,
       idx.c AS n_censored, round(folded.surv, 6) AS surv
FROM idx JOIN folded ON folded.i = idx.i
ORDER BY t_days
"""
)


@register("kaplan_meier_clients", _KM_SQL)
def q_kaplan_meier_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Client-lifetime Kaplan–Meier survival curve
    (operators/survival.py)."""
    return survival.kaplan_meier_clients(
        _fact(spark, sf_dir), censor_horizon_days=_KM_H
    )


_PETTITT_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), v AS (
  SELECT a.date AS d1,
    CAST(sum(CASE WHEN a.y > b.y THEN 1 WHEN a.y < b.y THEN -1
                  ELSE 0 END) AS BIGINT) AS v
  FROM daily a JOIN daily b ON a.date <> b.date
  GROUP BY a.date
), u AS (
  SELECT d1 AS date,
    CAST(sum(v) OVER (ORDER BY d1 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS u
  FROM v
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily
), picked AS (
  SELECT date, u
  FROM u, (SELECT max(date) AS last_date FROM daily)
  WHERE date < last_date
  ORDER BY abs(u) DESC, date ASC LIMIT 1
)
SELECT nn.n_days, picked.date AS change_date, picked.u AS u_at_k,
  abs(picked.u) AS k_stat,
  round(least(2.0 * exp(-6.0 * CAST(picked.u * picked.u AS DOUBLE)
    / (CAST(nn.n_days AS DOUBLE) * CAST(nn.n_days AS DOUBLE)
       * CAST(nn.n_days AS DOUBLE)
       + CAST(nn.n_days AS DOUBLE) * CAST(nn.n_days AS DOUBLE))),
    1.0), 6) AS p_approx
FROM picked, nn
"""
)


@register("pettitt_changepoint", _PETTITT_SQL)
def q_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based changepoint over daily counts
    (operators/stattests.py)."""
    return stattests.pettitt_changepoint(_fact(spark, sf_dir))


_GINI_SQL = (
    FACT_CTE
    + """
, per AS (
  SELECT client, CAST(count(*) AS BIGINT) AS x FROM fact GROUP BY client
), hist AS (
  SELECT x, CAST(count(*) AS BIGINT) AS f FROM per GROUP BY x
), ranked AS (
  SELECT x, f,
    CAST(sum(f) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - f
         AS BIGINT) AS c_below
  FROM hist
), agg AS (
  SELECT CAST(sum(f) AS BIGINT) AS n_clients,
         CAST(sum(x * f) AS BIGINT) AS total_events,
         sum(CAST(x AS HUGEINT)
             * (CAST(f AS HUGEINT) * c_below + f * (f + 1) // 2)) AS t_rank
  FROM ranked
)
SELECT n_clients, total_events,
  CAST((2 * t_rank - (CAST(n_clients AS HUGEINT) + 1) * total_events)
       * 1000000
       // (CAST(n_clients AS HUGEINT) * total_events) AS BIGINT)
    AS gini_ppm,
  round(CAST(2 * t_rank - (CAST(n_clients AS HUGEINT) + 1) * total_events
             AS DOUBLE)
        / CAST(CAST(n_clients AS HUGEINT) * total_events AS DOUBLE), 6)
    AS gini
FROM agg
"""
)


@register("client_gini", _GINI_SQL)
def q_client_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet-wide Gini of per-client event counts
    (operators/counts.py)."""
    return counts.client_gini(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Prequential anomaly, temporal diversity, governance depth:
#
# - ``client_running_zscore`` — each client-day scored against that
#   client's history STRICTLY BEFORE it (the one-pass causal sibling of
#   client_daily_spikes and the batch twin of the streaming Welford
#   state processor, streaming/welford.py).
# - ``renyi2_entropy_daily`` — per-day collision (Rényi-2) diversity of
#   the domain mix with exact integer moments and one final ln.
#
# All three DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_RZ_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT client, date, CAST(count(*) AS BIGINT) AS y
  FROM fact GROUP BY client, date
), scored AS (
  SELECT client, date, y,
    CAST(count(y) OVER w AS BIGINT) AS n_prior,
    CAST(sum(y) OVER w AS BIGINT) AS s_prior,
    sum(CAST(y AS HUGEINT) * y) OVER w AS q_prior
  FROM daily
  WINDOW w AS (PARTITION BY client ORDER BY date
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), g AS (
  SELECT client, date, y, n_prior,
    CAST(n_prior AS HUGEINT) * y - s_prior AS num,
    CAST(n_prior AS HUGEINT) * q_prior
      - CAST(s_prior AS HUGEINT) * s_prior AS varnum
  FROM scored WHERE n_prior >= 2
)
SELECT client, date, y, n_prior,
  round(CASE WHEN varnum > 0 THEN CAST(num AS DOUBLE)
    * sqrt(CAST(n_prior - 1 AS DOUBLE)
           / (CAST(n_prior AS DOUBLE) * CAST(varnum AS DOUBLE))) END,
    6) AS z,
  CAST(num * num * (n_prior - 1) > 9 * n_prior * varnum AS INT)
    AS is_spike
FROM g ORDER BY client, date
"""
)


@register("client_running_zscore", _RZ_SQL)
def q_client_running_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prequential per-client z-scores over daily counts
    (operators/anomaly.py; streaming twin streaming/welford.py)."""
    fact = _fact(spark, sf_dir)
    daily = fact.groupBy("client", "date").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    return anomaly.running_zscore_by_client(daily)


_RENYI_SQL = (
    FACT_CTE
    + """
, dom AS (
  SELECT date, domain, CAST(count(*) AS BIGINT) AS c
  FROM fact GROUP BY date, domain
), per AS (
  SELECT date, CAST(sum(c) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_domains,
         sum(CAST(c AS HUGEINT) * c) AS sum_c2
  FROM dom GROUP BY date
)
SELECT date, n_events, n_domains,
  round(CAST(CAST(n_events AS HUGEINT) * n_events AS DOUBLE)
        / CAST(sum_c2 AS DOUBLE), 6) AS eff_domains,
  round(- ln(CAST(sum_c2 AS DOUBLE)
             / CAST(CAST(n_events AS HUGEINT) * n_events AS DOUBLE)),
        6) AS renyi2
FROM per ORDER BY date
"""
)


@register("renyi2_entropy_daily", _RENYI_SQL)
def q_renyi2_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day Rényi-2 domain diversity (operators/counts.py)."""
    return counts.renyi2_entropy_daily(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Seasonal forecasting completion + robust daily center:
#
# - ``holt_winters_daily`` — additive Holt–Winters (level + trend +
#   weekly seasonal) as one catalyst fold carrying the length-7
#   seasonal queue in the accumulator; the oracle's recursive CTE
#   carries the same LIST through identical IEEE operand trees ⇒
#   bit-identical before round (the holt_linear/ewma fold contract,
#   extended to three states).
# - ``trimmed_mean_reply_daily`` — per-day 10%-trimmed mean of reply
#   time from the value histogram in closed form (no per-event
#   ordering).
#
# Both DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_HW_SQL = (
    FACT_CTE.replace("WITH fact AS", "WITH RECURSIVE fact AS", 1)
    + _DAILY
    + """
, seq AS (
  SELECT date, y, CAST(row_number() OVER (ORDER BY date) AS BIGINT) AS r
  FROM daily
), init AS (
  SELECT CAST(sum(y) AS BIGINT) AS s_head, CAST(count(*) AS BIGINT) AS n_head,
         list(CAST(y AS DOUBLE) ORDER BY r) AS ys
  FROM seq WHERE r <= 7
), rec AS (
  -- anchor: l = mean(y_1..y_7), b = 0, s_i = y_i - l (i = 1..7)
  SELECT CAST(7 AS BIGINT) AS r,
         CAST(NULL AS TIMESTAMP) AS date, CAST(NULL AS BIGINT) AS y,
         CAST(s_head AS DOUBLE) / 7.0 AS l,
         CAST(0.0 AS DOUBLE) AS b,
         list_transform(ys, yy -> yy - CAST(s_head AS DOUBLE) / 7.0) AS s,
         CAST(NULL AS DOUBLE) AS seas, CAST(NULL AS DOUBLE) AS fc
  FROM init WHERE n_head >= 7
  UNION ALL
  -- l_new inlined into b/s/fc exactly as the Spark fold reuses the
  -- l_new Column (operand order pinned); s[1] is s_{t-7}, the new
  -- queue is s[2:7] || [s_new], and forecast_next reads old s[2]
  SELECT q.r, q.date, q.y,
    0.25 * (CAST(q.y AS DOUBLE) - rec.s[1]) + 0.75 * (rec.l + rec.b),
    0.1 * ((0.25 * (CAST(q.y AS DOUBLE) - rec.s[1])
            + 0.75 * (rec.l + rec.b)) - rec.l) + 0.9 * rec.b,
    rec.s[2:7] || [0.2 * (CAST(q.y AS DOUBLE)
                          - (0.25 * (CAST(q.y AS DOUBLE) - rec.s[1])
                             + 0.75 * (rec.l + rec.b)))
                   + 0.8 * rec.s[1]],
    0.2 * (CAST(q.y AS DOUBLE)
           - (0.25 * (CAST(q.y AS DOUBLE) - rec.s[1])
              + 0.75 * (rec.l + rec.b)))
      + 0.8 * rec.s[1],
    (0.25 * (CAST(q.y AS DOUBLE) - rec.s[1]) + 0.75 * (rec.l + rec.b))
      + (0.1 * ((0.25 * (CAST(q.y AS DOUBLE) - rec.s[1])
                 + 0.75 * (rec.l + rec.b)) - rec.l) + 0.9 * rec.b)
      + rec.s[2]
  FROM seq q JOIN rec ON q.r = rec.r + 1
)
SELECT date, y, round(l, 6) AS level, round(b, 6) AS trend,
       round(seas, 6) AS seasonal, round(fc, 6) AS forecast_next
FROM rec WHERE r > 7 ORDER BY date
"""
)


@register("holt_winters_daily", _HW_SQL)
def q_holt_winters_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt–Winters over daily counts
    (operators/robust.py)."""
    return robust.holt_winters_daily(_fact(spark, sf_dir), 0.25, 0.1, 0.2, 7)


_TRIM_PPM = 100_000

_TRIM_SQL = (
    FACT_CTE
    + f"""
, m AS (
  SELECT date, CAST(round(reply_time * 1000) AS BIGINT) AS r
  FROM fact WHERE reply_time IS NOT NULL
), hist AS (
  SELECT date, r, CAST(count(*) AS BIGINT) AS c FROM m GROUP BY date, r
), tot AS (
  SELECT date, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY date
), ranked AS (
  SELECT hist.date, hist.r, hist.c, tot.n,
    CAST(sum(hist.c) OVER (PARTITION BY hist.date ORDER BY hist.r
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM hist JOIN tot ON hist.date = tot.date
), kept AS (
  SELECT date, r, n,
    greatest(least(cum, n - n * {_TRIM_PPM} // 1000000)
             - greatest(cum - c, n * {_TRIM_PPM} // 1000000), 0) AS k
  FROM ranked
)
SELECT date, CAST(max(n) AS BIGINT) AS n,
  CAST(sum(k) AS BIGINT) AS n_kept,
  round(CAST(sum(CAST(r AS HUGEINT) * k) AS DOUBLE)
        / CAST(CAST(sum(k) AS BIGINT) AS DOUBLE), 6) AS trimmed_mean_ms
FROM kept GROUP BY date ORDER BY date
"""
)


@register("trimmed_mean_reply_daily", _TRIM_SQL)
def q_trimmed_mean_reply_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day 10%-trimmed mean reply time (operators/timeagg.py)."""
    return timeagg.trimmed_mean_reply_daily(_fact(spark, sf_dir), _TRIM_PPM)


# ---------------------------------------------------------------------------
# Portmanteau test, survival doubling proof, ORC interchange:
#
# - ``ljung_box_daily`` — Ljung–Box white-noise Q over daily counts at
#   lags 1..7 (n²-cleared exact ρ numerators; ascending-k fold twin).
# - ``survival_scale_2x`` — Kaplan–Meier over the client-doubled fact:
#   risk/event/censor counts exactly double while the survival curve is
#   BIT-IDENTICAL ((2n−2d)/(2n) and (n−d)/n are the same correctly-
#   rounded double) — checked against the direct oracle on the doubled
#   input, invariance pinned in tests/test_m50.py.
#
# All three DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_LB_M = 7

_LB_SQL = (
    FACT_CTE.replace("WITH fact AS", "WITH RECURSIVE fact AS", 1)
    + f"""
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS x FROM fact GROUP BY date
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
         min(date) AS d0
  FROM daily
), d AS (
  SELECT CAST(date_diff('day', d0, date) AS BIGINT) AS idx,
         CAST(n * x - s AS BIGINT) AS c, n
  FROM daily, tot
), den AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS den FROM d
), nums AS (
  SELECT k.k, CAST(max(a.n) AS BIGINT) AS n,
         CAST(sum(a.c * b.c) AS BIGINT) AS num
  FROM (SELECT CAST(range AS INT) AS k FROM range(1, {_LB_M + 1})) k
  JOIN d a ON true
  JOIN d b ON b.idx = a.idx + k.k
  GROUP BY k.k
), terms AS (
  SELECT k,
    (CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE))
      * (CAST(num AS DOUBLE) / CAST(den.den AS DOUBLE))
      / CAST(n - k AS DOUBLE) AS t
  FROM nums, den
), folded AS (
  -- ascending-k LEFT FOLD of the double terms (the recursive-CTE
  -- twin of Spark's array fold; missing lags add +0.0, a bitwise
  -- no-op on the non-negative accumulator)
  WITH RECURSIVE f(i, acc) AS (
    SELECT 0, CAST(0.0 AS DOUBLE)
    UNION ALL
    SELECT i + 1,
           acc + coalesce((SELECT t FROM terms WHERE k = i + 1),
                          CAST(0.0 AS DOUBLE))
    FROM f WHERE i + 1 <= {_LB_M}
  )
  SELECT acc FROM f WHERE i = {_LB_M}
)
SELECT tot.n AS n_days,
       (SELECT CAST(count(*) AS BIGINT) FROM nums) AS dof,
       round(CASE WHEN den.den > 0
             THEN CAST(tot.n * (tot.n + 2) AS DOUBLE) * folded.acc END,
             6) AS q_stat
FROM tot, den, folded
"""
)


@register("ljung_box_daily", _LB_SQL)
def q_ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box white-noise test over daily counts
    (operators/stattests.py)."""
    return stattests.ljung_box_daily(_fact(spark, sf_dir), _LB_M)


_KM2X_H = 2

_KM2X_SQL = (
    FACT_CTE
    + f"""
, f2 AS (
  SELECT client, date FROM fact
  UNION ALL
  SELECT 'x_' || client, date FROM fact
), per AS (
  SELECT client, min(date) AS first_d, max(date) AS last_d
  FROM f2 GROUP BY client
), g AS (
  SELECT max(date) AS g_end FROM fact
), life AS (
  SELECT CAST(date_diff('day', first_d, last_d) AS BIGINT) AS t,
         CAST(date_diff('day', last_d, g_end) >= {_KM2X_H} AS INT) AS observed
  FROM per, g
), hist AS (
  SELECT t, CAST(sum(observed) AS BIGINT) AS d,
         CAST(sum(1 - observed) AS BIGINT) AS c,
         CAST(count(*) AS BIGINT) AS m
  FROM life GROUP BY t
), risked AS (
  SELECT t, d, c,
    CAST((SELECT count(*) FROM life)
         - (sum(m) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) - m)
         AS BIGINT) AS n_risk
  FROM hist
), idx AS (
  SELECT t, d, c, n_risk,
         CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS i
  FROM risked
), folded AS (
  WITH RECURSIVE f(i, surv) AS (
    SELECT CAST(0 AS BIGINT), CAST(1.0 AS DOUBLE)
    UNION ALL
    SELECT f.i + 1,
           f.surv * (CAST((SELECT n_risk - d FROM idx WHERE i = f.i + 1)
                          AS DOUBLE)
                     / CAST((SELECT n_risk FROM idx WHERE i = f.i + 1)
                            AS DOUBLE))
    FROM f WHERE f.i < (SELECT count(*) FROM idx)
  )
  SELECT i, surv FROM f WHERE i > 0
)
SELECT idx.t AS t_days, idx.n_risk, idx.d AS n_events,
       idx.c AS n_censored, round(folded.surv, 6) AS surv
FROM idx JOIN folded ON folded.i = idx.i
ORDER BY t_days
"""
)


@register("survival_scale_2x", _KM2X_SQL)
def q_survival_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM over the client-doubled fact: counts double, curve
    bit-identical (operators/survival.py)."""
    fact = _fact(spark, sf_dir)
    shifted = fact.withColumn(
        "client", F.concat(F.lit("x_"), F.col("client"))
    )
    return survival.kaplan_meier_clients(
        fact.unionByName(shifted), censor_horizon_days=_KM2X_H
    )


# ---------------------------------------------------------------------------
# Embedding-truncation eval + rank concordance:
#
# - ``kendall_tau_volume_reply`` — Kendall's τ-b between daily volume
#   and daily mean reply (cross-multiplied integer concordance; the
#   sign-level companion of spearman_volume_reply).
# ---------------------------------------------------------------------------

_TAU_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y,
    CAST(sum(CASE WHEN reply_time IS NOT NULL
             THEN CAST(round(reply_time * 1000) AS BIGINT) END) AS BIGINT)
      AS m,
    CAST(count(reply_time) AS BIGINT) AS c
  FROM fact GROUP BY date HAVING count(reply_time) > 0
), p AS (
  SELECT
    CASE WHEN a.y > b.y THEN 1 WHEN a.y < b.y THEN -1 ELSE 0 END AS sy,
    CASE WHEN CAST(a.m AS HUGEINT) * b.c - CAST(b.m AS HUGEINT) * a.c > 0
         THEN 1
         WHEN CAST(a.m AS HUGEINT) * b.c - CAST(b.m AS HUGEINT) * a.c < 0
         THEN -1 ELSE 0 END AS sr
  FROM daily a JOIN daily b ON a.date < b.date
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(sy * sr) AS BIGINT) AS cmd,
         CAST(sum(CAST(sy = 0 AS BIGINT)) AS BIGINT) AS ties_y,
         CAST(sum(CAST(sr = 0 AS BIGINT)) AS BIGINT) AS ties_r
  FROM p
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily
)
SELECT nn.n_days, agg.n_pairs, agg.cmd AS conc_minus_disc,
       agg.ties_y, agg.ties_r,
  round(CASE WHEN agg.n_pairs > agg.ties_y AND agg.n_pairs > agg.ties_r
        THEN CAST(agg.cmd AS DOUBLE)
             / sqrt(CAST(agg.n_pairs - agg.ties_y AS DOUBLE)
                    * CAST(agg.n_pairs - agg.ties_r AS DOUBLE)) END, 6)
    AS tau_b
FROM agg, nn
"""
)


@register("kendall_tau_volume_reply", _TAU_SQL)
def q_kendall_tau_volume_reply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between daily volume and mean reply
    (operators/stattests.py)."""
    return stattests.kendall_tau_volume_reply(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Seasonality-robust trend + composition drift:
#
# - ``seasonal_mann_kendall`` — weekly-stratified Mann–Kendall (Hirsch
#   & Slack): pairs only within each weekday's subseries, so a strong
#   weekday cycle can no longer drown a real trend (a pure cycle gives
#   S' = 0 exactly).
# - ``blocked_rate_trend`` — Cochran–Armitage trend test on the daily
#   blocked PROPORTION with day-index scores: composition drift
#   independent of volume drift (a day-constant share gives num = 0
#   exactly).
#
# Both DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_SMK_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y,
         CAST(dayofweek(date) + 1 AS INT) AS wd
  FROM fact GROUP BY date
), s AS (
  SELECT CAST(coalesce(sum(CASE WHEN b.y > a.y THEN 1
                                WHEN b.y < a.y THEN -1 ELSE 0 END), 0)
              AS BIGINT) AS s_stat
  FROM daily a JOIN daily b ON a.wd = b.wd AND a.date < b.date
), vp AS (
  SELECT CAST(sum(n_w * (n_w - 1) * (2 * n_w + 5)) AS BIGINT) AS var_pos,
         CAST(sum(n_w) AS BIGINT) AS n_days
  FROM (SELECT wd, CAST(count(*) AS BIGINT) AS n_w FROM daily GROUP BY wd)
), ties AS (
  SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
    AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY wd, y)
)
SELECT vp.n_days, s.s_stat,
  CAST(vp.var_pos - ties.tie_term AS BIGINT) AS var18_num,
  round(CASE WHEN s.s_stat = 0 OR vp.var_pos - ties.tie_term <= 0
        THEN CAST(0.0 AS DOUBLE)
        ELSE CAST(CASE WHEN s.s_stat > 0 THEN s.s_stat - 1
                       WHEN s.s_stat < 0 THEN s.s_stat + 1
                       ELSE 0 END AS DOUBLE)
             / sqrt(CAST(vp.var_pos - ties.tie_term AS DOUBLE) / 18.0)
        END, 6) AS z
FROM s, vp, ties
"""
)


@register("seasonal_mann_kendall", _SMK_SQL)
def q_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-stratified Mann–Kendall trend test
    (operators/stattests.py)."""
    return stattests.seasonal_mann_kendall(_fact(spark, sf_dir))


_CA_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(status_type = 'Blocked' AS BIGINT)) AS BIGINT) AS b
  FROM fact GROUP BY date
), scored AS (
  SELECT n, b,
    CAST(date_diff('day', (SELECT min(date) FROM daily), date) AS BIGINT)
      AS t
  FROM daily
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(n) AS BIGINT) AS nn, CAST(sum(b) AS BIGINT) AS bb,
         sum(CAST(t AS HUGEINT) * b) AS stb,
         sum(CAST(t AS HUGEINT) * n) AS stn,
         sum(CAST(n AS HUGEINT) * t * t) AS snt2
  FROM scored
)
SELECT n_days, nn AS n_total, bb AS blocked_total,
  round(CASE WHEN bb > 0 AND bb < nn
              AND CAST(CAST(nn AS HUGEINT) * snt2 - stn * stn AS DOUBLE) > 0
        THEN CAST(CAST(nn AS HUGEINT) * stb - CAST(bb AS HUGEINT) * stn
                  AS DOUBLE)
             * sqrt(CAST(nn AS DOUBLE)
                    / (CAST(bb AS DOUBLE) * CAST(nn - bb AS DOUBLE)))
             / sqrt(CAST(CAST(nn AS HUGEINT) * snt2 - stn * stn AS DOUBLE))
        END, 6) AS z
FROM agg
"""
)


@register("blocked_rate_trend", _CA_SQL)
def q_blocked_rate_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage block-rate composition trend
    (operators/stattests.py)."""
    return stattests.blocked_rate_trend(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Multiple regression + prequential-anomaly scale proof:
#
# - ``weekend_adjusted_trend`` — y = a + b·t + c·is_weekend by exact
#   normal equations; the Cramer determinants evaluate ONE shared
#   expression string through F.expr and verbatim oracle SQL, so the
#   operand trees match by construction.
# - ``zscore_scale_2x`` — client-doubled prequential z-scores: every
#   copy carries identical per-day histories, so scores and spike
#   flags are copy-invariant while row volume doubles; checked against
#   the direct oracle on the doubled input.
#
# Both DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_WK_SQL = (
    FACT_CTE
    + f"""
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), scored AS (
  SELECT y,
    CAST(date_diff('day', (SELECT min(date) FROM daily), date) AS BIGINT)
      AS t,
    CAST(dayofweek(date) IN (0, 6) AS BIGINT) AS w
  FROM daily
), m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(t) AS HUGEINT) AS st,
         CAST(sum(w) AS HUGEINT) AS sw,
         CAST(sum(t * t) AS HUGEINT) AS stt,
         CAST(sum(t * w) AS HUGEINT) AS stw,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(t * y) AS HUGEINT) AS sty,
         CAST(sum(w * y) AS HUGEINT) AS swy
  FROM scored
)
SELECT CAST(n AS BIGINT) AS n_days,
  round(CASE WHEN {WK_DET} <> 0 THEN
    CAST({WK_DET_A} AS DOUBLE) / CAST({WK_DET} AS DOUBLE) END, 6)
    AS intercept,
  round(CASE WHEN {WK_DET} <> 0 THEN
    CAST({WK_DET_B} AS DOUBLE) / CAST({WK_DET} AS DOUBLE) END, 6)
    AS slope_per_day,
  round(CASE WHEN {WK_DET} <> 0 THEN
    CAST({WK_DET_C} AS DOUBLE) / CAST({WK_DET} AS DOUBLE) END, 6)
    AS weekend_effect
FROM m
"""
)


@register("weekend_adjusted_trend", _WK_SQL)
def q_weekend_adjusted_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-parameter OLS over the daily series
    (operators/robust.py)."""
    return robust.weekend_adjusted_trend(_fact(spark, sf_dir))


_Z2X_SQL = _RZ_SQL.replace(
    "FROM fact GROUP BY client, date",
    """FROM (SELECT client, date FROM fact
      UNION ALL
      SELECT 'x_' || client, date FROM fact)
  GROUP BY client, date""",
    1,
)


@register("zscore_scale_2x", _Z2X_SQL)
def q_zscore_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prequential z over the client-doubled fact: per-copy scores
    identical, volume doubled (operators/anomaly.py)."""
    fact = _fact(spark, sf_dir)
    doubled = fact.unionByName(
        fact.withColumn("client", F.concat(F.lit("x_"), F.col("client")))
    )
    daily = doubled.groupBy("client", "date").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    return anomaly.running_zscore_by_client(daily)


# ---------------------------------------------------------------------------
# The auditable sketch:
#
# - ``hll_distinct_audit`` — HyperLogLog implemented in relational
#   primitives (md5 registers, bin() bit-length ranks, ordered fold of
#   the indicator) next to the exact COUNT DISTINCT: every register and
#   the estimate replay bit-for-bit in the DuckDB oracle. The approx
#   tier's answer to "why trust a sketch": don't — hash-check it.
#
# DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_HLL_SQL = (
    FACT_CTE.replace("WITH fact AS", "WITH RECURSIVE fact AS", 1)
    + """
, regs AS (
  SELECT h % 64 AS reg, h // 64 AS w FROM (
    SELECT ('0x' || substr(md5(client), 1, 15))::BIGINT AS h FROM fact)
), mreg AS (
  SELECT reg,
    CAST(max(CASE WHEN w = 0 THEN 55
             ELSE 55 - length(bin(w)) END) AS BIGINT) AS mj
  FROM regs GROUP BY reg
), filled AS (
  SELECT CAST(s.range AS BIGINT) AS reg,
         CAST(coalesce(mreg.mj, 0) AS BIGINT) AS mj
  FROM range(64) s LEFT JOIN mreg ON mreg.reg = s.range
), folded AS (
  -- register-ordered LEFT FOLD of Z = sum 2^(-M_j): powers of two
  -- are exact doubles but their 64-term SUM is not associative past
  -- 53 bits, so the order is pinned (the chi2-drift fold contract)
  WITH RECURSIVE f(i, acc) AS (
    SELECT CAST(-1 AS BIGINT), CAST(0.0 AS DOUBLE)
    UNION ALL
    SELECT f.i + 1,
           f.acc + power(0.5, (SELECT mj FROM filled
                               WHERE reg = f.i + 1))
    FROM f WHERE f.i + 1 < 64
  )
  SELECT acc AS z FROM f WHERE i = 63
), vz AS (
  SELECT CAST(sum(CAST(mj = 0 AS BIGINT)) AS BIGINT) AS v_zero
  FROM filled
), ex AS (
  SELECT CAST(count(DISTINCT client) AS BIGINT) AS n_exact FROM fact
), e AS (
  SELECT CASE WHEN (CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE) / z)
                   <= CAST(160.0 AS DOUBLE)
               AND v_zero > 0
         THEN CAST(64.0 AS DOUBLE)
              * ln(CAST(64.0 AS DOUBLE) / CAST(v_zero AS DOUBLE))
         ELSE CAST(0.709 AS DOUBLE) * CAST(4096.0 AS DOUBLE) / z
         END AS est,
         v_zero
  FROM folded, vz
)
SELECT ex.n_exact, CAST(64 AS BIGINT) AS m_registers, e.v_zero,
  round(e.est, 6) AS est,
  CASE WHEN ex.n_exact > 0 THEN
    CAST(round(abs(e.est - CAST(ex.n_exact AS DOUBLE))
               / CAST(ex.n_exact AS DOUBLE) * 1000000.0) AS BIGINT)
  END AS abs_err_ppm
FROM e, ex
"""
)


@register("hll_distinct_audit", _HLL_SQL)
def q_hll_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-principles HLL vs exact distinct clients
    (operators/approx.py)."""
    return approx.hll_distinct_audit(_fact(spark, sf_dir), "client")


# ---------------------------------------------------------------------------
# K-group inference completion (all DuckDB-oracle-checked):
#
# - ``weekday_anova_reply`` — one-way ANOVA F across the seven weekday
#   groups of quantized reply times: the omnibus mean test the
#   two-sample family (welch/MW/levene/KS) was missing.
# - ``kruskal_wallis_weekday`` — the nonparametric omnibus twin: rank H
#   over doubled midranks from the merged value histogram (the
#   mann_whitney machinery generalized from 2 to k groups),
#   tie-corrected.
# - ``weekday_status_cramers_v`` — χ² independence + Cramér's V over
#   the FIXED 7×3 weekday × status contingency table (the status
#   domain is pinned by the fact derivation, sources/events.py).
#
# Shared policy: groups are FIXED literals (Mon→Sun, Allowed/Blocked/
# Other), so every statistic is one map-side-combined aggregate whose
# fp tail is a fixed left-associative chain over exact integer moments
# (BIGINT / DECIMAL(38,0) in Spark, BIGINT / HUGEINT in DuckDB) — no
# fold CTEs needed, the welch_day_night convention at k groups. The
# oracle SQL below is GENERATED so the chain order is identical-by-
# construction to the Column expressions in operators/stattests.py.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# weekday_anova_reply
# ---------------------------------------------------------------------------


def _anova_a_chain() -> str:
    """The Mon→Sun left-associative between-group chain Σ S_g²/n_g."""
    s = "0.0"
    for i in range(7):
        s += (
            f" + CASE WHEN n{i} > 0 THEN "
            f"CAST(CAST(s{i} AS HUGEINT) * s{i} AS DOUBLE) "
            f"/ CAST(n{i} AS DOUBLE) ELSE 0.0 END"
        )
    return s


def _k_chain(prefix: str, count: int) -> str:
    s = "CAST(0"
    for i in range(count):
        s += f" + CASE WHEN {prefix}{i} > 0 THEN 1 ELSE 0 END"
    return s + " AS BIGINT)"


def _anova_sql() -> str:
    per_day = ",\n    ".join(
        f"CAST(count(*) FILTER (WHERE day_name = '{d}') AS BIGINT) AS n{i},\n"
        f"    CAST(coalesce(sum(r) FILTER (WHERE day_name = '{d}'), 0)"
        f" AS BIGINT) AS s{i}"
        for i, d in enumerate(_WEEKDAYS)
    )
    a = _anova_a_chain()
    return (
        FACT_CTE
        + f"""
, m AS (
  SELECT CAST(round(reply_time * 1000) AS BIGINT) AS r, day_name
  FROM fact WHERE reply_time IS NOT NULL
), agg AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_total,
    CAST(coalesce(sum(r), 0) AS BIGINT) AS s_total,
    CAST(coalesce(sum(CAST(r * r AS DECIMAL(38,0))), 0)
         AS DECIMAL(38,0)) AS q_total,
    {per_day}
  FROM m
), der AS (
  SELECT n_total, s_total, CAST(q_total AS DOUBLE) AS q_total,
    {_k_chain('n', 7)} AS k_groups,
    CASE WHEN n_total > 0 THEN ({a})
      - CAST(s_total AS DOUBLE) * CAST(s_total AS DOUBLE)
        / CAST(n_total AS DOUBLE) END AS ssb,
    CASE WHEN n_total > 0 THEN CAST(q_total AS DOUBLE) - ({a}) END AS ssw
  FROM agg
)
SELECT n_total, k_groups, s_total, q_total,
  round(ssb, 6) AS ssb, round(ssw, 6) AS ssw,
  round(CASE WHEN k_groups > 1 AND n_total > k_groups AND ssw > 0 THEN
    (ssb / (CAST(k_groups AS DOUBLE) - 1.0))
    / (ssw / (CAST(n_total AS DOUBLE) - CAST(k_groups AS DOUBLE)))
  END, 6) AS f_stat
FROM der
"""
    )


@register("weekday_anova_reply", _anova_sql())
def q_weekday_anova_reply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across weekday reply-time groups
    (operators/stattests.py:weekday_anova_reply)."""
    return stattests.weekday_anova_reply(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# kruskal_wallis_weekday
# ---------------------------------------------------------------------------


def _kw_b_chain() -> str:
    s = "0.0"
    for i in range(7):
        s += (
            f" + CASE WHEN n{i} > 0 THEN "
            f"CAST(r2_{i} * r2_{i} AS DOUBLE) / CAST(n{i} AS DOUBLE) "
            f"ELSE 0.0 END"
        )
    return s


def _kw_sql() -> str:
    per_day_hist = ",\n    ".join(
        f"CAST(count(*) FILTER (WHERE day_name = '{d}') AS BIGINT) AS c{i}"
        for i, d in enumerate(_WEEKDAYS)
    )
    per_day_sums = ",\n    ".join(
        f"CAST(sum(c{i}) AS BIGINT) AS n{i},\n"
        f"    sum(CAST(c{i} AS HUGEINT) * mr2) AS r2_{i}"
        for i in range(7)
    )
    b = _kw_b_chain()
    nd = "CAST(n_total AS DOUBLE)"
    h = f"3.0 * ({b}) / ({nd} * ({nd} + 1.0)) - 3.0 * ({nd} + 1.0)"
    c_corr = (
        f"1.0 - CAST(ties_t AS DOUBLE) / ({nd} * {nd} * {nd} - {nd})"
    )
    return (
        FACT_CTE
        + f"""
, m AS (
  SELECT CAST(round(reply_time * 1000) AS BIGINT) AS v, day_name
  FROM fact WHERE reply_time IS NOT NULL
), hist AS (
  SELECT v, CAST(count(*) AS BIGINT) AS f,
    {per_day_hist}
  FROM m GROUP BY v
), ranked AS (
  SELECT *,
    CAST(2 * coalesce(sum(f) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + f + 1 AS BIGINT) AS mr2
  FROM hist
), agg AS (
  SELECT
    CAST(coalesce(sum(f), 0) AS BIGINT) AS n_total,
    sum(CAST(f AS HUGEINT) * f * f - f) AS ties_t,
    {per_day_sums}
  FROM ranked
)
SELECT n_total,
  {_k_chain('n', 7)} AS k_groups,
  CAST(ties_t AS DOUBLE) AS ties_t,
  round(CASE WHEN {_k_chain('n', 7)} > 1 AND n_total > 1 THEN {h} END, 6)
    AS h_stat,
  round(CASE WHEN {_k_chain('n', 7)} > 1 AND n_total > 1
             AND ({c_corr}) > 0
        THEN ({h}) / ({c_corr}) END, 6) AS h_corrected
FROM agg
"""
    )


@register("kruskal_wallis_weekday", _kw_sql())
def q_kruskal_wallis_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis rank H across weekday reply-time groups
    (operators/stattests.py:kruskal_wallis_weekday)."""
    return stattests.kruskal_wallis_weekday(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# weekday_status_cramers_v
# ---------------------------------------------------------------------------


def _cv_chain() -> str:
    s = "0.0"
    for i in range(7):
        for j in range(3):
            d = (
                f"CAST(CAST(n_total AS HUGEINT) * o{i}_{j} "
                f"- CAST(r{i} AS HUGEINT) * c{j} AS DOUBLE)"
            )
            rc = f"CAST(CAST(r{i} AS HUGEINT) * c{j} AS DOUBLE)"
            s += (
                f" + CASE WHEN r{i} > 0 AND c{j} > 0 THEN "
                f"{d} * {d} / {rc} ELSE 0.0 END"
            )
    return s


def _cv_sql() -> str:
    rows = ",\n    ".join(
        f"CAST(count(*) FILTER (WHERE day_name = '{d}') AS BIGINT) AS r{i}"
        for i, d in enumerate(_WEEKDAYS)
    )
    cols = ",\n    ".join(
        f"CAST(count(*) FILTER (WHERE status_type = '{s}') AS BIGINT) AS c{j}"
        for j, s in enumerate(_STATUSES)
    )
    cells = ",\n    ".join(
        f"CAST(count(*) FILTER (WHERE day_name = '{d}'"
        f" AND status_type = '{s}') AS BIGINT) AS o{i}_{j}"
        for i, d in enumerate(_WEEKDAYS)
        for j, s in enumerate(_STATUSES)
    )
    chain = _cv_chain()
    nd = "CAST(n_total AS DOUBLE)"
    kk = _k_chain("r", 7)
    mm = _k_chain("c", 3)
    mind = f"CAST(least({kk} - 1, {mm} - 1) AS DOUBLE)"
    ok = f"{kk} > 1 AND {mm} > 1 AND n_total > 0"
    return (
        FACT_CTE
        + f"""
, agg AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_total,
    {rows},
    {cols},
    {cells}
  FROM fact
)
SELECT n_total,
  {kk} AS k_weekdays,
  {mm} AS m_statuses,
  round(CASE WHEN {ok} THEN ({chain}) / {nd} END, 6) AS chi2,
  round(CASE WHEN {ok} THEN
    sqrt((({chain}) / {nd}) / ({nd} * {mind})) END, 6) AS cramers_v
FROM agg
"""
    )


@register("weekday_status_cramers_v", _cv_sql())
def q_weekday_status_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence + Cramér's V over the 7×3 weekday × status
    table (operators/stattests.py:weekday_status_cramers_v)."""
    return stattests.weekday_status_cramers_v(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Effect sizes + spectral seasonality (both oracle-checked):
#
# - ``day_night_effect_panel`` — the 2×2 blocked-rate effect panel
#   (pooled two-proportion z, risk ratio, odds ratio) between Day and
#   Night; ratios as single divisions over exact cross products.
# - ``weekly_periodogram`` — periodogram lines at the weekly frequency
#   family (harmonics k = 1..3 of period 7): the spectral companion of
#   acf_daily_counts. Order-free by construction — the trig sums
#   collapse over idx mod 7 into seven exact integer masses first, then
#   a fixed 7-term chain of literal cos/sin values (computed once
#   driver-side, embedded identically in both engines — the
#   plane_signs literal discipline).
#
# The oracle SQL is GENERATED so chain order and literals match the
# Column expressions by construction (the M59 protocol).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# day_night_effect_panel
# ---------------------------------------------------------------------------

_P_POOLED = (
    "((CAST(x1 AS DOUBLE) + CAST(x2 AS DOUBLE))"
    " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))"
)

_EFFECT_SQL = (
    FACT_CTE
    + f"""
, agg AS (
  SELECT
    CAST(count(*) FILTER (WHERE day_period = 'Day') AS BIGINT) AS n1,
    CAST(count(*) FILTER (WHERE day_period = 'Day'
         AND status_type = 'Blocked') AS BIGINT) AS x1,
    CAST(count(*) FILTER (WHERE day_period = 'Night') AS BIGINT) AS n2,
    CAST(count(*) FILTER (WHERE day_period = 'Night'
         AND status_type = 'Blocked') AS BIGINT) AS x2
  FROM fact
)
SELECT n1, x1, n2, x2,
  round(CASE WHEN n1 > 0 AND n2 > 0 AND x1 + x2 > 0
             AND x1 + x2 < n1 + n2 THEN
    (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
     - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
    / sqrt({_P_POOLED} * (1.0 - {_P_POOLED})
           * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
  END, 6) AS z_stat,
  round(CASE WHEN n1 > 0 AND n2 > 0 AND x2 > 0 THEN
    CAST(CAST(x1 AS HUGEINT) * n2 AS DOUBLE)
    / CAST(CAST(x2 AS HUGEINT) * n1 AS DOUBLE)
  END, 6) AS risk_ratio,
  round(CASE WHEN n1 > 0 AND n2 > 0 AND x2 > 0 AND x1 < n1 THEN
    CAST(CAST(x1 AS HUGEINT) * (n2 - x2) AS DOUBLE)
    / CAST(CAST(x2 AS HUGEINT) * (n1 - x1) AS DOUBLE)
  END, 6) AS odds_ratio
FROM agg
"""
)


@register("day_night_effect_panel", _EFFECT_SQL)
def q_day_night_effect_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z + risk/odds ratios for the Day-vs-Night
    blocked rate (operators/stattests.py:day_night_effect_panel)."""
    return stattests.day_night_effect_panel(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# weekly_periodogram
# ---------------------------------------------------------------------------

_PG_HARMONICS = 3


def _pg_chain(k: int, fn) -> str:
    s = "0.0"
    for m in range(7):
        s += f" + CAST(g{m} AS DOUBLE) * ({fn(2.0 * math.pi * k * m / 7.0)!r})"
    return s


def _pg_sql(harmonics: int = _PG_HARMONICS) -> str:
    gs = ",\n    ".join(
        f"coalesce(sum(CAST(c AS HUGEINT)) FILTER (WHERE m = {m}), 0)"
        f" AS g{m}"
        for m in range(7)
    )
    selects = []
    for k in range(1, harmonics + 1):
        c = _pg_chain(k, math.cos)
        s = _pg_chain(k, math.sin)
        selects.append(
            f"""
SELECT CAST({k} AS BIGINT) AS harmonic, n AS n_days,
  CAST(den AS DOUBLE) AS den,
  round({c}, 6) AS cos_sum, round({s}, 6) AS sin_sum,
  round(CASE WHEN n > 1 AND den > 0 THEN
    (({c}) * ({c}) + ({s}) * ({s}))
    / (CAST(n AS DOUBLE) * CAST(den AS DOUBLE)) END, 9) AS power_share
FROM base"""
        )
    return (
        FACT_CTE
        + f"""
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s,
         min(date) AS d0
  FROM daily
), d AS (
  SELECT CAST(date_diff('day', d0, date) % 7 AS INTEGER) AS m,
         CAST(n * y - s AS BIGINT) AS c
  FROM daily, tot
), g AS (
  SELECT coalesce(sum(CAST(c AS HUGEINT) * c), 0) AS den,
    {gs}
  FROM d
), base AS MATERIALIZED (SELECT g.*, tot.n FROM g, tot)
"""
        + "\nUNION ALL".join(selects)
        + "\nORDER BY harmonic"
    )


@register("weekly_periodogram", _pg_sql())
def q_weekly_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram lines at the weekly harmonics
    (operators/stattests.py:weekly_periodogram)."""
    return stattests.weekly_periodogram(_fact(spark, sf_dir), _PG_HARMONICS)


# ---------------------------------------------------------------------------
# Head-drift audit (oracle-checked):
#
# ``topk_domain_stability`` — set-stability of the top-10 domains
# between the two halves of the date range; pinned (cnt DESC, domain
# ASC) tie-break, integer Jaccard ppm, one-row-on-empty contract.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# topk_domain_stability
# ---------------------------------------------------------------------------

_TK_K = 10

_TK_SQL = (
    FACT_CTE
    + f"""
, b AS (SELECT min(date) AS d0, max(date) AS d1 FROM fact),
h1 AS (
  SELECT domain FROM (
    SELECT domain, CAST(count(*) AS BIGINT) AS cnt
    FROM fact, b
    WHERE date < d0 + to_days(CAST(date_diff('day', d0, d1) // 2
                                   AS INTEGER))
    GROUP BY domain ORDER BY cnt DESC, domain LIMIT {_TK_K})
),
h2 AS (
  SELECT domain FROM (
    SELECT domain, CAST(count(*) AS BIGINT) AS cnt
    FROM fact, b
    WHERE date >= d0 + to_days(CAST(date_diff('day', d0, d1) // 2
                                    AS INTEGER))
    GROUP BY domain ORDER BY cnt DESC, domain LIMIT {_TK_K})
),
s AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM h1) AS n_first,
         (SELECT CAST(count(*) AS BIGINT) FROM h2) AS n_second,
         (SELECT CAST(count(*) AS BIGINT) FROM h1
          WHERE domain IN (SELECT domain FROM h2)) AS n_common
)
SELECT CAST({_TK_K} AS BIGINT) AS k, n_first, n_second, n_common,
  CASE WHEN n_first + n_second - n_common > 0 THEN
    n_common * 1000000 // (n_first + n_second - n_common) END
  AS jaccard_ppm
FROM s
"""
)


@register("topk_domain_stability", _TK_SQL)
def q_topk_domain_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 domain set stability between date-range halves
    (operators/anomaly.py:topk_domain_stability)."""
    return anomaly.topk_domain_stability(_fact(spark, sf_dir), _TK_K)


# ---------------------------------------------------------------------------
# Tail-index estimation (oracle-checked):
#
# ``domain_tail_hill`` — the Hill estimator over the top-k domain
# popularity counts: the quantitative heavy-tail diagnostic behind
# every salting/AQE-skew decision (domain_skew_report gives the
# concentration shares; this gives the POWER-LAW EXPONENT). The Σ of k
# ln terms is a left fold over ONE sorted array under the pinned
# (cnt DESC, domain ASC) order, mirrored by list_reduce — the
# transcendental budget is k ln's per query (the dp/renyi2 line),
# never per event row.
# ---------------------------------------------------------------------------

_HILL_K = 50

_HILL_SQL = (
    FACT_CTE
    + f"""
, top AS (
  SELECT domain, CAST(count(*) AS BIGINT) AS cnt
  FROM fact GROUP BY domain
  ORDER BY cnt DESC, domain LIMIT {_HILL_K + 1}
), nd AS (
  SELECT CAST(count(DISTINCT domain) AS BIGINT) AS n_domains FROM fact
), arr AS (
  SELECT list(struct_pack(neg := -cnt, domain := domain, cnt := cnt)
              ORDER BY -cnt, domain) AS a
  FROM top
), der AS (
  SELECT
    len(a) AS sz,
    CAST(a[{_HILL_K + 1}].cnt AS DOUBLE) AS xk1,
    list_reduce(
      list_transform(a[1:{_HILL_K}],
        x -> ln(CAST(x.cnt AS DOUBLE)
                / CAST(a[{_HILL_K + 1}].cnt AS DOUBLE))),
      (acc, t) -> acc + t) AS s
  FROM arr
)
SELECT nd.n_domains,
  CAST({_HILL_K} AS BIGINT) AS k,
  CAST(CASE WHEN sz = {_HILL_K + 1} THEN xk1 END AS BIGINT) AS x_kplus1,
  round(CASE WHEN sz = {_HILL_K + 1}
        THEN s / {float(_HILL_K)!r} END, 6) AS hill_mean,
  round(CASE WHEN sz = {_HILL_K + 1} AND s > 0
        THEN 1.0 / (s / {float(_HILL_K)!r}) END, 6) AS alpha_hat
FROM der, nd
"""
)


@register("domain_tail_hill", _HILL_SQL)
def q_domain_tail_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimate over top-50 domain counts
    (operators/skew.py:domain_tail_hill)."""
    return skew.domain_tail_hill(_fact(spark, sf_dir), _HILL_K)
