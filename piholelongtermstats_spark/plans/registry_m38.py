"""M38 — behavioral-anomaly / series-diagnostics / index-quality wave:

- ``ccf_status_daily`` — cross-correlation between the daily Blocked
  and Allowed series at lags −7..7 (the two-series complement of
  acf_daily_counts), n²-cleared all-integer numerators.
- ``runs_test_daily`` — Wald–Wolfowitz runs test on the daily
  above/below-median sequence: is volume random or streaky?
- ``rolling_range_bands`` — the CALENDAR (RANGE) variant of the
  trailing Bollinger envelope: gaps in the date series shrink the
  window instead of silently stretching it (tests pin a gapped
  fixture where ROWS ≠ RANGE).
- ``client_profile_distance`` — per-client hour-of-day profile L1
  deviation from the fleet profile, exact cross-multiplied ppm.
- ``shrunk_block_rates`` — pseudo-count-shrunk per-client block
  rates (the small-n-safe "most blocked clients" ranking).
- ``semdedup_cell_margins`` — simplified-silhouette audit of the
  SemDeDup cells (the eval the dedup/ANN tiers already have, for the
  clustering tier): per-cell assignment margins in integer ppm.
- ``client_rank_metrics_ranged`` — the billion-client two-level rank
  kernel (operators/ranks.py) checked directly against the SAME
  oracle as the single-window variant: the driver verifies the
  distributed kernel, not just the window function.

All seven DuckDB-oracle-checked; every ordering/threshold decision is
exact integer arithmetic (the engine-wide policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import behavior, ranks, robust, semdedup, stattests
from piholelongtermstats_spark.plans.registry import _emb, _fact, register
from piholelongtermstats_spark.plans.registry_m9 import _SEM_CENT_VALUES
from piholelongtermstats_spark.plans.registry_m31 import _RANKS_SQL
from piholelongtermstats_spark.sources.events import FACT_CTE

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

_PROFILE_SQL = (
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


@register("client_profile_distance", _PROFILE_SQL)
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


_MARGINS_SQL = f"""
WITH cent AS (SELECT * FROM (VALUES {_SEM_CENT_VALUES}) AS t(cell, c)),
v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT v.vec_id, cent.cell,
         CAST(round(list_cosine_similarity(v.v, cent.c) * 1000000)
              AS BIGINT) AS ppm
  FROM v CROSS JOIN cent),
ranked AS (
  SELECT vec_id, cell, ppm,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY ppm DESC, cell) AS rn
  FROM scored),
per_vec AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN cell END) AS cell,
         max(CASE WHEN rn = 1 THEN ppm END) AS a_ppm,
         max(CASE WHEN rn > 1 THEN ppm END) AS b_ppm
  FROM ranked GROUP BY vec_id)
SELECT cell,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(a_ppm - b_ppm) AS BIGINT) AS sum_margin_ppm,
       CAST(min(a_ppm - b_ppm) AS BIGINT) AS min_margin_ppm,
       round(CAST(sum(a_ppm - b_ppm) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS mean_margin_ppm
FROM per_vec GROUP BY cell ORDER BY cell
"""


@register("semdedup_cell_margins", _MARGINS_SQL)
def q_semdedup_cell_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell SemDeDup assignment-margin audit (simplified
    silhouette), integer ppm (operators/semdedup.py)."""
    from piholelongtermstats_spark.plans.registry_m9 import _SEM_CENTS

    return semdedup.semdedup_cell_margins(_emb(spark, sf_dir), _SEM_CENTS)


@register("client_rank_metrics_ranged", _RANKS_SQL)
def q_client_rank_metrics_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-level range-partitioned rank kernel, checked against
    the SAME oracle as client_rank_metrics — the driver verifies the
    distributed formulation directly (operators/ranks.py)."""
    return ranks.client_rank_metrics_ranged(_fact(spark, sf_dir))
