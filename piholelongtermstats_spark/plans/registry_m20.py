"""M20 — fuzzy-match & regression wave:

- ``domain_typo_pairs`` — SymSpell deletion-neighborhood blocking
  (Garbe 2012 / FastSS) + exact Levenshtein re-score. The ORACLE is
  the brute-force all-pairs scan, so a green row PROVES the blocking
  scheme's completeness guarantee (d<=1 pairs always share a deletion
  variant) on real data rather than arguing it.
- ``daily_trend_slope`` — OLS over the daily count series via
  exact-integer sufficient statistics; slope/intercept/r² are each
  one double division of exact BIGINTs.
- ``basket_scale_2x`` — association rules at 2× volume (fact ∪
  client-renamed fact) with the support gate scaled alongside
  (min_support 6 = 2·3 — relative support is the scale-invariant
  notion): every support count exactly doubles while confidence and
  lift are INVARIANT (n·c_ab/(c_a·c_b) = 2n·2c/(2a·2b)) — the
  doubling methodology extended to ratio measures, oracle recomputed
  on the doubled input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import basket, fuzzy, timeagg
from piholelongtermstats_spark.plans.registry import _fact, register
from piholelongtermstats_spark.sources.events import FACT_CTE

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
