"""M50 — portmanteau test, survival doubling proof, ORC interchange:

- ``ljung_box_daily`` — Ljung–Box white-noise Q over daily counts at
  lags 1..7 (n²-cleared exact ρ numerators; ascending-k fold twin).
- ``survival_scale_2x`` — Kaplan–Meier over the client-doubled fact:
  risk/event/censor counts exactly double while the survival curve is
  BIT-IDENTICAL ((2n−2d)/(2n) and (n−d)/n are the same correctly-
  rounded double) — checked against the direct oracle on the doubled
  input, invariance pinned in tests/test_m50.py.
- ``orc_ingest_check`` — columnar interchange round-trip audit
  (sources/orcsource.py): the ORC read path must deliver the same
  counts/ids/chars/text-hash sums as the parquet source for a pushed-
  down doc_id predicate; stripe pushdown + column pruning are plan-
  asserted in tests/test_orc_source.py.

All three DuckDB-oracle-checked.
"""

from __future__ import annotations

import hashlib as _hashlib
import os as _os
import tempfile as _tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import stattests, survival
from piholelongtermstats_spark.operators import text as _text
from piholelongtermstats_spark.plans.registry import _docs, _fact, register
from piholelongtermstats_spark.sources import orcsource as _orc
from piholelongtermstats_spark.sources.events import FACT_CTE

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


_ORC_MOD = 3
_ORC_READY: set = set()


def _orc_root(spark: SparkSession, sf_dir: str) -> str:
    digest = _hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = _os.path.join(
        _tempfile.gettempdir(),
        "phlts_orc",
        f"{spark.sparkContext.applicationId}-{digest}",
    )
    key = (spark.sparkContext.applicationId, root)
    if key not in _ORC_READY:
        _orc.write_documents_orc(_docs(spark, sf_dir), root)
        _ORC_READY.add(key)
    return root


_ORC_SQL = f"""
SELECT
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS id_sum,
  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
  CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007)
       AS BIGINT) AS text_hashsum
FROM documents
WHERE doc_id % {_ORC_MOD} = 0
"""


@register("orc_ingest_check", _ORC_SQL)
def q_orc_ingest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip audit of the ORC export against the parquet source
    for a pushed-down predicate subset (sources/orcsource.py)."""
    root = _orc_root(spark, sf_dir)
    back = _orc.read_documents_orc(spark, root).filter(
        F.col("doc_id") % _ORC_MOD == 0
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("chars_sum"),
        F.sum(_text.md5_hash60(F.col("text")) % 1000000007).alias(
            "text_hashsum"
        ),
    )
