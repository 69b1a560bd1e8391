"""M54 — governance release + interchange meta-audit:

- ``dp_noised_daily_counts`` — ε-DP Laplace release of the daily
  count series with the utility audit columns (deterministic
  inverse-CDF draws from the engine-wide md5 uniform; one ln per
  independent row).
- ``interchange_consistency_panel`` — the cross-format meta-audit:
  the SAME document subset read back through CSV, ORC and parquet
  must agree byte-for-byte (count / id-sum / order-independent text
  hash); all_match is computed INSIDE the Spark query, so the oracle
  hash can only match if all three source paths delivered identical
  data. One row ties the whole interchange matrix together.

Both DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import counts
from piholelongtermstats_spark.operators import text as _text
from piholelongtermstats_spark.plans.registry import _docs, _fact, register
from piholelongtermstats_spark.plans.registry_m32 import _CSV_MOD, _csv_root
from piholelongtermstats_spark.plans.registry_m50 import _orc_root
from piholelongtermstats_spark.sources import csvsource as _csv
from piholelongtermstats_spark.sources import orcsource as _orc
from piholelongtermstats_spark.sources.events import FACT_CTE

_DP_EPS_X1000 = 500  # epsilon = 0.5, scale b = 2.0 exactly

_DP_SQL = (
    FACT_CTE
    + f"""
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS true_cnt
  FROM fact GROUP BY date
), drawn AS (
  SELECT date, true_cnt,
    CAST(2 * (('0x' || substr(md5('dp1' || ':'
                   || strftime(date, '%Y-%m-%d')), 1, 15))::BIGINT
              % 1000000000) + 1 AS DOUBLE) / 2000000000.0 - 0.5 AS v
  FROM daily
), noised AS (
  SELECT date, true_cnt,
    (-(1000.0 / {_DP_EPS_X1000}.0)
     * (CASE WHEN v > 0 THEN CAST(1.0 AS DOUBLE)
             ELSE CAST(-1.0 AS DOUBLE) END))
    * ln(1.0 - 2.0 * abs(v)) AS noise
  FROM drawn
)
SELECT date, true_cnt,
  round(true_cnt + noise, 6) AS released,
  round(abs(noise), 6) AS abs_err
FROM noised ORDER BY date
"""
)


@register("dp_noised_daily_counts", _DP_SQL)
def q_dp_noised_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP Laplace release + utility audit of daily counts
    (operators/counts.py)."""
    return counts.dp_noised_daily_counts(
        _fact(spark, sf_dir), epsilon_x1000=_DP_EPS_X1000
    )


_HM = 1000000007

_IC_SQL = f"""
SELECT CAST(3 AS BIGINT) AS n_formats,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS id_sum,
  CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % {_HM})
       AS BIGINT) AS text_hashsum,
  CAST(1 AS INT) AS all_match
FROM documents
WHERE doc_id % {_CSV_MOD} <> 0
"""


@register("interchange_consistency_panel", _IC_SQL)
def q_interchange_consistency_panel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-format agreement audit: parquet vs ORC vs CSV on the
    common clean subset (the CSV export deterministically corrupts
    doc_id % {mod} rows, so the panel compares the survivors). The
    all_match flag is computed in-engine from the three legs — the
    oracle can only hash-match when every format round trip was
    byte-exact."""
    h = _text.md5_hash60(F.col("text")) % _HM

    def leg(df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum(h).cast("long").alias("text_hashsum"),
        )

    pq = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .filter(F.col("doc_id") % _CSV_MOD != 0)
    )
    good, _bad = _csv.read_documents_csv(spark, _csv_root(spark, sf_dir))
    csvd = good.select("doc_id", "text")
    orc = (
        _orc.read_documents_orc(spark, _orc_root(spark, sf_dir))
        .select("doc_id", "text")
        .filter(F.col("doc_id") % _CSV_MOD != 0)
    )
    three = leg(pq).unionByName(leg(csvd)).unionByName(leg(orc))
    return three.agg(
        F.count(F.lit(1)).cast("long").alias("n_formats"),
        F.max("n_docs").alias("n_docs"),
        F.max("id_sum").alias("id_sum"),
        F.max("text_hashsum").alias("text_hashsum"),
        (
            F.countDistinct("n_docs", "id_sum", "text_hashsum") == 1
        ).cast("int").alias("all_match"),
    )
