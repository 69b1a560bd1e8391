"""M24 — weighted-sampling / graph-census wave:

- ``weighted_sample_wor`` — deterministic priority sampling without
  replacement over ``documents`` (Duffield-Lund-Thorup priorities in
  exact integer arithmetic, weight = n_chars): the RNG-free,
  auditable "sample big docs more" primitive of a curation pipeline.
- ``domain_cograph_triangles`` — triangle census + global clustering
  coefficient of the domain co-occurrence graph under a top-decile
  support cut — the ordered node-iterator (a<b<c) join, all counts
  exact BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import corpus, graph
from piholelongtermstats_spark.plans.registry import _docs, _fact, register
from piholelongtermstats_spark.sources.events import FACT_CTE


_WSAMPLE_SQL = """
SELECT doc_id,
       greatest(CAST(n_chars AS BIGINT), 1) AS weight,
       (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 8))::BIGINT
        * 1000000000) // greatest(CAST(n_chars AS BIGINT), 1) AS priority
FROM documents
ORDER BY priority, doc_id
LIMIT 25
"""


@register("weighted_sample_wor", _WSAMPLE_SQL)
def q_weighted_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling WOR, weight = n_chars, k = 25
    (operators/corpus.py)."""
    return corpus.weighted_sample_wor(_docs(spark, sf_dir), k=25)


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
