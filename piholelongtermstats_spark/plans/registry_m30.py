"""M30 — index-quality + robust-scale wave:

- ``ann_eval_metrics`` — per-query recall@k / MRR audit of the
  cell-routed ANN against the exact k-NN join (operators/knn.py).
  Both legs are the already-oracle-checked knn_join / knn_join_ivf
  plans over the pinned spherical quantizer, so the audit itself is
  SQL-replayable decision-for-decision.
- ``robust_scale_2x`` — the M28 MAD outlier audit over the disjoint
  2× fact (original ∪ +64-day copy): a duplicated-multiset series
  must reproduce each day's med2/mad4/flag VERBATIM on both halves
  (robust statistics are multiset-invariant), and the oracle
  recomputes everything from the doubled CTE independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import knn, robust
from piholelongtermstats_spark.plans.registry import _DBL_CTE, _emb, _fact2x, register
from piholelongtermstats_spark.plans.registry_m9 import _SEM_CENTS
from piholelongtermstats_spark.plans.registry_m10 import _KNN_CENT_VALUES

_Q = knn.N_QUERIES
_K = knn.K
_P = knn.N_PROBE

_ANN_EVAL_SQL = f"""
WITH cent AS (SELECT * FROM (VALUES {_KNN_CENT_VALUES}) AS t(cell, c)),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {_Q}),
c0 AS (SELECT vec_id, embedding::DOUBLE[] AS v
       FROM embeddings WHERE vec_id >= {_Q}),
e AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id, row_number() OVER (
      PARTITION BY query_id
      ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id
    ) AS rank
    FROM c0 CROSS JOIN q) WHERE rank <= {_K}),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT c0.*, cent.cell, row_number() OVER (
      PARTITION BY vec_id
      ORDER BY list_cosine_similarity(v, cent.c) DESC, cent.cell) AS rn
    FROM c0 CROSS JOIN cent) WHERE rn = 1),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, cent.cell, row_number() OVER (
      PARTITION BY query_id
      ORDER BY list_cosine_similarity(qv, cent.c) DESC, cent.cell) AS rn
    FROM q CROSS JOIN cent) WHERE rn <= {_P}),
a AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT p.query_id, x.vec_id, row_number() OVER (
      PARTITION BY p.query_id
      ORDER BY round(list_cosine_similarity(x.v, p.qv), 6) DESC, x.vec_id
    ) AS rank
    FROM probes p JOIN assigned x USING (cell)) WHERE rank <= {_K}),
j AS (
  SELECT coalesce(e.query_id, a.query_id) AS query_id,
         e.rank AS e_rank, a.rank AS a_rank
  FROM e FULL OUTER JOIN a
    ON e.query_id = a.query_id AND e.vec_id = a.vec_id)
SELECT query_id,
  CAST({_K} AS BIGINT) AS k,
  CAST(count(CASE WHEN e_rank IS NOT NULL AND a_rank IS NOT NULL
             THEN 1 END) AS BIGINT) AS hits,
  CAST(count(CASE WHEN e_rank IS NOT NULL AND a_rank IS NOT NULL
             THEN 1 END) * 1000000 // {_K} AS BIGINT) AS recall_ppm,
  max(CASE WHEN e_rank = 1 THEN a_rank END) AS nn_rank,
  round(1.0 / CAST(max(CASE WHEN e_rank = 1 THEN a_rank END) AS DOUBLE), 6)
    AS rr
FROM j GROUP BY query_id
"""


@register("ann_eval_metrics", _ANN_EVAL_SQL)
def q_ann_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 / MRR of the pinned-quantizer cell-routed ANN vs the
    exact join, per query (operators/knn.py)."""
    return knn.ann_eval_metrics(_emb(spark, sf_dir), centroids=_SEM_CENTS)


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
