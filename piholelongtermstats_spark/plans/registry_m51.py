"""M51 — embedding-truncation eval + rank concordance:

- ``matryoshka_recall_eval`` — recall@k / MRR of truncated-dimension
  (MRL-style) cosine retrieval against the full-dimension exact k-NN;
  the quantization-eval triad (PQ/SQ8/binary) gains the zero-infra
  compression point every vector store offers.
- ``kendall_tau_volume_reply`` — Kendall's τ-b between daily volume
  and daily mean reply (cross-multiplied integer concordance; the
  sign-level companion of spearman_volume_reply).

Both DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import knn, stattests
from piholelongtermstats_spark.plans.registry import _emb, _fact, register
from piholelongtermstats_spark.sources.events import FACT_CTE

_MAT_DIM = 16

_MAT_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {knn.N_QUERIES}),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id >= {knn.N_QUERIES}),
sf AS (SELECT query_id, vec_id,
              round(list_cosine_similarity(v, qv), 6) AS cosine
       FROM c CROSS JOIN q),
ef AS (SELECT query_id, vec_id, rank FROM (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         FROM sf) t
       WHERE rank <= {knn.K}),
st AS (SELECT query_id, vec_id,
              round(list_cosine_similarity(v[1:{_MAT_DIM}],
                                           qv[1:{_MAT_DIM}]), 6) AS cosine
       FROM c CROSS JOIN q),
et AS (SELECT query_id, vec_id, rank FROM (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         FROM st) t
       WHERE rank <= {knn.K}),
j AS (SELECT coalesce(ef.query_id, et.query_id) AS query_id,
             ef.rank AS e_rank, et.rank AS a_rank
      FROM ef FULL OUTER JOIN et
        ON ef.query_id = et.query_id AND ef.vec_id = et.vec_id)
SELECT query_id, dim, k, hits,
       CAST(hits * 1000000 // k AS BIGINT) AS recall_ppm,
       nn_rank, round(1.0 / CAST(nn_rank AS DOUBLE), 6) AS rr
FROM (
  SELECT query_id, CAST({_MAT_DIM} AS BIGINT) AS dim,
         CAST({knn.K} AS BIGINT) AS k,
         CAST(count(*) FILTER (WHERE e_rank IS NOT NULL
                                 AND a_rank IS NOT NULL) AS BIGINT) AS hits,
         CAST(max(CASE WHEN e_rank = 1 THEN a_rank END) AS BIGINT) AS nn_rank
  FROM j GROUP BY query_id)
ORDER BY query_id
"""


@register("matryoshka_recall_eval", _MAT_SQL)
def q_matryoshka_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension retrieval audit vs the exact k-NN
    (operators/knn.py)."""
    return knn.matryoshka_recall_eval(_emb(spark, sf_dir), _MAT_DIM)


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
