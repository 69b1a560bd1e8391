"""M29 — data-profiling + retrieval-serving wave:

- ``fd_violation_profile`` — g3 functional-dependency violation audit
  (Kivinen & Mannila 1995) over candidate lhs→rhs pairs, exact BIGINT
  counts + integer-ppm rates (operators/profiling.py).
- ``column_profile`` — per-column null/distinct/extrema dataset card,
  one Expand-planned scan (operators/profiling.py).
- ``vocab_growth_curve`` — per-day new + cumulative distinct domains
  (the Heaps-law curve; operators/profiling.py).
- ``mmr_rerank`` — Maximal Marginal Relevance diversity re-ranking
  over the cosine top-16 (Carbonell & Goldstein 1998), greedy fold
  entirely in catalyst; the oracle replays the greedy as a recursive
  CTE with the identical λ·rel − (1−λ)·maxsim IEEE step
  (operators/mmr.py).

All four DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import mmr, profiling
from piholelongtermstats_spark.plans.registry import _emb, _fact, register
from piholelongtermstats_spark.sources.events import FACT_CTE


def _fd_leg(lhs: str, rhs: str) -> str:
    return f"""
SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(tot) AS BIGINT) AS n_rows,
       CAST(sum(tot - mx) AS BIGINT) AS violations
FROM (
  SELECT {lhs}, sum(cnt) AS tot, max(cnt) AS mx
  FROM (
    SELECT {lhs}, {rhs}, CAST(count(*) AS BIGINT) AS cnt
    FROM fact GROUP BY 1, 2
  ) GROUP BY {lhs}
)"""


_FD_SQL = (
    FACT_CTE
    + ", legs AS ("
    + " UNION ALL ".join(_fd_leg(l, r) for l, r in profiling.FD_CANDIDATES)
    + """
)
SELECT lhs, rhs, n_groups, n_rows, violations,
       CAST(violations * 1000000 // n_rows AS BIGINT) AS violation_ppm,
       CAST(violations = 0 AS INT) AS holds
FROM legs
"""
)


@register("fd_violation_profile", _FD_SQL)
def q_fd_violation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g3 FD-violation audit over the candidate pairs
    (operators/profiling.py)."""
    return profiling.fd_violation_profile(_fact(spark, sf_dir))


def _profile_leg(c: str) -> str:
    return f"""
SELECT '{c}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       min({c}) AS min_value,
       max({c}) AS max_value
FROM fact"""


_PROFILE_SQL = (
    FACT_CTE
    + " UNION ALL ".join(_profile_leg(c) for c in profiling.PROFILE_COLS)
)


@register("column_profile", _PROFILE_SQL)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dataset-card profile (operators/profiling.py)."""
    return profiling.column_profile(_fact(spark, sf_dir))


_VOCAB_SQL = (
    FACT_CTE
    + """
, fs AS (SELECT domain, min(date) AS d FROM fact GROUP BY domain)
, npd AS (
  SELECT d, CAST(count(*) AS BIGINT) AS new_domains FROM fs GROUP BY d
)
, spine AS (SELECT DISTINCT date FROM fact)
SELECT s.date AS date,
       CAST(coalesce(n.new_domains, 0) AS BIGINT) AS new_domains,
       CAST(sum(coalesce(n.new_domains, 0))
            OVER (ORDER BY s.date) AS BIGINT) AS cum_domains
FROM spine s LEFT JOIN npd n ON n.d = s.date
"""
)


@register("vocab_growth_curve", _VOCAB_SQL)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law domain-vocabulary growth (operators/profiling.py)."""
    return profiling.vocab_growth_curve(_fact(spark, sf_dir))


_MMR_SQL = """
WITH RECURSIVE q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
), cand AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS rel,
         embedding::DOUBLE[] AS v
  FROM embeddings, q WHERE vec_id <> 0
  ORDER BY rel DESC, vec_id LIMIT 16
), pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         round(list_cosine_similarity(a.v, b.v), 6) AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
), sel AS (
  SELECT CAST(1 AS INT) AS pick_rank, f.vec_id AS vec_id, f.rel AS rel,
         [f.vec_id] AS ids
  FROM (SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1) f
  UNION ALL
  SELECT s.pick_rank + 1, nxt.vec_id, nxt.rel,
         list_append(s.ids, nxt.vec_id)
  FROM sel s, LATERAL (
    SELECT c.vec_id, c.rel
    FROM cand c WHERE NOT list_contains(s.ids, c.vec_id)
    ORDER BY 0.5 * c.rel - 0.5 * (
      SELECT max(p.sim) FROM pairs p
      WHERE p.ia = c.vec_id AND list_contains(s.ids, p.ib)
    ) DESC, c.vec_id
    LIMIT 1
  ) nxt
  WHERE s.pick_rank < 5
)
SELECT pick_rank, vec_id, rel FROM sel
"""


@register("mmr_rerank", _MMR_SQL)
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank of the cosine top-16, λ=0.5, k=5
    (operators/mmr.py)."""
    return mmr.mmr_rerank(
        _emb(spark, sf_dir), query_vec_id=0, n_cand=16, k=5, lam=0.5
    )
