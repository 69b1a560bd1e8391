"""M15 — sketch-audit + data-mixture completion wave:

- ``cms_domain_estimates``  Count-Min sketch point estimates audited
  against exact counts (Cormode & Muthukrishnan 2005; portable
  md5-chunk hashing so the sketch itself is oracle-checkable).
- ``bloom_contamination``   Bloom-filter decontamination with the
  false-positive count MEASURED against the exact join (Bloom 1970).
- ``unimax_allocation``     UniMax language-balanced budget waterfill
  (Chung et al. 2023, arXiv:2304.09151) — integer-exact capped set,
  one final division, scale-invariant data-derived budget.
- ``kneser_ney_counts``     KN continuation statistics (Kneser & Ney
  1995) — the distinct-context counts a KN-smoothed LM needs.
- ``embedding_dim_stats``   per-dimension whitening stats over
  quantize-once integers (the fp-policy trick that makes cross-row
  float aggregation hash-exact).
- ``embedding_pca_project`` rows-only PCA projection (driver-side
  d x d eig on a distributed BLAS Gramian; numpy-differential-pinned
  in tests/test_m15.py — the trained-quantizer protocol).

Every sketch entry reports its error against the exact answer in the
same row (over_cnt >= 0, n_false_pos) — the measured-not-argued
discipline of the ANN recall curves applied to frequency/membership
sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import bloom, freq, lm, mixture, pca
from piholelongtermstats_spark.plans.registry import (
    FACT_CTE,
    _docs,
    _emb,
    _fact,
    register,
)
from piholelongtermstats_spark.plans.registry_m14 import _lm_bigrams

# ---------------------------------------------------------------------------
# Count-Min sketch audit (operators/freq.py): the top-10 exact domains
# probed against the d=4 x w=1024 grid. over_cnt >= 0 row-for-row is
# the CMS upper-bound guarantee, checked by the oracle re-deriving the
# identical grid in SQL. At 100 TB the grid is d*w counters per task
# (map-side combined) — fixed state at any key cardinality, the tier
# below Misra-Gries candidates when even k*P candidate rows is too
# much.
# ---------------------------------------------------------------------------

_CMS_SQL = (
    FACT_CTE
    + """
, rows_r AS (SELECT unnest(generate_series(0, 3)) AS r),
ex AS (
  SELECT domain, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM fact GROUP BY domain
  ORDER BY exact_cnt DESC, domain LIMIT 10),
sk AS (
  SELECT r, ('0x' || substr(md5(domain), 1 + 8*r, 8))::BIGINT % 1024 AS b,
         CAST(count(*) AS BIGINT) AS cnt
  FROM fact, rows_r GROUP BY 1, 2),
est AS (
  SELECT e.domain, CAST(min(sk.cnt) AS BIGINT) AS cms_cnt
  FROM ex e, rows_r r
  JOIN sk ON sk.r = r.r
  WHERE sk.b = ('0x' || substr(md5(e.domain), 1 + 8*r.r, 8))::BIGINT % 1024
  GROUP BY 1)
SELECT e.domain AS domain, e.exact_cnt, est.cms_cnt,
       est.cms_cnt - e.exact_cnt AS over_cnt
FROM ex e JOIN est USING (domain)
ORDER BY exact_cnt DESC, domain
"""
)


@register("cms_domain_estimates", _CMS_SQL)
def q_cms_domain_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = _fact(spark, sf_dir)
    sketch = freq.cms_sketch(fact, "domain")
    exact = (
        fact.groupBy("domain")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "domain")
        .limit(10)
    )
    est = freq.cms_estimate(sketch, exact.select("domain"), "domain")
    return (
        exact.join(est, "domain")
        .select(
            "domain",
            "exact_cnt",
            "cms_cnt",
            (F.col("cms_cnt") - F.col("exact_cnt")).alias("over_cnt"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# Bloom decontamination audit (operators/bloom.py). bench = the
# contamination_overlap benchmark convention (doc_id % 29 == 0); the
# corpus is the FULL table, so bench docs are genuine exact
# duplicates and the no-false-negative half of the contract carries
# real mass (n_flagged == n_exact_dup + n_false_pos). The filter is
# deliberately undersized (m=128 bits, k=4) so false positives also
# occur at sf0.01 and the audit row PROVES the one-sided-error
# contract instead of reporting zeros.
# ---------------------------------------------------------------------------

_BLOOM_M = 128

_BLOOM_SQL = f"""
WITH hs AS (SELECT unnest(generate_series(0, 3)) AS j),
bench AS (SELECT DISTINCT text FROM documents WHERE doc_id % 29 = 0),
corp  AS (SELECT DISTINCT text FROM documents),
bits AS (
  SELECT DISTINCT ('0x' || substr(md5(text), 1 + 8*j, 8))::BIGINT % {_BLOOM_M}
    AS bit
  FROM bench, hs),
cpos AS (
  SELECT corp.text,
         ('0x' || substr(md5(text), 1 + 8*j, 8))::BIGINT % {_BLOOM_M} AS bit
  FROM corp, hs),
fl AS (
  SELECT text,
         (count(*) = sum(CASE WHEN bit IN (SELECT bit FROM bits)
                          THEN 1 ELSE 0 END)) AS flagged
  FROM cpos GROUP BY text),
au AS (
  SELECT flagged, (text IN (SELECT text FROM bench)) AS dup FROM fl)
SELECT CAST(count(*) AS BIGINT) AS n_corpus_keys,
       CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
       CAST(sum(CASE WHEN flagged AND NOT dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos
FROM au
"""


@register("bloom_contamination", _BLOOM_SQL)
def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 29 == 0)
    return bloom.bloom_contamination_audit(docs, bench, key="text", m=_BLOOM_M)


# ---------------------------------------------------------------------------
# UniMax allocation (operators/mixture.py). E=1, B = 3/4 of the corpus
# token mass — non-degenerate at every SF by construction (some
# languages cap, the rest waterfill). The whole decision path is
# BIGINT; alloc_tokens is the single division.
# ---------------------------------------------------------------------------

_UNIMAX_SQL = r"""
WITH tc AS (
  SELECT lang,
         CAST(sum(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  tk -> tk <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang),
s AS (
  SELECT lang, n_tokens, CAST(1 * n_tokens AS BIGINT) AS supply,
         CAST((3 * (SELECT sum(n_tokens) FROM tc)) // 4 AS BIGINT) AS b
  FROM tc),
r AS (
  SELECT lang, n_tokens, supply, b,
         row_number() OVER w AS i,
         CAST(sum(supply) OVER w AS BIGINT) AS p_i,
         count(*) OVER () AS n
  FROM s WINDOW w AS (ORDER BY supply ASC, lang ASC)),
f AS (
  SELECT *, (supply * (n - i + 1) <= b - (p_i - supply)) AS capped FROM r),
g AS (
  SELECT *,
         sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS k,
         CAST(sum(CASE WHEN capped THEN supply ELSE 0 END) OVER () AS BIGINT)
           AS p_k
  FROM f)
SELECT lang, n_tokens, supply, capped,
       CASE WHEN capped THEN CAST(supply AS DOUBLE)
            ELSE CAST(b - p_k AS DOUBLE) / CAST(n - k AS DOUBLE) END
         AS alloc_tokens
FROM g ORDER BY lang
"""


@register("unimax_allocation", _UNIMAX_SQL)
def q_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture.unimax_allocation(
        _docs(spark, sf_dir), budget_ratio=(3, 4), max_epochs=1
    )


# ---------------------------------------------------------------------------
# Kneser-Ney continuation counts (operators/lm.py) — rides the shared
# persisted bigram stream the other LM queries use.
# ---------------------------------------------------------------------------

_KN_SQL = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')
           AS toks
  FROM documents),
bg AS (
  SELECT unnest(list_transform(
           generate_series(1, len(toks) - 1),
           i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
  FROM tk WHERE len(toks) >= 2),
bp AS (SELECT DISTINCT b.w1 AS w1, b.w2 AS w2 FROM bg),
lft AS (SELECT w2 AS w, CAST(count(*) AS BIGINT) AS cont_left
        FROM bp GROUP BY 1),
rgt AS (SELECT w1 AS w, CAST(count(*) AS BIGINT) AS cont_right
        FROM bp GROUP BY 1),
uni AS (SELECT unnest(toks) AS w FROM tk),
uc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM uni GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS d FROM bp)
SELECT uc.w AS w, uc.cnt,
       CAST(coalesce(lft.cont_left, 0) AS BIGINT) AS cont_left,
       CAST(coalesce(rgt.cont_right, 0) AS BIGINT) AS cont_right,
       CAST(coalesce(lft.cont_left, 0) AS DOUBLE) / CAST(tot.d AS DOUBLE)
         AS p_cont
FROM uc LEFT JOIN lft ON uc.w = lft.w LEFT JOIN rgt ON uc.w = rgt.w
CROSS JOIN tot
ORDER BY cont_left DESC, w
LIMIT 50
"""


@register("kneser_ney_counts", _KN_SQL)
def q_kneser_ney_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.kneser_ney_continuations(
        _docs(spark, sf_dir), bg=_lm_bigrams(spark, sf_dir), top_k=50
    )


# ---------------------------------------------------------------------------
# Embedding per-dimension whitening stats (operators/pca.py) — the
# quantize-once integer trick makes cross-row float aggregation
# hash-exact (same fp-policy line as the DSIR bucket counts).
# ---------------------------------------------------------------------------

_DIM_STATS_SQL = """
WITH dims AS (SELECT unnest(generate_series(0, 63)) AS dim),
el AS (
  SELECT dim,
         CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000000) AS BIGINT)
           AS xq
  FROM embeddings, dims)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(xq) AS BIGINT) AS sum_q,
       CAST(sum(xq * xq) AS BIGINT) AS sumsq_q,
       CAST(sum(xq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_q
FROM el GROUP BY dim ORDER BY dim
"""


@register("embedding_dim_stats", _DIM_STATS_SQL)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pca.embedding_dim_stats(_emb(spark, sf_dir)).select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        "sum_q",
        "sumsq_q",
        "mean_q",
    )


# ---------------------------------------------------------------------------
# PCA projection — ORACLE-CHECKED since r10 via the fixed-basis twin
# (r9 VERDICT #5, the ivf.fixed_centroids technique): the corpus is
# centered on its own per-dim means (replayed from the quantize-once
# integer stats above) and projected onto md5-derived Gram–Schmidt-
# orthonormalized literals, each pc a left-fold mirrored by
# list_reduce. The trained eigenbasis (pca.pca_project) stays the
# production path, pinned by the numpy differential in
# tests/test_m15.py — a static SQL string cannot re-train per corpus.
# ---------------------------------------------------------------------------

_PCA_K = 2
_PCA_DIM = 64


def _pca_fixed_col_sql(c: int) -> str:
    b = pca.fixed_basis(_PCA_K, _PCA_DIM)[c]
    lit = "[" + ",".join(repr(x) for x in b) + "]"
    return (
        f"round(list_reduce(list_transform(range(1, {_PCA_DIM + 1}), "
        f"i -> (CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) "
        f"- ml[CAST(i AS INTEGER)]) * "
        f"(({lit}::DOUBLE[])[CAST(i AS INTEGER)])), "
        f"(acc, x) -> acc + x), 6) AS pc{c + 1}"
    )


_PCA_FIXED_SQL = (
    f"""
WITH dims AS (SELECT unnest(generate_series(0, {_PCA_DIM - 1})) AS dim),
el AS (
  SELECT dim,
         CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000000) AS BIGINT)
           AS xq
  FROM embeddings, dims),
mu AS (
  SELECT dim,
         (CAST(sum(xq) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1000000.0
           AS m
  FROM el GROUP BY dim),
mus AS (SELECT list(m ORDER BY dim) AS ml FROM mu)
SELECT vec_id, """
    + ", ".join(_pca_fixed_col_sql(c) for c in range(_PCA_K))
    + " FROM embeddings, mus ORDER BY vec_id"
)


@register("embedding_pca_project", _PCA_FIXED_SQL)
def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered projection onto the fixed orthonormal basis
    (operators/pca.py:pca_fixed_project) — the oracle replays
    centering, multiply, fold, and round-6 bit-for-bit."""
    return pca.pca_fixed_project(_emb(spark, sf_dir), k=_PCA_K)
