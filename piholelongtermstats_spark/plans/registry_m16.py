"""M16 — SQL-surface + layout-infrastructure + training-pairs wave:

- ``status_hour_cube``       CUBE multi-granularity aggregate with
  grouping-id disambiguation — the one canonical grouping surface
  (ROLLUP landed in registry.py as activity_rollup_hierarchy) the
  suite had not yet covered.
- ``reply_range_boundaries`` balanced range-partitioner boundaries
  from the exact value histogram (the input a sorted/z-ordered
  layout writer needs; integer cross-multiplied rank rule).
- ``contrastive_negatives``  deterministic sampled-negative pairs for
  contrastive training — broadcast pool, md5 picks, zero corpus
  shuffle.
- ``ppl_bucket_split``       CCNet head/middle/tail perplexity split
  per language (arXiv:1911.00359) — rows-only by the fp policy
  (ln inside the proxy), numpy-differential-pinned in
  tests/test_m16.py; the cut points use the exact histogram-ECDF
  rank rule, never a global ntile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import approx, corpus, lm
from piholelongtermstats_spark.plans.registry import FACT_CTE, _docs, _fact, register
from piholelongtermstats_spark.plans.registry_m14 import _lm_bigrams

# ---------------------------------------------------------------------------
# CUBE (status_type, hour): all four granularities in ONE pass with
# partial aggregation (Spark expands the grouping sets before the
# exchange, so the shuffle carries <= 4x the distinct-group rows —
# grand totals included — never 4 scans). gid is composed explicitly
# as grouping(a)*2 + grouping(b) so the bit order is pinned
# cross-engine rather than relying on each engine's grouping_id
# convention.
# ---------------------------------------------------------------------------

_CUBE_SQL = (
    FACT_CTE
    + """
SELECT status_type, CAST(hour AS BIGINT) AS hour,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(grouping(status_type) * 2 + grouping(hour) AS BIGINT) AS gid
FROM fact
GROUP BY CUBE (status_type, hour)
"""
)


@register("status_hour_cube", _CUBE_SQL)
def q_status_hour_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact = _fact(spark, sf_dir)
    return fact.cube("status_type", "hour").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        (F.grouping("status_type") * 2 + F.grouping("hour"))
        .cast("long")
        .alias("gid"),
    ).select("status_type", F.col("hour").cast("long").alias("hour"), "cnt", "gid")


# ---------------------------------------------------------------------------
# Balanced range boundaries over reply_time (operators/approx.py).
# 8 buckets → 7 boundaries; reply_time repeats heavily (the
# data-card-measured 5.6x histogram compression), so quantize_to is
# not needed here — the enforcement parameter exists for
# quasi-continuous metrics.
# ---------------------------------------------------------------------------

_BOUNDS_SQL = (
    FACT_CTE
    + """
, h AS (
  SELECT reply_time AS val, count(*) AS cnt
  FROM fact WHERE reply_time IS NOT NULL GROUP BY 1),
c AS (
  SELECT val,
         CAST(sum(cnt) OVER (ORDER BY val) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM h),
b AS (SELECT unnest(generate_series(1, 7)) AS bucket)
SELECT CAST(b.bucket AS BIGINT) AS bucket, min(val) AS boundary
FROM c JOIN b ON c.cum * 8 >= b.bucket * c.n
GROUP BY 1 ORDER BY bucket
"""
)


@register("reply_range_boundaries", _BOUNDS_SQL)
def q_reply_range_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return approx.range_boundaries(_fact(spark, sf_dir), "reply_time", 8)


# ---------------------------------------------------------------------------
# Contrastive negative sampling (operators/corpus.py).
# ---------------------------------------------------------------------------

_NEG_SQL = """
WITH pool AS (
  SELECT doc_id AS neg_doc_id,
         row_number() OVER (ORDER BY doc_id) - 1 AS idx
  FROM documents
  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 5 = 0),
pn AS (SELECT count(*) AS pn FROM pool),
js AS (SELECT unnest(generate_series(1, 4)) AS j),
picks AS (
  SELECT d.doc_id, j.j,
         ('0x' || substr(md5(d.doc_id::VARCHAR || ':' || j.j::VARCHAR),
                         1, 15))::BIGINT % (SELECT pn FROM pn) AS idx
  FROM documents d, js j)
SELECT p.doc_id, CAST(p.j AS BIGINT) AS j, pool.neg_doc_id
FROM picks p JOIN pool USING (idx)
WHERE pool.neg_doc_id <> p.doc_id
ORDER BY doc_id, j
"""


@register("contrastive_negatives", _NEG_SQL)
def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.contrastive_negatives(_docs(spark, sf_dir), k=4, pool_mod=5).select(
        "doc_id", F.col("j").cast("long").alias("j"), "neg_doc_id"
    )


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (operators/lm.py) — graduated from
# rows-only in r11 (r10 VERDICT #5): lm_model's logp now lives on the
# exact DECIMAL(20,12) grid, so each doc's avg_logprob is exact-
# decimal-sum ÷ count (one division of identical doubles in both
# engines), ppl_q is the dim-stats round(x·10⁶) quantization of it,
# and the per-language nearest-rank thirds plus the bucket labels are
# pure integer decisions. tests/test_m16.py keeps the pure-Python
# differential as defense in depth.
# ---------------------------------------------------------------------------

_PPL_SQL = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')
           AS toks
  FROM documents),
bgp AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(toks) - 1),
           i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
  FROM tk WHERE len(toks) >= 2),
bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bgp),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM (
    SELECT unnest(toks) AS w FROM tk) GROUP BY w),
vv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM bg GROUP BY w1, w2),
model AS (
  SELECT big.w1, big.w2,
         CAST(ln(CAST(big.c12 + 1 AS DOUBLE))
            - ln(CAST(uni.c1 + vv.v AS DOUBLE)) AS DECIMAL(20,12)) AS logp
  FROM big JOIN uni ON big.w1 = uni.w, vv),
perdoc AS (
  SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(model.logp) AS DOUBLE) AS logprob_sum
  FROM bg JOIN model USING (w1, w2) GROUP BY bg.doc_id),
scored AS (
  SELECT d.doc_id, d.lang,
         CASE WHEN coalesce(p.n_bigrams, 0) > 0
              THEN CAST(round(-(p.logprob_sum / p.n_bigrams) * 1000000)
                        AS BIGINT)
         END AS ppl_q
  FROM documents d LEFT JOIN perdoc p USING (doc_id)),
hist AS (
  SELECT lang, ppl_q, CAST(count(*) AS BIGINT) AS cnt
  FROM scored WHERE ppl_q IS NOT NULL GROUP BY lang, ppl_q),
h AS (
  SELECT lang, ppl_q,
         CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY ppl_q
                             ROWS BETWEEN UNBOUNDED PRECEDING AND
                             CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
  FROM hist),
cuts AS (
  SELECT lang,
         min(CASE WHEN cum * 3 >= n THEN ppl_q END) AS t1,
         min(CASE WHEN cum * 3 >= 2 * n THEN ppl_q END) AS t2
  FROM h GROUP BY lang)
SELECT s.doc_id, s.lang, s.ppl_q,
       CASE WHEN s.ppl_q IS NULL THEN 'empty'
            WHEN s.ppl_q <= c.t1 THEN 'head'
            WHEN s.ppl_q <= c.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s LEFT JOIN cuts c USING (lang)
ORDER BY s.doc_id
"""


@register("ppl_bucket_split", _PPL_SQL)
def q_ppl_bucket_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return lm.ppl_buckets(docs, bg=_lm_bigrams(spark, sf_dir))


# ---------------------------------------------------------------------------
# Expression-level JSON extraction — the semi-structured SQL surface
# (the props column is a JSON object; jsonl.py covers file-level JSON
# ingestion, this covers in-row path extraction). get_json_object is
# a JVM expression (no Python); the DuckDB twin is the ->> path
# operator. Aggregates stay integer-exact.
# ---------------------------------------------------------------------------

_JSON_SQL = """
WITH ev AS (
  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k
  FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(k) AS BIGINT) AS n_parsed,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM ev GROUP BY event_type ORDER BY event_type
"""


@register("json_props_stats", _JSON_SQL)
def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from piholelongtermstats_spark.session import ensure_session_defaults
    from piholelongtermstats_spark.sources.parquet import load_table

    ensure_session_defaults(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("k").cast("long").alias("n_parsed"),
            F.sum("k").cast("long").alias("sum_k"),
            F.countDistinct("k").cast("long").alias("n_distinct_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# Language-ID confusion matrix — the in-engine EVALUATION of the
# lang_id classifier against the table's ground-truth labels (the
# audit discipline applied to a classifier: its quality is a query,
# not a claim). Reuses lang_id's oracle as a derived table.
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import text as _text  # noqa: E402
from piholelongtermstats_spark.plans.registry_m7 import _lang_oracle  # noqa: E402

_CONFUSION_SQL = f"""
SELECT actual_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM ({_lang_oracle()}) q
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("langid_confusion", _CONFUSION_SQL)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _text.lang_id(_docs(spark, sf_dir))
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# PMI collocations (operators/lm.py): ranking is by exact-integer
# lift products with ONE rounded division — no logarithm needed for
# the order, so the classic "collocation extraction" op stays fully
# oracle-checkable.
# ---------------------------------------------------------------------------

_PMI_SQL = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')
           AS toks
  FROM documents),
uni AS (SELECT unnest(toks) AS w FROM tk),
uc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM uni GROUP BY 1),
nt AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM uc),
bg AS (
  SELECT unnest(list_transform(
           generate_series(1, len(toks) - 1),
           i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
  FROM tk WHERE len(toks) >= 2),
bc AS (
  SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT bc.w1, bc.w2, bc.c12, u1.cnt AS c1, u2.cnt AS c2,
       round(CAST(bc.c12 * nt.n_total AS DOUBLE)
             / CAST(u1.cnt * u2.cnt AS DOUBLE), 6) AS lift
FROM bc
JOIN uc u1 ON bc.w1 = u1.w
JOIN uc u2 ON bc.w2 = u2.w
CROSS JOIN nt
ORDER BY lift DESC, w1, w2
LIMIT 50
"""


@register("pmi_top_bigrams", _PMI_SQL)
def q_pmi_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.pmi_top_bigrams(
        _docs(spark, sf_dir), bg=_lm_bigrams(spark, sf_dir), min_count=5, top_k=50
    )


# ---------------------------------------------------------------------------
# OOV rate (operators/lm.py): vocab_size=10 against the 31-word
# synthetic vocabulary so the rates are non-degenerate at every SF
# (a 1000-word vocab would swallow the whole corpus and report 0.0
# everywhere — the same non-degeneracy reasoning as UniMax's
# data-derived budget).
# ---------------------------------------------------------------------------

_OOV_SQL = r"""
WITH tk AS (
  SELECT lang,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')
           AS toks
  FROM documents),
uni AS (SELECT lang, unnest(toks) AS w FROM tk),
uc AS (SELECT w, count(*) AS cnt FROM uni GROUP BY 1),
vocab AS (SELECT w FROM uc ORDER BY cnt DESC, w LIMIT 10)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END)
            AS BIGINT) AS n_oov,
       CAST(sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
FROM uni GROUP BY lang ORDER BY lang
"""


@register("oov_rate", _OOV_SQL)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm.oov_rate(_docs(spark, sf_dir), vocab_size=10)


# ---------------------------------------------------------------------------
# Exact duplicated-substring dedup over overlapping windows
# (operators/corpus.py, Lee et al. 2021) — the alignment-free
# strengthening of span_dedup; k=8 carries real duplicate mass at
# every SF (47 docs hit at sf0.01).
# ---------------------------------------------------------------------------

_ESD_K = 8

_ESD_SQL = rf"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')
           AS toks
  FROM documents),
ws AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(0, len(toks) - {_ESD_K}),
           i -> {{'p': i,
                  'win': array_to_string(
                           list_slice(toks, i + 1, i + {_ESD_K}), ' ')}})) AS s
  FROM tk WHERE len(toks) >= {_ESD_K}),
w AS (SELECT doc_id, s.p AS p, s.win AS win FROM ws),
dup AS (
  SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT w.doc_id, unnest(generate_series(w.p, w.p + {_ESD_K} - 1))
           AS pos
  FROM w JOIN dup USING (win)),
tks AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len(toks)),
           i -> {{'pos': i - 1, 'wd': toks[i]}})) AS s
  FROM tk),
toku AS (SELECT doc_id, s.pos AS pos, s.wd AS wd FROM tks),
kept AS (
  SELECT t.doc_id, t.pos, t.wd
  FROM toku t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.doc_id IS NULL),
re AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
         string_agg(wd, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(list_filter(string_split_regex(trim(d.text), '\s+'),
                            t -> t <> '')) AS BIGINT) AS n_tokens,
       CAST(coalesce(re.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       CAST(len(list_filter(string_split_regex(trim(d.text), '\s+'),
                            t -> t <> ''))
            - coalesce(re.kept_tokens, 0) AS BIGINT) AS removed_tokens,
       coalesce(re.clean_text, '') AS clean_text
FROM documents d LEFT JOIN re ON d.doc_id = re.doc_id
ORDER BY d.doc_id
"""


@register("exact_substring_dedup", _ESD_SQL)
def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.exact_substring_dedup(_docs(spark, sf_dir), k=_ESD_K)
