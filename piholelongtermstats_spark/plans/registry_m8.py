r"""M8 registry: corpus-pipeline end-stage queries — dedup-survivor
materialization, deterministic sampling, TF-IDF, and benchmark
decontamination — over the `documents` table, each with DuckDB oracle
SQL (same md5-based cross-engine hash primitive as M7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import corpus, dedup
from piholelongtermstats_spark.operators.text import STOPWORDS
from piholelongtermstats_spark.plans.registry import register
from piholelongtermstats_spark.plans.registry_m7 import (
    _SHINGLE_CTE,
    _SIG_CTE,
    _docs,
    _pairs,
    _shingles,
    _star_clusters,
)

# Shared 60-bit md5 hash, DuckDB side (mirrors text.md5_hash60).
_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# LSH bucket keys → candidate pairs → symmetric edge closure, the same
# block _CLUSTERS_ORACLE inlines (banding layout pinned to
# dedup.NUM_PERMS/BAND_SIZE via _SIG_CTE's perm count).
_EDGE_CTES = """
, keys AS (
  SELECT doc_id, perm // 4 AS band,
         string_agg(minhash::VARCHAR, ',' ORDER BY perm) AS band_key
  FROM sig GROUP BY doc_id, band
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keys a
  JOIN keys b ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), lab AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
"""


@register(
    "dedup_survivors",
    (_SHINGLE_CTE + _SIG_CTE).replace("WITH tk AS", "WITH RECURSIVE tk AS", 1)
    + _EDGE_CTES
    + """
SELECT d.doc_id,
       coalesce(l.cluster_id, d.doc_id) AS cluster_id,
       CAST(coalesce(l.cluster_id, d.doc_id) = d.doc_id AS BIGINT) AS kept
FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
""",
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy-dedup materialization: LSH pairs → connected
    components → one canonical survivor per cluster, full corpus
    labeled (doc_id, cluster_id, kept)."""
    docs = _docs(spark, sf_dir)
    clusters = _star_clusters(spark, sf_dir)
    return corpus.dedup_survivors(docs, clusters)


@register(
    "hash_sample",
    f"""
SELECT doc_id, lang, source
FROM documents
WHERE {_H60.format(x="doc_id::VARCHAR")} % 100 < 10
""",
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample by md5(doc_id) — rerunnable
    and engine-independent (the oracle literally selects the same
    rows)."""
    return corpus.hash_sample(_docs(spark, sf_dir), pct=10).select(
        "doc_id", "lang", "source"
    )


@register(
    "stratified_sample",
    f"""
SELECT doc_id, lang,
       CAST(row_number() OVER (
         PARTITION BY lang
         ORDER BY {_H60.format(x="doc_id::VARCHAR")}, doc_id
       ) AS INTEGER) AS rn
FROM documents
QUALIFY rn <= 20
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per language in deterministic hash order. The
    oracle is the naive single window; the Spark plan is the two-level
    (group, hash-bucket) tournament that avoids funneling a whole
    group through one task — identical output by the subset property
    (corpus.stratified_sample)."""
    return corpus.stratified_sample(_docs(spark, sf_dir), k=20, group="lang")


@register(
    "tfidf_top_terms",
    r"""
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id,
       CAST(row_number() OVER (
         PARTITION BY doc_id
         ORDER BY tf * ln(n_docs::DOUBLE / df) DESC, tf DESC, term ASC
       ) AS INTEGER) AS rank,
       term, tf, df,
       round(tf * ln(n_docs::DOUBLE / df), 6) AS score
FROM tf JOIN dfreq USING (term) CROSS JOIN n
QUALIFY rank <= 3
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document; ties broken (tf desc, term
    asc) so ranking never compares mathematically-equal floats."""
    return corpus.tfidf_top_terms(_docs(spark, sf_dir), k=3)


_SW_LIST = "'" + "','".join(STOPWORDS) + "'"


# Mix rates for the demo query; thresholds resolve to the SAME integer
# literals on both sides (int(r * 2^60) in Python, exact products of
# powers of two in SQL below).
_MIX_RATES = {"en": 0.25, "zh": 0.5, "de": 1.0, "fr": 0.75, "es": 0.0}


@register(
    "mix_sample",
    f"""
SELECT doc_id, lang, source
FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT <
      CASE lang
        WHEN 'de' THEN {int(1.0 * (1 << 60))}
        WHEN 'en' THEN {int(0.25 * (1 << 60))}
        WHEN 'es' THEN {int(0.0 * (1 << 60))}
        WHEN 'fr' THEN {int(0.75 * (1 << 60))}
        WHEN 'zh' THEN {int(0.5 * (1 << 60))}
        ELSE {1 << 60}
      END
""",
)
def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-mix reweighting: downsample en to 25%,
    zh to 50%, fr to 75%, drop es, keep de — hash acceptance, zero
    shuffle (corpus.mix_sample)."""
    return corpus.mix_sample(_docs(spark, sf_dir), _MIX_RATES).select(
        "doc_id", "lang", "source"
    )


@register(
    "corpus_delta",
    """
WITH prev AS (
  SELECT DISTINCT ('0x' || substr(md5(text), 1, 15))::BIGINT AS fingerprint
  FROM documents WHERE doc_id % 3 = 0
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM prev
  WHERE prev.fingerprint = ('0x' || substr(md5(d.text), 1, 15))::BIGINT
)
""",
)
def q_corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refresh demo: docs with doc_id % 3 == 0 stand in
    for the previous snapshot; the delta is every document whose
    CONTENT is not already in it (corpus.corpus_delta — left-anti on
    the fingerprint projection)."""
    docs = _docs(spark, sf_dir)
    prev = docs.filter("doc_id % 3 = 0")
    return corpus.corpus_delta(docs, prev).select("doc_id", "lang", "source")


@register(
    "doc_repetition",
    r"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
           AS grams
  FROM t
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS total_ngrams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS distinct_ngrams,
       CASE WHEN len(grams) > 0
            THEN (len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams)
            ELSE 0.0 END AS rep_ratio
FROM g
""",
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition signal; distinct counts come
    from one groupBy over the shared shingle cache, totals are pure
    token arithmetic (corpus.doc_repetition)."""
    return corpus.doc_repetition(
        _docs(spark, sf_dir), n=3, sh=_shingles(spark, sf_dir)
    )


@register(
    "corpus_build",
    rf"""
WITH t AS (
  SELECT doc_id, lang, text,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> '')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> ''),
                              x -> x IN ({_SW_LIST}))) AS BIGINT) AS sw
  FROM documents
), gated AS (
  SELECT doc_id, lang, text, n_tokens FROM t
  WHERE n_tokens >= 10 AND sw * 10 <= 6 * n_tokens
), surv AS (
  SELECT doc_id, lang, n_tokens FROM gated
  QUALIFY row_number() OVER (
    PARTITION BY ('0x' || substr(md5(text), 1, 15))::BIGINT
    ORDER BY doc_id
  ) = 1
)
SELECT doc_id, lang, n_tokens,
       CAST(row_number() OVER (
         PARTITION BY lang
         ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT, doc_id
       ) AS INTEGER) AS rn
FROM surv
QUALIFY rn <= 50
""",
)
def q_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-corpus build — quality gate, exact-
    fingerprint dedup, per-language stratified cap — as one Catalyst
    plan (corpus.corpus_build). Integer-only arithmetic end to end."""
    return corpus.corpus_build(_docs(spark, sf_dir), k_per_lang=50)


@register(
    "contamination_overlap",
    _SHINGLE_CTE
    + """
, bsh AS (
  SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 29 = 0
), bsize AS (
  SELECT bench_id, count(*) AS n_b FROM bsh GROUP BY 1
), inter AS (
  SELECT b.bench_id, c.doc_id, count(*) AS inter
  FROM bsh b JOIN sh c USING (shingle)
  WHERE c.doc_id % 29 <> 0
  GROUP BY 1, 2
), best AS (
  SELECT bench_id, doc_id, inter
  FROM inter
  QUALIFY row_number() OVER (
    PARTITION BY bench_id ORDER BY inter DESC, doc_id ASC
  ) = 1
)
SELECT s.bench_id,
       coalesce(b.doc_id, -1) AS best_match,
       round(coalesce(b.inter, 0)::DOUBLE / s.n_b, 6) AS overlap
FROM bsize s LEFT JOIN best b USING (bench_id)
""",
)
def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per benchmark doc (doc_id % 29 == 0),
    max 3-gram containment vs the non-benchmark corpus. The tiny
    benchmark shingle set is broadcast; the corpus streams map-side
    (corpus.contamination_overlap)."""
    return corpus.contamination_overlap(_shingles(spark, sf_dir), bench_mod=29)


# ---------------------------------------------------------------------------
# Dedup-at-scale proof (r3 VERDICT #8): the full fuzzy-dedup pipeline
# on a DOUBLED corpus, end to end, uncached — corpus ∪ id-shifted copy
# → shingles → MinHash → LSH banding → star-contraction components →
# survivors, as one run. The doubling is the oracle trick: every doc
# gains an exact twin (identical shingles ⇒ identical signatures ⇒
# a guaranteed banding collision), the twin joins its original's
# component, and min-id canonicalization always picks the ORIGINAL id
# (the shift is strictly positive). Hence the surviving id set of the
# doubled corpus EQUALS the single-corpus survivor set, and the entry
# is fully oracle-checked by the same recursive-CTE pipeline
# dedup_survivors uses — at 2× the Spark-side data volume.
# tests/test_clusters_star.py asserts the executed run spills zero
# bytes and funnels no stage through a single partition.
# ---------------------------------------------------------------------------

_SHIFT = 1 << 40  # far above any real doc_id; keeps BIGINT min-id order


@register(
    "dedup_scale_2x",
    (_SHINGLE_CTE + _SIG_CTE).replace("WITH tk AS", "WITH RECURSIVE tk AS", 1)
    + _EDGE_CTES
    + """
SELECT d.doc_id
FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
WHERE coalesce(l.cluster_id, d.doc_id) = d.doc_id
""",
    budget=(
        6.0,
        "end-to-end LSH -> star-contraction -> survivors"
        " over a deliberately DOUBLED corpus",
    ),
)
def q_dedup_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + _SHIFT).alias("doc_id"), "text")
    )
    sh2 = dedup.shingles(doubled)
    pairs = dedup.lsh_candidate_pairs(doubled, sh=sh2)
    clusters = dedup.duplicate_clusters_star(pairs)
    return (
        corpus.dedup_survivors(doubled, clusters)
        .filter(F.col("kept") == 1)
        .select("doc_id")
    )


# ---------------------------------------------------------------------------
# Span-level dedup (r5, beyond-reference): repeated-span removal — the
# line/paragraph-level pass a pretraining pipeline runs after
# document-level dedup (MassiveText repeated-passages / C4 span rule).
# Fixed 10-token chunks are the dedup unit on this single-line corpus;
# a chunk in >2 distinct docs is boilerplate and every occurrence is
# removed, documents reassembled in original order.
# ---------------------------------------------------------------------------

_SPAN = 10
_SPAN_MAX_DF = 2

@register(
    "span_dedup",
    rf"""
WITH tk AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> '') AS toks FROM documents
), chunks AS (
  SELECT doc_id, i AS pos,
         array_to_string(toks[(i*{_SPAN}+1):(i*{_SPAN}+{_SPAN})], ' ') AS chunk
  FROM tk, LATERAL unnest(
    generate_series(0, CAST(ceil(len(toks)/{_SPAN}.0) AS INT) - 1)) AS t(i)
), bad AS (
  SELECT chunk FROM chunks GROUP BY chunk
  HAVING count(DISTINCT doc_id) > {_SPAN_MAX_DF}
), kept AS (
  SELECT c.* FROM chunks c LEFT JOIN bad b USING (chunk) WHERE b.chunk IS NULL
), agg AS (
  SELECT doc_id, count(*) AS kept_spans,
         string_agg(chunk, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(ceil(len(list_filter(string_split_regex(trim(d.text), '\s+'), tk -> tk <> ''))/{_SPAN}.0) AS BIGINT)
         AS n_spans,
       CAST(coalesce(a.kept_spans, 0) AS BIGINT) AS kept_spans,
       CAST(ceil(len(list_filter(string_split_regex(trim(d.text), '\s+'), tk -> tk <> ''))/{_SPAN}.0) AS BIGINT)
         - CAST(coalesce(a.kept_spans, 0) AS BIGINT) AS removed_spans,
       coalesce(a.clean_text, '') AS clean_text
FROM documents d LEFT JOIN agg a USING (doc_id)
""",
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span removal over the shared corpus (corpus.span_dedup:
    explode is linear, chunk-df one hash shuffle, reassembly one
    per-doc groupBy)."""
    return corpus.span_dedup(
        _docs(spark, sf_dir), span=_SPAN, max_df=_SPAN_MAX_DF
    )


# ---------------------------------------------------------------------------
# Sequence packing (r5, beyond-reference): the concat-then-chunk
# manifest — a distributed prefix sum in doc_id order (two-level
# bucket scan; the only unpartitioned window runs over the per-bucket
# summary). Oracle is the direct global-window cumsum.
# ---------------------------------------------------------------------------

_SEQ_LEN = 512

@register(
    "pack_manifest",
    rf"""
WITH tk AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> '')) AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         CAST(sum(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM tk
)
SELECT doc_id, n_tok,
       cum - n_tok AS start_off,
       CAST(floor((cum - n_tok) / {_SEQ_LEN}.0) AS BIGINT) AS first_chunk,
       CAST(floor((cum - 1) / {_SEQ_LEN}.0) AS BIGINT) AS last_chunk
FROM c
""",
)
def q_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing manifest over the shared corpus
    (packing.concat_chunk_manifest — distributed two-level prefix
    sum; differential + plan tests in test_packing.py). The default
    id_bucket=64 fits the 500-5000-doc test corpora; production picks
    ≈ √|corpus| (packing.py docstring)."""
    from piholelongtermstats_spark.operators import packing

    return packing.concat_chunk_manifest(_docs(spark, sf_dir), seq_len=_SEQ_LEN)
