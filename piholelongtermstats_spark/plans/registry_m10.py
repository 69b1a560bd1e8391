r"""M10 registry: round-5 (late) additions — the batched k-NN join
(exact + cell-routed) and the per-source corpus data card.

Shared conventions as registry_m7/m9: pinned md5-derived quantizer
constants are embedded in the oracle SQL as literals; cosine scores
are rounded to 6 digits before any rank/threshold decision; integer
sums are CAST to BIGINT in the oracle (DuckDB sum() yields HUGEINT,
which pandas would widen to float) and divided at most once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import corpus, knn
from piholelongtermstats_spark.plans.registry import _docs, _emb, register
from piholelongtermstats_spark.plans.registry_m9 import _SEM_CENTS, _arr

# ---------------------------------------------------------------------------
# Batched k-NN join (operators/knn.py) — top-k neighbors for EVERY
# query in a query block. The exact path is the correctness baseline;
# the cell-routed path reuses the SemDeDup spherical quantizer (same
# pinned centroids ⇒ the oracle reproduces corpus assignment, probe
# selection, and the rank cut decision-for-decision).
# ---------------------------------------------------------------------------

_KNN_Q = knn.N_QUERIES
_KNN_K = knn.K
_KNN_PROBE = knn.N_PROBE

_KNN_JOIN_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {_KNN_Q}),
c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id >= {_KNN_Q}),
s AS (SELECT query_id, vec_id, label,
             round(list_cosine_similarity(v, qv), 6) AS cosine
      FROM c CROSS JOIN q)
SELECT query_id, rank, vec_id, label, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM s) t
WHERE rank <= {_KNN_K}
ORDER BY query_id, rank
"""


@register("knn_join", _KNN_JOIN_SQL)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact batched k-NN join: top-5 corpus neighbors for each of the
    8 lowest-id query vectors (WindowGroupLimit rank cut)."""
    return knn.knn_join(_emb(spark, sf_dir))


_KNN_CENT_VALUES = ",".join(f"({i}, {_arr(c)})" for i, c in enumerate(_SEM_CENTS))


def _knn_ivf_search_body(cent: str = "cent") -> str:
    """Cell-routed batched k-NN search tail over any spherical
    centroid relation ``{cent}(cell, c)`` — shared by the pinned and
    trained-replay oracles. Assumes a CTE ``corp(vec_id, label, v)``
    over the corpus half is in scope."""
    return f""",
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {_KNN_Q}),
assigned AS (
  SELECT vec_id, label, v, cell FROM (
    SELECT corp.*, {cent}.cell, row_number() OVER (
      PARTITION BY vec_id
      ORDER BY list_cosine_similarity(v, {cent}.c) DESC, {cent}.cell) AS rn
    FROM corp CROSS JOIN {cent}) WHERE rn = 1),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, {cent}.cell, row_number() OVER (
      PARTITION BY query_id
      ORDER BY list_cosine_similarity(qv, {cent}.c) DESC, {cent}.cell) AS rn
    FROM q CROSS JOIN {cent}) WHERE rn <= {_KNN_PROBE}),
s AS (SELECT p.query_id, a.vec_id, a.label,
             round(list_cosine_similarity(a.v, p.qv), 6) AS cosine
      FROM probes p JOIN assigned a USING (cell))
SELECT query_id, rank, vec_id, label, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM s) t
WHERE rank <= {_KNN_K}
ORDER BY query_id, rank
"""


_KNN_CORP_CTE = f"""corp AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id >= {_KNN_Q})"""

_KNN_JOIN_IVF_SQL = (
    f"""
WITH {_KNN_CORP_CTE},
cent AS (SELECT * FROM (VALUES {_KNN_CENT_VALUES}) AS t(cell, c))"""
    + _knn_ivf_search_body()
)


@register("knn_join_ivf", _KNN_JOIN_IVF_SQL)
def q_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-routed batched k-NN join over the pinned spherical
    quantizer: each query scans only its 4 probe cells."""
    return knn.knn_join_ivf(_emb(spark, sf_dir), centroids=_SEM_CENTS)


# Trained-path oracle (r10 VERDICT #4): 3 spherical Lloyd iterations
# over the corpus half (vec_id >= N_QUERIES — queries never train the
# index), replayed as unrolled CTEs, then the identical search body.
from piholelongtermstats_spark.operators import semdedup as _sd  # noqa: E402
from piholelongtermstats_spark.plans.oracle_train import (  # noqa: E402
    lloyd_cents_ctes,
)

_KNN_TR_SQL = (
    f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_KNN_CORP_CTE},"""
    + lloyd_cents_ctes(
        "t_",
        n_cells=_sd.N_CLUSTERS,
        n_iters=_sd.N_ITERS,
        dim=64,
        metric="cos",
        pred=f"vec_id >= {_KNN_Q}",
    )
    + _knn_ivf_search_body("t_cent")
)


@register("knn_join_ivf_trained", _KNN_TR_SQL)
def q_knn_join_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production path — spherical k-means trained on the corpus
    (session-cached like the IVF/PQ quantizers), then the identical
    probe/rank machinery. Recall vs the exact join is pytest-asserted
    (tests/test_knn.py). Oracle-checked since r11 via the unrolled
    Lloyd replay (oracle_train.py)."""
    from pyspark.sql import functions as F

    from piholelongtermstats_spark.operators import ivf, semdedup

    emb = _emb(spark, sf_dir)
    key = (spark.sparkContext.applicationId, "knn_sph_cents", sf_dir)
    cents = ivf._CENTROID_CACHE.get(key)
    if cents is None:
        cents = semdedup.train_spherical_centroids(
            emb.filter(F.col("vec_id") >= knn.N_QUERIES)
        )
        ivf._CENTROID_CACHE[key] = cents
    return knn.knn_join_ivf(emb, centroids=cents)


# ---------------------------------------------------------------------------
# Per-source data card (operators/corpus.py:source_data_card) —
# histogram-exact median, integer-exact totals, one division each for
# the mean/median.
# ---------------------------------------------------------------------------

_DATA_CARD_SQL = r"""
WITH t AS (
  SELECT source, lang, text, n_chars,
         len(list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> ''))::BIGINT AS n_toks
  FROM documents),
scal AS (
  SELECT source,
         count(*) AS n_docs,
         count(DISTINCT text) AS n_unique_texts,
         count(DISTINCT lang) AS n_langs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens
  FROM t GROUP BY source),
hist AS (SELECT source, n_chars, count(*) AS cnt
         FROM t GROUP BY source, n_chars),
h AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY source ORDER BY n_chars
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY source) AS n
  FROM hist),
med AS (
  SELECT source,
         CAST(sum(CASE WHEN cum - cnt < floor((n+1)/2.0)
                        AND floor((n+1)/2.0) <= cum THEN n_chars ELSE 0 END)
            + sum(CASE WHEN cum - cnt < floor((n+2)/2.0)
                        AND floor((n+2)/2.0) <= cum THEN n_chars ELSE 0 END)
              AS BIGINT) / 2.0 AS median_chars
  FROM h GROUP BY source)
SELECT s.source, n_docs, n_unique_texts, n_langs, total_chars, total_tokens,
       CAST(total_chars AS DOUBLE) / n_docs AS avg_chars, median_chars
FROM scal s JOIN med USING (source) ORDER BY s.source
"""


@register("data_card_panel", _DATA_CARD_SQL)
def q_data_card_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source datasheet row: doc/unique/lang counts, char+token
    totals, mean and histogram-exact median document length."""
    return corpus.source_data_card(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Z-order clustered scan (sources/zorder.py) — the multi-dimensional
# layout proof: the SAME [client, time-window] drill-down the
# reference serves (db.py:133 passes client= into the range query),
# executed against the Morton-clustered layout where BOTH predicate
# dimensions prune row groups through ordinary column min/max stats.
# The oracle runs on the flat table — layout must never change results.
# ---------------------------------------------------------------------------

import datetime as _dt  # noqa: E402

from pyspark.sql import functions as _F  # noqa: E402

from piholelongtermstats_spark.sources.events import FACT_CTE  # noqa: E402

_Z_CLIENT = 7
_Z_LO = _dt.datetime(2024, 1, 10)
_Z_HI = _dt.datetime(2024, 1, 18)

_ZORDER_SQL = FACT_CTE + f"""
SELECT status_type,
       count(*) AS n,
       CAST(sum(event_id) AS BIGINT) AS event_id_sum
FROM fact
WHERE client = '{_Z_CLIENT}'
  AND ts >= TIMESTAMP '{_Z_LO:%Y-%m-%d %H:%M:%S}'
  AND ts <  TIMESTAMP '{_Z_HI:%Y-%m-%d %H:%M:%S}'
GROUP BY status_type
ORDER BY status_type
"""


@register("zorder_scan_pruned", _ZORDER_SQL)
def q_zorder_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Client + 8-day-window status rollup over the z-ordered layout;
    both predicates reach the parquet reader and prune via the tight
    per-file min/max the Morton sort created (measured in
    tests/test_zorder.py: client-equality reads ~2.5× fewer rows than
    the time-sorted baseline, time windows still prune ~3×)."""
    from piholelongtermstats_spark.sources import zorder

    path = zorder.ensure_zorder_layout(spark, sf_dir)
    df = zorder.scan_events_zordered(
        spark, path, client_id=_Z_CLIENT, lo=_Z_LO, hi=_Z_HI
    )
    return (
        df.groupBy("status_type")
        .agg(
            _F.count("*").alias("n"),
            _F.sum("event_id").alias("event_id_sum"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# k-NN join doubling scale proof — the dedup_scale_2x methodology
# (registry_m8) applied to the BATCHED join tier: the cell-routed
# k-NN join over embeddings ∪ an id-shifted exact copy. Claim proven
# by the plan: assignment stays map-side (twice the rows, no new
# shuffle), the probe relation is unchanged (queries come from the
# original block), the candidate slice doubles, and the rank cut
# still moves only ~k rows per query. The doubling identity is exact:
# every unique vector appears twice at the same rounded cosine, and
# the vec_id tie-break (originals < offset twins) makes the doubled
# top-2k the exact top-k originals each paired with its twin
# (tests/test_knn.py pins it).
# ---------------------------------------------------------------------------

_KNN2X_OFFSET = 1_000_000
_KNN2X_K = 2 * _KNN_K

_KNN_SCALE_2X_SQL = f"""
WITH cent AS (SELECT * FROM (VALUES {{cents}}) AS t(cell, c)),
base AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {_KNN2X_OFFSET}, label, embedding::DOUBLE[] FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < {_KNN_Q}),
c0 AS (SELECT vec_id, label, v FROM base WHERE vec_id >= {_KNN_Q}),
assigned AS (
  SELECT vec_id, label, v, cell FROM (
    SELECT c0.*, cent.cell, row_number() OVER (
      PARTITION BY vec_id
      ORDER BY list_cosine_similarity(v, cent.c) DESC, cent.cell) AS rn
    FROM c0 CROSS JOIN cent) WHERE rn = 1),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, cent.cell, row_number() OVER (
      PARTITION BY query_id
      ORDER BY list_cosine_similarity(qv, cent.c) DESC, cent.cell) AS rn
    FROM q CROSS JOIN cent) WHERE rn <= {_KNN_PROBE}),
s AS (SELECT p.query_id, a.vec_id, a.label,
             round(list_cosine_similarity(a.v, p.qv), 6) AS cosine
      FROM probes p JOIN assigned a USING (cell))
SELECT query_id, rank, vec_id, label, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM s) t
WHERE rank <= {_KNN2X_K}
ORDER BY query_id, rank
""".format(cents=_KNN_CENT_VALUES)


@register("knn_scale_2x", _KNN_SCALE_2X_SQL)
def q_knn_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-routed batched k-NN join over the doubled corpus (top-2k
    per query) — scale proof for the batched join tier."""
    from piholelongtermstats_spark.plans.registry_m9 import doubled_embeddings

    return knn.knn_join_ivf(
        doubled_embeddings(_emb(spark, sf_dir), _KNN2X_OFFSET),
        k=_KNN2X_K,
        centroids=_SEM_CENTS,
    )


# ---------------------------------------------------------------------------
# Semantic benchmark contamination (semdedup.semantic_contamination)
# — the embedding-space leg of decontamination beside the lexical
# contamination_overlap. Same pinned spherical quantizer as the
# SemDeDup/knn oracles; per-bench argmax ties pinned (cosine DESC,
# train_id ASC).
# ---------------------------------------------------------------------------

_SEMCON_MOD = 10

_SEMCON_SQL = f"""
WITH cent AS (SELECT * FROM (VALUES {_KNN_CENT_VALUES}) AS t(cell, c)),
v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT v.*, cent.cell, row_number() OVER (
      PARTITION BY vec_id
      ORDER BY list_cosine_similarity(v, cent.c) DESC, cent.cell) AS rn
    FROM v CROSS JOIN cent) WHERE rn = 1),
b AS (SELECT vec_id AS bench_id, cell, v AS bv FROM assigned
      WHERE vec_id % {_SEMCON_MOD} = 0),
t AS (SELECT vec_id AS train_id, cell, v AS tv FROM assigned
      WHERE vec_id % {_SEMCON_MOD} <> 0),
p AS (SELECT bench_id, train_id,
             round(list_cosine_similarity(bv, tv), 6) AS cosine
      FROM t JOIN b USING (cell))
SELECT bench_id, train_id, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY bench_id ORDER BY cosine DESC, train_id) AS rn
  FROM p) WHERE rn = 1
ORDER BY bench_id
"""


@register("semantic_contamination", _SEMCON_SQL)
def q_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-vector nearest training vector by cosine,
    cell-bounded over the pinned spherical quantizer."""
    from piholelongtermstats_spark.operators import semdedup as _semdedup

    return _semdedup.semantic_contamination(
        _emb(spark, sf_dir), bench_mod=_SEMCON_MOD, centroids=_SEM_CENTS
    )


# ---------------------------------------------------------------------------
# Exact per-group quantiles (operators/approx.py:exact_group_quantiles)
# — nearest-rank over a value histogram: the oracle-checkable exact
# member of the quantile family (the GK sketch stays rows-only). No
# interpolation ⇒ no fp: q_p is an ACTUAL data value selected by
# integer rank comparison, bit-identical across engines.
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import approx as _approx  # noqa: E402
from piholelongtermstats_spark.plans.registry import _fact  # noqa: E402
from piholelongtermstats_spark.sources.events import FACT_CTE as _FACT_CTE  # noqa: E402

_RQE_SQL = _FACT_CTE + """
, h AS (
  SELECT status_type, reply_time, count(*) AS cnt
  FROM fact WHERE reply_time IS NOT NULL
  GROUP BY status_type, reply_time),
c AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY status_type ORDER BY reply_time
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY status_type) AS n
  FROM h)
SELECT status_type,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       min(CASE WHEN cum >= ceil(0.5 * n) THEN reply_time END) AS p50,
       min(CASE WHEN cum >= ceil(0.9 * n) THEN reply_time END) AS p90,
       min(CASE WHEN cum >= ceil(0.99 * n) THEN reply_time END) AS p99
FROM c GROUP BY status_type ORDER BY status_type
"""


@register("reply_quantiles_exact", _RQE_SQL)
def q_reply_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 reply time per status via the histogram
    nearest-rank method — selected data values, zero interpolation."""
    return _approx.exact_group_quantiles(
        _fact(spark, sf_dir), "status_type", "reply_time"
    )


# ---------------------------------------------------------------------------
# Retrieval tier (operators/retrieval.py): BM25 keyword scoring and
# reciprocal-rank fusion with the cosine leg. The oracle mirrors the
# exact expression tree (constants folded by Python are interpolated
# with repr so both engines parse the identical double literal); RRF
# arithmetic is bit-exact (integer ranks, one division per leg, fixed
# two-term sum order).
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import retrieval as _retr  # noqa: E402

_BM25_TERMS = "', '".join(_retr.DEFAULT_QUERY)

_BM25_CORE = rf"""
base AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> '') AS toks
  FROM documents {{filter}}),
d AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM base),
stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl
          FROM d),
tf AS (
  SELECT doc_id, dl, t AS term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM d)
  WHERE t IN ('{_BM25_TERMS}')
  GROUP BY doc_id, dl, t),
dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
s AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         * (tf.tf * {_retr.K1 + 1!r})
         / (tf.tf + {_retr.K1!r} * ({1 - _retr.B!r} + {_retr.B!r} * tf.dl
              / (CAST(stats.total_dl AS DOUBLE) / stats.n_docs))) AS s
  FROM tf JOIN dft USING (term) CROSS JOIN stats),
scores AS (
  SELECT doc_id, round(sum(s), 6) AS score FROM s GROUP BY doc_id)
"""

_BM25_SQL = (
    "WITH "
    + _BM25_CORE.format(filter="")
    + "SELECT doc_id, score FROM scores ORDER BY score DESC, doc_id LIMIT 10"
)


@register("bm25_topk", _BM25_SQL)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by Okapi BM25 for the pinned query terms."""
    return _retr.bm25_topk(_docs(spark, sf_dir))


_RRF_SQL = (
    "WITH "
    + _BM25_CORE.format(filter="WHERE doc_id <> 0")
    + rf""",
bm AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_bm25
  FROM scores QUALIFY r_bm25 <= 50),
cosleg AS (
  SELECT c.vec_id AS doc_id,
         round(list_cosine_similarity(c.v, q.qv), 6) AS cosine
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id <> 0) c,
       (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q),
cos AS (
  SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS r_cos
  FROM cosleg QUALIFY r_cos <= 50),
fused AS (
  SELECT COALESCE(bm.doc_id, cos.doc_id) AS doc_id,
         COALESCE(1.0 / (60 + bm.r_bm25), 0.0)
           + COALESCE(1.0 / (60 + cos.r_cos), 0.0) AS rrf,
         COALESCE(bm.r_bm25, 0) AS r_bm25,
         COALESCE(cos.r_cos, 0) AS r_cos
  FROM bm FULL OUTER JOIN cos ON bm.doc_id = cos.doc_id)
SELECT doc_id, rrf, r_bm25::BIGINT AS r_bm25, r_cos::BIGINT AS r_cos
FROM fused ORDER BY rrf DESC, doc_id LIMIT 10"""
)


@register("hybrid_rrf_topk", _RRF_SQL)
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by reciprocal-rank fusion of the BM25 and cosine legs
    (query doc 0 excluded from both)."""
    return _retr.hybrid_rrf_topk(_docs(spark, sf_dir), _emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# PII scrub audit (operators/text.py:pii_scrub). The driver's
# synthetic documents contain no organic PII, so the registry entry
# INJECTS deterministic synthetic PII (same || expression in both
# engines — email always, phone iff doc_id%3=0, IP iff doc_id%5=0)
# before scrubbing; the oracle replays injection + the identical
# count-on-progressively-scrubbed-text cascade and hash-compares the
# md5 of every scrubbed document, so the comparison verifies the
# actual redactions, not an all-zeros no-op.
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import text as _text  # noqa: E402

_PII_SQL = rf"""
WITH injected AS (
  SELECT doc_id,
         text || ' reach doc' || doc_id || '@mail' || (doc_id % 7) || '.com'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' call 555-010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                      ELSE '' END
              || CASE WHEN doc_id % 5 = 0
                      THEN ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                      ELSE '' END AS text
  FROM documents),
cascade AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{_text.PII_EMAIL}')) AS n_emails,
         regexp_replace(text, '{_text.PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM injected),
cascade2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t1, '{_text.PII_PHONE}')) AS n_phones,
         regexp_replace(t1, '{_text.PII_PHONE}', '<PHONE>', 'g') AS t2
  FROM cascade)
SELECT doc_id,
       n_emails::BIGINT AS n_emails,
       n_phones::BIGINT AS n_phones,
       len(regexp_extract_all(t2, '{_text.PII_IP}'))::BIGINT AS n_ips,
       md5(regexp_replace(t2, '{_text.PII_IP}', '<IP>', 'g')) AS scrub_md5
FROM cascade2
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Sliding-window chunking (operators/packing.py:chunk_documents) —
# context-window prep with overlap. Oracle replays the exact integer
# chunk-count rule and per-chunk md5 with generate_series +
# list_slice; the md5 compare pins every token of every chunk.
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import packing as _packing  # noqa: E402

_CHUNK_W = _packing.CHUNK_WINDOW
_CHUNK_S = _packing.CHUNK_STRIDE

_CHUNK_SQL = rf"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> '') AS toks
  FROM documents),
n AS (
  SELECT doc_id, toks, len(toks)::BIGINT AS n,
         CASE WHEN len(toks) > {_CHUNK_W}
              THEN 1 + (len(toks) - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S}
              ELSE 1 END AS n_chunks
  FROM t)
, chunks AS (
  SELECT doc_id, toks, unnest(range(0, n_chunks))::BIGINT AS chunk_id
  FROM n)
SELECT doc_id,
       chunk_id,
       len(list_slice(toks, chunk_id * {_CHUNK_S} + 1,
                      chunk_id * {_CHUNK_S} + {_CHUNK_W}))::BIGINT
         AS chunk_tokens,
       md5(array_to_string(
             list_slice(toks, chunk_id * {_CHUNK_S} + 1,
                        chunk_id * {_CHUNK_S} + {_CHUNK_W}), ' '))
         AS chunk_md5
FROM chunks
ORDER BY doc_id, chunk_id
"""


@register("doc_chunks", _CHUNK_SQL)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk manifest (window 32, stride 24): per-chunk
    token count + md5 over the whole corpus."""
    return _packing.chunk_documents(_docs(spark, sf_dir))


@register("pii_scrub_panel", _PII_SQL)
def q_pii_scrub_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII redaction audit over deterministically
    injected synthetic PII: typed counts + md5 of the scrubbed text."""
    d = _docs(spark, sf_dir)
    injected = d.withColumn(
        "text",
        _F.concat(
            _F.col("text"),
            _F.lit(" reach doc"),
            _F.col("doc_id").cast("string"),
            _F.lit("@mail"),
            (_F.col("doc_id") % 7).cast("string"),
            _F.lit(".com"),
            _F.when(
                _F.col("doc_id") % 3 == 0,
                _F.concat(
                    _F.lit(" call 555-010-"),
                    _F.lpad((_F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(_F.lit("")),
            _F.when(
                _F.col("doc_id") % 5 == 0,
                _F.concat(
                    _F.lit(" from 10.0."),
                    (_F.col("doc_id") % 256).cast("string"),
                    _F.lit("."),
                    ((_F.col("doc_id") * 7) % 256).cast("string"),
                ),
            ).otherwise(_F.lit("")),
        ),
    )
    s = _text.pii_scrub(injected)
    return s.select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ips",
        _F.md5(_F.col("scrubbed")).alias("scrub_md5"),
    )
