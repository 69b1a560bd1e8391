"""M12 — published-recipe data-selection tier: Gopher heuristic
quality rules (Rae et al. 2021) and DSIR importance resampling
(Xie et al. 2023).

Oracle notes: every Gopher rule is a cross-multiplied INTEGER
comparison, so the panel is exact across engines; DSIR carries a full
DuckDB oracle on BOTH faces since r11 — the integer bucket counts
and the log-weight scoring edge (the 12-decimal log-ratio grid makes
everything after the single ln per side exact decimal arithmetic;
the numpy differential test stays as defense in depth)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import dsir as _dsir
from piholelongtermstats_spark.operators import text as _text
from piholelongtermstats_spark.plans.registry import _docs, register

# ---------------------------------------------------------------------------
# Gopher quality rules (operators/text.py:gopher_rules)
# ---------------------------------------------------------------------------

_STOP_HITS_SQL = " + ".join(
    f"(CASE WHEN regexp_matches(lower(text), '\\b{w}\\b') THEN 1 ELSE 0 END)"
    for w in _text.GOPHER_STOPS
)

_GOPHER_SQL = f"""
WITH m AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\\s+'), tk -> tk <> '')) AS wc,
         length(regexp_replace(text, '\\s+', '', 'g')) AS word_chars,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) // 3
           + (length(text) - length(replace(text, '…', ''))) AS symbol_cnt,
         len(string_split(text, chr(10))) AS n_lines,
         len(list_filter(string_split(text, chr(10)),
             x -> regexp_matches(x, '^\\s*[-*•]'))) AS bullet_lines,
         len(list_filter(string_split(text, chr(10)),
             x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$'))) AS ellipsis_lines,
         len(list_filter(list_filter(string_split_regex(trim(text), '\\s+'), tk -> tk <> ''),
             w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
         {_STOP_HITS_SQL} AS stop_hits
  FROM documents)
SELECT doc_id,
       CAST(wc AS BIGINT) AS word_count,
       CAST(word_chars AS BIGINT) AS word_chars,
       CAST(symbol_cnt AS BIGINT) AS symbol_cnt,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(bullet_lines AS BIGINT) AS bullet_lines,
       CAST(ellipsis_lines AS BIGINT) AS ellipsis_lines,
       CAST(alpha_words AS BIGINT) AS alpha_words,
       CAST(stop_hits AS BIGINT) AS stop_hits,
       (wc >= 50 AND wc <= 100000) AS r_wordcount,
       (3 * wc <= word_chars AND word_chars <= 10 * wc) AS r_meanlen,
       (symbol_cnt * 10 < wc) AS r_symbol,
       (bullet_lines * 10 < 9 * n_lines) AS r_bullets,
       (ellipsis_lines * 10 < 3 * n_lines) AS r_ellipsis,
       (alpha_words * 5 > 4 * wc) AS r_alpha,
       (stop_hits >= 2) AS r_stops,
       ((wc >= 50 AND wc <= 100000)
        AND (3 * wc <= word_chars AND word_chars <= 10 * wc)
        AND (symbol_cnt * 10 < wc)
        AND (bullet_lines * 10 < 9 * n_lines)
        AND (ellipsis_lines * 10 < 3 * n_lines)
        AND (alpha_words * 5 > 4 * wc)
        AND (stop_hits >= 2)) AS keep
FROM m ORDER BY doc_id
"""


@register("gopher_quality_panel", _GOPHER_SQL)
def q_gopher_quality_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule metrics + integer-exact keep gate."""
    return _text.gopher_rules(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# DSIR (operators/dsir.py)
# ---------------------------------------------------------------------------

_DSIR_COUNTS_SQL = f"""
WITH tok AS (
  SELECT lang = 'en' AS is_t,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'), tk -> tk <> '')) AS w
  FROM documents),
b AS (SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT % {_dsir.B} AS bucket,
             is_t
      FROM tok)
SELECT bucket,
       CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS target_cnt,
       CAST(count(*) AS BIGINT) AS raw_cnt
FROM b GROUP BY bucket ORDER BY bucket
"""


@register("dsir_bucket_counts", _DSIR_COUNTS_SQL)
def q_dsir_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR sufficient statistics: hashed-unigram bucket counts for
    the target (en) slice vs the full corpus."""
    return _dsir.dsir_bucket_counts(_docs(spark, sf_dir))


# Graduated from rows-only in r11 (r10 VERDICT #5): the "ln() is not
# IEEE-exact" blocker is narrower than r6 assumed. The trainer divides
# exact integers ONCE (identical quotient double in both engines) and
# takes ONE ln each side of the subtraction; libm-vs-DuckDB ln can
# disagree by ≤1 ulp, which flips the DECIMAL(20,12) grid rounding
# only when the true log-ratio sits within ~2e-16 of a 5e-13 grid
# midpoint (none do on these corpora — and a future near-miss fails
# the parity suite loudly, the fp-determinism doctrine). Everything
# after the grid is exact decimal arithmetic: Σ c_b·lr_b is
# order-free, the ⌈n/4⌉ boundary is integer, the selection compares
# exact decimals, and log_weight rounds the decimal-to-double value
# both engines share.
_DSIR_LW_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang = 'en' AS is_t,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                tk -> tk <> '')) AS w
  FROM documents),
bt AS (SELECT doc_id, is_t,
              ('0x' || substr(md5(w), 1, 15))::BIGINT % {_dsir.B} AS bucket
       FROM tok),
bc AS (SELECT bucket,
              CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
              CAST(count(*) AS BIGINT) AS cr
       FROM bt GROUP BY bucket),
tots AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt,
                CAST(coalesce(sum(cr), 0) AS BIGINT) AS nr
         FROM bc),
lr AS (SELECT CAST(g.range AS BIGINT) AS bucket,
              CAST(ln(CAST(coalesce(bc.ct, 0) + 1 AS DOUBLE)
                      / CAST(nt + {_dsir.B} AS DOUBLE))
                 - ln(CAST(coalesce(bc.cr, 0) + 1 AS DOUBLE)
                      / CAST(nr + {_dsir.B} AS DOUBLE))
                 AS DECIMAL(20,12)) AS lr
       FROM range({_dsir.B}) g LEFT JOIN bc ON bc.bucket = g.range, tots),
pd AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c
       FROM bt GROUP BY doc_id, bucket),
wsum AS (SELECT pd.doc_id, CAST(sum(pd.c) AS BIGINT) AS n_tokens,
                sum(CAST(pd.c AS DECIMAL(18,0)) * lr.lr) AS w_dec
         FROM pd JOIN lr USING (bucket) GROUP BY pd.doc_id),
spine AS (SELECT d.doc_id,
                 CAST(coalesce(wsum.n_tokens, 0) AS BIGINT) AS n_tokens,
                 coalesce(wsum.w_dec, CAST(0 AS DECIMAL(38,12))) AS w_dec
          FROM (SELECT doc_id FROM documents) d
          LEFT JOIN wsum USING (doc_id)),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
thr AS (SELECT w_dec AS tw, doc_id AS tid FROM (
          SELECT w_dec, doc_id,
                 row_number() OVER (ORDER BY w_dec DESC, doc_id) AS rn
          FROM spine)
        WHERE rn = greatest((SELECT (n + 3) // 4 FROM nn), 1))
SELECT s.doc_id, s.n_tokens,
       round(CAST(s.w_dec AS DOUBLE), 6) AS log_weight,
       (s.w_dec > thr.tw OR (s.w_dec = thr.tw AND s.doc_id <= thr.tid))
         AS selected
FROM spine s, thr
ORDER BY s.doc_id
"""


@register("dsir_logweights", _DSIR_LW_SQL)
def q_dsir_logweights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance log-weights + top-25% selection
    (decimal dot-product over driver-pinned log-ratio literals). The
    skinny weight relation lives in the managed session cache (one
    resident copy per sf_dir, plans/cache.py) so the boundary probe
    and the output share it — no per-call persist (r6 ADVICE)."""
    from piholelongtermstats_spark.plans.cache import shared_input

    docs = _docs(spark, sf_dir)
    w = shared_input(
        spark, "dsir_weights", sf_dir, lambda: _dsir.dsir_doc_weights(docs)
    )
    return _dsir.dsir_logweights(docs, weights=w)


# ---------------------------------------------------------------------------
# JSONL ingestion with corrupt-record quarantine (sources/jsonl.py):
# the session writes documents as JSONL with every doc_id % 97 == 0
# line deterministically torn, reads it back PERMISSIVE, and audits
# good/quarantine counts plus a text-fidelity hash sum. The oracle
# replays the membership algebra and the SAME hash sum directly on
# the documents table — equality proves the roundtrip lost and
# mangled nothing.
# ---------------------------------------------------------------------------

import hashlib as _hashlib  # noqa: E402
import os as _os  # noqa: E402
import tempfile as _tempfile  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from piholelongtermstats_spark.sources import jsonl as _jsonl  # noqa: E402

_JSONL_MOD = 97
_JSONL_READY: set = set()


def _jsonl_root(spark: SparkSession, sf_dir: str) -> str:
    digest = _hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = _os.path.join(
        _tempfile.gettempdir(),
        "phlts_jsonl",
        f"{spark.sparkContext.applicationId}-{digest}",
    )
    key = (spark.sparkContext.applicationId, root)
    if key not in _JSONL_READY:
        _jsonl.write_documents_jsonl(
            _docs(spark, sf_dir), root, corrupt_mod=_JSONL_MOD
        )
        _JSONL_READY.add(key)
    return root


_JSONL_SQL = f"""
SELECT
  CAST(count(*) FILTER (WHERE doc_id % {_JSONL_MOD} <> 0) AS BIGINT) AS n_good,
  CAST(count(*) FILTER (WHERE doc_id % {_JSONL_MOD} = 0) AS BIGINT) AS n_quarantined,
  CAST(sum(doc_id) FILTER (WHERE doc_id % {_JSONL_MOD} <> 0) AS BIGINT) AS good_id_sum,
  CAST(sum(n_chars) FILTER (WHERE doc_id % {_JSONL_MOD} <> 0) AS BIGINT) AS good_chars,
  CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007)
       FILTER (WHERE doc_id % {_JSONL_MOD} <> 0) AS BIGINT) AS good_text_hashsum
FROM documents
"""


@register("jsonl_ingest_check", _JSONL_SQL)
def q_jsonl_ingest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good/quarantine split of the torn-line JSONL export, audited
    by counts + an order-independent text hash sum."""
    root = _jsonl_root(spark, sf_dir)
    good, bad = _jsonl.read_documents_jsonl(spark, root)
    g = good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum("doc_id").alias("good_id_sum"),
        F.sum("n_chars").alias("good_chars"),
        F.sum(_text.md5_hash60(F.col("text")) % 1000000007).alias(
            "good_text_hashsum"
        ),
    )
    b = bad.agg(F.count(F.lit(1)).alias("n_quarantined"))
    return g.crossJoin(b).select(
        "n_good", "n_quarantined", "good_id_sum", "good_chars",
        "good_text_hashsum",
    )


# ---------------------------------------------------------------------------
# Conversion attribution — the BATCH twin of the stream-stream
# windowed join (streaming/join.py). The oracle checks the batch
# definition; tests/test_streaming_join.py pins stream ≡ batch on
# shared files, so this entry extends driver-grade checking to the
# streaming join's result contract (r6 VERDICT #3).
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.sources.events import FACT_CTE as _FACT_CTE  # noqa: E402
from piholelongtermstats_spark.streaming.join import (  # noqa: E402
    attributed_conversions_batch as _conv_batch,
)

_CONV_SQL = _FACT_CTE + """
SELECT v.event_id AS view_id,
       v.ts AS view_ts,
       v.client AS client,
       v.domain AS view_domain,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts
FROM (SELECT * FROM fact WHERE status_type = 'Allowed') v
JOIN (SELECT * FROM fact WHERE status_type = 'Blocked') p
  ON v.client = p.client
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 30 MINUTE
ORDER BY view_id, purchase_id
"""


@register("conversion_attribution", _CONV_SQL)
def q_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views matched to same-client purchases within the 30-minute
    attribution window — batch twin of the streaming join."""
    from piholelongtermstats_spark.plans.registry import _fact

    return _conv_batch(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Gopher repetition filters (operators/text.py:gopher_repetition) —
# the "repetitious text" half of the published gate. Integer-exact
# counts and cross-multiplied keep rules; the top-2-gram tie-break is
# (count, count*len, gram) descending in both engines.
# ---------------------------------------------------------------------------

_REP_SQL = """
WITH d AS (SELECT doc_id, text, length(text) AS n_chars FROM documents),
ln AS (
  SELECT doc_id, l AS line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM d)
  WHERE trim(l) <> ''),
lc AS (SELECT doc_id, line, count(*) AS cnt, length(line) AS len
       FROM ln GROUP BY doc_id, line),
line_stats AS (
  SELECT doc_id, sum(cnt) AS n_lines, sum(cnt - 1) AS dup_lines,
         sum(cnt * len) AS line_chars,
         sum((cnt - 1) * len) AS dup_line_chars
  FROM lc GROUP BY doc_id),
tok AS (
  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM (SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           tk -> tk <> '') AS toks
        FROM d)),
g2 AS (
  SELECT doc_id, gram, count(*) AS cnt, length(gram) AS len FROM (
    SELECT doc_id,
           tok || ' ' || lead(tok, 1) OVER w AS gram,
           lead(tok, 1) OVER w AS lst
    FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
  WHERE lst IS NOT NULL GROUP BY doc_id, gram),
top2 AS (
  SELECT doc_id, cnt AS top2_cnt, cnt * len AS top2_chars FROM (
    SELECT doc_id, cnt, len, gram,
           row_number() OVER (PARTITION BY doc_id
               ORDER BY cnt DESC, cnt * len DESC, gram DESC) AS rn
    FROM g2) WHERE rn = 1),
g5 AS (
  SELECT doc_id, gram, count(*) AS cnt, length(gram) AS len FROM (
    SELECT doc_id,
           tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
               || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w
               AS gram,
           lead(tok, 4) OVER w AS lst
    FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
  WHERE lst IS NOT NULL GROUP BY doc_id, gram),
dup5 AS (SELECT doc_id, sum(cnt * len) AS dup5_chars
         FROM g5 WHERE cnt > 1 GROUP BY doc_id),
m AS (
  SELECT d.doc_id,
         d.n_chars,
         coalesce(line_stats.n_lines, 0) AS n_lines,
         coalesce(line_stats.dup_lines, 0) AS dup_lines,
         coalesce(line_stats.line_chars, 0) AS line_chars,
         coalesce(line_stats.dup_line_chars, 0) AS dup_line_chars,
         coalesce(top2.top2_cnt, 0) AS top2_cnt,
         coalesce(top2.top2_chars, 0) AS top2_chars,
         coalesce(dup5.dup5_chars, 0) AS dup5_chars
  FROM d
  LEFT JOIN line_stats USING (doc_id)
  LEFT JOIN top2 USING (doc_id)
  LEFT JOIN dup5 USING (doc_id))
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(dup_lines AS BIGINT) AS dup_lines,
       CAST(line_chars AS BIGINT) AS line_chars,
       CAST(dup_line_chars AS BIGINT) AS dup_line_chars,
       CAST(top2_cnt AS BIGINT) AS top2_cnt,
       CAST(top2_chars AS BIGINT) AS top2_chars,
       CAST(dup5_chars AS BIGINT) AS dup5_chars,
       (dup_lines * 10 <= 3 * n_lines) AS r_dup_lines,
       (dup_line_chars * 5 <= line_chars) AS r_dup_line_chars,
       (top2_chars * 5 <= n_chars) AS r_top2gram,
       (dup5_chars * 20 <= 3 * n_chars) AS r_dup5gram,
       ((dup_lines * 10 <= 3 * n_lines)
        AND (dup_line_chars * 5 <= line_chars)
        AND (top2_chars * 5 <= n_chars)
        AND (dup5_chars * 20 <= 3 * n_chars)) AS keep
FROM m ORDER BY doc_id
"""


@register("gopher_repetition_panel", _REP_SQL)
def q_gopher_repetition_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher repetition metrics + integer-exact gate."""
    return _text.gopher_repetition(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# C4 cleaning pass (operators/text.py:c4_rules)
# ---------------------------------------------------------------------------

_C4_BLOCKED_SQL = " OR ".join(
    f"regexp_matches(lower(text), '\\b{w}\\b')" for w in _text.C4_BLOCKLIST
)

_C4_SQL = f"""
WITH m AS (
  SELECT doc_id,
         len(string_split(text, chr(10))) AS n_lines,
         list_filter(string_split(text, chr(10)),
             x -> regexp_matches(x, '[.!?"]\\s*$')
                  AND len(list_filter(string_split_regex(trim(x), '\\s+'),
                          w -> w <> '')) >= 5) AS kept,
         contains(lower(text), 'lorem ipsum') AS has_lorem,
         contains(text, '{{') AS has_brace,
         ({_C4_BLOCKED_SQL}) AS has_blocked
  FROM documents),
c AS (SELECT *, coalesce(array_to_string(kept, chr(10)), '') AS cleaned_text FROM m),
s AS (SELECT *, len(regexp_extract_all(cleaned_text, '[.!?]')) AS n_sentences
      FROM c)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS kept_lines,
       CAST(length(cleaned_text) AS BIGINT) AS cleaned_chars,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       has_lorem, has_brace, has_blocked,
       (n_sentences >= 3) AS r_sentences,
       (NOT has_lorem AND NOT has_brace AND NOT has_blocked
        AND n_sentences >= 3) AS keep,
       cleaned_text
FROM s ORDER BY doc_id
"""


@register("c4_rules_panel", _C4_SQL)
def q_c4_rules_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line/page cleaning metrics + cleaned text + keep gate."""
    return _text.c4_rules(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (operators/text.py:bpe_pair_counts)
# ---------------------------------------------------------------------------

_BPE_PAIRS_SQL = """
WITH wc AS (
  SELECT w, count(*) AS wcnt FROM (
    SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                              tk -> tk <> '')) AS w
    FROM documents) GROUP BY w),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                i -> substr(w, CAST(i AS INTEGER), 2))) AS pair, wcnt
  FROM wc WHERE length(w) >= 2)
SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair ASC LIMIT 20
"""


@register("bpe_pair_counts", _BPE_PAIRS_SQL)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates (adjacent char pairs weighted by
    word frequency) over the corpus vocabulary."""
    return _text.bpe_pair_counts(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Random projection (operators/similarity.py:random_projection) —
# JL ±1 sign projection; the identical sign literals are embedded in
# the oracle and the dot product is the same left-fold on both sides.
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import similarity as _sim  # noqa: E402
from piholelongtermstats_spark.plans.registry import _emb  # noqa: E402

_RP_EMB_DIM = 64  # driver testdata embedding dimensionality (all SFs)
_RP_K = 8


def _rp_col_sql(j: int) -> str:
    signs = _sim.plane_signs(_RP_EMB_DIM, _sim.RP_PLANE_BASE + j)
    lit = "[" + ",".join(repr(s) for s in signs) + "]"
    return (
        f"round(list_reduce(list_transform(range(1, {_RP_EMB_DIM + 1}), "
        f"i -> CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * "
        f"(({lit}::DOUBLE[])[CAST(i AS INTEGER)])), "
        f"(acc, x) -> acc + x), 6) AS p{j}"
    )


_RP_SQL = (
    "SELECT vec_id, "
    + ", ".join(_rp_col_sql(j) for j in range(_RP_K))
    + " FROM embeddings ORDER BY vec_id"
)


@register("embedding_random_projection", _RP_SQL)
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64→8 JL sign projection of the embeddings table."""
    return _sim.random_projection(_emb(spark, sf_dir), k=_RP_K)


# ---------------------------------------------------------------------------
# Rolling distinct actives (operators/cohort.py:rolling_active_clients)
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import cohort as _cohort  # noqa: E402

_ROLLING_SQL = _FACT_CTE + """
, daily AS (SELECT DISTINCT date, client FROM fact),
dates AS (SELECT DISTINCT date FROM fact)
SELECT d.date, CAST(count(DISTINCT c.client) AS BIGINT) AS active_7d
FROM dates d
JOIN daily c ON c.date BETWEEN d.date - INTERVAL 6 DAY AND d.date
GROUP BY d.date ORDER BY d.date
"""


@register("rolling_active_clients", _ROLLING_SQL)
def q_rolling_active_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct active clients per observed date."""
    from piholelongtermstats_spark.plans.registry import _fact

    return _cohort.rolling_active_clients(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# MERGE INTO the snapshot chain (sources/snapshots.py:merge_upsert):
# the session snapshots `documents` as v0, applies a deterministic
# change set (delete doc_id%17==0; modify text of doc_id%10==0 among
# the survivors; insert three new docs), and audits the merged head.
# The oracle replays the same membership algebra directly on the
# documents table — equality proves MERGE applied exactly the
# declared changes and nothing else.
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.sources import snapshots as _snap  # noqa: E402

_MERGE_READY: set = set()
_MERGE_INS = [(9_000_001 + i, f"new doc {i}", "en", "merge") for i in range(3)]


def _merge_root(spark: SparkSession, sf_dir: str) -> str:
    digest = _hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = _os.path.join(
        _tempfile.gettempdir(),
        "phlts_merge",
        f"{spark.sparkContext.applicationId}-{digest}",
    )
    key = (spark.sparkContext.applicationId, root)
    if key not in _MERGE_READY:
        docs = _docs(spark, sf_dir)
        _snap.write_snapshot(docs, root)
        k = F.col("doc_id")
        mod = (
            docs.filter((k % 10 == 0) & (k % 17 != 0))
            .withColumn("text", F.concat(F.lit("MOD "), F.col("text")))
            .withColumn("n_chars", F.length("text").cast("long"))
            .withColumn("_op", F.lit("upsert"))
        )
        ins = spark.createDataFrame(
            [
                (i, t, lang, src, len(t), "upsert")
                for i, t, lang, src in _MERGE_INS
            ],
            "doc_id long, text string, lang string, source string, "
            "n_chars long, _op string",
        )
        dels = docs.filter(k % 17 == 0).withColumn("_op", F.lit("delete"))
        _snap.merge_upsert(
            spark, root, mod.unionByName(ins).unionByName(dels)
        )
        _MERGE_READY.add(key)
    return root


_MERGE_SQL = """
WITH ins(doc_id, text) AS (VALUES {ins_values}),
merged AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 17 <> 0 AND doc_id % 10 <> 0
  UNION ALL
  SELECT doc_id, 'MOD ' || text FROM documents
  WHERE doc_id % 10 = 0 AND doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, text FROM ins)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(length(text)) AS BIGINT) AS chars_sum,
       CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007)
            AS BIGINT) AS text_hashsum
FROM merged
""".format(
    ins_values=", ".join(f"({i}, '{t}')" for i, t, _, _ in _MERGE_INS)
)


@register("merge_upsert_audit", _MERGE_SQL)
def q_merge_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-of-chain audit after MERGE (delete/modify/insert) over the
    snapshotted documents table."""
    root = _merge_root(spark, sf_dir)
    head = _snap.read_snapshot(spark, root)
    return head.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.length("text")).alias("chars_sum"),
        F.sum(_text.md5_hash60(F.col("text")) % 1000000007).alias(
            "text_hashsum"
        ),
    )


# ---------------------------------------------------------------------------
# RP-prefilter two-stage k-NN (similarity.rp_prefilter_topk): unlike
# the LSH/IVF tiers, BOTH stages replay exactly in SQL (the coarse
# stage is the deterministic JL projection above), so the full
# two-stage pipeline is oracle-checked end to end.
# ---------------------------------------------------------------------------

_RP_PRE_Q = 0
_RP_PRE_CUT = 100
# The serving prefilter uses a WIDER projection than the 8-dim
# reduction entry: rp_k=32 halves scan bytes vs the 64-dim corpus and
# measures recall 0.6 at cut 100 on the near-isotropic synthetic
# embeddings (clustered real embeddings project far better; the
# pattern, parameters, and trade are what this entry pins).
_RP_PRE_K = 32

_RP_DOT_SQL = " + ".join(f"p.p{j} * q.p{j}" for j in range(_RP_PRE_K))

_RP_PRE_SQL = f"""
WITH proj AS (
  SELECT vec_id, {", ".join(_rp_col_sql(j) for j in range(_RP_PRE_K))}
  FROM embeddings),
q AS (SELECT * FROM proj WHERE vec_id = {_RP_PRE_Q}),
cands AS (
  SELECT p.vec_id, round({_RP_DOT_SQL}, 6) AS rp_score
  FROM proj p, q WHERE p.vec_id <> {_RP_PRE_Q}
  ORDER BY rp_score DESC, p.vec_id LIMIT {_RP_PRE_CUT}),
qv AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
       WHERE vec_id = {_RP_PRE_Q})
SELECT b.vec_id, b.label,
       round(list_cosine_similarity(b.embedding::DOUBLE[], qe), 6) AS cosine,
       c.rp_score
FROM embeddings b JOIN cands c USING (vec_id), qv
ORDER BY cosine DESC, b.vec_id LIMIT 10
"""


@register("rp_prefilter_topk", _RP_PRE_SQL)
def q_rp_prefilter_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projected-dot candidate cut (50) + exact cosine re-rank (10)."""
    return _sim.rp_prefilter_topk(
        _emb(spark, sf_dir), _RP_PRE_Q, 10, _RP_PRE_K, _RP_PRE_CUT
    )


# ---------------------------------------------------------------------------
# PageRank (operators/graph.py) — ORACLE-CHECKED since r10 via the
# fixed-point twin (r9 VERDICT #3, the hll_distinct_audit playbook):
# ranks are integers in parts-per-10^12 and every step is integer
# arithmetic (DIV per edge, the 17/20 damping as an exact rational),
# so integer sums are accumulation-order-free and the DuckDB oracle
# replays all 10 power iterations bit-for-bit as unrolled CTEs. The
# float-mass variant stays the production default (operators/graph.py
# pagerank), pinned by the numpy differential + the fixed-vs-float
# top-k agreement test.
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import graph as _graph  # noqa: E402
from piholelongtermstats_spark.plans.registry import FACT_CTE  # noqa: E402

_PR_ITER = _graph.N_ITER
_PR_TOP = 20


def _pagerank_sql(n_iter: int = _PR_ITER, k: int = _PR_TOP) -> str:
    """10 unrolled integer power iterations; e is MATERIALIZED (it is
    referenced once per iteration — inlining would re-derive the edge
    relation n_iter times). The damping rational and the ppt scale
    are generated from the operator's own module constants
    (graph.DAMPING_NUM/DEN, graph.PPT_SCALE) so a default change
    cannot silently desynchronize the oracle (r10 ADVICE, the M59
    generated-oracle protocol)."""
    num, den, ppt = _graph.DAMPING_NUM, _graph.DAMPING_DEN, _graph.PPT_SCALE
    parts = [
        FACT_CTE,
        f"""
, cd AS (SELECT DISTINCT 'c:' || client AS src, 'd:' || domain AS dst
         FROM fact),
ed AS MATERIALIZED (
  SELECT src, dst FROM cd UNION ALL SELECT dst, src FROM cd),
dg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM ed GROUP BY src),
e AS MATERIALIZED (
  SELECT ed.src, ed.dst, dg.outdeg FROM ed JOIN dg USING (src)),
nn AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n FROM ed),
r0 AS (SELECT DISTINCT src AS node,
              (SELECT CAST({ppt} // n AS BIGINT) FROM nn) AS rank_ppt
       FROM ed)""",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
r{i} AS (
  SELECT e.dst AS node,
         CAST((SELECT ({den - num} * {ppt}) // ({den} * n) FROM nn)
              + ({num} * sum(r.rank_ppt // e.outdeg)) // {den} AS BIGINT)
           AS rank_ppt
  FROM e JOIN r{i - 1} r ON r.node = e.src GROUP BY e.dst)"""
        )
    parts.append(
        f"""
SELECT node, rank_ppt FROM r{n_iter}
ORDER BY rank_ppt DESC, node LIMIT {k}"""
    )
    return "".join(parts)


@register(
    "pagerank_top",
    _pagerank_sql(),
    budget=(
        6.0,
        "ten real distributed power iterations; cost is the"
        " iteration count, not a scale defect",
    ),
)
def q_pagerank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 client/domain nodes by bipartite fixed-point PageRank
    (10 integer power iterations, damping 17/20;
    operators/graph.py:pagerank_fixedpoint)."""
    from piholelongtermstats_spark.plans.registry import _fact

    return _graph.pagerank_fixedpoint(_fact(spark, sf_dir), top=_PR_TOP)


# ---------------------------------------------------------------------------
# Scalar quantization SQ8 (similarity.scalar_quantize): every step of
# the code arithmetic is a correctly-rounded double op, so codes and
# error stats replay exactly in SQL.
# ---------------------------------------------------------------------------

_SQ_LO, _SQ_HI, _SQ_LEVELS = -4.0, 4.0, 255
_SQ_STEP = (_SQ_HI - _SQ_LO) / _SQ_LEVELS

_SQ_SQL = f"""
WITH q AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_transform(embedding::DOUBLE[],
           x -> CAST(least(greatest(round((x - ({_SQ_LO!r})) / {_SQ_STEP!r}, 0),
                                    0.0), {float(_SQ_LEVELS)!r}) AS INTEGER)) AS codes
  FROM embeddings),
r AS (
  SELECT vec_id, v, codes,
         list_transform(codes,
           c -> CAST(c AS DOUBLE) * {_SQ_STEP!r} + ({_SQ_LO!r})) AS recon
  FROM q)
SELECT vec_id,
       CAST(list_sum(codes) AS BIGINT) AS code_sum,
       CAST(list_sum(list_transform(range(1, len(codes) + 1),
            i -> CAST(codes[CAST(i AS INTEGER)] AS BIGINT) * i)) AS BIGINT)
         AS code_possum,
       round(list_max(list_transform(range(1, len(v) + 1),
            i -> abs(v[CAST(i AS INTEGER)] - recon[CAST(i AS INTEGER)])))
         * 1e6, 3) AS max_err_1e6,
       CAST(len(list_filter(codes, c -> c = 0 OR c = {_SQ_LEVELS}))
         AS BIGINT) AS n_clipped
FROM r ORDER BY vec_id
"""


@register("scalar_quantize_audit", _SQ_SQL)
def q_scalar_quantize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 code + reconstruction-error audit over the embeddings."""
    return _sim.scalar_quantize(_emb(spark, sf_dir), _SQ_LO, _SQ_HI, 8)


# ---------------------------------------------------------------------------
# BPE vocabulary encoding (text.bpe_encode_vocab): the pinned merge
# cascade replayed replace-for-replace in SQL.
# ---------------------------------------------------------------------------

# Separator-anchored (sentinels at both ends), two passes per merge —
# mirrors the engine exactly (see text.bpe_encode_vocab).
_BPE_SYM = "chr(31) || array_to_string(string_split(w, ''), chr(31)) || chr(31)"
for _a, _b in _text.BPE_MERGES:
    _pat = f"chr(31) || '{_a}' || chr(31) || '{_b}' || chr(31)"
    _rep = f"chr(31) || '{_a}{_b}' || chr(31)"
    _BPE_SYM = f"replace(replace({_BPE_SYM}, {_pat}, {_rep}), {_pat}, {_rep})"

_BPE_ENC_SQL = f"""
WITH wc AS (
  SELECT w, count(*) AS wcnt FROM (
    SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                              tk -> tk <> '')) AS w
    FROM documents) GROUP BY w),
enc AS (SELECT w, wcnt, trim(replace({_BPE_SYM}, chr(31), ' ')) AS symbols FROM wc)
SELECT w, CAST(wcnt AS BIGINT) AS wcnt, symbols,
       CAST(length(symbols) - length(replace(symbols, ' ', '')) + 1
            AS BIGINT) AS n_symbols
FROM enc ORDER BY wcnt DESC, w ASC LIMIT 50
"""


@register("bpe_encode_vocab", _BPE_ENC_SQL)
def q_bpe_encode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 vocabulary words encoded through the pinned BPE merge
    cascade (symbol sequences + counts)."""
    return _text.bpe_encode_vocab(_docs(spark, sf_dir), list(_text.BPE_MERGES))


# ---------------------------------------------------------------------------
# k-anonymous export gate (operators/counts.py:kanon_domain_daily)
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import counts as _counts  # noqa: E402

_KANON_K = 5

_KANON_SQL = _FACT_CTE + f"""
, c AS (SELECT domain, date, count(*) AS cnt FROM fact GROUP BY domain, date),
a AS (SELECT CAST(sum(CASE WHEN cnt < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS suppressed_groups,
             CAST(coalesce(sum(CASE WHEN cnt < {_KANON_K} THEN cnt END), 0)
               AS BIGINT) AS suppressed_rows
      FROM c)
SELECT domain, date, CAST(cnt AS BIGINT) AS cnt,
       suppressed_groups, suppressed_rows
FROM c, a WHERE cnt >= {_KANON_K}
ORDER BY domain, date
"""


@register("kanon_domain_daily", _KANON_SQL)
def q_kanon_domain_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymous (domain, date) export with suppression audit."""
    from piholelongtermstats_spark.plans.registry import _fact

    return _counts.kanon_domain_daily(_fact(spark, sf_dir), _KANON_K)


@register(
    "rolling_active_approx",
    rows_only="sketch internals aren't portable SQL; the HLL accuracy"
    " contract is hash-checked by hll_distinct_audit and the exact twin"
    " rolling_active_clients is green",
)
def q_rolling_active_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-merge (DataSketches HLL) rolling 7-day distinct actives
    — the constant-width scale path of rolling_active_clients; error
    bound vs exact test-asserted."""
    from piholelongtermstats_spark.plans.registry import _fact

    return _cohort.rolling_active_clients_approx(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Inverted-index postings audit (retrieval.inverted_postings_audit)
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import retrieval as _retr  # noqa: E402

_POSTINGS_SQL = """
WITH tf AS (
  SELECT term, doc_id, count(*) AS tf FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                              tk -> tk <> '')) AS term
    FROM documents)
  GROUP BY term, doc_id)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc,
       md5(array_to_string(list_sort(list(
           lpad(CAST(doc_id AS VARCHAR), 12, '0') || ':' ||
           CAST(tf AS VARCHAR))), ',')) AS postings_md5
FROM tf GROUP BY term
ORDER BY df DESC, term ASC LIMIT 100
"""


@register("inverted_postings_audit", _POSTINGS_SQL)
def q_inverted_postings_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list summaries (df, tf totals, doc range, full-list
    md5) for the top-100 terms by document frequency."""
    return _retr.inverted_postings_audit(_docs(spark, sf_dir))
