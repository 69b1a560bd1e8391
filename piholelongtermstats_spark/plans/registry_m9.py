r"""M9 registry: round-5 LLM-pipeline additions — semantic dedup
(SemDeDup), deterministic epoch-shuffle manifest, hashed-feature
quality classifier, and the ANN doubling scale proof.

Shared conventions (see registry_m7.py): the 60-bit md5 hash
primitive is bit-identical across engines
(Spark conv(substr(md5(x),1,15),16,10)::long ==
DuckDB ('0x' || substr(md5(x),1,15))::BIGINT); pinned deterministic
quantizer constants are embedded in the oracle SQL as literals so
DuckDB reproduces every assignment decision; cosine scores are
rounded to 6 digits before any threshold/ordering decision so
fp-accumulation-order differences between engines cannot flip a
comparison (margins measured in tests/test_fp_determinism.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import ivf, packing, semdedup, similarity, text
from piholelongtermstats_spark.plans.cache import shared_input
from piholelongtermstats_spark.plans.registry import _docs, _emb, register

_EMB_DIM = 64  # driver testdata embedding dimensionality (all SFs)


def _arr(vals) -> str:
    return "[" + ",".join(repr(float(x)) for x in vals) + "]::DOUBLE[]"


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup with the pinned spherical quantizer
# (operators/semdedup.py; paper semantics cited there). The oracle
# embeds the identical md5-derived centroids and reproduces spherical
# assignment (argmax cosine, ties → lowest cell), the
# upper-triangular removal rule on round(cosine, 6) ≥ τ, and the
# per-cluster audit frame whose survivor_id_sum makes the hash
# sensitive to every individual keep/remove decision.
# ---------------------------------------------------------------------------

_SEM_CENTS = ivf.fixed_centroids(_EMB_DIM, semdedup.N_CLUSTERS)
_SEM_CENT_VALUES = ",".join(
    f"({i}, {_arr(c)})" for i, c in enumerate(_SEM_CENTS)
)

_SEMDEDUP_SQL = f"""
WITH cent AS (SELECT * FROM (VALUES {_SEM_CENT_VALUES}) AS t(cell, c)),
v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT v.vec_id, v.v, cent.cell,
         list_cosine_similarity(v.v, cent.c) AS score
  FROM v CROSS JOIN cent),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM scored) WHERE rn = 1),
removed AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {semdedup.THRESHOLD})
SELECT a.cell,
       count(*) AS n_members,
       count(r.vec_id) AS n_removed,
       CAST(sum(CASE WHEN r.vec_id IS NULL THEN a.vec_id END) AS BIGINT)
         AS survivor_id_sum
FROM assigned a LEFT JOIN removed r ON a.vec_id = r.vec_id
GROUP BY a.cell ORDER BY a.cell
"""


@register("semantic_dedup", _SEMDEDUP_SQL)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup per-cluster audit: spherical-assign to the 16 pinned
    centroids, remove within-cluster rounded-cosine ≥ τ duplicates
    (keep lowest vec_id), report members/removed/survivor-id-sum per
    cluster."""
    return semdedup.semantic_dedup_stats(
        _emb(spark, sf_dir), centroids=_SEM_CENTS
    )


# Trained-path oracle (r10 VERDICT #4): 3 spherical Lloyd iterations
# over the full corpus replayed as unrolled CTEs (oracle_train.py),
# then the survivor rule of semdedup.semantic_dedup — spherical
# assignment, remove every member with a lower-id same-cell member at
# round(cosine, 6) ≥ τ.
from piholelongtermstats_spark.plans.oracle_train import (  # noqa: E402
    lloyd_cents_ctes,
)

_SEM_TR_SQL = (
    """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),"""
    + lloyd_cents_ctes(
        "t_",
        n_cells=semdedup.N_CLUSTERS,
        n_iters=semdedup.N_ITERS,
        dim=_EMB_DIM,
        metric="cos",
    )
    + f""",
scored AS (
  SELECT v.vec_id, v.label, v.v, t_cent.cell,
         list_cosine_similarity(v.v, t_cent.c) AS score
  FROM v CROSS JOIN t_cent),
assigned AS (
  SELECT vec_id, label, v, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM scored) WHERE rn = 1),
removed AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {semdedup.THRESHOLD})
SELECT a.vec_id, a.label, a.cell
FROM assigned a LEFT JOIN removed r ON a.vec_id = r.vec_id
WHERE r.vec_id IS NULL
ORDER BY a.vec_id
"""
)


@register("semantic_dedup_trained", _SEM_TR_SQL)
def q_semantic_dedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production path — spherical k-means trained on the corpus
    (deterministic md5-ordered seeds), then the same removal rule.
    Pytest keeps the survivor-set sanity and cap-monotonicity
    invariants; oracle-checked since r11 via the unrolled Lloyd
    replay (oracle_train.py)."""
    emb = _emb(spark, sf_dir)
    key = (spark.sparkContext.applicationId, "semdedup_cents", sf_dir)
    cents = ivf._CENTROID_CACHE.get(key)
    if cents is None:
        cents = semdedup.train_spherical_centroids(emb)
        ivf._CENTROID_CACHE[key] = cents
    return semdedup.semantic_dedup(emb, centroids=cents)


# ---------------------------------------------------------------------------
# Epoch shuffle manifest — deterministic training order
# (operators/packing.py:epoch_shuffle). The oracle computes the SAME
# seeded md5 key and ranks with ONE global window — fine for DuckDB
# at test scale; the Spark side runs the two-level scan whose only
# unpartitioned window orders the ~256-row bucket summary
# (differential + plan tests in tests/test_packing.py).
# ---------------------------------------------------------------------------

_EPOCH = 3
_SHARDS = 8

_EPOCH_SHUFFLE_SQL = f"""
WITH k AS (
  SELECT doc_id,
         ('0x' || substr(md5('epoch:{_EPOCH}:' || doc_id), 1, 15))::BIGINT
           AS key
  FROM documents)
SELECT doc_id,
       key % {_SHARDS} AS shard,
       row_number() OVER (ORDER BY key, doc_id) - 1 AS global_pos
FROM k ORDER BY global_pos
"""


@register("epoch_shuffle", _EPOCH_SHUFFLE_SQL)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-3 shuffle manifest: every document's shard assignment
    and global training-order rank under the seeded md5 key."""
    return packing.epoch_shuffle(
        _docs(spark, sf_dir), epoch=_EPOCH, n_shards=_SHARDS
    )


# ---------------------------------------------------------------------------
# ANN doubling scale proof — the dedup_scale_2x methodology
# (registry_m8.py) applied to the similarity tier: run the BUCKETED
# ANN path over embeddings ∪ an id-shifted exact copy. The plan shape
# under 2× volume is the claim being proven: the corpus is bucketed
# once (map-side), only the query's probe buckets are scanned — twice
# the rows in those buckets, no new shuffles — and the duplicated
# vectors surface as the expected twin results (the id-shifted copy
# of the query itself lands at cosine 1.0). Oracle: the identical
# doubled corpus and pinned hyperplanes in SQL.
# ---------------------------------------------------------------------------

_ANN2X_OFFSET = 1_000_000
from piholelongtermstats_spark.plans.registry_m7 import _bucket_sql  # noqa: E402

_ANN_SCALE_2X_SQL = f"""
WITH base AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v0 FROM embeddings
  UNION ALL
  SELECT vec_id + {_ANN2X_OFFSET}, label, embedding::DOUBLE[] FROM embeddings
), b AS (
  SELECT vec_id, label, v0 AS v, {_bucket_sql('v0')} AS bucket FROM base
), q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT vec_id, label,
       round(list_cosine_similarity(v, qv), 6) AS cosine
FROM b, q
WHERE vec_id <> 0
  AND (bucket = qb OR bucket = xor(qb, 1) OR bucket = xor(qb, 2))
ORDER BY cosine DESC, vec_id LIMIT 20
"""


def doubled_embeddings(emb: DataFrame, offset: int = _ANN2X_OFFSET) -> DataFrame:
    from pyspark.sql import functions as F

    copy = emb.select(
        (F.col("vec_id") + offset).alias("vec_id"), "embedding", "label"
    )
    return emb.select("vec_id", "embedding", "label").unionByName(copy)


@register("ann_scale_2x", _ANN_SCALE_2X_SQL)
def q_ann_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed LSH ANN top-20 over the doubled corpus (multiprobe 2)
    — scale proof for the similarity tier; tests pin the doubling
    identity (results arrive as id-twin pairs) and the plan shape."""
    return similarity.lsh_ann_topk(
        doubled_embeddings(_emb(spark, sf_dir)), 0, 20, multiprobe=2
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (operators/text.py:
# quality_classifier). Oracle mirrors the hashed-weight arithmetic
# with DuckDB list lambdas; the keep decision is integer-exact on
# both sides so no fp comparison exists to diverge.
# ---------------------------------------------------------------------------

_QC_W = r"list_transform(list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> ''), t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 2001 - 1000)"

_QUALITY_CLASSIFIER_SQL = f"""
WITH w AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\\s+'), tk -> tk <> ''))::BIGINT AS n_tokens,
         CAST(list_sum({_QC_W}) AS BIGINT) AS weight_sum
  FROM documents)
SELECT doc_id, n_tokens, weight_sum,
       CAST(weight_sum AS DOUBLE) / (1000 * n_tokens) AS score,
       weight_sum >= 0 AS keep
FROM w ORDER BY doc_id
"""


@register("quality_classifier", _QUALITY_CLASSIFIER_SQL)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document hashed-linear quality score and keep decision."""
    return text.quality_classifier(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Vocabulary induction (operators/text.py:vocab_topk)
# ---------------------------------------------------------------------------

_VOCAB_TOPK_SQL = r"""
WITH tk AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> '')) AS token
  FROM documents)
SELECT token,
       count(*)::BIGINT AS tf,
       count(DISTINCT doc_id)::BIGINT AS df
FROM tk GROUP BY token
ORDER BY tf DESC, token LIMIT 100
"""


@register("vocab_topk", _VOCAB_TOPK_SQL)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus vocabulary by term frequency with document
    frequency."""
    return text.vocab_topk(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# SemDeDup doubling proof: embeddings ∪ id-shifted exact copy. Every
# copy shares its original's cell (deterministic assignment) and
# pairs with it at rounded cosine 1.0 ≥ τ with a strictly higher
# vec_id — so ALL copies are removed, and since copies' ids exceed
# every original id the original survivor set is IDENTICAL to the
# single-corpus run (pytest pins that identity; the oracle replays
# the doubled computation directly).
# ---------------------------------------------------------------------------

_SEMDEDUP_2X_SQL = f"""
WITH cent AS (SELECT * FROM (VALUES {_SEM_CENT_VALUES}) AS t(cell, c)),
v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {_ANN2X_OFFSET}, embedding::DOUBLE[] FROM embeddings),
scored AS (
  SELECT v.vec_id, v.v, cent.cell,
         list_cosine_similarity(v.v, cent.c) AS score
  FROM v CROSS JOIN cent),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM scored) WHERE rn = 1),
removed AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {semdedup.THRESHOLD})
SELECT a.cell,
       count(*) AS n_members,
       count(r.vec_id) AS n_removed,
       CAST(sum(CASE WHEN r.vec_id IS NULL THEN a.vec_id END) AS BIGINT)
         AS survivor_id_sum
FROM assigned a LEFT JOIN removed r ON a.vec_id = r.vec_id
GROUP BY a.cell ORDER BY a.cell
"""


@register("semdedup_scale_2x", _SEMDEDUP_2X_SQL)
def q_semdedup_scale_2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup per-cluster audit over the doubled corpus — the
    semantic tier's scale proof (2× members, all copies removed,
    survivor_id_sum equal to the single-corpus run's)."""
    return semdedup.semantic_dedup_stats(
        doubled_embeddings(_emb(spark, sf_dir)), centroids=_SEM_CENTS
    )


# ---------------------------------------------------------------------------
# IVF-PQ composed index (operators/ivfpq.py) — both quantizers pinned
# (spherical-routed fixed centroids + fixed PQ codebooks on
# RESIDUALS), so the oracle replays cell assignment, residual code
# assignment, probe selection, the ADC candidate cut, and the exact
# re-rank. Same fp-near-tie caveat and margin-measurement regime as
# the single-family indexes (registry_m7.py commentary,
# tests/test_fp_determinism.py).
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import ivfpq as _ivfpq_mod
from piholelongtermstats_spark.operators import pq as _pq_mod

_PQ_CBS9 = _pq_mod.fixed_codebooks(_EMB_DIM)
_SUBDIM9 = _EMB_DIM // _pq_mod.N_SUB
_CB_VALUES9 = ",".join(
    f"({s},{code},{_arr(c)})"
    for s, book in enumerate(_PQ_CBS9)
    for code, c in enumerate(book)
)
_RERANK9 = 4 * 10  # rerank * k

def _ivfpq_search_body(cent: str = "cent", cb: str = "cb") -> str:
    """The IVF-PQ search tail (spherical assignment → residual code
    assignment → probe → ADC + exact re-rank) over any centroid
    relation ``{cent}(cell, c)`` and codebook relation
    ``{cb}(s, code, c)`` — shared by the pinned and trained-replay
    oracles."""
    return f""",
scored AS (
  SELECT v.vec_id, v.label, v.v, {cent}.cell, {cent}.c AS cvec,
         list_cosine_similarity(v.v, {cent}.c) AS score
  FROM v CROSS JOIN {cent}),
assigned AS (
  SELECT vec_id, label, v, cell, cvec FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM scored) WHERE rn = 1),
res AS (
  SELECT vec_id, cell,
         list_transform(generate_series(1, {_EMB_DIM}),
                        i -> v[i] - cvec[i]) AS r
  FROM assigned),
subs AS (
  SELECT vec_id, CAST(t.s AS INTEGER) AS s,
         list_slice(r, t.s * {_SUBDIM9} + 1, (t.s + 1) * {_SUBDIM9}) AS rs
  FROM res, range({_pq_mod.N_SUB}) t(s)),
acode AS (
  SELECT vec_id, s, c FROM (
    SELECT subs.vec_id, subs.s, {cb}.c,
      row_number() OVER (PARTITION BY subs.vec_id, subs.s
        ORDER BY list_dot_product(subs.rs, {cb}.c)
                 - 0.5 * list_dot_product({cb}.c, {cb}.c) DESC, {cb}.code) AS rn
    FROM subs JOIN {cb} ON subs.s = {cb}.s) WHERE rn = 1),
q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn
      FROM v WHERE vec_id = 0),
probe AS (
  SELECT cell FROM {cent}, q
  ORDER BY list_cosine_similarity(c, qv) DESC, cell
  LIMIT {_ivfpq_mod.N_PROBE}),
qsubs AS (
  SELECT CAST(t.s AS INTEGER) AS s,
         list_slice(qv, t.s * {_SUBDIM9} + 1, (t.s + 1) * {_SUBDIM9}) AS qs
  FROM q, range({_pq_mod.N_SUB}) t(s)),
lutsum AS (
  SELECT a.vec_id, sum(list_dot_product(qs.qs, a.c)) AS ls
  FROM acode a JOIN qsubs qs ON a.s = qs.s GROUP BY a.vec_id),
adc AS (
  SELECT r.vec_id, list_dot_product(q.qv, {cent}.c) + ls AS ip
  FROM res r JOIN lutsum USING (vec_id)
  JOIN {cent} ON r.cell = {cent}.cell, q
  WHERE r.cell IN (SELECT cell FROM probe) AND r.vec_id <> 0),
cand AS (
  SELECT adc.vec_id
  FROM adc
  JOIN (SELECT vec_id, sqrt(list_dot_product(v, v)) AS vn FROM v)
    USING (vec_id), q
  ORDER BY ip / (vn * qn) DESC, vec_id LIMIT {_RERANK9})
SELECT v.vec_id, v.label,
       round(list_cosine_similarity(v.v, q.qv), 6) AS cosine
FROM v JOIN cand USING (vec_id), q
ORDER BY cosine DESC, vec_id LIMIT 10
"""


_IVFPQ_SQL = (
    f"""
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT * FROM (VALUES {_SEM_CENT_VALUES}) AS t(cell, c)),
cb AS (SELECT * FROM (VALUES {_CB_VALUES9}) AS t(s, code, c))"""
    + _ivfpq_search_body()
)


@register("ivfpq_ann_topk", _IVFPQ_SQL)
def q_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (16 spherical cells, probe 4, 8×16 residual
    codebooks, ADC + exact re-rank) with both quantizers pinned."""
    return _ivfpq_mod.ivfpq_ann_topk(
        _emb(spark, sf_dir), 0, 10, centroids=_SEM_CENTS, codebooks=_PQ_CBS9
    )


# Trained-path oracle (r10 VERDICT #4): BOTH quantizers replayed —
# the spherical coarse trainer (3 cos-Lloyd iterations, full corpus)
# and the PQ codebook trainer (3 per-subspace L2-Lloyd iterations,
# full corpus) — as two independent CTE chains feeding the identical
# composed search body.
from piholelongtermstats_spark.plans.oracle_train import (  # noqa: E402
    lloyd_pq_ctes,
)

_IVFPQ_TR_SQL = (
    """
WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),"""
    + lloyd_cents_ctes(
        "tc_",
        n_cells=_ivfpq_mod.N_CELLS,
        n_iters=semdedup.N_ITERS,
        dim=_EMB_DIM,
        metric="cos",
    )
    + ","
    + lloyd_pq_ctes(
        "tp_",
        n_sub=_pq_mod.N_SUB,
        n_codes=_pq_mod.N_CODES,
        n_iters=_pq_mod.N_ITERS,
        dim=_EMB_DIM,
    )
    + _ivfpq_search_body("tc_cent", "tp_cb")
)


@register("ivfpq_ann_topk_trained", _IVFPQ_TR_SQL)
def q_ivfpq_ann_topk_trained(
    spark: SparkSession, sf_dir: str, qv: list | None = None
) -> DataFrame:
    """Production path: trained spherical coarse quantizer + trained
    PQ codebooks; recall/monotonicity pytest-covered. Oracle-checked
    since r11 via the double unrolled Lloyd replay (oracle_train.py).
    ``qv``: see q_ivf_ann_topk_trained (registry_m7)."""
    emb = _emb(spark, sf_dir)
    key = (spark.sparkContext.applicationId, "ivfpq", sf_dir)
    cached = ivf._CENTROID_CACHE.get(key)
    if cached is None:
        from piholelongtermstats_spark.operators import semdedup as _sd

        cents = _sd.train_spherical_centroids(emb, _ivfpq_mod.N_CELLS)
        cbs = _pq_mod.train_pq_codebooks(emb)
        cached = (cents, cbs)
        ivf._CENTROID_CACHE[key] = cached
    return _ivfpq_mod.ivfpq_ann_topk(
        emb, 0, 10, centroids=cached[0], codebooks=cached[1], qv=qv
    )


# ---------------------------------------------------------------------------
# Per-epoch packing manifest (operators/packing.py:epoch_pack_manifest)
# — the prefix sum in epoch-shuffled order; oracle = one global window
# over the same seeded key.
# ---------------------------------------------------------------------------

_EPOCH_PACK_SQL = rf"""
WITH k AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> ''))::BIGINT AS n_tok,
         ('0x' || substr(md5('epoch:{_EPOCH}:' || doc_id), 1, 15))::BIGINT
           AS key
  FROM documents),
c AS (
  SELECT doc_id, n_tok,
         CAST(sum(n_tok) OVER (ORDER BY key, doc_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM k)
SELECT doc_id, n_tok,
       cum - n_tok AS start_off,
       CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS first_chunk,
       CAST(floor((cum - 1) / 512.0) AS BIGINT) AS last_chunk
FROM c ORDER BY doc_id
"""


@register("epoch_pack_manifest", _EPOCH_PACK_SQL)
def q_epoch_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing manifest in the epoch-3 shuffled order (seq_len 512)."""
    return packing.epoch_pack_manifest(
        _docs(spark, sf_dir), epoch=_EPOCH, seq_len=512
    )


# ---------------------------------------------------------------------------
# SimHash near-dup pairs (operators/dedup.py:simhash_near_dup) — the
# hamming-banding consumer of the simhash sketch. Oracle replays the
# sketch (same CTE as the `simhash` entry), the band equi-join, and
# the bit_count(xor) verification.
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.operators import dedup as _dedup_mod
from piholelongtermstats_spark.plans.registry_m7 import _TOKS as _TOKS9

_SIMHASH_ND_SQL = rf"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS9}) AS tok FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
), v AS (
  SELECT doc_id, bit,
         CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END AS vote
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS bit)
), s AS (
  SELECT doc_id, bit, sum(vote) AS s FROM v GROUP BY 1, 2
), sk AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM s GROUP BY doc_id
), bands AS (
  SELECT doc_id, simhash, b, (simhash >> (b * 12)) & 4095 AS key
  FROM sk CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS b)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         a.simhash AS sa, c.simhash AS sb
  FROM bands a JOIN bands c ON a.b = c.b AND a.key = c.key
   AND a.doc_id < c.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 6
ORDER BY doc_a, doc_b
"""


@register("simhash_near_dup", _SIMHASH_ND_SQL)
def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-banding near-dup pairs (5×12-bit bands,
    hamming ≤ 6) over the session-shared persisted sketch."""
    sk = shared_input(
        spark,
        "simhash_sketch",
        sf_dir,
        lambda: _dedup_mod.simhash(_docs(spark, sf_dir)),
    )
    return _dedup_mod.simhash_near_dup(_docs(spark, sf_dir), sk=sk)


# ---------------------------------------------------------------------------
# MinHash Jaccard estimates (operators/dedup.py:
# minhash_jaccard_estimates) — the sketch's estimator over the LSH
# banding candidates; oracle reuses the shared shingle/signature CTEs.
# ---------------------------------------------------------------------------

from piholelongtermstats_spark.plans.registry_m7 import (  # noqa: E402
    _SHINGLE_CTE as _SH9,
    _SIG_CTE as _SIG9,
    _pairs as _lsh_pairs9,
    _shingles as _shingles9,
)

_MINHASH_EST_SQL = (
    _SH9
    + _SIG9
    + """
, keys AS (
  SELECT doc_id, perm // 4 AS band,
         string_agg(minhash::VARCHAR, ',' ORDER BY perm) AS band_key
  FROM sig GROUP BY doc_id, band
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keys a
  JOIN keys b ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)
            AS BIGINT) AS matches,
       sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / 16.0
         AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_a
JOIN sig sb ON sb.doc_id = p.doc_b AND sb.perm = sa.perm
GROUP BY 1, 2 ORDER BY 1, 2
"""
)


@register("minhash_jaccard_est", _MINHASH_EST_SQL)
def q_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash agreement-fraction Jaccard estimate per LSH candidate
    pair (16 permutations)."""
    from piholelongtermstats_spark.operators import dedup as _dd

    return _dd.minhash_jaccard_estimates(
        _docs(spark, sf_dir),
        sh=_shingles9(spark, sf_dir),
        pairs=_lsh_pairs9(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Temperature mix (operators/corpus.py:temperature_mix) — τ-sampling
# with alpha=1/2; the threshold arithmetic (long/long division, sqrt,
# exact 2^60 scale, floor) is correctly rounded step for step in both
# engines, so the oracle reproduces every keep decision. Output is
# the per-group audit frame (kept count + id-sum: decision-sensitive,
# compact).
# ---------------------------------------------------------------------------

_TEMP_MIX_SQL = """
WITH cnts AS (
  SELECT lang, count(*)::BIGINT AS cnt FROM documents GROUP BY 1),
m AS (SELECT min(cnt) AS min_cnt FROM cnts),
r AS (
  SELECT lang,
         CAST(floor(sqrt(CAST(min_cnt AS DOUBLE) / cnt)
                    * 1152921504606846976.0) AS BIGINT) AS thr
  FROM cnts, m),
kept AS (
  SELECT d.lang, d.doc_id
  FROM documents d JOIN r USING (lang)
  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT < r.thr)
SELECT lang, count(*) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
FROM kept GROUP BY lang ORDER BY lang
"""


@register("temperature_mix", _TEMP_MIX_SQL)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ=1/2 temperature-flattened mix: per-language kept count and
    decision-sensitive id sum."""
    from pyspark.sql import functions as F

    from piholelongtermstats_spark.operators import corpus as _corpus_mod

    kept = _corpus_mod.temperature_mix(_docs(spark, sf_dir))
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("doc_id").alias("kept_id_sum"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)
