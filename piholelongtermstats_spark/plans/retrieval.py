"""Vector retrieval over the embeddings table: exact cosine top-k,
LSH / IVF / PQ / IVF-PQ / binary-quantized ANN (pinned and trained
quantizers), batched k-NN joins, semantic dedup, BM25 and hybrid
rank fusion, MMR re-ranking, random projections, Frequent-Directions
sketches and index-quality audits.

Cosine scores are rounded to 6 digits before any threshold or
ordering decision so fp-accumulation-order differences between engines
cannot flip a comparison (margins measured in
tests/test_fp_determinism.py). Trained quantizers are replayed in the
oracle SQL through the unrolled Lloyd CTE chains of
plans/oracle_train.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import (
    binquant,
    fd,
    ivf,
    knn,
    mmr,
    pca,
    semdedup,
    similarity,
)
from piholelongtermstats_spark.operators import ivf as _ivf_mod
from piholelongtermstats_spark.operators import ivfpq as _ivfpq_mod
from piholelongtermstats_spark.operators import pq as _pq_mod
from piholelongtermstats_spark.operators import retrieval as _retr
from piholelongtermstats_spark.operators import semdedup as _sd
from piholelongtermstats_spark.operators import similarity as _sim
from piholelongtermstats_spark.plans.oracle_train import lloyd_cents_ctes, lloyd_pq_ctes
from piholelongtermstats_spark.plans.registry import _docs, _emb, register


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

@register(
    "cosine_topk",
    """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id, label,
       round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cosine
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 10
""",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(_emb(spark, sf_dir), 0, 10)


# The md5-derived hyperplanes are deterministic Python-side constants
# (similarity.plane_signs), so the oracle embeds the IDENTICAL planes
# as SQL array literals and reproduces buckets bit-for-bit. Plane
# count is pinned to N_PLANES (=4) in these oracle-checked entries —
# the adaptive sizing (embedding_near_dup_pairs n_planes=None) stays
# the production default and is covered by pytest recall tests.
_EMB_DIM = 64  # driver testdata embedding dimensionality (all SFs)


def _bucket_sql(col: str, n_planes: int = similarity.N_PLANES) -> str:
    terms = []
    for p in range(n_planes):
        lit = "[" + ",".join(repr(s) for s in similarity.plane_signs(_EMB_DIM, p)) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({col}, {lit}::DOUBLE[]) > 0"
            f" THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


_BUCKETED_CTE = f"""
WITH b AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         {_bucket_sql('embedding::DOUBLE[]')} AS bucket
  FROM embeddings
)
"""


@register(
    "lsh_ann_topk",
    _BUCKETED_CTE
    + """
, q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0)
SELECT vec_id, label,
       round(list_cosine_similarity(v, qv), 6) AS cosine
FROM b, q
WHERE vec_id <> 0
  AND (bucket = qb OR bucket = xor(qb, 1) OR bucket = xor(qb, 2))
ORDER BY cosine DESC, vec_id LIMIT 10
""",
)
def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multiprobe=2: probe the query bucket + its two nearest
    # hamming-1 neighbors — ~3/16 of the corpus scanned, recall
    # measured ≥ single-bucket in tests.
    return similarity.lsh_ann_topk(_emb(spark, sf_dir), 0, 10, multiprobe=2)


# ---------------------------------------------------------------------------
# IVF / PQ ANN — oracle-checked with PINNED deterministic quantizers
#: the index parameters are corpus-independent
# md5-derived constants (ivf.fixed_centroids / pq.fixed_codebooks,
# values j/32768−1 — exactly representable doubles), so the DuckDB
# oracle embeds the IDENTICAL literals and reproduces cell assignment
# / code assignment / probe selection / ADC candidate cut exactly.
# The data-adaptive trained quantizers (train_centroids /
# train_pq_codebooks) stay the production default — registered below
# the line as *_trained (rows-only: an iterative k-means isn't a
# static SQL string) and covered by pytest recall tests.
#
# FP caveat (r4 ADVICE): "exactly" above assumes no argmax/ordering
# decision is within floating-point error of a tie — Spark scores via
# numpy BLAS matmul, DuckDB via list_dot_product, and their
# accumulation orders differ, so an ulp-level near-tie COULD flip a
# cell/code/probe decision between engines. The assumption is
# enforced, not hoped for: tests/test_fp_determinism.py measures every
# such decision's margin against an exactly-rounded fsum reference
# (observed ≫ 1e-7 vs ~1e-13 accumulation error) on each corpus, so a
# future near-tie fails there with a number instead of surfacing as a
# mystery parity mismatch.
# ---------------------------------------------------------------------------


_IVF_CENTS = _ivf_mod.fixed_centroids(_EMB_DIM)
_PQ_CBS = _pq_mod.fixed_codebooks(_EMB_DIM)


def _arr(vals) -> str:
    return "[" + ",".join(repr(float(x)) for x in vals) + "]::DOUBLE[]"


_IVF_CENT_VALUES = ",".join(
    f"({i}, {_arr(c)})" for i, c in enumerate(_IVF_CENTS)
)

# assignment: argmin |v−c|² = argmax (v·c − |c|²/2), ties → lowest
# cell (np.argmax first-hit ⇔ ORDER BY score DESC, cell ASC);
# probe: nprobe centroids nearest to the query vector, ties → lowest
# cell (Python sorted on (dist, cell) ⇔ ORDER BY distance, cell).
_V_CTE = "v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)"


def _ivf_search_body(cent: str = "cent") -> str:
    """The IVF search tail (assignment → probe → cell-restricted exact
    cosine scan) over any centroid relation ``{cent}(cell, c)`` —
    shared by the pinned-quantizer oracle and the trained-replay
    oracle (oracle_train.py)."""
    return f""",
scored AS (
  SELECT v.vec_id, v.label, v.v, {cent}.cell,
         list_dot_product(v.v, {cent}.c)
           - 0.5 * list_dot_product({cent}.c, {cent}.c) AS score
  FROM v CROSS JOIN {cent}),
assigned AS (
  SELECT vec_id, label, v, cell FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY score DESC, cell) AS rn
    FROM scored) WHERE rn = 1),
q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
probe AS (
  SELECT cell FROM {cent}, q
  ORDER BY list_distance(c, qv), cell LIMIT {_ivf_mod.N_PROBE})
SELECT a.vec_id, a.label,
       round(list_cosine_similarity(a.v, q.qv), 6) AS cosine
FROM assigned a, q
WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id <> 0
ORDER BY cosine DESC, a.vec_id LIMIT 10
"""


_IVF_SQL = (
    f"""
WITH {_V_CTE},
cent AS (SELECT * FROM (VALUES {_IVF_CENT_VALUES}) AS t(cell, c))"""
    + _ivf_search_body()
)


@register("ivf_ann_topk", _IVF_SQL)
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (16 cells, probe 4) with the pinned
    deterministic quantizer — assignment, probe selection, and the
    cell-restricted exact-cosine scan are all oracle-reproduced."""
    return _ivf_mod.ivf_ann_topk(
        _emb(spark, sf_dir), 0, 10, centroids=_IVF_CENTS
    )


_SUBDIM = _EMB_DIM // _pq_mod.N_SUB
_PQ_CB_VALUES = ",".join(
    f"({s},{code},{_arr(c)})"
    for s, book in enumerate(_PQ_CBS)
    for code, c in enumerate(book)
)

def _pq_search_body(cb: str = "cb") -> str:
    """The PQ search tail (per-subspace code assignment → ADC
    candidate cut → exact re-rank) over any codebook relation
    ``{cb}(s, code, c)`` — shared by the pinned and trained-replay
    oracles."""
    return f""",
subs AS (
  SELECT vec_id,
         CAST(t.s AS INTEGER) AS s,
         list_slice(v, t.s * {_SUBDIM} + 1, (t.s + 1) * {_SUBDIM}) AS vs
  FROM v, range({_pq_mod.N_SUB}) t(s)),
assigned AS (
  SELECT vec_id, s, c FROM (
    SELECT subs.vec_id, subs.s, {cb}.c,
      row_number() OVER (PARTITION BY subs.vec_id, subs.s
        ORDER BY list_dot_product(subs.vs, {cb}.c)
                 - 0.5 * list_dot_product({cb}.c, {cb}.c) DESC, {cb}.code) AS rn
    FROM subs JOIN {cb} ON subs.s = {cb}.s) WHERE rn = 1),
q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS qn
      FROM v WHERE vec_id = 0),
qsubs AS (
  SELECT CAST(t.s AS INTEGER) AS s,
         list_slice(qv, t.s * {_SUBDIM} + 1, (t.s + 1) * {_SUBDIM}) AS qs
  FROM q, range({_pq_mod.N_SUB}) t(s)),
approx AS (
  SELECT a.vec_id, sum(list_dot_product(qs.qs, a.c)) AS ip
  FROM assigned a JOIN qsubs qs ON a.s = qs.s
  WHERE a.vec_id <> 0 GROUP BY a.vec_id),
cand AS (
  SELECT approx.vec_id
  FROM approx
  JOIN (SELECT vec_id, sqrt(list_dot_product(v, v)) AS vn FROM v)
    USING (vec_id), q
  ORDER BY ip / (vn * qn) DESC, vec_id LIMIT 40)
SELECT v.vec_id, v.label,
       round(list_cosine_similarity(v.v, q.qv), 6) AS cosine
FROM v JOIN cand USING (vec_id), q
ORDER BY cosine DESC, v.vec_id LIMIT 10
"""


_PQ_SQL = (
    f"""
WITH {_V_CTE},
cb AS (SELECT * FROM (VALUES {_PQ_CB_VALUES}) AS t(s, code, c))"""
    + _pq_search_body()
)


@register("pq_ann_topk", _PQ_SQL)
def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (8 subspaces × 16 codes, ADC scan +
    exact re-rank over 4k=40 candidates) with the pinned deterministic
    codebooks — code assignment, the ADC candidate cut, and the exact
    re-rank are all oracle-reproduced."""
    return _pq_mod.pq_ann_topk(_emb(spark, sf_dir), 0, 10, codebooks=_PQ_CBS)


# Trained-path oracle: the 2-iteration Lloyd loop on
# the vec_id % 4 subsample is unrolled into CTEs (oracle_train.py),
# then the identical search body runs over the replayed centroids.

_IVF_TR_SQL = (
    f"WITH {_V_CTE},"
    + lloyd_cents_ctes(
        "t_",
        n_cells=_ivf_mod.N_CELLS,
        n_iters=2,
        dim=_EMB_DIM,
        metric="l2",
        pred="vec_id % 4 = 0",
    )
    + _ivf_search_body("t_cent")
)


@register("ivf_ann_topk_trained", _IVF_TR_SQL)
def q_ivf_ann_topk_trained(
    spark: SparkSession, sf_dir: str, qv: list | None = None
) -> DataFrame:
    """The production data-adaptive IVF path (16 cells trained on a
    1/4 subsample, 2 Lloyd iterations, probe 4), centroids cached per
    (session, corpus) — train once, search many. Oracle-checked since
    r11: the trainer replays as unrolled Lloyd CTEs (oracle_train.py),
    safe because centroids reach the output only through
    margin-guarded integer decisions (tests/test_fp_determinism.py).
    ``qv`` passes a pre-fetched query vector through (the recall
    panel fetches vec_id 0 once for all three single-query legs)."""
    emb = _emb(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir, 16, 2, 4)
    cents = _ivf_mod._CENTROID_CACHE.get(key)
    if cents is None:
        cents = _ivf_mod.train_centroids(emb, n_iters=2, sample_mod=4)
        _ivf_mod._CENTROID_CACHE[key] = cents
    return _ivf_mod.ivf_ann_topk(emb, 0, 10, centroids=cents, qv=qv)


# Trained-path oracle: the per-subspace 2-iteration Lloyd loop on the
# vec_id % 2 subsample unrolled as CTEs, then the identical ADC body.
_PQ_TR_SQL = (
    f"WITH {_V_CTE},"
    + lloyd_pq_ctes(
        "t_",
        n_sub=_pq_mod.N_SUB,
        n_codes=_pq_mod.N_CODES,
        n_iters=2,
        dim=_EMB_DIM,
        pred="vec_id % 2 = 0",
    )
    + _pq_search_body("t_cb")
)


@register("pq_ann_topk_trained", _PQ_TR_SQL)
def q_pq_ann_topk_trained(
    spark: SparkSession, sf_dir: str, qv: list | None = None
) -> DataFrame:
    """The production data-adaptive PQ path (codebooks trained with 2
    Lloyd iterations on a 1/2 subsample), cached like the IVF
    centroids. Oracle-checked since r11 via the per-subspace unrolled
    Lloyd replay (oracle_train.py). ``qv``: see
    q_ivf_ann_topk_trained."""
    emb = _emb(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir, 8, 16, 2)
    cbs = _pq_mod._CODEBOOK_CACHE.get(key)
    if cbs is None:
        cbs = _pq_mod.train_pq_codebooks(emb, n_iters=2, sample_mod=2)
        _pq_mod._CODEBOOK_CACHE[key] = cbs
    return _pq_mod.pq_ann_topk(emb, 0, 10, codebooks=cbs, qv=qv)


@register(
    "embedding_near_dup",
    _BUCKETED_CTE
    + """
SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b2.v), 6) AS cosine
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE round(list_cosine_similarity(a.v, b2.v), 6) >= 0.4
""",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 0.4: the synthetic embeddings have no planted near-dups (max
    # pairwise cosine ≈ 0.5), so a production-style 0.95 threshold
    # would trivially return zero rows. n_planes pinned to 4 so the
    # static oracle holds at any SF (adaptive sizing tested in pytest).
    return similarity.embedding_near_dup_pairs(
        _emb(spark, sf_dir), 0.4, n_planes=similarity.N_PLANES
    )


# ---------------------------------------------------------------------------
# Semantic dedup
# (SemDeDup), deterministic epoch-shuffle manifest, hashed-feature
# quality classifier, and the ANN doubling scale proof.
#
# Shared conventions (see plans/corpus.py): the 60-bit md5 hash
# primitive is bit-identical across engines
# (Spark conv(substr(md5(x),1,15),16,10)::long ==
# DuckDB ('0x' || substr(md5(x),1,15))::BIGINT); pinned deterministic
# quantizer constants are embedded in the oracle SQL as literals so
# DuckDB reproduces every assignment decision; cosine scores are
# rounded to 6 digits before any threshold/ordering decision so
# fp-accumulation-order differences between engines cannot flip a
# comparison (margins measured in tests/test_fp_determinism.py).
# ---------------------------------------------------------------------------

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


# Trained-path oracle: 3 spherical Lloyd iterations
# over the full corpus replayed as unrolled CTEs (oracle_train.py),
# then the survivor rule of semdedup.semantic_dedup — spherical
# assignment, remove every member with a lower-id same-cell member at
# round(cosine, 6) ≥ τ.

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


# Trained-path oracle: BOTH quantizers replayed —
# the spherical coarse trainer (3 cos-Lloyd iterations, full corpus)
# and the PQ codebook trainer (3 per-subspace L2-Lloyd iterations,
# full corpus) — as two independent CTE chains feeding the identical
# composed search body.

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
# The batched k-NN join
# (exact + cell-routed) and the per-source corpus data card.
#
# Shared conventions as plans/corpus.py/m9: pinned md5-derived quantizer
# constants are embedded in the oracle SQL as literals; cosine scores
# are rounded to 6 digits before any rank/threshold decision; integer
# sums are CAST to BIGINT in the oracle (DuckDB sum() yields HUGEINT,
# which pandas would widen to float) and divided at most once.
# ---------------------------------------------------------------------------

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


# Trained-path oracle: 3 spherical Lloyd iterations
# over the corpus half (vec_id >= N_QUERIES — queries never train the
# index), replayed as unrolled CTEs, then the identical search body.

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
# Retrieval tier (operators/retrieval.py): BM25 keyword scoring and
# reciprocal-rank fusion with the cosine leg. The oracle mirrors the
# exact expression tree (constants folded by Python are interpolated
# with repr so both engines parse the identical double literal); RRF
# arithmetic is bit-exact (integer ranks, one division per leg, fixed
# two-term sum order).
# ---------------------------------------------------------------------------


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
# Random projection (operators/similarity.py:random_projection) —
# JL ±1 sign projection; the identical sign literals are embedded in
# the oracle and the dot product is the same left-fold on both sides.
# ---------------------------------------------------------------------------


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
# kNN label voting (operators/knn.py:knn_label_vote) — quality-label
# transfer by retrieval. The oracle replays the exact kNN join
# (identical to the knn_join oracle) and the fully-pinned vote
# tie-break: votes desc, best (min) rank, smaller label.
# ---------------------------------------------------------------------------

_VOTE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {knn.N_QUERIES}),
c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id >= {knn.N_QUERIES}),
s AS (SELECT query_id, vec_id, label,
             round(list_cosine_similarity(v, qv), 6) AS cosine
      FROM c CROSS JOIN q),
nn AS (SELECT query_id, label, rank FROM (
         SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         FROM s) t
       WHERE rank <= {knn.K}),
v AS (SELECT query_id, label, count(*) AS votes, min(rank) AS best_rank
      FROM nn GROUP BY 1, 2)
SELECT query_id, label AS pred_label,
       CAST(votes AS BIGINT) AS votes, CAST(best_rank AS BIGINT) AS best_rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY votes DESC, best_rank, label) AS r
      FROM v) t
WHERE r = 1 ORDER BY query_id
"""


@register("knn_label_vote", _VOTE_SQL)
def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn.knn_label_vote(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization ANN (operators/binquant.py) — 1-bit
# codes, integer hamming candidate cut, exact rounded-cosine rerank.
# The oracle replays the identical packing (32-bit words in BIGINTs),
# the identical integer hamming rank, and the house rerank policy.
# ---------------------------------------------------------------------------


_BQ_Q = binquant.N_QUERIES
_BQ_K = binquant.K
_BQ_C = binquant.N_CANDIDATES

_BINQUANT_SQL = f"""
WITH codes AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN i <= 32 AND e > 0
                       THEN 1::BIGINT << (i - 1) ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN i > 32 AND e > 0
                       THEN 1::BIGINT << (i - 33) ELSE 0 END) AS BIGINT) AS c1
  FROM (SELECT vec_id, unnest(embedding) AS e,
               generate_subscripts(embedding, 1) AS i FROM embeddings)
  GROUP BY vec_id),
q AS (SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qv, c0 AS q0, c1 AS q1
      FROM embeddings e JOIN codes USING (vec_id) WHERE vec_id < {_BQ_Q}),
c AS (SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS v, c0, c1
      FROM embeddings e JOIN codes USING (vec_id) WHERE vec_id >= {_BQ_Q}),
h AS (SELECT query_id, vec_id, label, v, qv,
             CAST(bit_count(xor(c0, q0)) + bit_count(xor(c1, q1)) AS BIGINT)
               AS hamming
      FROM c CROSS JOIN q),
cand AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY hamming, vec_id) AS cand_rank
    FROM h) t
  WHERE cand_rank <= {_BQ_C})
SELECT query_id, rank, vec_id, label, hamming, cosine FROM (
  SELECT query_id, vec_id, label, hamming,
         round(list_cosine_similarity(v, qv), 6) AS cosine,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(list_cosine_similarity(v, qv), 6) DESC, vec_id) AS rank
  FROM cand) t
WHERE rank <= {_BQ_K}
ORDER BY query_id, rank
"""


@register("binary_quant_ann", _BINQUANT_SQL)
def q_binary_quant_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit ANN: 32× smaller candidate state, integer-exact
    candidate decisions, exact rerank (operators/binquant.py)."""
    return binquant.binary_quant_ann(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# Sketch-audit + data-mixture completion:
#
# - ``embedding_dim_stats``   per-dimension whitening stats over
#   quantize-once integers (the fp-policy trick that makes cross-row
#   float aggregation hash-exact).
# - ``embedding_pca_project`` rows-only PCA projection (driver-side
#   d x d eig on a distributed BLAS Gramian; numpy-differential-pinned
#   in tests/test_m15.py — the trained-quantizer protocol).
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Matrix-sketch:
#
# - ``fd_sketch_spectrum`` (rows-only: SVD fp edge, the trained-index
#   class) — top singular values of the embedding matrix via a
#   distributed Frequent-Directions sketch (Liberty KDD'13; mergeable
#   per-partition sketches, one P·ℓ·d-double shuffle independent of n).
#   pytest pins exact recovery under capacity and the 2‖A‖_F²/ℓ
#   spectral bound against numpy (tests/test_fd.py).
# ---------------------------------------------------------------------------

@register(
    "fd_sketch_spectrum",
    rows_only="SVD fp edge, numpy-pinned",
    funnel_waiver=(
        "FD sketch merge (operators/fd.py): mapInPandas emits <= ell "
        "(=2*k) sketch rows PER PARTITION regardless of input rows — "
        "the repartition(1) moves P*ell rows (P = #partitions), never "
        "the embedding relation. Bounded by the streaming-sketch "
        "contract, invisible to the physical plan. (fd_spectrum_audit "
        "runs the same merge, but eagerly inside the query function — "
        "its RETURNED plan is a literal relation, so the gate never "
        "sees that funnel and it needs no waiver.)"
    ),
)
def q_fd_sketch_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed FD sketch spectrum, ℓ=16 over the 64-dim corpus
    (operators/fd.py). Raw sigmas stay rows-only; the accuracy
    contract is hash-checked by fd_spectrum_audit below."""
    return fd.fd_sketch_spectrum(_emb(spark, sf_dir), ell=16, dim=64, top=8)


# Graduated companion: the sketch VALUES are an fp
# edge, but the Liberty CONTRACT is auditable — the frame carries the
# exact data tie-ins (n_rows, quantized Frobenius) that DuckDB
# recomputes bit-identically, plus the per-rank verdicts the oracle
# pins as the PROMISE (1). A sketch that overestimates a singular
# value, busts the 2‖A‖_F²/ℓ deficit bound, or exceeds the exact
# Frobenius mass now hash-fails the driver gate instead of only
# pytest (tests/test_fd.py keeps the numeric legs).
_FD_AUDIT_SQL = """
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(list_sum(list_transform(embedding,
               e -> CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT)
                  * CAST(floor(CAST(e AS DOUBLE) * 1000) AS BIGINT))))
              AS BIGINT) AS fro2_q
  FROM embeddings)
SELECT CAST(rr.range + 1 AS BIGINT) AS rank, s.n_rows, s.fro2_q,
       CAST(1 AS INT) AS not_over,
       CAST(1 AS INT) AS within_bound,
       CAST(1 AS INT) AS fro_contained
FROM s CROSS JOIN range(8) rr
"""


@register("fd_spectrum_audit", _FD_AUDIT_SQL)
def q_fd_spectrum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD accuracy-contract audit vs the exact distributed Gramian
    spectrum (operators/fd.py:fd_spectrum_audit)."""
    return fd.fd_spectrum_audit(_emb(spark, sf_dir), ell=16, dim=64, top=8)


# ---------------------------------------------------------------------------
# Data-profiling + retrieval-serving:
#
# - ``mmr_rerank`` — Maximal Marginal Relevance diversity re-ranking
#   over the cosine top-16 (Carbonell & Goldstein 1998), greedy fold
#   entirely in catalyst; the oracle replays the greedy as a recursive
#   CTE with the identical λ·rel − (1−λ)·maxsim IEEE step
#   (operators/mmr.py).
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Index-quality + robust-scale:
#
# - ``ann_eval_metrics`` — per-query recall@k / MRR audit of the
#   cell-routed ANN against the exact k-NN join (operators/knn.py).
#   Both legs are the already-oracle-checked knn_join / knn_join_ivf
#   plans over the pinned spherical quantizer, so the audit itself is
#   SQL-replayable decision-for-decision.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Behavioral-anomaly / series-diagnostics / index-quality:
#
# - ``semdedup_cell_margins`` — simplified-silhouette audit of the
#   SemDeDup cells (the eval the dedup/ANN tiers already have, for the
#   clustering tier): per-cell assignment margins in integer ppm.
# ---------------------------------------------------------------------------

_MARGINS_SQL = f"""
WITH cent AS (SELECT * FROM (VALUES {_SEM_CENT_VALUES}) AS t(cell, c)),
v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT v.vec_id, cent.cell,
         CAST(round(list_cosine_similarity(v.v, cent.c) * 1000000)
              AS BIGINT) AS ppm
  FROM v CROSS JOIN cent),
ranked AS (
  SELECT vec_id, cell, ppm,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY ppm DESC, cell) AS rn
  FROM scored),
per_vec AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN cell END) AS cell,
         max(CASE WHEN rn = 1 THEN ppm END) AS a_ppm,
         max(CASE WHEN rn > 1 THEN ppm END) AS b_ppm
  FROM ranked GROUP BY vec_id)
SELECT cell,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(a_ppm - b_ppm) AS BIGINT) AS sum_margin_ppm,
       CAST(min(a_ppm - b_ppm) AS BIGINT) AS min_margin_ppm,
       round(CAST(sum(a_ppm - b_ppm) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS mean_margin_ppm
FROM per_vec GROUP BY cell ORDER BY cell
"""


@register("semdedup_cell_margins", _MARGINS_SQL)
def q_semdedup_cell_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell SemDeDup assignment-margin audit (simplified
    silhouette), integer ppm (operators/semdedup.py)."""

    return semdedup.semdedup_cell_margins(_emb(spark, sf_dir), _SEM_CENTS)


# ---------------------------------------------------------------------------
# Embedding-truncation eval + rank concordance:
#
# - ``matryoshka_recall_eval`` — recall@k / MRR of truncated-dimension
#   (MRL-style) cosine retrieval against the full-dimension exact k-NN;
#   the quantization-eval triad (PQ/SQ8/binary) gains the zero-infra
#   compression point every vector store offers.
#
# Both DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Trained-index recall audit:
#
# ``trained_ann_recall_panel`` — one row per TRAINED vector-index family
# with the integer overlap of its top-k result against the exact cosine
# truth over the fixed query set: (family, n_queries, k, hits,
# recall_ppm). The six ``_trained`` registry entries were pure
# rows-only trust-me's — their oracle-checked twins pin the UNTRAINED
# machinery, but no checked statement existed about the trained path.
# This panel makes the trained path's retrieval quality a deterministic,
# driver-recordable number: the trainers are deterministic (Lloyd on a
# deterministic subsample, session-cached), both legs are deterministic
# plans, and every output except the one DIV is a BIGINT count.
#
# semdedup's trained path is deliberately not in the panel: it is a
# dedup (cell-assignment) operator, not a retrieval index — its trained
# quality is audited by semdedup_cell_margins.
#
# Scale: every leg is a k-row-per-query relation; the overlap join and
# the final union are driver-negligible. The trained quantizers come
# from the same session caches the ``_trained`` entries use — train
# once, audit free.
# ---------------------------------------------------------------------------

_K1 = 10  # single-query families serve top-10 (their registry contract)

# ---------------------------------------------------------------------------
# Panel oracle (r10 VERDICT #4 — the register-replay close-out): every
# trained leg is now SQL-replayable via the unrolled Lloyd chains
# (oracle_train.py), so the panel's hits/recall become plain
# intersection counts between leg subqueries — DuckDB allows a full
# WITH...SELECT as a derived table, so each leg's registered oracle
# embeds verbatim. This zeroes the driver's one `no_oracle` TOP_50 row.
# ---------------------------------------------------------------------------


_EX1_SQL = """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS cosine
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id LIMIT 10
"""


def _hits1(leg_sql: str) -> str:
    """Integer overlap of a single-query leg's top-10 with the exact
    cosine truth (the _overlap left-semi count)."""
    return (
        "(SELECT CAST(count(*) AS BIGINT)"
        f" FROM ({leg_sql}) a JOIN ({_EX1_SQL}) e USING (vec_id))"
    )


_PANEL_SQL = f"""
WITH hitrows AS (
  SELECT 'ivf_trained' AS family, CAST(1 AS BIGINT) AS n_queries,
         CAST({_K1} AS BIGINT) AS k, {_hits1(_IVF_TR_SQL)} AS hits
  UNION ALL
  SELECT 'ivfpq_trained', 1, {_K1}, {_hits1(_IVFPQ_TR_SQL)}
  UNION ALL
  SELECT 'pq_trained', 1, {_K1}, {_hits1(_PQ_TR_SQL)}
  UNION ALL
  SELECT 'sphknn_trained', {knn.N_QUERIES}, {knn.K},
         (SELECT CAST(count(*) AS BIGINT)
          FROM ({_KNN_TR_SQL}) a
          JOIN ({_KNN_JOIN_SQL}) e USING (query_id, vec_id))
)
SELECT family, n_queries, k, hits,
       CAST(hits * 1000000 // (n_queries * k) AS BIGINT) AS recall_ppm
FROM hitrows ORDER BY family
"""


def _overlap(
    exact: DataFrame,
    approx: DataFrame,
    family: str,
    n_queries: int,
    k: int,
) -> DataFrame:
    """One row: integer overlap of two (query_id, vec_id) top-k
    relations; recall_ppm = hits·10⁶ DIV (n_queries·k) — integer
    FLOOR division (the ann_eval_metrics convention, r8 ADVICE)."""
    hits = (
        exact.select("query_id", "vec_id")
        .join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    return hits.select(
        F.lit(family).alias("family"),
        F.lit(n_queries).cast("long").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        "hits",
        F.expr(f"hits * 1000000 DIV {n_queries * k}").alias("recall_ppm"),
    )


@register(
    "trained_ann_recall_panel",
    _PANEL_SQL,
    budget=(
        4.5,
        "five-leg composite audit - every"
        " trained index family plus both exact-truth legs scans the"
        " corpus once by design (~2.7s)",
    ),
)
def q_trained_ann_recall_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of every trained retrieval index vs the exact cosine
    truth (operators/knn.py, ivf.py, pq.py, ivfpq.py, semdedup.py).
    Oracle-checked since r11: each leg replays its trainer as
    unrolled Lloyd CTEs (oracle_train.py) and the panel reduces to
    intersection counts over the leg subqueries."""
    emb = _emb(spark, sf_dir)
    # The exact leg feeds three overlap branches — materialize its 10
    # rows once (eager localCheckpoint, the cograph convention) so the
    # corpus scan doesn't re-execute per union branch.
    exact1 = (
        similarity.cosine_topk(emb, 0, _K1)
        .select(F.lit(0).alias("query_id"), "vec_id")
        .localCheckpoint(eager=True)
    )
    # One query-vector fetch for all three single-query legs: each leg
    # builder used to run its own `emb.filter(vec_id==0).first()` probe
    # — three identical driver jobs per panel build (r13, guide §1.2 /
    # §5 "the driver should do almost no data work").
    qrow = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .first()
    )
    qv = list(qrow["v"]) if qrow is not None else None
    panels = []
    for family, qfn in (
        ("ivf_trained", q_ivf_ann_topk_trained),
        ("ivfpq_trained", q_ivfpq_ann_topk_trained),
        ("pq_trained", q_pq_ann_topk_trained),
    ):
        approx = qfn(spark, sf_dir, qv=qv).select(
            F.lit(0).alias("query_id"), "vec_id"
        )
        panels.append(_overlap(exact1, approx, family, 1, _K1))
    exact8 = knn.knn_join(emb).select("query_id", "vec_id")
    approx8 = q_knn_join_ivf_trained(spark, sf_dir).select(
        "query_id", "vec_id"
    )
    panels.append(
        _overlap(exact8, approx8, "sphknn_trained", knn.N_QUERIES, knn.K)
    )
    out = panels[0]
    for p in panels[1:]:
        out = out.unionByName(p)
    return out  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)
