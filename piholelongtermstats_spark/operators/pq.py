"""Product quantization (PQ) for embedding similarity — the memory
scale path, alongside hyperplane-LSH (similarity.py) and IVF (ivf.py).

A PQ index splits the d-dim space into `n_sub` subspaces and learns a
small codebook (k-means, `n_codes` codes) per subspace; each corpus
vector is stored as `n_sub` small integers instead of d floats — at
(8 subspaces × 16 codes) that is 8 nibbles ≈ 4 bytes per vector vs
256 bytes of float32, a 64× compression. Search uses ADC (asymmetric
distance computation): the query stays full-precision, a per-subspace
lookup table of partial inner products is built on the driver
(n_sub × n_codes floats — tiny), and the corpus scan reduces to
`n_sub` literal-array lookups + a sum, entirely JVM-side codegen: no
shuffle, no Python in the scan. Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011).

Determinism: same contract as ivf.py — no RNG. Codebook seeds are the
vectors with the `n_codes` smallest md5(vec_id); one shared seed set
feeds every subspace (its slice of the seed vector). Lloyd updates
are exact averages over deterministic assignments. All `n_sub`
subspace k-means train in ONE distributed pass per Lloyd iteration:
a single Arrow-batched assignment UDF emits all subspace codes, one
explode + groupBy(subspace, code) computes every subspace mean — one
shuffle per iteration total, not per subspace.

Beyond the reference: the reference engine has no vector tier at all;
this exists for the LLM-training-data pipeline (dedup/retrieval over
document embeddings at 100 TB, where float32 vectors don't fit and
PQ codes do).

At scale: encode once, persist (vec_id, codes, vnorm) — the float
vectors are only needed again for the final exact re-rank, fetched by
a broadcast semi-join on ~4k candidate ids. Compose with IVF by
bucketing the code table by `cell` (assign_cells) and probing cells
before the ADC scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import ivf
from piholelongtermstats_spark.operators.fixpoint import lloyd
from piholelongtermstats_spark.operators.similarity import _dot, _norm

N_SUB = 8
N_CODES = 16
N_ITERS = 3

# (applicationId, corpus key, params) → codebooks; same train-once /
# search-many contract (and same cache shape) as ivf._CENTROID_CACHE.
_CODEBOOK_CACHE: dict[tuple, list] = {}


def fixed_codebooks(
    dim: int, n_sub: int = N_SUB, n_codes: int = N_CODES
) -> list:
    """Deterministic corpus-INDEPENDENT codebooks for the
    oracle-checked registry entry (see ivf.fixed_centroids): values
    j/32768 − 1 are exactly representable doubles so the DuckDB
    oracle embeds identical literals. train_pq_codebooks remains the
    production (data-adaptive) path, pytest-covered."""
    import hashlib

    subdim = dim // n_sub
    return [
        [
            [
                int(
                    hashlib.md5(f"pq:{s}:{code}:{i}".encode()).hexdigest()[:4],
                    16,
                )
                / 32768.0
                - 1.0
                for i in range(subdim)
            ]
            for code in range(n_codes)
        ]
        for s in range(n_sub)
    ]


def _codes_udf(codebooks: list):
    """All-subspace nearest-code assignment, one Arrow batch at a time.

    codebooks: n_sub × n_codes × subdim. Per subspace s:
    argmin |v_s − c|² = argmax (v_s·c − |c|²/2). One matmul per
    subspace per batch; ties → lowest code id (np.argmax first-hit)."""
    C = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    half = [0.5 * (c * c).sum(axis=1) for c in C]
    subdim = C[0].shape[1]

    @F.pandas_udf("array<int>")
    def assign(v: pd.Series) -> pd.Series:
        V = np.stack(v.to_numpy())  # n × d
        cols = []
        for s, (Cs, hs) in enumerate(zip(C, half)):
            Vs = V[:, s * subdim : (s + 1) * subdim]
            cols.append(np.argmax(Vs @ Cs.T - hs[None, :], axis=1))
        codes = np.stack(cols, axis=1).astype("int32")  # n × n_sub
        return pd.Series(list(codes))

    return assign


def train_pq_codebooks(
    emb: DataFrame,
    n_sub: int = N_SUB,
    n_codes: int = N_CODES,
    n_iters: int = N_ITERS,
    sample_mod: int | None = None,
) -> list:
    """Deterministic per-subspace Lloyd (fixpoint.lloyd keyed by
    (subspace, code)) → codebooks (n_sub × n_codes × subdim, kilobytes).

    One shuffle per iteration: the assignment UDF emits every
    subspace's code in one pass, then a single explode +
    groupBy(subspace, code) averages all subspaces at once."""
    base, seeds = ivf.training_sample(emb, n_codes, sample_mod)
    if not seeds:
        return []
    dim = len(seeds[0])
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    subdim = dim // n_sub

    def books(cb: dict) -> list:
        return [[cb[s, j] for j in range(len(seeds))] for s in range(n_sub)]

    def members(cb: dict) -> DataFrame:
        assigned = base.withColumn("codes", _codes_udf(books(cb))(F.col("v")))
        subspaces = F.explode(F.array(*[F.lit(s) for s in range(n_sub)]))
        return assigned.select(subspaces.alias("s"), "v", "codes").select(
            "s",
            F.get(F.col("codes"), F.col("s")).alias("code"),
            # 1-indexed slice of subspace s
            F.slice(F.col("v"), F.col("s") * subdim + 1, subdim).alias("v"),
        )

    # one shared seed set: every subspace starts from its slice of it
    init = {(s, j): seed[s * subdim : (s + 1) * subdim] for s in range(n_sub) for j, seed in enumerate(seeds)}
    return books(lloyd(members, init, n_iters))


def encode_pq(emb: DataFrame, codebooks: list) -> DataFrame:
    """Corpus → (vec_id, label, codes array<int>, vnorm). This is the
    table a deployment persists: n_sub small ints + one float per
    vector. vnorm is kept because ADC approximates the INNER PRODUCT;
    cosine needs the true |v| (standard PQ-for-cosine practice)."""
    v = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        "label",
        _codes_udf(codebooks)(v).alias("codes"),
        _norm(v).alias("vnorm"),
    )


def pq_ann_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_sub: int = N_SUB,
    n_codes: int = N_CODES,
    n_iters: int = N_ITERS,
    codebooks: list | None = None,
    rerank: int = 4,
    sample_mod: int | None = None,
    qv: "list | np.ndarray | None" = None,
) -> DataFrame:
    """ADC top-K with exact re-rank.

    1. Driver builds lut[s][c] = q_s · codebook[s][c] (tiny).
    2. Corpus scan: approx_cos = Σ_s lut[s][codes[s]] / (vnorm·|q|) —
       n_sub literal-array element_at lookups, JVM codegen, no
       shuffle, no floats fetched.
    3. Top rerank·k candidates by approx score re-scored with exact
       cosine via a broadcast join on the candidate ids — the only
       touch of full vectors, O(rerank·k) rows.
    Output schema matches ivf_ann_topk: (vec_id, label, cosine).
    A caller-supplied ``qv`` skips the check that ``query_vec_id``
    exists in ``emb`` (an absent id otherwise yields the empty
    frame), so the caller must make that check itself."""
    if codebooks is None:
        codebooks = train_pq_codebooks(emb, n_sub, n_codes, n_iters, sample_mod)
    spark = emb.sparkSession
    empty = spark.createDataFrame([], "vec_id bigint, label int, cosine double")
    if not codebooks:
        return empty
    v = F.col("embedding").cast("array<double>")
    if qv is None:
        qrow = (
            emb.filter(F.col("vec_id") == query_vec_id)
            .select(v.alias("v"))
            .first()
        )
        if qrow is None:
            return empty
        qv = qrow["v"]
    qv = np.asarray(qv, dtype=np.float64)
    qnorm = float(np.sqrt((qv * qv).sum()))
    subdim = len(codebooks[0][0])
    luts = [
        F.array(
            *[
                F.lit(float(qv[s * subdim : (s + 1) * subdim] @ np.asarray(c)))
                for c in codebooks[s]
            ]
        )
        for s in range(len(codebooks))
    ]
    codes = encode_pq(emb, codebooks).filter(F.col("vec_id") != query_vec_id)
    approx_ip = sum(
        F.element_at(luts[s], F.col("codes")[s] + 1) for s in range(len(codebooks))
    )
    cand = (
        codes.select(
            "vec_id", (approx_ip / (F.col("vnorm") * F.lit(qnorm))).alias("approx_cos")
        )
        .orderBy(F.col("approx_cos").desc(), F.col("vec_id").asc())
        .limit(rerank * k)
    )
    qcol = F.array(*[F.lit(float(x)) for x in qv])
    return (
        emb.join(F.broadcast(cand.select("vec_id")), "vec_id")
        .select(
            "vec_id",
            "label",
            F.round(_dot(v, qcol) / (_norm(v) * F.lit(qnorm)), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )
