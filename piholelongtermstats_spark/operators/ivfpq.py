"""IVF-PQ (IVFADC) — the composed vector index: coarse cells bound
the scan, PQ codes bound the bytes.

This is the production architecture the single-family indexes build
toward (Jégou et al., TPAMI 2011, §IV "IVFADC"; the same composition
FAISS ships as IndexIVFPQ): a coarse quantizer routes every vector to
a cell, PQ encodes the RESIDUAL v − centroid[cell], and a query scans
only `nprobe` cells, scoring candidates from their codes:

    q·v  =  q·c[cell]  +  q·(v − c[cell])
            ─────────      ────────────────
            exact, one      ADC: Σ_s lut[s][code_s], the lut built
            term per cell   once per query on the driver (tiny)

so the scan touches `n_sub` nibbles + one norm per vector — never the
float vectors — and only in the probed cells. At 10⁹ vectors ×
nprobe/16 cells × ~4 bytes/vector the hot path reads megabytes, not
terabytes; the exact re-rank fetches full vectors for O(rerank·k)
ids by broadcast join, as in operators/pq.py.

Coarse quantizer: SPHERICAL assignment (argmax cosine — the geometry
that partitions direction-clustered embedding corpora; see
operators/semdedup.py for why pinned euclidean cells degenerate).
Residuals are taken against the raw centroid vector — the standard
IVFADC residual; spherical only changes the ROUTING rule.

Determinism: no RNG. The oracle-checked registry entry pins BOTH
quantizers (ivf.fixed_centroids under spherical routing +
pq.fixed_codebooks on residuals) so DuckDB replays cell assignment,
residual code assignment, probe selection, the ADC candidate cut,
and the exact re-rank bit-for-bit; fp decision margins are measured
in tests/test_fp_determinism.py like the single-family indexes.

Scale shape: encode is one Arrow-batched pass (cell + codes + vnorm
per vector — persist it bucketed by cell); search is a map-side
filter to probe cells + codegen ADC arithmetic + TakeOrdered; the
only join is the broadcast of ~rerank·k candidate ids.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import ivf, pq
from piholelongtermstats_spark.operators.similarity import _dot, _norm

N_CELLS = ivf.N_CELLS
N_PROBE = ivf.N_PROBE
N_SUB = pq.N_SUB
N_CODES = pq.N_CODES


def _encode_udf(centroids: list[list[float]], codebooks: list):
    """One Arrow-batched pass: spherical cell + residual PQ codes.

    cell = argmax v·ĉ (ties → lowest cell, np.argmax first-hit);
    residual = v − C[cell]; code_s = argmax(r_s·cb − |cb|²/2)
    (ties → lowest code). Returns struct<cell int, codes array<int>>."""
    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    B = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    half = [0.5 * (b * b).sum(axis=1) for b in B]
    subdim = B[0].shape[1]

    @F.pandas_udf("struct<cell: int, codes: array<int>>")
    def encode(v: pd.Series) -> pd.DataFrame:
        V = np.stack(v.to_numpy())
        cells = np.argmax(V @ Cn.T, axis=1)
        R = V - C[cells]
        cols = []
        for s, (Bs, hs) in enumerate(zip(B, half)):
            Rs = R[:, s * subdim : (s + 1) * subdim]
            cols.append(np.argmax(Rs @ Bs.T - hs[None, :], axis=1))
        codes = np.stack(cols, axis=1).astype("int32")
        return pd.DataFrame(
            {"cell": cells.astype("int32"), "codes": list(codes)}
        )

    return encode


def encode_ivfpq(
    emb: DataFrame, centroids: list[list[float]], codebooks: list
) -> DataFrame:
    """Corpus → (vec_id, label, cell, codes, vnorm) — the persisted
    index table (at scale: written bucketed by cell; ~4 bytes of
    codes + 4 of cell + 8 of norm per vector)."""
    v = F.col("embedding").cast("array<double>")
    enc = _encode_udf(centroids, codebooks)(v)
    return emb.select(
        "vec_id",
        "label",
        enc["cell"].alias("cell"),
        enc["codes"].alias("codes"),
        _norm(v).alias("vnorm"),
    )


def ivfpq_ann_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    nprobe: int = N_PROBE,
    rerank: int = 4,
    centroids: list[list[float]] | None = None,
    codebooks: list | None = None,
    qv: "list | np.ndarray | None" = None,
) -> DataFrame:
    """ADC top-K over the probed cells with exact re-rank. Pass both
    pinned quantizers for the SQL-reproducible path; ``None`` trains
    the data-adaptive ones (spherical k-means coarse + residual-free
    PQ codebooks — the production default, pytest recall-covered).
    A caller-supplied ``qv`` skips the check that ``query_vec_id``
    exists in ``emb`` (an absent id otherwise yields the empty
    frame), so the caller must make that check itself."""
    spark = emb.sparkSession
    empty = spark.createDataFrame([], "vec_id bigint, label int, cosine double")
    if centroids is None:
        from piholelongtermstats_spark.operators import semdedup

        centroids = semdedup.train_spherical_centroids(emb, N_CELLS)
    if not centroids:
        return empty
    if codebooks is None:
        codebooks = pq.train_pq_codebooks(emb)
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

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    # probe selection: nprobe cells by cosine(q, centroid), ties →
    # lowest cell — driver-side over the tiny centroid list
    sims = Cn @ (qv / qnorm)
    order = sorted(range(len(C)), key=lambda i: (-sims[i], i))
    probe = order[:nprobe]
    # per-cell exact term q·c[cell] and per-subspace residual luts
    qc = F.array(*[F.lit(float(qv @ C[i])) for i in range(len(C))])
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
    codes = encode_ivfpq(emb, centroids, codebooks).filter(
        (F.col("cell").isin(probe)) & (F.col("vec_id") != query_vec_id)
    )
    approx_ip = F.element_at(qc, F.col("cell") + 1) + sum(
        F.element_at(luts[s], F.col("codes")[s] + 1)
        for s in range(len(codebooks))
    )
    cand = (
        codes.select(
            "vec_id",
            (approx_ip / (F.col("vnorm") * F.lit(qnorm))).alias("approx_cos"),
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
