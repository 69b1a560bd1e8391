"""IVF (inverted-file) approximate nearest neighbor — the second
scale path for similarity search, alongside the hyperplane-LSH
variant in operators/similarity.py.

Index = a coarse k-means quantizer: every corpus vector is assigned
to its nearest centroid ("cell"); a query scans only the `nprobe`
cells whose centroids are nearest to it. Versus LSH: cells adapt to
the data distribution (no empty/overfull sign buckets), recall/cost
is tuned smoothly by nprobe, and the assignment column doubles as a
partitioning key for the stored corpus.

Determinism: no RNG anywhere. Centroid seeds are the vectors with
the `k` smallest md5(vec_id) values (a fixed pseudo-random sample);
Lloyd iterations are averages over deterministic assignments
(distance ties broken by centroid id). Centroids are collected to
the driver between iterations — k×dim doubles, kilobytes — and
re-broadcast as literal arrays, the standard iterative-ML pattern
(same shape as spark.ml KMeans, minus its RNG).

Scale: each Lloyd pass is one map-side assignment (k dot products
per row against literal centroids — no shuffle) plus one
groupBy(cell) with dim avg() columns (one shuffle of k×dim values).
Search is a map-side filter to nprobe cells + exact cosine +
TakeOrdered. At 1B vectors the assignment is computed once and the
corpus is written bucketed by cell (sources/bucketing.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators.fixpoint import lloyd
from piholelongtermstats_spark.operators.similarity import _dot, _norm
from piholelongtermstats_spark.operators.text import md5_hash60

N_CELLS = 16
N_ITERS = 3
N_PROBE = 4

# Trained-index cache: (applicationId, corpus key, params) → centroids.
# "Train once, search many" is the IVF contract — a production
# deployment persists the quantizer next to the bucketed corpus; here
# repeat searches in one session reuse the driver-side centroid list
# (kilobytes, deterministic, so caching cannot change results).
_CENTROID_CACHE: dict[tuple, list[list[float]]] = {}


def fixed_centroids(dim: int, n_cells: int = N_CELLS) -> list[list[float]]:
    """Deterministic corpus-INDEPENDENT centroids for the
    oracle-checked registry entry (same technique as
    similarity.plane_signs): md5-derived values j/32768 − 1 are
    exactly representable doubles, so the DuckDB oracle can embed the
    IDENTICAL centroids as SQL literals and reproduce cell assignment
    bit-for-bit. The data-adaptive quantizer (train_centroids) stays
    the production default, covered by pytest recall tests — a static
    SQL string cannot retrain per corpus."""
    import hashlib

    return [
        [
            int(
                hashlib.md5(f"ivf:{cell}:{i}".encode()).hexdigest()[:4], 16
            )
            / 32768.0
            - 1.0
            for i in range(dim)
        ]
        for cell in range(n_cells)
    ]


def _assign_udf(centroids: list[list[float]]):
    """Vectorized (Arrow-batched) nearest-centroid assignment.

    One numpy matmul per batch: argmin |v−c|² = argmin(|c|² − 2 v·c),
    |v|² dropped (constant per row). This is the deliberate
    Pandas-UDF exception to the JVM-expressions-everywhere rule: the
    Column formulation (k struct distances via higher-order
    aggregate/zip_with lambdas) evaluates ~k·dim interpreted lambdas
    per row — measured ~6× slower than the batched matmul at k=16,
    dim=64. Ties → lowest cell id (np.argmin takes the first min,
    matching the documented tie-break)."""
    C = np.asarray(centroids, dtype=np.float64)  # k × dim
    half_c2 = 0.5 * (C * C).sum(axis=1)  # k

    @F.pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        V = np.stack(v.to_numpy())  # n × dim
        scores = V @ C.T - half_c2[None, :]  # maximize v·c − |c|²/2
        return pd.Series(np.argmax(scores, axis=1).astype("int32"))

    return assign


def training_sample(
    emb: DataFrame, n_seeds: int, sample_mod: int | None = None
) -> "tuple[DataFrame, list[list[float]]]":
    """Every trained quantizer's start: the training vectors as one
    ``v`` column, and the ``n_seeds`` with the smallest md5(vec_id)
    as lists (a fixed pseudo-random sample; [] for an empty corpus).
    ``sample_mod`` trains on the vec_id % mod == 0 subsample (the
    quantizer needs a representative sample, not the corpus; FAISS
    trains on ~256 vectors/centroid); assign_cells still assigns the
    FULL corpus."""
    if sample_mod and sample_mod > 1:
        emb = emb.filter(F.col("vec_id") % sample_mod == 0)
    v = F.col("embedding").cast("array<double>")
    seeds = (
        emb.select("vec_id", v.alias("v"))
        .orderBy(md5_hash60(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc())
        .limit(n_seeds)
        .collect()
    )
    return emb.select(v.alias("v")), [list(r["v"]) for r in seeds]


def train_cells(
    emb: DataFrame, k: int, n_iters: int, sample_mod: int | None, assign_udf
) -> list[list[float]]:
    """k centroids by fixpoint.lloyd from the training_sample seeds,
    each vector assigned to the cell ``assign_udf(centroids)`` picks;
    [] for an empty corpus (search then yields 0 rows)."""
    base, seeds = training_sample(emb, k, sample_mod)
    if not seeds:
        return []

    def members(centroids: dict) -> DataFrame:
        cell = assign_udf(list(centroids.values()))(F.col("v"))
        return base.select(cell.alias("cell"), "v")

    return list(lloyd(members, dict(enumerate(seeds)), n_iters).values())


def train_centroids(
    emb: DataFrame,
    n_cells: int = N_CELLS,
    n_iters: int = N_ITERS,
    sample_mod: int | None = None,
) -> list[list[float]]:
    """Deterministic euclidean Lloyd iterations (train_cells); returns
    k centroids as plain lists (kilobytes)."""
    return train_cells(emb, n_cells, n_iters, sample_mod, _assign_udf)


def assign_cells(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Corpus → (vec_id, label, v, cell). At scale, persist this
    bucketed by cell."""
    v = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id", "label", v.alias("v"),
        _assign_udf(centroids)(v).alias("cell"),
    )


def ivf_ann_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_cells: int = N_CELLS,
    n_iters: int = N_ITERS,
    nprobe: int = N_PROBE,
    centroids: list[list[float]] | None = None,
    sample_mod: int | None = None,
    qv: list | None = None,
) -> DataFrame:
    """Approximate cosine top-K scanning only the nprobe nearest
    cells. Pass pre-trained `centroids` to skip index build (the
    production path: train once, search many). ``qv`` short-circuits
    the query-vector fetch when the caller already holds it (the
    recall panel fetches it ONCE for all three single-query legs).
    A caller-supplied ``qv`` also skips the check that
    ``query_vec_id`` exists in ``emb`` (an absent id otherwise yields
    the empty frame), so the caller must make that check itself."""
    if centroids is None:
        centroids = train_centroids(emb, n_cells, n_iters, sample_mod)
    if not centroids:
        return emb.sparkSession.createDataFrame(
            [], "vec_id bigint, label int, cosine double"
        )
    assigned = assign_cells(emb, centroids)
    if qv is None:
        # Fetch the query vector from the RAW corpus, not from
        # `assigned`: v is cast(embedding) either way, and probing
        # through `assigned` executed the whole nearest-centroid
        # Arrow stage just to read back one unmodified vector (r13,
        # guide §1.2 — don't compute things you throw away).
        v = F.col("embedding").cast("array<double>")
        qrow = (
            emb.filter(F.col("vec_id") == query_vec_id)
            .select(v.alias("v"))
            .first()
        )
        if qrow is None:  # query vector absent → no neighbors
            return emb.sparkSession.createDataFrame(
                [], "vec_id bigint, label int, cosine double"
            )
        qv = list(qrow["v"])
    # driver-side probe selection: distances of the (tiny) centroid
    # list to the query vector
    dists = sorted(
        (sum((a - b) ** 2 for a, b in zip(c, qv)), i)
        for i, c in enumerate(centroids)
    )
    probe = [i for _, i in dists[:nprobe]]
    qcol = F.array(*[F.lit(float(x)) for x in qv])
    return (
        assigned.filter(
            (F.col("cell").isin(probe)) & (F.col("vec_id") != query_vec_id)
        )
        .select(
            "vec_id",
            "label",
            F.round(
                _dot(F.col("v"), qcol) / (_norm(F.col("v")) * _norm(qcol)), 6
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )
