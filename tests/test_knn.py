"""Batched k-NN join (operators/knn.py): plan-shape guards, recall of
the cell-routed path vs the exact join, fp-margin measurement for the
probe/assignment decisions the oracle reproduces, and edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as se
from piholelongtermstats_spark.operators import ivf, knn, semdedup
from piholelongtermstats_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"
_CENTS = ivf.fixed_centroids(64, semdedup.N_CLUSTERS)


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def test_exact_join_rank_cut_is_window_group_limit(spark, emb):
    """The row_number<=k filter must run as WindowGroupLimit — partial
    top-k per map task BEFORE the per-query shuffle. Without it every
    scored (query, corpus) row crosses the exchange."""
    plan = _plan(knn.knn_join(emb))
    assert "WindowGroupLimit" in plan, plan


def test_ivf_join_broadcasts_probes_and_group_limits(spark, emb):
    """The probe relation (|Q|·nprobe rows) must broadcast — the
    corpus side never shuffles on cell — and the rank cut must again
    be a WindowGroupLimit."""
    plan = _plan(knn.knn_join_ivf(emb, centroids=_CENTS))
    assert "BroadcastHashJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_exact_join_shape(spark, emb):
    out = knn.knn_join(emb).collect()
    n_q = emb.filter(F.col("vec_id") < knn.N_QUERIES).count()
    assert len(out) == n_q * knn.K
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        assert [r.rank for r in rows] == list(range(1, knn.K + 1))
        cos = [r.cosine for r in rows]
        assert cos == sorted(cos, reverse=True)
        assert all(r.vec_id >= knn.N_QUERIES for r in rows)


def _recall(approx_rows, exact_rows) -> float:
    ex, ap = {}, {}
    for r in exact_rows:
        ex.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx_rows:
        ap.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(ex[q] & ap.get(q, set())) for q in ex)
    total = sum(len(s) for s in ex.values())
    return hits / total


def test_ivf_join_recall_vs_exact(spark, emb):
    """Probing 4 of 16 spherical cells must beat random cell routing
    (recall nprobe/n_cells = 0.25 on an isotropic corpus — which the
    synthetic embeddings nearly are; measured ~0.48 at sf0.001), and
    nprobe=16 (scan everything) must recover ALL exact neighbors —
    the all-probe limit reproduces the exact join verbatim."""
    exact = knn.knn_join(emb).collect()
    approx = knn.knn_join_ivf(emb, centroids=_CENTS).collect()
    assert _recall(approx, exact) >= 0.4
    full = knn.knn_join_ivf(
        emb, centroids=_CENTS, nprobe=semdedup.N_CLUSTERS
    ).collect()
    assert _recall(full, exact) == 1.0


def test_trained_quantizer_recall_not_worse_than_pinned(spark, emb):
    """The data-adaptive spherical k-means quantizer (production path)
    must not fall below the corpus-independent pinned centroids."""
    exact = knn.knn_join(emb).collect()
    pinned = _recall(knn.knn_join_ivf(emb, centroids=_CENTS).collect(), exact)
    trained = _recall(knn.knn_join_ivf(emb, centroids=None).collect(), exact)
    assert trained >= pinned - 1e-9, (trained, pinned)


def test_probe_selection_margins(spark, emb):
    """The oracle reproduces probe selection with its own fp
    accumulation order; measure every query's score gap at the
    nprobe boundary so an ulp-level divergence would fail HERE with a
    number (tests/test_fp_determinism.py methodology). The boundary
    gap must dwarf cross-engine dot error (~1e-13)."""
    q = emb.filter(F.col("vec_id") < knn.N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    rows = q.collect()
    import numpy as np

    C = np.asarray(_CENTS, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    for r in rows:
        v = np.asarray(r.qv)
        scores = np.sort((Cn @ (v / np.linalg.norm(v))))[::-1]
        gap = scores[knn.N_PROBE - 1] - scores[knn.N_PROBE]
        assert gap > 1e-7, (r.query_id, gap)


def test_empty_corpus(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    assert knn.knn_join(empty).count() == 0
    assert knn.knn_join_ivf(empty, centroids=_CENTS).count() == 0
    assert knn.knn_join_ivf(empty, centroids=None).count() == 0


def test_registry_entries_registered():
    qs = se.queries()
    for name in ("knn_join", "knn_join_ivf", "knn_join_ivf_trained"):
        assert name in qs
    assert "knn_join" in se.oracle_sql()
    # oracle-checked since r11 (unrolled-Lloyd replay, oracle_train.py)
    assert "knn_join_ivf_trained" in se.oracle_sql()


def test_scale_2x_twin_identity(spark, emb):
    """Doubling proof: over corpus ∪ id-shifted copy, each query's
    rank-1 neighbor is its own twin at cosine 1.0, and the doubled
    top-2k is exactly the single-corpus top-k with every vector
    paired with its twin (originals sort before twins on the vec_id
    tie-break)."""
    from piholelongtermstats_spark.plans.retrieval import doubled_embeddings

    OFF = 1_000_000
    single = knn.knn_join_ivf(emb, centroids=_CENTS).collect()
    doubled = knn.knn_join_ivf(
        doubled_embeddings(emb, OFF), k=2 * knn.K, centroids=_CENTS
    ).collect()
    by_q = {}
    for r in doubled:
        by_q.setdefault(r.query_id, []).append(r)
    sing_q = {}
    for r in single:
        sing_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert rows[0].vec_id == q + OFF and rows[0].cosine == 1.0, rows[0]
        # every unique vector in the doubled top-2k appears as an
        # (id, id+OFF) twin pair, except a possible unpaired tail at
        # the cut boundary
        ids = [r.vec_id % OFF for r in rows]
        from collections import Counter

        cnt = Counter(ids)
        # unpaired: the self-twin (its original is a query, not corpus,
        # so it appears once) plus at most one cut-boundary tail
        unpaired = [v for v, c in cnt.items() if c != 2]
        assert len(unpaired) <= 2, (q, cnt)
        assert q in cnt and cnt[q] == 1, (q, cnt)
        # ...and the paired set reproduces a single-corpus top-k prefix
        paired = [v for v, c in cnt.items() if c == 2 and v != q]
        sing_ids = [r.vec_id for r in sorted(sing_q[q], key=lambda r: r.rank)]
        for v in paired:
            assert v in sing_ids, (q, v, sing_ids)


def test_probe_backends_agree(spark, emb):
    """Cross-backend differential: the Arrow matmul probe selection
    (default) and the pure-Column formulation pick identical
    (query_id, cell) probe sets."""
    q = emb.filter(F.col("vec_id") < knn.N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    vec = {(r.query_id, r.cell) for r in knn.probe_cells(q, _CENTS).collect()}
    expr = {(r.query_id, r.cell) for r in knn.probe_cells_expr(q, _CENTS).collect()}
    assert vec == expr and len(vec) == q.count() * knn.N_PROBE


def test_semantic_contamination_planted_leak(spark, emb):
    """Plant a near-copy of a training vector as a benchmark vector:
    contamination must surface it at ~cosine 1 with the right match,
    and the report covers every benchmark vector in a populated cell."""
    from pyspark.sql import functions as FF

    # vec_id 1000 ≡ bench (1000 % 10 == 0), copy of train vec 17
    leak = emb.filter(FF.col("vec_id") == 17).select(
        FF.lit(1000).cast("long").alias("vec_id"), "embedding", "label"
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(leak)
    out = {r.bench_id: r for r in semdedup.semantic_contamination(
        corpus, bench_mod=10, centroids=_CENTS
    ).collect()}
    assert out[1000].train_id == 17 and out[1000].cosine == 1.0
    # plan: bench side broadcasts, corpus side never exchanges on cell
    df = semdedup.semantic_contamination(corpus, bench_mod=10, centroids=_CENTS)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_recall_monotone_in_nprobe(spark, emb):
    """Widening the probe set can only grow the candidate pool, so
    recall vs the exact join is non-decreasing in nprobe, reaching
    1.0 at the all-probe limit. (Measured sf0.1 curve recorded in
    NOTES.md: 0.20 / 0.33 / 0.50 / 0.68 / 1.00 at nprobe 1/2/4/8/16.)"""
    exact = knn.knn_join(emb).collect()
    prev = -1.0
    for np_ in (1, 4, 16):
        rec = _recall(
            knn.knn_join_ivf(emb, centroids=_CENTS, nprobe=np_).collect(), exact
        )
        assert rec >= prev, (np_, rec, prev)
        prev = rec
    assert prev == 1.0


def test_random_projection_preserves_dot_products(spark):
    """JL property: ±1 sign projection preserves dot products in
    expectation — over real embeddings the 8-dim projected dot must
    correlate strongly with the 64-dim original. Also pins
    partitioning-independence (literal signs, left-fold rounding)."""
    import numpy as np

    from piholelongtermstats_spark.operators.similarity import random_projection

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    k = 32  # higher k for the statistical check (variance ~ 1/k)
    proj = random_projection(emb, k=k)
    rows = {
        r.vec_id: np.array([r[f"p{j}"] for j in range(k)]) for r in proj.collect()
    }
    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    # norm preservation: E[|y|^2] = k * |x|^2; the per-vector ratio
    # concentrates and the corpus mean lands near 1
    ratios = [
        (rows[v] @ rows[v]) / k / (orig[v] @ orig[v])
        for v in rows
        if orig[v] @ orig[v] > 0
    ]
    m = float(np.mean(ratios))
    assert 0.8 < m < 1.2, m
    # determinism under repartition at the serving k
    base = {
        r2.vec_id: tuple(r2[f"p{j}"] for j in range(8))
        for r2 in random_projection(emb, k=8).collect()
    }
    again = {
        r2.vec_id: tuple(r2[f"p{j}"] for j in range(8))
        for r2 in random_projection(emb.repartition(16), k=8).collect()
    }
    assert base == again


def test_rp_prefilter_exact_in_the_full_candidate_limit(spark):
    """At prefilter >= corpus the two-stage result equals the exact
    cosine_topk verbatim; at small prefilter recall is measured and
    non-trivial."""
    from piholelongtermstats_spark.operators.similarity import (
        cosine_topk,
        rp_prefilter_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    exact = [(r.vec_id, r.cosine) for r in cosine_topk(emb, 0, 10).collect()]
    full = [
        (r.vec_id, r.cosine)
        for r in rp_prefilter_topk(emb, 0, 10, prefilter=n).collect()
    ]
    assert full == exact
    # serving parameters (rp_k=32, cut 100): recall measured 0.6 on
    # the near-isotropic synthetic corpus, and recall is monotone in
    # the prefilter width (the IVFPQ nprobe-curve pattern)
    ex_ids = {v for v, _ in exact}
    rec = {}
    for pre in (25, 100, n):
        got = {
            r.vec_id
            for r in rp_prefilter_topk(emb, 0, 10, rp_k=32, prefilter=pre).collect()
        }
        rec[pre] = len(got & ex_ids) / 10
    assert rec[100] >= 0.4, rec
    assert rec[25] <= rec[100] <= rec[n] == 1.0, rec


def test_scalar_quantize_roundtrip_bounds(spark):
    """SQ8: reconstruction error bounded by step/2 for in-range dims;
    out-of-range values clip to the boundary codes."""
    from piholelongtermstats_spark.operators.similarity import scalar_quantize

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = scalar_quantize(emb).collect()
    step = 8.0 / 255
    assert len(rows) == emb.count()
    for r in rows:
        if r.n_clipped == 0:
            assert r.max_err_1e6 <= step / 2 * 1e6 + 0.001, r
    # constructed clipping case
    extreme = spark.createDataFrame(
        [(0, [10.0, -10.0, 0.0])], "vec_id long, embedding array<float>"
    )
    e = scalar_quantize(extreme).first()
    assert e.n_clipped == 2
    # codes 255, 0, 128 → sums pin the exact code assignment
    assert e.code_sum == 255 + 0 + 128
    assert e.code_possum == 255 * 1 + 0 * 2 + 128 * 3
