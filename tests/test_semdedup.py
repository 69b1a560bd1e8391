"""SemDeDup (operators/semdedup.py): exact-value unit tests on
constructed corpora plus invariants on the driver testdata —
mirroring the dedup-tier strategy (brute-force differential, cap
monotonicity, empty-input totality)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import ivf, semdedup

DIM = 8


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )


def _unit(axis: int, eps: float = 0.0, dim: int = DIM):
    v = [eps] * dim
    v[axis] = 1.0
    return v


def test_exact_duplicates_removed_keep_lowest_id(spark):
    # three near-identical vectors + one orthogonal: the two higher
    # ids of the trio are removed, the lowest survives.
    vecs = [_unit(0), _unit(0, 1e-3), _unit(0, 2e-3), _unit(3)]
    cents = ivf.fixed_centroids(DIM, 4)
    out = semdedup.semantic_dedup(
        _emb_df(spark, vecs), threshold=0.95, centroids=cents
    )
    assert sorted(r["vec_id"] for r in out.collect()) == [0, 3]


def test_removal_rule_matches_bruteforce(spark):
    # differential: removal decisions == brute-force upper-triangular
    # rule computed driver-side from the same assignment.
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf.fixed_centroids(64, semdedup.N_CLUSTERS)
    assigned = semdedup.assign_clusters(emb, cents).collect()
    tau = semdedup.THRESHOLD
    by_cell: dict[int, list] = {}
    for r in sorted(assigned, key=lambda r: r["vec_id"]):
        by_cell.setdefault(r["cell"], []).append(r)
    removed = set()
    for members in by_cell.values():
        for i, b in enumerate(members):
            for a in members[:i]:
                num = sum(x * y for x, y in zip(a["v"], b["v"]))
                den = math.sqrt(sum(x * x for x in a["v"])) * math.sqrt(
                    sum(x * x for x in b["v"])
                )
                if round(num / den, 6) >= tau:
                    removed.add(b["vec_id"])
                    break
    out = semdedup.semantic_dedup(emb, centroids=cents)
    survivors = {r["vec_id"] for r in out.collect()}
    assert survivors == {r["vec_id"] for r in assigned} - removed
    assert len(removed) > 0  # non-trivial at the testdata threshold


def test_cluster_cap_keeps_uncompared_members(spark):
    # over-cap members never enter pair generation, so they survive
    # even as exact duplicates — the documented keep-on-no-evidence
    # policy; survivors grow monotonically as the cap tightens.
    vecs = [_unit(0, i * 1e-4) for i in range(6)]
    emb = _emb_df(spark, vecs)
    cents = ivf.fixed_centroids(DIM, 4)
    full = semdedup.semantic_dedup(emb, threshold=0.95, centroids=cents)
    capped = semdedup.semantic_dedup(
        emb, threshold=0.95, centroids=cents, cluster_cap=3
    )
    full_ids = {r["vec_id"] for r in full.collect()}
    capped_ids = {r["vec_id"] for r in capped.collect()}
    assert full_ids == {0}
    assert capped_ids == {0, 3, 4, 5}  # ids 3-5 over cap: no comparisons
    assert full_ids <= capped_ids


def test_empty_corpus(spark):
    empty = _emb_df(spark, [])
    assert semdedup.semantic_dedup(empty).count() == 0
    assert semdedup.train_spherical_centroids(empty) == []


def test_trained_spherical_centroids_partition_and_dedup(spark):
    # production path: trained quantizer yields >1 populated cluster
    # on the testdata and the survivor set is a subset of the corpus
    # with every removal justified by a lower-id same-cluster member.
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = semdedup.train_spherical_centroids(emb)
    assert len(cents) == semdedup.N_CLUSTERS
    assigned = semdedup.assign_clusters(emb, cents)
    n_cells = assigned.select("cell").distinct().count()
    assert n_cells > 1
    out = semdedup.semantic_dedup(emb, centroids=cents)
    n, total = out.count(), emb.count()
    assert 0 < n <= total


def test_stats_frame_consistent_with_survivors(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf.fixed_centroids(64, semdedup.N_CLUSTERS)
    stats = semdedup.semantic_dedup_stats(emb, centroids=cents).collect()
    out = semdedup.semantic_dedup(emb, centroids=cents)
    agg = out.groupBy("cell").agg(
        F.count("*").alias("n"), F.sum("vec_id").alias("s")
    )
    by_cell = {r["cell"]: r for r in agg.collect()}
    for row in stats:
        surv = by_cell.get(row["cell"])
        assert row["n_members"] - row["n_removed"] == (surv["n"] if surv else 0)
        if surv:
            assert row["survivor_id_sum"] == surv["s"]


def test_semdedup_plan_no_cartesian(spark):
    # the pair join must hash on cell — an all-pairs cartesian is the
    # scale failure the clustering exists to prevent.
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf.fixed_centroids(64, semdedup.N_CLUSTERS)
    plan = semdedup.semdedup_pairs(
        semdedup.assign_clusters(emb, cents)
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_doubled_corpus_identity(spark):
    # scale proof backing semdedup_scale_2x: under corpus ∪ id-shifted
    # copy, every copy is removed (its original shares the cell at
    # rounded cosine 1.0 with a lower id) and the ORIGINAL survivor
    # set is unchanged.
    from piholelongtermstats_spark.plans.retrieval import (
        _ANN2X_OFFSET,
        doubled_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf.fixed_centroids(64, semdedup.N_CLUSTERS)
    single = {r["vec_id"] for r in semdedup.semantic_dedup(emb, centroids=cents).collect()}
    doubled = {
        r["vec_id"]
        for r in semdedup.semantic_dedup(
            doubled_embeddings(emb), centroids=cents
        ).collect()
    }
    assert doubled == single  # no copy survives, no original flips


def test_pairs_backends_agree(spark):
    # grouped-matmul pairs == pure-Column pairs, decision for
    # decision, on both the single and doubled corpora (the fp-margin
    # test guarantees this CAN hold; this pins that it DOES)
    from piholelongtermstats_spark.plans.retrieval import doubled_embeddings

    cents = ivf.fixed_centroids(64, semdedup.N_CLUSTERS)
    for base in (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
    ):
        for emb in (base, doubled_embeddings(base)):
            assigned = semdedup.assign_clusters(emb, cents)
            vec = {
                (r["vec_a"], r["vec_b"])
                for r in semdedup.semdedup_pairs(assigned).collect()
            }
            expr = {
                (r["vec_a"], r["vec_b"])
                for r in semdedup.semdedup_pairs_expr(assigned).collect()
            }
            assert vec == expr and len(vec) > 0
