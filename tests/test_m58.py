"""M58 — trained-index recall audit panel."""

from __future__ import annotations

from piholelongtermstats_spark.plans.retrieval import (
    q_trained_ann_recall_panel,
)

SF = "/root/testdata/sf0.001"


def test_trained_recall_panel_shape_and_floors(spark):
    rows = q_trained_ann_recall_panel(spark, SF).collect()
    assert [r.family for r in rows] == [
        "ivf_trained",
        "ivfpq_trained",
        "pq_trained",
        "sphknn_trained",
    ]
    for r in rows:
        assert 0 <= r.hits <= r.n_queries * r.k
        assert r.recall_ppm == r.hits * 1_000_000 // (r.n_queries * r.k)
        # deterministic trainers on this corpus retrieve well above
        # chance (10/500 docs); a collapse below 0.3 recall means a
        # trainer or probe regression, not noise
        assert r.recall_ppm >= 300_000, (r.family, r.recall_ppm)


def test_trained_recall_panel_deterministic(spark):
    a = [tuple(r) for r in q_trained_ann_recall_panel(spark, SF).collect()]
    b = [tuple(r) for r in q_trained_ann_recall_panel(spark, SF).collect()]
    assert a == b
