"""ANN doubling proof (plans/retrieval.py:ann_scale_2x): under a
2× corpus the bucketed path must return the expected id-twin results
with an unchanged plan shape — the measured counterpart of the
"buckets bound the scan" claim."""

from __future__ import annotations

from piholelongtermstats_spark.operators import similarity
from piholelongtermstats_spark.plans.retrieval import (
    _ANN2X_OFFSET,
    doubled_embeddings,
)

SF = "/root/testdata/sf0.001"


def test_doubling_identity(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    single = similarity.lsh_ann_topk(emb, 0, 10, multiprobe=2).collect()
    doubled = similarity.lsh_ann_topk(
        doubled_embeddings(emb), 0, 20, multiprobe=2
    ).collect()
    # the id-shifted copy of the query itself is the top hit
    assert doubled[0]["vec_id"] == _ANN2X_OFFSET
    assert doubled[0]["cosine"] == 1.0
    # every remaining result is an id-twin pair of a single-corpus
    # neighbor with the identical rounded cosine (compare as
    # multisets of (base_id, cosine) — rank order within a rounded
    # tie may interleave twins)
    twins: dict[tuple, int] = {}
    for r in doubled[1:]:
        key = (r["vec_id"] % _ANN2X_OFFSET, r["cosine"])
        twins[key] = twins.get(key, 0) + 1
    # 19 remaining slots = 9 full pairs + 1 half pair at the cut
    full = {k: c for k, c in twins.items() if c == 2}
    assert len(full) >= 9
    single_set = {(r["vec_id"], r["cosine"]) for r in single}
    for k in full:
        assert k in single_set


def test_doubled_plan_shape_unchanged(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = (
        similarity.lsh_ann_topk(doubled_embeddings(emb), 0, 20, multiprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # bucket-filtered scan + broadcast of the 1-row query: no
    # shuffle-exchange of corpus rows, no cartesian product
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 0, plan
