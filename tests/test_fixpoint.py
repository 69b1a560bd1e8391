"""operators/fixpoint.py: no persisted data outlives an iterative
operator, on success or on non-convergence, and the k-core round
count matches a synchronous brute-force peel."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from piholelongtermstats_spark.operators import dedup, graph, ivf, pq, semdedup
from tests.test_m44 import _brute_kcore, _graph_fact
from tests.test_pq import _emb

# a 2-core square with a 12-edge pendant path hanging off d2: peeling
# eats the path from its free end, one node a round
DEEP = [("c1", "d1"), ("c1", "d2"), ("c2", "d1"), ("c2", "d2")] + [
    edge
    for i in range(2, 8)
    for edge in ((f"c{i + 1}", f"d{i}"), (f"c{i + 1}", f"d{i + 1}"))
]
CHAIN = [(i, i + 1) for i in range(64)]


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _backing_rdds(df: DataFrame) -> set:
    """Ids of the checkpoint RDDs the frame's plan reads."""
    leaves = df._jdf.queryExecution().logical().collectLeaves().iterator()
    ids = set()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            ids.add(leaf.rdd().id())
    return ids


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


SUCCESS = {
    "kcore": lambda s: graph.kcore_decomposition(_graph_fact(s, DEEP), 2),
    "cc": lambda s: dedup.duplicate_clusters(_pairs(s, CHAIN)),
    "star": lambda s: dedup.duplicate_clusters_star(_pairs(s, CHAIN)),
    "pagerank": lambda s: graph.pagerank(_graph_fact(s, DEEP)),
    "pagerank_fixedpoint": lambda s: graph.pagerank_fixedpoint(
        _graph_fact(s, DEEP)
    ),
    "ivf": lambda s: ivf.train_centroids(_emb(s), n_iters=1),
    "pq": lambda s: pq.train_pq_codebooks(_emb(s), n_iters=1),
    "semdedup": lambda s: semdedup.train_spherical_centroids(_emb(s), n_iters=1),
}

NON_CONVERGING = {
    "kcore": lambda s: graph.kcore_decomposition(
        _graph_fact(s, DEEP), 2, max_rounds=1
    ),
    "cc": lambda s: dedup.duplicate_clusters(_pairs(s, CHAIN), max_rounds=1),
    "star": lambda s: dedup.duplicate_clusters_star(
        _pairs(s, CHAIN), max_rounds=1
    ),
}


@pytest.mark.parametrize("name", sorted(SUCCESS))
def test_success_keeps_only_the_returned_checkpoint(spark, name):
    before = _persisted(spark)
    out = SUCCESS[name](spark)
    allowed = set()
    if isinstance(out, DataFrame):
        allowed = _backing_rdds(out)
        assert out.collect()  # the checkpoint it reads is still there
    assert _persisted(spark) - before <= allowed


@pytest.mark.parametrize("name", sorted(NON_CONVERGING))
def test_non_convergence_releases_everything(spark, name):
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        NON_CONVERGING[name](spark)
    assert _persisted(spark) <= before


def test_kcore_rounds_match_bruteforce_peel(spark):
    core, rounds = _brute_kcore(DEEP, 2)
    assert rounds == 12
    r = graph.kcore_decomposition(_graph_fact(spark, DEEP), 2).collect()[0]
    assert (r.rounds, r.n_edges_core) == (rounds, len(core))
