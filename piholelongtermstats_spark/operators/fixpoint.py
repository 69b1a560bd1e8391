"""The two loops every iterative operator runs on: ``iterate`` for
DataFrame fixpoints (PageRank, k-core peeling, label propagation,
star contraction), which owns their checkpoints, convergence probe
and clean-up; ``lloyd`` for the k-means trainers
(IVF, PQ, spherical), which differ only in how a vector is assigned.
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    changed: "Callable[[DataFrame, DataFrame], DataFrame] | None" = None,
) -> "tuple[DataFrame, int]":
    """Run ``state = step(state)``; return the final state as an eager
    local checkpoint and the number of rounds that changed it.

    Without ``changed`` the loop runs exactly ``max_rounds`` steps as
    one lazy chain, executed once, in the final checkpoint (PageRank).

    With ``changed`` it runs to a fixpoint. ``changed(state,
    next_state)`` is the smallest relation that decides convergence:
    when it is empty, ``next_state`` equals ``state`` and is returned.
    The initial state and every round's next state are eager local
    checkpoints, and ``changed`` is built over those, so the round's
    one probe job (a ``limit(1)`` count) reads stored data and the
    step is computed once. Truncating every round is forced, not
    tuned: each step reads its state several times (k-core 3, label
    propagation 4, star contraction ~16), so r rounds of lineage put
    3^r…16^r copies of the plan before Catalyst. Raises
    ``RuntimeError`` if ``changed`` is not empty within
    ``max_rounds``. Nothing checkpointed here outlives the call but
    the returned state.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    if changed is None:
        for _ in range(max_rounds):
            state = step(state)
        return state.localCheckpoint(eager=True), max_rounds
    held: list = []  # release callables of the stored states, oldest first

    def checkpoint(df: DataFrame) -> DataFrame:
        ck = df.localCheckpoint(eager=True)
        rdd = ck._jdf.queryExecution().logical().rdd()
        held.append(functools.partial(rdd.unpersist, False))
        return ck

    try:
        state = checkpoint(state)
        for rnd in range(max_rounds):
            nxt = checkpoint(step(state))
            converged = changed(state, nxt).limit(1).count() == 0
            held.pop(0)()  # `state` is read no more
            state = nxt
            if converged:
                held.clear()  # the returned checkpoint is the caller's
                return state, rnd
        raise RuntimeError(
            f"{step.__name__} did not converge in {max_rounds} rounds"
        )
    finally:
        for release in held:
            release()


def lloyd(
    members: Callable[[dict], DataFrame], init: dict, n_iters: int
) -> dict:
    """``n_iters`` Lloyd updates of ``init`` ({key: centroid}); the
    result keeps ``init``'s key order.

    ``members(centroids)`` gives one row per training vector: its key
    column(s) under ``centroids``, then the vector as the last column.
    A key's new centroid is the per-dimension ``F.avg`` of its members
    (what plans/oracle_train.py replays in DuckDB); a key without
    members keeps its centroid. One key column gives scalar keys,
    several give tuples. Each iteration collects keys × dim doubles.
    """
    centroids = dict(init)
    dim = len(next(iter(centroids.values()), []))
    for _ in range(n_iters):
        rows = members(centroids)
        *keys, v = rows.columns
        k = len(keys)
        for r in (
            rows.groupBy(*keys)
            .agg(*[F.avg(F.col(v)[i]).alias(f"c{i}") for i in range(dim)])
            .collect()
        ):
            centroids[r[0] if k == 1 else tuple(r[:k])] = list(r[k:])
    return centroids
