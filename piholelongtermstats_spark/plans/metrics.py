"""Executed-plan metric extraction — measure, don't guess.

After an action runs, every physical operator's SQLMetrics hold the
observed values (shuffle bytes written, spill size, output rows).
`executed_plan_metrics` walks the executed plan via py4j and sums them,
giving per-query *evidence* for the scale story: a query whose plan we
claim is broadcast-only should report ~0 shuffle bytes; a salted
aggregation should show its two-stage shuffle is small.

This is driver-side introspection of an already-finished job — zero
cost on the executors and runs outside any timed region in bench.py.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame

# Metric keys surfaced per query. Spark names shuffle-write metrics
# shuffleBytesWritten / shuffleRecordsWritten on the exchange node and
# spillSize on aggregates/sorts/joins that can spill.
_KEYS = ("shuffleBytesWritten", "shuffleRecordsWritten", "spillSize")


def _walk(node, prune: Callable | None = None) -> Iterator:
    """Yield every physical node, descending through AQE wrappers.

    AdaptiveSparkPlanExec hides the final (re-planned) tree behind
    .executedPlan(); ShuffleQueryStageExec / BroadcastQueryStageExec
    hide their materialized subtree behind .plan(). Plain children()
    misses both, which is exactly where the shuffle metrics live.
    A node for which ``prune(node)`` is true is yielded but not
    descended into. This is the one plan walker: every plan census
    (scripts/query.py) filters its output.
    """
    yield node
    if prune is not None and prune(node):
        return
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        # Final plan after AQE re-optimization; its subtree contains
        # the query stages that actually ran.
        yield from _walk(node.executedPlan(), prune)
        return
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i), prune)
    try:
        yield from _walk(node.plan(), prune)  # query-stage wrappers
    except Exception:  # most nodes have no .plan()
        pass


def _leaves(node) -> Iterator:
    """The nodes of _walk(node) that have no children."""
    for n in _walk(node):
        if n.children().size() == 0:
            yield n


# Physical nodes that provably bound the row count of everything above
# them: aggregates collapse to one row per group key (our group keys are
# dates/hours/clients/quantiles — counts-sized by construction), limits
# and TakeOrderedAndProject bound to a literal k. A single-partition
# funnel (unpartitioned window, repartition(1)) BELOW one of these is a
# scale hazard; ABOVE one it is the per-date/k-row idiom the engine
# uses deliberately (operators/sequential.py module docstring).
_BOUNDING_NODES = frozenset(
    {
        "HashAggregateExec",
        "ObjectHashAggregateExec",
        "SortAggregateExec",
        "AggregateInPandasExec",
        "TakeOrderedAndProjectExec",
        "CollectLimitExec",
        "GlobalLimitExec",
        "LocalLimitExec",
        "WindowGroupLimitExec",
    }
)

# Single-row / literal-sized leaves: a LocalTableScan is a driver-built
# literal relation (spines, centroid tables); OneRowRelation backs
# select-without-from. Both are bounded by construction.
_BOUNDED_LEAVES = frozenset({"LocalTableScanExec", "RDDScanExec", "RangeExec"})


def _children_bounded(node) -> bool:
    """Every child subtree contains a bounding node on every leaf path."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _path_bounded(node.executedPlan())
    ch = node.children()
    if ch.size() == 0:
        try:
            return _path_bounded(node.plan())  # query-stage wrappers
        except Exception:
            return False
    return all(_path_bounded(ch.apply(i)) for i in range(ch.size()))


def _path_bounded(node) -> bool:
    """True if this subtree's output is provably counts-sized."""
    name = node.getClass().getSimpleName()
    if name in _BOUNDING_NODES or name in _BOUNDED_LEAVES:
        return True
    if name == "InMemoryTableScanExec":
        try:
            return _path_bounded(node.relation().cachedPlan())
        except Exception:
            return False
    if name == "ReusedExchangeExec":
        try:
            return _path_bounded(node.child())
        except Exception:
            return False
    return _children_bounded(node)


def _walk_through_caches(node) -> Iterator:
    """_walk, additionally descending into InMemoryTableScan's cached
    plan. Used by the funnel detector only: registry queries share
    session-persisted inputs (plans/cache.py), and a funnel INSIDE a
    cached subtree is the same scale hazard as one outside it. Not
    used for SQLMetrics (a cached subtree's metrics belong to the
    query that materialized it, not to every reader)."""
    for n in _walk(node):
        yield n
        if n.getClass().getSimpleName() == "InMemoryTableScanExec":
            try:
                yield from _walk_through_caches(n.relation().cachedPlan())
            except Exception:
                pass


def single_partition_funnels(df: DataFrame) -> list:
    """Return the UNBOUNDED single-partition funnels in df's plan.

    A funnel is (a) a WindowExec whose partitionSpec is empty — Spark
    moves ALL rows to one partition to evaluate it — or (b) a shuffle
    exchange to SinglePartition (repartition(1) / coalesce-to-1). Both
    are fine over counts-sized relations (per-date summaries, top-k
    rows, sketch states) and catastrophic over fact-sized ones; the
    returned list contains only funnels whose input is NOT provably
    bounded by an upstream aggregate/limit, i.e. the scale hazards.
    Each entry is (node_simple_name, node_string_prefix).
    """
    out = []
    seen = set()
    for node in _walk_through_caches(df._jdf.queryExecution().executedPlan()):
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        name = node.getClass().getSimpleName()
        is_funnel = False
        if name == "WindowExec":
            try:
                is_funnel = node.partitionSpec().isEmpty()
            except Exception:
                is_funnel = False
        elif name == "ShuffleExchangeExec":
            try:
                is_funnel = node.outputPartitioning().numPartitions() == 1
            except Exception:
                is_funnel = False
        if is_funnel and not _children_bounded(node):
            out.append((name, node.toString()[:160]))
    return out


def executed_plan_metrics(df: DataFrame, keys: tuple = _KEYS) -> dict:
    """Sum selected SQLMetrics over the executed plan of `df`.

    Call AFTER an action (collect/count) or the metrics are zero.
    Returns {metric_name: summed_value}; missing metrics omitted.
    ReusedExchangeExec nodes re-point at an exchange that already
    reported its metrics, so reuse is skipped to avoid double counting.
    """
    totals: dict = {}
    seen_ids = set()
    for node in _walk(df._jdf.queryExecution().executedPlan()):
        nid = node.id()
        if nid in seen_ids or node.getClass().getSimpleName() == "ReusedExchangeExec":
            continue
        seen_ids.add(nid)
        m = node.metrics()
        it = m.iterator()
        while it.hasNext():
            kv = it.next()
            name = kv._1()
            if name in keys:
                totals[name] = totals.get(name, 0) + kv._2().value()
    return totals
