"""Driver-facing query registry: Spark plan + DuckDB oracle per operator.

Every registered operator appears twice: ``QUERIES[name]`` is the Spark
implementation (spark, sf_dir) → DataFrame, and ``ORACLE[name]`` is the
equivalent ANSI SQL DuckDB runs on the same parquet tables. The driver
hash-compares the two at sf0.01; tests/test_oracle_parity.py runs the
identical comparison locally at sf0.001 and sf0.01. ``META[name]``
holds the query's policy (rows-only reason, bench budget, funnel
waiver), declared in the same ``register(...)`` call.

This module holds only the registry itself and the shared-input
loaders (``_fact``, ``_docs``, ``_emb``); the queries live in the
domain modules that ``plans/__init__.py`` imports.

Determinism rules applied throughout (the hash is exact):
- every top-K pins a total tie-break order (cnt DESC, key ASC);
- float aggregates are exact integer/decimal sums with ONE final
  division, identical expression shape on both sides;
- DuckDB sums are CAST to BIGINT (DuckDB sum(BIGINT) → HUGEINT,
  which pandas would mangle);
- column names and types are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.plans.cache import shared_docs, shared_emb, shared_input
from piholelongtermstats_spark.session import ensure_session_defaults
from piholelongtermstats_spark.sources.events import dns_fact

QuerySpec = Callable[[SparkSession, str], DataFrame]


class Meta(NamedTuple):
    """Per-query policy, declared at the registration site.

    rows_only: why the query has no DuckDB oracle (checked for rows and
      schema only). budget: (ceiling_sec, reason) for a query over the
      bench's per-query budget by design. funnel_waiver: why an
      unbounded single-partition funnel in its plan is counts-sized
      anyway (tests/test_plan_gate.py).
    """

    rows_only: str | None
    budget: tuple[float, str] | None
    funnel_waiver: str | None


QUERIES: dict[str, QuerySpec] = {}
ORACLE: dict[str, str] = {}
META: dict[str, Meta] = {}


def register(
    name: str,
    oracle: str | None = None,
    *,
    rows_only: str | None = None,
    budget: tuple[float, str] | None = None,
    funnel_waiver: str | None = None,
):
    # Every query is either oracle-checked or declares why it is not.
    if (oracle is None) == (rows_only is None):
        raise ValueError(f"{name}: give exactly one of oracle and rows_only")

    def deco(fn: QuerySpec) -> QuerySpec:
        # A duplicate name would silently SHADOW the earlier entry —
        # fail loudly at import time instead.
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        META[name] = Meta(rows_only, budget, funnel_waiver)
        return fn

    return deco


def _fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared persisted enriched fact table (SURVEY §4 O5: the
    resident working set every query starts from)."""
    ensure_session_defaults(spark)
    return shared_input(
        spark, "dns_fact", sf_dir, lambda: dns_fact(spark, sf_dir)
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared persisted documents corpus (plans/cache.shared_docs)."""
    ensure_session_defaults(spark)
    return shared_docs(spark, sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared persisted embeddings table (plans/cache.shared_emb)."""
    ensure_session_defaults(spark)
    return shared_emb(spark, sf_dir)
