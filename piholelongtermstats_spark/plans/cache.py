"""Session-scoped shared-input cache for the query registry.

The reference's one real performance idea (SURVEY.md §4 O5) is a
resident working set: it loads the selected date range into memory
ONCE and serves every metric/plot from it. The Spark translation is
`persist()` on the enriched fact table, shared by every registry
query in the same session — each query then starts from the cached
columnar partitions instead of re-running parquet scan + derivation.

Scope notes:
- Keyed by (applicationId, logical name, path): a fresh driver
  session builds its own cache; nothing leaks across sessions.
- MEMORY_AND_DISK: the dashboard working set (the reference's
  default is 31 days) fits executor storage at any realistic
  per-range size; spill is the safety valve, not an error.
- At 100 TB TOTAL data this is still correct because what's cached
  is the QUERY RANGE the dashboard serves (predicate-pushed subset),
  never the whole table — same contract as the reference
  (app.py:144-156, README.md:54-55).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_CACHE: dict[tuple, DataFrame] = {}


def shared_input(
    spark: SparkSession, name: str, path: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the persisted DataFrame for (session, name, path),
    building it on first use."""
    key = (spark.sparkContext.applicationId, name, path)
    df = _CACHE.get(key)
    if df is None:
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        _CACHE[key] = df
    return df


# Fan target for a degenerate single-split documents layout. Full
# defaultParallelism (32) was A/B-measured: the tokenize-heavy panels
# gain 3-10x (text_panel 1.42→0.32 s) but every cheap corpus query
# pays ~0.1-0.25 s of extra tiny-stage scheduling (32 tasks for
# kilobyte stages: corpus_build +0.21, pack_manifest +0.22,
# exact_dedup +0.26, …). A partial fan keeps most of the parallel win
# at a quarter of the scheduling tax.
_DOC_FAN = 8


def fan_degenerate(
    spark: SparkSession, df: DataFrame, *keys: str
) -> DataFrame:
    """Fan a degenerately-partitioned relation (fewer source splits
    than the fan target — the single-parquet-file test layout) before
    persisting it; a well-partitioned production table passes through
    untouched. See shared_docs for the measured rationale."""
    fan = min(spark.sparkContext.defaultParallelism, _DOC_FAN)
    if df.rdd.getNumPartitions() < fan:
        df = df.repartition(fan, *keys)
    return df


def shared_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared documents corpus, fanned across the cluster.

    The corpus lands as ONE parquet file at test scale, so the bare
    load persisted a single cached partition — and every per-document
    operator without its own explicit repartition (text_panel, the
    gopher/C4 panels, span_dedup reassembly, …) ran its whole
    tokenize/regex pass on one task (r12, guide §2.1: parallelism of
    the resident working set). One hash repartition on doc_id at
    cache BUILD time fixes every consumer at once; paid once in the
    untimed warm pass, deterministic, and a no-op statement at real
    scale where the table already arrives in many splits.
    """
    from piholelongtermstats_spark.sources.parquet import load_table

    return shared_input(
        spark,
        "documents",
        sf_dir,
        lambda: fan_degenerate(
            spark, load_table(spark, sf_dir, "documents"), "doc_id"
        ),
    )


def shared_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared embeddings table — deliberately NOT fanned like
    shared_docs: the ANN/semdedup tier runs on cell-bounded
    candidate relations and broadcast query sides, and an A/B of a
    32-way fan measured the whole tier SLOWER (semdedup_scale_2x
    0.89→1.49 s, ann_eval_metrics 0.82→1.27 s, trained_ann_recall
    1.44→2.88 s): the vector table is counts-sized, so extra
    partitions only add tiny-stage scheduling (r12, guide §1
    measure-first)."""
    from piholelongtermstats_spark.sources.parquet import load_table

    return shared_input(
        spark,
        "embeddings",
        sf_dir,
        lambda: load_table(spark, sf_dir, "embeddings"),
    )
