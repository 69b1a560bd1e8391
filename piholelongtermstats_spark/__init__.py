"""piholelongtermstats_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of davistdaniel/PiHoleLongTermStats.

The reference (read-only at /root/reference) is a single-process
pandas engine over Pi-hole FTL's SQLite ``queries`` table. This package
re-expresses its entire operator inventory (SURVEY.md §2) as lazy Spark
DataFrame plans: Catalyst handles predicate pushdown / column pruning /
join planning; every derived column is a native Column expression (no
row-at-a-time Python UDFs anywhere in the batch paths).

Layout:
    session     SparkSession factory (AQE on, UTC session TZ pinned)
    schema      explicit StructTypes for the `queries` fact table
    sources/    parquet readers, SQLite ingestion, date-range resolution
    functions/  derived-column expressions, regex exclusion, formatting
    operators/  the analytics operator families (counts, topk, timeagg,
                sequential, stats assembly, plotdata, dedup, similarity,
                text, multimodal)
    plans/      the driver-facing query registry (Spark + oracle SQL):
                registry.py, and one module of queries per domain —
                dashboard, tpch, stats, lakehouse, corpus, retrieval,
                media
    streaming/  Structured Streaming extension: the hourly rollup and
                its upsert sink, enrichment, sessions, sliding windows,
                bars, top-k, heavy hitters, stateful streaks, EWMA /
                Welford state, stream joins, corpus ingest, snapshot
                sinks and the progress recorder
"""

__version__ = "0.1.0"
