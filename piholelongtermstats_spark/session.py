"""SparkSession factory.

The reference has no session concept — its only global knobs are the
display timezone (app.py:76-81) and a memory-adaptive chunk size
(db.py:33-52). Here the equivalents are ``spark.sql.session.timeZone``
and Spark's own executor memory management + AQE; the chunk-size probe
is deliberately dropped (SURVEY.md §2.1 S2).

Scale notes (100 TB / 1000-executor target):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast decisions replace every hand-tuned knob the
  reference has. The one exception is a dashboard reload: it runs on
  a child session with AQE off and a shuffle partition count sized to
  its pruned input (``sized_session``), because on no measured reload
  did AQE's coalescing win back its per-stage re-planning and cache
  stages.
- ``spark.sql.shuffle.partitions`` is a *default*; at cluster scale AQE
  coalesces it down and the initial value should be ~2-3x total cores.
- Session TZ is pinned to UTC so event-time derivations (date/hour/
  day_name) are deterministic and oracle-comparable; a deployment that
  wants local-time dashboards sets it per the reference's --timezone
  contract (see sources/daterange.py).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

DEFAULT_SHUFFLE_PARTITIONS = 32
# Size of Spark's generated-class cache (a STATIC conf, default 100,
# least-recently-used eviction). A 30-day dashboard reload compiles
# about 243 distinct classes, so at 100 every reload evicted its own
# classes before the next one and compiled all of them again (241-244
# compiles per reload, measured with CodegenMetrics over 16 perfbench
# reloads in one session). A rollup_serve session compiles about 80 at
# set-up plus 2 per upsert. 1000 keeps a reload's whole working set
# resident with room for both workloads in one session; a reload then
# compiles 2-12 classes. Override through get_spark(extra_conf=...).
CODEGEN_CACHE_ENTRIES = 1000
_CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def get_spark(
    app_name: str = "piholelongtermstats-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the local SparkSession used by tests and bench.

    On a real cluster the builder would come from spark-submit; every
    config set here is also valid there.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(_CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4's per-API-call site capture (error-message
        # enrichment) walks the Python stack and makes an extra JVM
        # round trip on EVERY DataFrame/Column call — measured ~30% of
        # plan-construction time on expression-heavy queries (r12,
        # guide §1.2 "per-task work" applied to the driver). Pure
        # driver-side ergonomics, no effect on execution plans or
        # results, at any scale.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on an externally provided session.

    The driver hands us its own SparkSession; timezone determinism and
    AQE are runtime-configurable, so set them defensively here.

    Applied once per SESSION OBJECT (memo flag set on the instance):
    every registry function calls this defensively, and each conf.set
    is a py4j round trip — at ~90 queries × 3 confs that was a
    measurable slice of the per-query driver constant (r4 VERDICT #7).
    Per-session (not per-application) because runtime confs are
    session-scoped: `spark.newSession()` shares the applicationId but
    starts from fresh conf state and must be re-pinned. The confs set
    here are not touched elsewhere at runtime (streaming/sink.py sets
    no conf: dynamic partition overwrite is a writer option there), so
    once-per-session is safe.

    ``sized_session``'s child is marked applied when it is made and so
    bypasses this: it is cloned from a session that went through here,
    and re-pinning AQE on would undo the conf it exists to change.

    Static confs cannot be applied to a session this package did not
    build. The one that costs time is the generated-class cache size
    (CODEGEN_CACHE_ENTRIES): a session whose cache is smaller
    recompiles a dashboard reload's classes on every reload, so one
    warning is logged per session when it reads below the constant.
    """
    if getattr(spark, "_phlts_defaults_applied", False):
        return spark
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # NB: spark.python.sql.dataFrameDebugging.enabled (see get_spark)
    # is a STATIC conf — it cannot be applied to an externally
    # provided session here; only sessions built by get_spark (bench,
    # tests, scripts) get the cheap plan-construction path.
    # The driver's events.parquet stores TIMESTAMP(NANOS), which Spark
    # rejects by default; read as nanos-long and convert explicitly
    # (sources/events.py) with µs truncation matching DuckDB.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cache_entries = int(spark.conf.get(_CODEGEN_CACHE_CONF))
    if cache_entries < CODEGEN_CACHE_ENTRIES:
        logger.warning(
            "%s is %d, below %d: a dashboard reload will recompile its"
            " generated classes on every run; set it when the session"
            " is built",
            _CODEGEN_CACHE_CONF, cache_entries, CODEGEN_CACHE_ENTRIES,
        )
    spark._phlts_defaults_applied = True
    return spark


# On-disk input bytes (compressed parquet in the window's p_date
# directories) that one shuffle partition of a dashboard reload is
# sized for. Measured on local[4] with perfbench's generator at 1, 2
# and 4 partitions (SCALING.md, "Session:"): one partition was level
# with four at 67 KB, about 5% slower at 135 KB, 10% at 254 KB, 25% at
# 506 KB and 45% at 3.9 MB. Splitting pays from about here on.
RELOAD_TASK_INPUT_BYTES = 64 << 10
_PARTITIONS_CONF = "spark.sql.shuffle.partitions"


def sized_session(spark: SparkSession, input_bytes: int) -> SparkSession:
    """The session a dashboard reload over ``input_bytes`` of on-disk
    input runs on: a child of ``spark`` with AQE off and
    ``spark.sql.shuffle.partitions`` set to one partition per
    RELOAD_TASK_INPUT_BYTES of input, at least 1 and at most
    ``defaultParallelism``.

    AQE is off because it adds a re-plan per stage and one cache stage
    per scan of the persisted fact (22 jobs for a small plotted reload,
    not 3), and on no measured reload input (20k to 16M rows,
    SCALING.md) was it faster by more than the run spread. With
    AQE off nothing coalesces a shuffle, so the partition count comes
    from the input and not from the cluster alone: a small window on a
    large cluster runs a few tasks per exchange, not one per core. It
    stops at the core count, where more tasks would only queue.

    The child is a clone of ``spark`` (``cloneSession``): it shares
    the SparkContext, the cache manager and the JVM's generated-class
    cache, starts from ``spark``'s runtime SQL conf and changes only
    those two confs in its own conf, so ``spark.conf`` is never
    written. It is memoized on ``spark`` with the conf it was cloned
    from, so its reader memo (``sources/parquet.read_parquet_memo``)
    stays warm across calls, and it is cloned again when ``spark``'s
    runtime conf has changed since. Frames must be built from the
    child's own readers: a frame built on ``spark`` runs under
    ``spark``'s conf wherever it is used. A lazy frame from an earlier
    call runs with the partition count of the latest call.
    """
    cores = spark.sparkContext.defaultParallelism
    partitions = str(max(1, min(cores, -(-input_bytes // RELOAD_TASK_INPUT_BYTES))))
    # one py4j call: spark.conf.getAll converts the map entry by entry
    # (~45 ms). The memo compares text, so an equal conf printed in
    # another order costs only a needless clone.
    conf = spark._jsparkSession.conf().getAll().toString()
    memo = spark.__dict__.get("_phlts_sized_child")
    if memo is not None and memo[0] == conf:
        child = memo[1]
    else:
        child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
        child.conf.set("spark.sql.adaptive.enabled", "false")
        child._phlts_defaults_applied = True
        spark._phlts_sized_child = (conf, child)
    if child.conf.get(_PARTITIONS_CONF) != partitions:
        child.conf.set(_PARTITIONS_CONF, partitions)
    return child
