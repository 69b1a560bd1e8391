"""M11 registry: behavioral analytics (cohort retention, ordered
funnel) and time-series smoothing — classic OLAP shapes the
reference's dashboard does not cover, over the same fact/events
tables. All-integer outputs (counts, day offsets) except the moving
average, which divides exact integer window sums once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import cohort
from piholelongtermstats_spark.plans.cache import fan_degenerate, shared_input
from piholelongtermstats_spark.plans.registry import _fact, register
from piholelongtermstats_spark.session import ensure_session_defaults
from piholelongtermstats_spark.sources.events import FACT_CTE
from piholelongtermstats_spark.sources.parquet import load_table


def _events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw events (event_type granularity — the funnel stages the
    enriched fact's status buckets merge away)."""
    ensure_session_defaults(spark)
    return shared_input(
        spark,
        "events_raw",
        sf_dir,
        # fanned at cache build (r12): the single-file test layout
        # otherwise persists as ONE partition (see cache.shared_docs)
        lambda: fan_degenerate(
            spark, load_table(spark, sf_dir, "events"), "user_id"
        ),
    )


_RETENTION_SQL = FACT_CTE + """
, d AS (SELECT DISTINCT client, date FROM fact),
first AS (SELECT client, min(date) AS cohort_date FROM d GROUP BY client)
SELECT cohort_date,
       date_diff('day', cohort_date, d.date) AS age_days,
       count(DISTINCT d.client) AS n_clients
FROM d JOIN first USING (client)
GROUP BY cohort_date, age_days
ORDER BY cohort_date, age_days
"""


@register("client_retention", _RETENTION_SQL)
def q_client_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: distinct clients active age_days after
    their first active date."""
    return cohort.client_retention(_fact(spark, sf_dir))


_FUNNEL_SQL = """
WITH base AS (SELECT user_id, event_type, ts FROM events),
t1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t1
       FROM base GROUP BY user_id),
t2 AS (SELECT b.user_id, min(b.ts) AS t2
       FROM base b JOIN t1 USING (user_id)
       WHERE b.event_type = 'click' AND b.ts > t1.t1
       GROUP BY b.user_id),
t3 AS (SELECT b.user_id, min(b.ts) AS t3
       FROM base b JOIN t2 USING (user_id)
       WHERE b.event_type = 'purchase' AND b.ts > t2.t2
       GROUP BY b.user_id)
SELECT count(*) AS n_clients,
       count(t1.t1) AS n_view,
       count(t2.t2) AS n_click_after_view,
       count(t3.t3) AS n_purchase_after_click
FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
"""


@register("funnel_counts", _FUNNEL_SQL)
def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel audit row."""
    return cohort.funnel_counts(_events_raw(spark, sf_dir))


_MA7_SQL = FACT_CTE + """
, daily AS (SELECT date, count(*) AS cnt FROM fact GROUP BY date)
SELECT date, cnt,
       CAST(sum(cnt) OVER w AS DOUBLE) / count(*) OVER w AS ma7
FROM daily
WINDOW w AS (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY date
"""


@register("daily_counts_ma7", _MA7_SQL)
def q_daily_counts_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily totals with a 7-day trailing moving average — the global
    window orders the ~|dates| aggregate rows, never the fact (the
    tiny-frame global-window rule, operators/sequential.py)."""
    daily = (
        _fact(spark, sf_dir).groupBy("date").agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("date").rowsBetween(-6, 0)
    return daily.select(
        "date",
        "cnt",
        (F.sum("cnt").over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "ma7"
        ),
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# Incremental rollup maintenance (timeagg.merge_rollup): the rollup of
# history merged with the rollup of a late-arriving slice must equal
# the full recompute — COUNT/SUM self-mergeability as an ORACLE-
# checked identity, not just a claim. Both legs run real pushed-down
# range scans (dns_fact lo/hi on the raw column).
# ---------------------------------------------------------------------------

import datetime as _dt  # noqa: E402

from piholelongtermstats_spark.operators import counts as _counts  # noqa: E402
from piholelongtermstats_spark.operators import timeagg as _timeagg  # noqa: E402
from piholelongtermstats_spark.sources.events import dns_fact as _dns_fact  # noqa: E402

_ROLLUP_CUT = _dt.datetime(2024, 1, 25)

_ROLLUP_DELTA_SQL = FACT_CTE + """
SELECT date,
  count(*) AS total_cnt,
  count(*) FILTER (WHERE status_type = 'Blocked') AS blocked_cnt,
  count(*) FILTER (WHERE status_type = 'Allowed') AS allowed_cnt
FROM fact GROUP BY date
"""


@register("rollup_delta", _ROLLUP_DELTA_SQL)
def q_rollup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """daily_counts(history < cut) merged with daily_counts(delta ≥
    cut) — the oracle is the FULL recompute, so the merge identity is
    hash-verified end to end."""
    old = _timeagg.daily_counts(_dns_fact(spark, sf_dir, hi=_ROLLUP_CUT))
    new = _timeagg.daily_counts(_dns_fact(spark, sf_dir, lo=_ROLLUP_CUT))
    return _timeagg.merge_rollup(old, new)


_DEGREE_SQL = FACT_CTE + """
, deg AS (SELECT client, count(DISTINCT domain) AS degree
          FROM fact GROUP BY client)
SELECT degree, count(*) AS n_clients FROM deg
GROUP BY degree ORDER BY degree
"""


@register("client_degree_histogram", _DEGREE_SQL)
def q_client_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the client→domain interaction graph."""
    return _counts.client_degree_histogram(_fact(spark, sf_dir))


_P99_SQL = FACT_CTE + """
, h AS (
  SELECT client, reply_time, count(*) AS cnt
  FROM fact WHERE reply_time IS NOT NULL
  GROUP BY client, reply_time),
c AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY client ORDER BY reply_time
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY client) AS n
  FROM h),
q AS (
  SELECT client,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         min(CASE WHEN cum >= ceil(0.5 * n) THEN reply_time END) AS p50,
         min(CASE WHEN cum >= ceil(0.9 * n) THEN reply_time END) AS p90,
         min(CASE WHEN cum >= ceil(0.99 * n) THEN reply_time END) AS p99
  FROM c GROUP BY client)
SELECT client, n_rows, p50, p90, p99 FROM q
ORDER BY p99 DESC, client LIMIT 10
"""


@register("slowest_clients_p99", _P99_SQL)
def q_slowest_clients_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-latency outlier report: top-10 clients by EXACT p99 reply
    time (nearest-rank histogram per client — the SRE-grade variant of
    the reference's avg-based slowest_domains; slowest_domains itself
    stays reference-parity). TakeOrdered cut, ties on client."""
    from piholelongtermstats_spark.operators import approx as _approx

    q = _approx.exact_group_quantiles(
        _fact(spark, sf_dir), "client", "reply_time"
    )
    return q.orderBy(F.col("p99").desc(), F.col("client").asc()).limit(10)


# ---------------------------------------------------------------------------
# Versioned snapshots (sources/snapshots.py): two deterministic corpus
# versions are committed once per session (immutable v= directories +
# manifest chain), then diffed by key with byte-exact content hashes.
# The oracle reproduces the membership/change algebra in SQL — the
# FILES are the Spark side's concern; the diff SEMANTICS are the
# checked contract.
# ---------------------------------------------------------------------------

import hashlib as _hashlib  # noqa: E402
import os as _os  # noqa: E402
import tempfile as _tempfile  # noqa: E402

from piholelongtermstats_spark.sources import snapshots as _snap  # noqa: E402

_SNAP_READY: set = set()


def _snapshot_root(spark: SparkSession, sf_dir: str) -> str:
    digest = _hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = _os.path.join(
        _tempfile.gettempdir(),
        "phlts_snapshots",
        f"{spark.sparkContext.applicationId}-{digest}",
    )
    key = (spark.sparkContext.applicationId, root)
    if key not in _SNAP_READY:
        from piholelongtermstats_spark.plans.registry import _docs

        docs = _docs(spark, sf_dir)
        if not _snap.versions(root):
            v0 = docs.filter(F.col("doc_id") % 2 == 0)
            _snap.write_snapshot(v0, root)
            v1 = docs.filter(F.col("doc_id") % 3 != 0).withColumn(
                "text",
                F.when(
                    F.col("doc_id") % 10 == 0,
                    F.concat(F.col("text"), F.lit(" [rev]")),
                ).otherwise(F.col("text")),
            )
            _snap.write_snapshot(v1, root)
        _SNAP_READY.add(key)
    return root


_SNAP_DIFF_SQL = """
WITH oldv AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
newv AS (SELECT doc_id, doc_id % 10 = 0 AS revised FROM documents
         WHERE doc_id % 3 <> 0),
diff AS (
  SELECT 'added' AS change_type, doc_id FROM newv
  WHERE doc_id NOT IN (SELECT doc_id FROM oldv)
  UNION ALL
  SELECT 'removed', doc_id FROM oldv
  WHERE doc_id NOT IN (SELECT doc_id FROM newv)
  UNION ALL
  SELECT 'changed', doc_id FROM newv
  WHERE revised AND doc_id IN (SELECT doc_id FROM oldv))
SELECT change_type, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM diff GROUP BY change_type ORDER BY change_type
"""


@register("corpus_snapshot_diff", _SNAP_DIFF_SQL)
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """added/removed/changed summary between two committed corpus
    versions (time-travel reads off immutable v= directories)."""
    root = _snapshot_root(spark, sf_dir)
    vs = _snap.versions(root)
    diff = _snap.snapshot_diff(spark, root, vs[0], vs[1])
    return (
        diff.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("doc_id").alias("id_sum"))
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


_FFILL_SQL = FACT_CTE + """
, sel AS (
  SELECT client, date_trunc('hour', ts) AS hour_bucket, reply_time
  FROM fact WHERE client IN ('1','2','3') AND reply_time IS NOT NULL),
hourly AS (
  SELECT client, hour_bucket, count(*) AS n_obs,
         round(CAST(sum(CAST(reply_time AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) AS avg_reply
  FROM sel GROUP BY client, hour_bucket),
bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
                  date_trunc('hour', max(ts)) AS hi FROM fact),
spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
            AS hour_bucket FROM bounds),
grid AS (SELECT c.client, s.hour_bucket
         FROM spine s CROSS JOIN (VALUES ('1'),('2'),('3')) AS c(client))
SELECT g.client, g.hour_bucket,
       coalesce(h.n_obs, 0) AS n_obs,
       last_value(h.avg_reply IGNORE NULLS) OVER (
         PARTITION BY g.client ORDER BY g.hour_bucket
         ROWS UNBOUNDED PRECEDING) AS avg_reply_ffill
FROM grid g LEFT JOIN hourly h USING (client, hour_bucket)
ORDER BY client, hour_bucket
"""


@register("client_hourly_ffill", _FFILL_SQL)
def q_client_hourly_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-client hourly series with last-observation-carried-forward
    gap fill over the corpus hour spine."""
    return _timeagg.ffill_client_hourly(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# SCD2 history from the snapshot chain (snapshots.scd2_history): one
# row per (key, contiguous constant-content version run). The Spark
# side is the GENERAL gaps-and-islands fold over N versions; the
# oracle enumerates the closed form for the two deterministic session
# versions (same membership rules as corpus_snapshot_diff, same
# sentinel-guarded content hash).
# ---------------------------------------------------------------------------

_H_EXPR = (
    "md5(concat_ws(chr(31), coalesce({text}, chr(0)), coalesce(lang, chr(0)), "
    "coalesce(source, chr(0)), coalesce(CAST(n_chars AS VARCHAR), chr(0))))"
)

_SCD2_SQL = f"""
WITH h0 AS (SELECT doc_id, {_H_EXPR.format(text="text")} AS h
            FROM documents WHERE doc_id % 2 = 0),
h1 AS (SELECT doc_id,
              {_H_EXPR.format(text="CASE WHEN doc_id % 10 = 0 THEN text || ' [rev]' ELSE text END")} AS h
       FROM documents WHERE doc_id % 3 <> 0),
runs AS (
  SELECT h0.doc_id, h0.h AS content_md5, 0 AS valid_from, 1 AS valid_to,
         true AS is_current
  FROM h0 JOIN h1 USING (doc_id) WHERE h0.h = h1.h
  UNION ALL
  SELECT h0.doc_id, h0.h, 0, 0, false
  FROM h0 JOIN h1 USING (doc_id) WHERE h0.h <> h1.h
  UNION ALL
  SELECT h1.doc_id, h1.h, 1, 1, true
  FROM h0 JOIN h1 USING (doc_id) WHERE h0.h <> h1.h
  UNION ALL
  SELECT doc_id, h, 0, 0, false FROM h0
  WHERE doc_id NOT IN (SELECT doc_id FROM h1)
  UNION ALL
  SELECT doc_id, h, 1, 1, true FROM h1
  WHERE doc_id NOT IN (SELECT doc_id FROM h0))
SELECT doc_id, content_md5,
       valid_from::BIGINT AS valid_from, valid_to::BIGINT AS valid_to,
       is_current
FROM runs ORDER BY doc_id, valid_from
"""


@register("scd2_history", _SCD2_SQL)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity ranges folded from the session's snapshot chain."""
    root = _snapshot_root(spark, sf_dir)
    return _snap.scd2_history(spark, root)


# ---------------------------------------------------------------------------
# SCD2 over an N-VERSION chain with absence gaps (r5 VERDICT #5):
# five deterministic versions — membership churn (evens / non-mult-3 /
# evens), two distinct revision waves, and a final retention drop —
# exercise every fold case: change, absence gap with identical content
# returning (new run), revision reverting (new run), and non-current
# tails. The oracle is NOT a replay of the Spark window fold: it
# characterizes runs declaratively as maximal intervals — a run START
# is a (key, version, hash) row with no same-hash row at version-1, a
# run END has none at version+1, and each start pairs with the first
# end at or after it. Two genuinely different algorithms, one answer.
# ---------------------------------------------------------------------------

_SCD2N_HEAD = 4


def _snapshot_root_n(spark: SparkSession, sf_dir: str) -> str:
    digest = _hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = _os.path.join(
        _tempfile.gettempdir(),
        "phlts_snapshots_n",
        f"{spark.sparkContext.applicationId}-{digest}",
    )
    key = (spark.sparkContext.applicationId, root)
    if key not in _SNAP_READY:
        from piholelongtermstats_spark.plans.registry import _docs

        docs = _docs(spark, sf_dir)
        if not _snap.versions(root):
            rev1 = F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(F.col("text"), F.lit(" [rev]")),
            ).otherwise(F.col("text"))
            rev2 = F.when(
                F.col("doc_id") % 8 == 0,
                F.concat(F.col("text"), F.lit(" [rev2]")),
            ).otherwise(F.col("text"))
            evens = F.col("doc_id") % 2 == 0
            for v_df in (
                docs.filter(evens),                                     # v0
                docs.filter(F.col("doc_id") % 3 != 0)
                .withColumn("text", rev1),                              # v1
                docs.filter(evens),                                     # v2
                docs.filter(evens).withColumn("text", rev2),            # v3
                docs.filter(evens & (F.col("doc_id") % 7 != 0))
                .withColumn("text", rev2),                              # v4
            ):
                _snap.write_snapshot(v_df, root)
        _SNAP_READY.add(key)
    return root


def _scd2n_hx_leg(version: int, text_expr: str, where: str) -> str:
    return (
        f"SELECT doc_id, {version} AS version, "
        + _H_EXPR.format(text=text_expr)
        + f" AS h FROM documents WHERE {where}"
    )


_SCD2N_SQL = (
    "WITH hx AS (\n"
    + "\nUNION ALL\n".join(
        [
            _scd2n_hx_leg(0, "text", "doc_id % 2 = 0"),
            _scd2n_hx_leg(
                1,
                "CASE WHEN doc_id % 10 = 0 THEN text || ' [rev]' ELSE text END",
                "doc_id % 3 <> 0",
            ),
            _scd2n_hx_leg(2, "text", "doc_id % 2 = 0"),
            _scd2n_hx_leg(
                3,
                "CASE WHEN doc_id % 8 = 0 THEN text || ' [rev2]' ELSE text END",
                "doc_id % 2 = 0",
            ),
            _scd2n_hx_leg(
                4,
                "CASE WHEN doc_id % 8 = 0 THEN text || ' [rev2]' ELSE text END",
                "doc_id % 2 = 0 AND doc_id % 7 <> 0",
            ),
        ]
    )
    + f"""),
starts AS (
  SELECT x.doc_id, x.h, x.version FROM hx x
  WHERE NOT EXISTS (SELECT 1 FROM hx p
                    WHERE p.doc_id = x.doc_id
                      AND p.version = x.version - 1 AND p.h = x.h)),
ends AS (
  SELECT x.doc_id, x.h, x.version FROM hx x
  WHERE NOT EXISTS (SELECT 1 FROM hx s
                    WHERE s.doc_id = x.doc_id
                      AND s.version = x.version + 1 AND s.h = x.h))
SELECT s.doc_id, s.h AS content_md5,
       CAST(s.version AS BIGINT) AS valid_from,
       CAST(min(e.version) AS BIGINT) AS valid_to,
       min(e.version) = {_SCD2N_HEAD} AS is_current
FROM starts s
JOIN ends e ON e.doc_id = s.doc_id AND e.h = s.h AND e.version >= s.version
GROUP BY s.doc_id, s.h, s.version
ORDER BY s.doc_id, valid_from
"""
)


@register("scd2_history_n", _SCD2N_SQL)
def q_scd2_history_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 fold over the FIVE-version chain (gaps, reverts, drops) —
    the general-N oracle the 2-version closed form couldn't give."""
    root = _snapshot_root_n(spark, sf_dir)
    return _snap.scd2_history(spark, root)
