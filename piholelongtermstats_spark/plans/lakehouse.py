"""Lakehouse-lite queries: ingestion with quarantine (CSV, JSONL, ORC,
JSON properties), snapshots and SCD2 history, merge/upsert audits,
point-in-time joins, data-quality expectations and profiling,
governance (erasure, k-anonymity, l-diversity, differential-privacy
release) and the batch twins of the streaming tier.
"""

from __future__ import annotations

import datetime as dt
import hashlib as _hashlib
import os as _os
import shutil as _shutil
import tempfile as _tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.functions.exclude import exclude_domains
from piholelongtermstats_spark.operators import counts, dq, profiling, robust
from piholelongtermstats_spark.operators import text as _text
from piholelongtermstats_spark.plans.cache import fan_degenerate, shared_input
from piholelongtermstats_spark.plans.registry import _docs, _fact, register
from piholelongtermstats_spark.session import ensure_session_defaults
from piholelongtermstats_spark.sources import snapshots
from piholelongtermstats_spark.sources import csvsource as _csv
from piholelongtermstats_spark.sources import jsonl as _jsonl
from piholelongtermstats_spark.sources import orcsource as _orc
from piholelongtermstats_spark.sources import snapshots as _snap
from piholelongtermstats_spark.sources.events import FACT_CTE, dns_fact
from piholelongtermstats_spark.sources.parquet import load_table, union_all


# ---------------------------------------------------------------------------
# Versioned snapshots (sources/snapshots.py): two deterministic corpus
# versions are committed once per session (immutable v= directories +
# manifest chain), then diffed by key with byte-exact content hashes.
# The oracle reproduces the membership/change algebra in SQL — the
# FILES are the Spark side's concern; the diff SEMANTICS are the
# checked contract.
# ---------------------------------------------------------------------------


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
# SCD2 over an N-VERSION chain with absence gaps:
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


# ---------------------------------------------------------------------------
# JSONL ingestion with corrupt-record quarantine (sources/jsonl.py):
# the session writes documents as JSONL with every doc_id % 97 == 0
# line deterministically torn, reads it back PERMISSIVE, and audits
# good/quarantine counts plus a text-fidelity hash sum. The oracle
# replays the membership algebra and the SAME hash sum directly on
# the documents table — equality proves the roundtrip lost and
# mangled nothing.
# ---------------------------------------------------------------------------


_JSONL_MOD = 97
_JSONL_READY: set = set()


def _jsonl_root(spark: SparkSession, sf_dir: str) -> str:
    digest = _hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = _os.path.join(
        _tempfile.gettempdir(),
        "phlts_jsonl",
        f"{spark.sparkContext.applicationId}-{digest}",
    )
    key = (spark.sparkContext.applicationId, root)
    if key not in _JSONL_READY:
        _jsonl.write_documents_jsonl(
            _docs(spark, sf_dir), root, corrupt_mod=_JSONL_MOD
        )
        _JSONL_READY.add(key)
    return root


_JSONL_SQL = f"""
SELECT
  CAST(count(*) FILTER (WHERE doc_id % {_JSONL_MOD} <> 0) AS BIGINT) AS n_good,
  CAST(count(*) FILTER (WHERE doc_id % {_JSONL_MOD} = 0) AS BIGINT) AS n_quarantined,
  CAST(sum(doc_id) FILTER (WHERE doc_id % {_JSONL_MOD} <> 0) AS BIGINT) AS good_id_sum,
  CAST(sum(n_chars) FILTER (WHERE doc_id % {_JSONL_MOD} <> 0) AS BIGINT) AS good_chars,
  CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007)
       FILTER (WHERE doc_id % {_JSONL_MOD} <> 0) AS BIGINT) AS good_text_hashsum
FROM documents
"""


@register("jsonl_ingest_check", _JSONL_SQL)
def q_jsonl_ingest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good/quarantine split of the torn-line JSONL export, audited
    by counts + an order-independent text hash sum."""
    root = _jsonl_root(spark, sf_dir)
    good, bad = _jsonl.read_documents_jsonl(spark, root)
    g = good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum("doc_id").alias("good_id_sum"),
        F.sum("n_chars").alias("good_chars"),
        F.sum(_text.md5_hash60(F.col("text")) % 1000000007).alias(
            "good_text_hashsum"
        ),
    )
    b = bad.agg(F.count(F.lit(1)).alias("n_quarantined"))
    return g.crossJoin(b).select(
        "n_good", "n_quarantined", "good_id_sum", "good_chars",
        "good_text_hashsum",
    )


# ---------------------------------------------------------------------------
# MERGE INTO the snapshot chain (sources/snapshots.py:merge_upsert):
# the session snapshots `documents` as v0, applies a deterministic
# change set (delete doc_id%17==0; modify text of doc_id%10==0 among
# the survivors; insert three new docs), and audits the merged head.
# The oracle replays the same membership algebra directly on the
# documents table — equality proves MERGE applied exactly the
# declared changes and nothing else.
# ---------------------------------------------------------------------------


_MERGE_READY: set = set()
_MERGE_INS = [(9_000_001 + i, f"new doc {i}", "en", "merge") for i in range(3)]


def _merge_root(spark: SparkSession, sf_dir: str) -> str:
    digest = _hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = _os.path.join(
        _tempfile.gettempdir(),
        "phlts_merge",
        f"{spark.sparkContext.applicationId}-{digest}",
    )
    key = (spark.sparkContext.applicationId, root)
    if key not in _MERGE_READY:
        docs = _docs(spark, sf_dir)
        _snap.write_snapshot(docs, root)
        k = F.col("doc_id")
        mod = (
            docs.filter((k % 10 == 0) & (k % 17 != 0))
            .withColumn("text", F.concat(F.lit("MOD "), F.col("text")))
            .withColumn("n_chars", F.length("text").cast("long"))
            .withColumn("_op", F.lit("upsert"))
        )
        ins = spark.createDataFrame(
            [
                (i, t, lang, src, len(t), "upsert")
                for i, t, lang, src in _MERGE_INS
            ],
            "doc_id long, text string, lang string, source string, "
            "n_chars long, _op string",
        )
        dels = docs.filter(k % 17 == 0).withColumn("_op", F.lit("delete"))
        _snap.merge_upsert(
            spark, root, mod.unionByName(ins).unionByName(dels)
        )
        _MERGE_READY.add(key)
    return root


_MERGE_SQL = """
WITH ins(doc_id, text) AS (VALUES {ins_values}),
merged AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 17 <> 0 AND doc_id % 10 <> 0
  UNION ALL
  SELECT doc_id, 'MOD ' || text FROM documents
  WHERE doc_id % 10 = 0 AND doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id, text FROM ins)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(length(text)) AS BIGINT) AS chars_sum,
       CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007)
            AS BIGINT) AS text_hashsum
FROM merged
""".format(
    ins_values=", ".join(f"({i}, '{t}')" for i, t, _, _ in _MERGE_INS)
)


@register("merge_upsert_audit", _MERGE_SQL)
def q_merge_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-of-chain audit after MERGE (delete/modify/insert) over the
    snapshotted documents table."""
    root = _merge_root(spark, sf_dir)
    head = _snap.read_snapshot(spark, root)
    return head.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.length("text")).alias("chars_sum"),
        F.sum(_text.md5_hash60(F.col("text")) % 1000000007).alias(
            "text_hashsum"
        ),
    )


# ---------------------------------------------------------------------------
# Expression-level JSON extraction — the semi-structured SQL surface
# (the props column is a JSON object; jsonl.py covers file-level JSON
# ingestion, this covers in-row path extraction). get_json_object is
# a JVM expression (no Python); the DuckDB twin is the ->> path
# operator. Aggregates stay integer-exact.
# ---------------------------------------------------------------------------

_JSON_SQL = """
WITH ev AS (
  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k
  FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(k) AS BIGINT) AS n_parsed,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM ev GROUP BY event_type ORDER BY event_type
"""


@register("json_props_stats", _JSON_SQL)
def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from piholelongtermstats_spark.session import ensure_session_defaults
    from piholelongtermstats_spark.sources.parquet import load_table

    ensure_session_defaults(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("k").cast("long").alias("n_parsed"),
            F.sum("k").cast("long").alias("sum_k"),
            F.countDistinct("k").cast("long").alias("n_distinct_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )  # (terminal cosmetic sort dropped, r12 guide §2.4 — checkers are order-insensitive)


# ---------------------------------------------------------------------------
# Data-profiling + retrieval-serving:
#
# - ``fd_violation_profile`` — g3 functional-dependency violation audit
#   (Kivinen & Mannila 1995) over candidate lhs→rhs pairs, exact BIGINT
#   counts + integer-ppm rates (operators/profiling.py).
# - ``column_profile`` — per-column null/distinct/extrema dataset card,
#   one Expand-planned scan (operators/profiling.py).
#
# All four DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

def _fd_leg(lhs: str, rhs: str) -> str:
    return f"""
SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(tot) AS BIGINT) AS n_rows,
       CAST(sum(tot - mx) AS BIGINT) AS violations
FROM (
  SELECT {lhs}, sum(cnt) AS tot, max(cnt) AS mx
  FROM (
    SELECT {lhs}, {rhs}, CAST(count(*) AS BIGINT) AS cnt
    FROM fact GROUP BY 1, 2
  ) GROUP BY {lhs}
)"""


_FD_SQL = (
    FACT_CTE
    + ", legs AS ("
    + " UNION ALL ".join(_fd_leg(l, r) for l, r in profiling.FD_CANDIDATES)
    + """
)
SELECT lhs, rhs, n_groups, n_rows, violations,
       CAST(violations * 1000000 // n_rows AS BIGINT) AS violation_ppm,
       CAST(violations = 0 AS INT) AS holds
FROM legs
"""
)


@register("fd_violation_profile", _FD_SQL)
def q_fd_violation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g3 FD-violation audit over the candidate pairs
    (operators/profiling.py)."""
    return profiling.fd_violation_profile(_fact(spark, sf_dir))


def _profile_leg(c: str) -> str:
    return f"""
SELECT '{c}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       min({c}) AS min_value,
       max({c}) AS max_value
FROM fact"""


_PROFILE_SQL = (
    FACT_CTE
    + " UNION ALL ".join(_profile_leg(c) for c in profiling.PROFILE_COLS)
)


@register("column_profile", _PROFILE_SQL)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column dataset-card profile (operators/profiling.py)."""
    return profiling.column_profile(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# CSV ingestion with quarantine (sources/csvsource.py): the
# JSONL ingest contract on the other interchange format. The fixture
# export deterministically corrupts every doc_id % MOD == 0 row's
# numeric field, so the oracle reproduces the good/quarantine split
# from the documents view by arithmetic alone; text rides base64 so
# the audit hashes the EXACT original bytes after round-trip.
# ---------------------------------------------------------------------------

_CSV_MOD = 17
_CSV_READY: set = set()


def _csv_root(spark: SparkSession, sf_dir: str) -> str:
    digest = _hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = _os.path.join(
        _tempfile.gettempdir(),
        "phlts_csv",
        f"{spark.sparkContext.applicationId}-{digest}",
    )
    key = (spark.sparkContext.applicationId, root)
    if key not in _CSV_READY:
        _csv.write_documents_csv(
            _docs(spark, sf_dir), root, corrupt_mod=_CSV_MOD
        )
        _CSV_READY.add(key)
    return root


_CSV_SQL = f"""
SELECT
  CAST(count(*) FILTER (WHERE doc_id % {_CSV_MOD} <> 0) AS BIGINT) AS n_good,
  CAST(count(*) FILTER (WHERE doc_id % {_CSV_MOD} = 0) AS BIGINT) AS n_quarantined,
  CAST(sum(doc_id) FILTER (WHERE doc_id % {_CSV_MOD} <> 0) AS BIGINT) AS good_id_sum,
  CAST(sum(n_chars) FILTER (WHERE doc_id % {_CSV_MOD} <> 0) AS BIGINT) AS good_chars,
  CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007)
       FILTER (WHERE doc_id % {_CSV_MOD} <> 0) AS BIGINT) AS good_text_hashsum
FROM documents
"""


@register("csv_ingest_check", _CSV_SQL)
def q_csv_ingest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good/quarantine split of the corrupted CSV export, audited by
    counts + an order-independent text hash sum against the parquet
    source (sources/csvsource.py)."""
    root = _csv_root(spark, sf_dir)
    good, bad = _csv.read_documents_csv(spark, root)
    g = good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum("doc_id").alias("good_id_sum"),
        F.sum("n_chars").alias("good_chars"),
        F.sum(_text.md5_hash60(F.col("text")) % 1000000007).alias(
            "good_text_hashsum"
        ),
    )
    b = bad.agg(F.count(F.lit(1)).alias("n_quarantined"))
    return g.crossJoin(b).select(
        "n_good", "n_quarantined", "good_id_sum", "good_chars",
        "good_text_hashsum",
    )


# ---------------------------------------------------------------------------
# Streaming stateful recurrence + its batch twin:
#
# - ``client_ewma_daily`` — per-client EWMA over the (client, day)
#   count relation (operators/robust.ewma_by_client): one grouped
#   catalyst fold per client; the oracle replays the recurrence as a
#   per-client recursive CTE with the identical IEEE step. This is the
#   BATCH TWIN of streaming/ewma.streaming_client_ewma (custom
#   applyInPandasWithState recurrence); stream ≡ batch is pinned
#   bit-for-bit on shared files in tests/test_streaming_ewma.py, so
#   this driver-checkable entry extends to the streaming operator's
#   result contract (the conversion_attribution pattern).
# ---------------------------------------------------------------------------

_CLIENT_EWMA_SQL = (
    FACT_CTE.replace("WITH fact AS", "WITH RECURSIVE fact AS", 1)
    + """
, daily AS (
  SELECT client, date, CAST(count(*) AS BIGINT) AS y
  FROM fact GROUP BY 1, 2
)
, seq AS (
  SELECT client, date, y,
         row_number() OVER (PARTITION BY client ORDER BY date) AS r
  FROM daily
)
, rec AS (
  SELECT client, r, date, y, CAST(y AS DOUBLE) AS e FROM seq WHERE r = 1
  UNION ALL
  SELECT s.client, s.r, s.date, s.y,
         0.3 * CAST(s.y AS DOUBLE) + 0.7 * rec.e
  FROM seq s JOIN rec ON s.client = rec.client AND s.r = rec.r + 1
)
SELECT client, date, y, round(e, 6) AS ewma FROM rec
"""
)


@register("client_ewma_daily", _CLIENT_EWMA_SQL)
def q_client_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-client EWMA(α=0.3) of daily counts — grouped catalyst fold
    vs per-client recursive CTE (operators/robust.py)."""
    daily = (
        _fact(spark, sf_dir)
        .groupBy("client", "date")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    return robust.ewma_by_client(daily, alpha=0.3)


# ---------------------------------------------------------------------------
# Governance + envelope + tokenizer-eval:
#
# - ``erasure_audit`` — right-to-erasure propagation through the
#   lakehouse tier (sources/snapshots.py): a per-client profile store
#   is committed, ONE client is erased via the MERGE delete path, and
#   retention compaction removes the historical versions that still
#   carried the subject — the full GDPR Art.17 mechanics (merge alone
#   deletes from the HEAD; history needs compaction, which the audit
#   row proves). Oracle replays every count arithmetically from the
#   events view (the erased client is the deterministic max(client)).
#
# All three DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_ERASE_READY: dict = {}


def _erasure_root(spark: SparkSession, sf_dir: str) -> str:
    digest = _hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = _os.path.join(
        _tempfile.gettempdir(),
        "phlts_erasure",
        f"{spark.sparkContext.applicationId}-{digest}",
    )
    return root


@register(
    "erasure_audit",
    FACT_CTE
    + """
, prof AS (SELECT client, count(*) AS cnt FROM fact GROUP BY client)
, subject AS (SELECT max(client) AS erased FROM prof)
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM prof) AS clients_before,
  (SELECT CAST(count(*) AS BIGINT) FROM prof) - 1 AS clients_after,
  CAST(0 AS BIGINT) AS subject_rows_after,
  CAST(1 AS BIGINT) AS versions_after_compaction,
  CAST(1 AS BIGINT) AS history_purged
""",
)
def q_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end erasure: profile store v0 → MERGE delete of the
    max(client) subject → compact(keep_last=1) → audited counts.
    The audit row proves (a) the head no longer contains the
    subject, (b) exactly one client disappeared, and (c) the
    pre-erasure history — which still contained the subject and is
    the part merge alone does NOT erase — is physically gone."""
    root = _erasure_root(spark, sf_dir)
    key = (spark.sparkContext.applicationId, root)
    if key not in _ERASE_READY:
        if _os.path.isdir(root):  # stale dir from a killed run
            _shutil.rmtree(root)
        prof = (
            _fact(spark, sf_dir)
            .groupBy("client")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        snapshots.write_snapshot(prof, root)
        subject = prof.agg(F.max("client")).collect()[0][0]
        changes = spark.createDataFrame(
            [(subject, 0, "delete")], "client string, cnt long, _op string"
        )
        snapshots.merge_upsert(spark, root, changes, key="client")
        before = prof.count()
        after = snapshots.read_snapshot(spark, root).count()
        residual = (
            snapshots.read_snapshot(spark, root)
            .filter(F.col("client") == subject)
            .count()
        )
        # history still holds the subject until retention removes it
        in_history = (
            snapshots.read_snapshot(spark, root, version=0)
            .filter(F.col("client") == subject)
            .count()
        )
        snapshots.compact(root, keep_last=1)
        _ERASE_READY[key] = (
            before,
            after,
            residual,
            len(snapshots.versions(root)),
            1 if in_history == 1 else 0,
        )
    b, a, res, nv, purged = _ERASE_READY[key]
    return spark.createDataFrame(
        [(b, a, res, nv, purged)],
        "clients_before long, clients_after long, subject_rows_after long, "
        "versions_after_compaction long, history_purged long",
    )


# ---------------------------------------------------------------------------
# Ingest contracts, irregular-sampling correction, and the
#
# - ``dq_expectations_panel`` — the dbt-test/Great-Expectations shape
#   as one single-scan engine query over the raw feed (null/unique/
#   domain/range gates; one conditional-count aggregation + stack).
# ---------------------------------------------------------------------------

_DQ_SQL = """
WITH one AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_total,
    CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
    CAST(count(event_id) AS BIGINT) AS n_id_nonnull,
    CAST(count(*) FILTER (WHERE event_id IS NULL) AS BIGINT)
      AS v_event_id_not_null,
    CAST(count(*) FILTER (WHERE ts IS NULL) AS BIGINT) AS v_ts_not_null,
    CAST(count(*) FILTER (WHERE ts IS NOT NULL AND
         (ts < TIMESTAMP '2000-01-01' OR ts >= TIMESTAMP '2100-01-01'))
         AS BIGINT) AS v_ts_in_range,
    CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT)
      AS v_user_id_not_null,
    CAST(count(*) FILTER (WHERE event_type IS NULL OR event_type NOT IN
         ('view','click','purchase','error','signup')) AS BIGINT)
      AS v_event_type_known,
    CAST(count(*) FILTER (WHERE value IS NOT NULL AND value < 0) AS BIGINT)
      AS v_value_nonnegative
  FROM events
), panel AS (
  SELECT n_total, 'event_id_not_null' AS check_name,
         v_event_id_not_null AS n_violations FROM one
  UNION ALL SELECT n_total, 'event_id_unique',
         n_id_nonnull - n_distinct FROM one
  UNION ALL SELECT n_total, 'ts_not_null', v_ts_not_null FROM one
  UNION ALL SELECT n_total, 'ts_in_range', v_ts_in_range FROM one
  UNION ALL SELECT n_total, 'user_id_not_null', v_user_id_not_null FROM one
  UNION ALL SELECT n_total, 'event_type_known', v_event_type_known FROM one
  UNION ALL SELECT n_total, 'value_nonnegative', v_value_nonnegative FROM one
)
SELECT check_name,
       n_total AS n_checked,
       CAST(n_violations AS BIGINT) AS n_violations,
       CAST(n_violations = 0 AS INT) AS pass_flag
FROM panel ORDER BY check_name
"""


@register("dq_expectations_panel", _DQ_SQL)
def q_dq_expectations_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan data-quality expectation panel over the raw feed
    (operators/dq.py)."""
    ensure_session_defaults(spark)
    ev = shared_input(
        spark,
        "events_rawcols",
        sf_dir,
        # fanned at cache build (r12, see cache.shared_docs)
        lambda: fan_degenerate(
            spark, _raw_with_ts(spark, sf_dir), "user_id"
        ),
    )
    return dq.dq_expectations_panel(ev)


def _raw_with_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw events with the nanos→µs ts conversion but every original
    column kept (the DQ panel checks the raw columns)."""
    from piholelongtermstats_spark.sources.events import canonical_ts

    ev = canonical_ts(load_table(spark, sf_dir, "events"))
    return ev.select("event_id", "ts", "user_id", "event_type", "value", "props")


# ---------------------------------------------------------------------------
# Prequential anomaly, temporal diversity, governance depth:
#
# - ``l_diversity_audit`` — the released k-anonymous groups NEAREST
#   the re-identification cliff by distinct-client diversity
#   (kanon_domain_daily's second-order privacy check; worst-K, not a
#   fixed bar — a fixed l is scale-dependent).
# ---------------------------------------------------------------------------

_LDIV_K = 5
_LDIV_WORST = 20

_LDIV_SQL = (
    FACT_CTE
    + f"""
, groups AS (
  SELECT domain, date, CAST(count(*) AS BIGINT) AS cnt,
         CAST(count(DISTINCT client) AS BIGINT) AS n_clients
  FROM fact GROUP BY domain, date
), released AS (
  SELECT * FROM groups WHERE cnt >= {_LDIV_K}
), audit AS (
  SELECT CAST(count(*) AS BIGINT) AS groups_released,
         CAST(min(n_clients) AS BIGINT) AS min_l
  FROM released
)
SELECT domain, date, cnt, n_clients, groups_released, min_l
FROM released, audit
ORDER BY n_clients ASC, cnt DESC, domain ASC, date ASC
LIMIT {_LDIV_WORST}
"""
)


@register("l_diversity_audit", _LDIV_SQL)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst released k-anon groups by l-diversity
    (operators/counts.py)."""
    return counts.l_diversity_audit(
        _fact(spark, sf_dir), k=_LDIV_K, worst=_LDIV_WORST
    )


# ---------------------------------------------------------------------------
# Portmanteau test, survival doubling proof, ORC interchange:
#
# - ``orc_ingest_check`` — columnar interchange round-trip audit
#   (sources/orcsource.py): the ORC read path must deliver the same
#   counts/ids/chars/text-hash sums as the parquet source for a pushed-
#   down doc_id predicate; stripe pushdown + column pruning are plan-
#   asserted in tests/test_orc_source.py.
# ---------------------------------------------------------------------------

_ORC_MOD = 3
_ORC_READY: set = set()


def _orc_root(spark: SparkSession, sf_dir: str) -> str:
    digest = _hashlib.md5(_os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = _os.path.join(
        _tempfile.gettempdir(),
        "phlts_orc",
        f"{spark.sparkContext.applicationId}-{digest}",
    )
    key = (spark.sparkContext.applicationId, root)
    if key not in _ORC_READY:
        _orc.write_documents_orc(_docs(spark, sf_dir), root)
        _ORC_READY.add(key)
    return root


_ORC_SQL = f"""
SELECT
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS id_sum,
  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
  CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007)
       AS BIGINT) AS text_hashsum
FROM documents
WHERE doc_id % {_ORC_MOD} = 0
"""


@register("orc_ingest_check", _ORC_SQL)
def q_orc_ingest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip audit of the ORC export against the parquet source
    for a pushed-down predicate subset (sources/orcsource.py)."""
    root = _orc_root(spark, sf_dir)
    back = _orc.read_documents_orc(spark, root).filter(
        F.col("doc_id") % _ORC_MOD == 0
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("n_chars").alias("chars_sum"),
        F.sum(_text.md5_hash60(F.col("text")) % 1000000007).alias(
            "text_hashsum"
        ),
    )


# ---------------------------------------------------------------------------
# Governance release + interchange meta-audit:
#
# - ``dp_noised_daily_counts`` — ε-DP Laplace release of the daily
#   count series with the utility audit columns (deterministic
#   inverse-CDF draws from the engine-wide md5 uniform; one ln per
#   independent row).
# - ``interchange_consistency_panel`` — the cross-format meta-audit:
#   the SAME document subset read back through CSV, ORC and parquet
#   must agree byte-for-byte (count / id-sum / order-independent text
#   hash); all_match is computed INSIDE the Spark query, so the oracle
#   hash can only match if all three source paths delivered identical
#   data. One row ties the whole interchange matrix together.
#
# Both DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_DP_EPS_X1000 = 500  # epsilon = 0.5, scale b = 2.0 exactly

_DP_SQL = (
    FACT_CTE
    + f"""
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS true_cnt
  FROM fact GROUP BY date
), drawn AS (
  SELECT date, true_cnt,
    CAST(2 * (('0x' || substr(md5('dp1' || ':'
                   || strftime(date, '%Y-%m-%d')), 1, 15))::BIGINT
              % 1000000000) + 1 AS DOUBLE) / 2000000000.0 - 0.5 AS v
  FROM daily
), noised AS (
  SELECT date, true_cnt,
    (-(1000.0 / {_DP_EPS_X1000}.0)
     * (CASE WHEN v > 0 THEN CAST(1.0 AS DOUBLE)
             ELSE CAST(-1.0 AS DOUBLE) END))
    * ln(1.0 - 2.0 * abs(v)) AS noise
  FROM drawn
)
SELECT date, true_cnt,
  round(true_cnt + noise, 6) AS released,
  round(abs(noise), 6) AS abs_err
FROM noised ORDER BY date
"""
)


@register("dp_noised_daily_counts", _DP_SQL)
def q_dp_noised_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP Laplace release + utility audit of daily counts
    (operators/counts.py)."""
    return counts.dp_noised_daily_counts(
        _fact(spark, sf_dir), epsilon_x1000=_DP_EPS_X1000
    )


_HM = 1000000007

_IC_SQL = f"""
SELECT CAST(3 AS BIGINT) AS n_formats,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(doc_id) AS BIGINT) AS id_sum,
  CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT % {_HM})
       AS BIGINT) AS text_hashsum,
  CAST(1 AS INT) AS all_match
FROM documents
WHERE doc_id % {_CSV_MOD} <> 0
"""


@register("interchange_consistency_panel", _IC_SQL)
def q_interchange_consistency_panel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-format agreement audit: parquet vs ORC vs CSV on the
    common clean subset (the CSV export deterministically corrupts
    doc_id % {mod} rows, so the panel compares the survivors). The
    all_match flag is computed in-engine from the three legs — the
    oracle can only hash-match when every format round trip was
    byte-exact."""
    h = _text.md5_hash60(F.col("text")) % _HM

    def leg(df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum(h).cast("long").alias("text_hashsum"),
        )

    pq = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .filter(F.col("doc_id") % _CSV_MOD != 0)
    )
    good, _bad = _csv.read_documents_csv(spark, _csv_root(spark, sf_dir))
    csvd = good.select("doc_id", "text")
    orc = (
        _orc.read_documents_orc(spark, _orc_root(spark, sf_dir))
        .select("doc_id", "text")
        .filter(F.col("doc_id") % _CSV_MOD != 0)
    )
    three = leg(pq).unionByName(leg(csvd)).unionByName(leg(orc))
    return three.agg(
        F.count(F.lit(1)).cast("long").alias("n_formats"),
        F.max("n_docs").alias("n_docs"),
        F.max("id_sum").alias("id_sum"),
        F.max("text_hashsum").alias("text_hashsum"),
        (
            F.countDistinct("n_docs", "id_sum", "text_hashsum") == 1
        ).cast("int").alias("all_match"),
    )


# ---------------------------------------------------------------------------
# Warehouse PIT join + data-filter model eval:
#
# - ``scd2_pit_enrich`` — the point-in-time enrichment join: every
#   (key, as-of version) probe LEFT-joined to the SCD2 validity run
#   covering it (NULL content = the key was not alive at that version —
#   the semantics a plain latest-version join silently gets wrong).
#
# Both DuckDB-oracle-checked.
# ---------------------------------------------------------------------------

_PIT_SQL = f"""
WITH hist AS ({_SCD2_SQL}),
keys AS (SELECT DISTINCT doc_id FROM hist),
probes AS (
  SELECT k.doc_id, CAST(v.range AS BIGINT) AS as_of_ver
  FROM keys k JOIN range(2) v ON true)
SELECT p.doc_id, p.as_of_ver, h.content_md5, h.valid_from, h.valid_to,
  CAST(h.content_md5 IS NOT NULL AS INT) AS is_alive
FROM probes p LEFT JOIN hist h
  ON h.doc_id = p.doc_id
 AND h.valid_from <= p.as_of_ver AND p.as_of_ver <= h.valid_to
ORDER BY p.doc_id, p.as_of_ver
"""


@register("scd2_pit_enrich", _PIT_SQL)
def q_scd2_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time containment LEFT join over the SCD2 history
    (sources/snapshots.py): every key probed at every snapshot
    version; keys absent at a version surface as is_alive = 0 rows.

    Plan shape: the probe spine is keys × versions (versions
    broadcast); the containment join blocks on the equality key, so
    the range predicate only scans each key's own (≤ versions) runs —
    the range_join_blocked_windows discipline applied to dimension
    history."""
    root = _snapshot_root(spark, sf_dir)
    # r12 (guide §2.4): hist feeds BOTH the probe-key spine and the
    # containment join — without materialization each consumer re-ran
    # the whole SCD2 history build (both snapshot versions scanned
    # twice, 4 executed scans). The history is dimension-sized
    # (doc_id × validity runs) at any volume — eager localCheckpoint,
    # the r12 fan-out idiom.
    hist = _snap.scd2_history(spark, root).localCheckpoint(eager=True)
    keys = hist.select("doc_id").distinct()
    vers = spark.range(2).select(F.col("id").cast("long").alias("as_of_ver"))
    probes = keys.crossJoin(F.broadcast(vers)).alias("p")
    h = hist.alias("h")
    return (
        probes.join(
            h,
            (F.col("p.doc_id") == F.col("h.doc_id"))
            & (F.col("h.valid_from") <= F.col("p.as_of_ver"))
            & (F.col("p.as_of_ver") <= F.col("h.valid_to")),
            "left",
        )
        .select(
            F.col("p.doc_id").alias("doc_id"),
            "as_of_ver",
            "content_md5",
            "valid_from",
            "valid_to",
            F.col("content_md5").isNotNull().cast("int").alias("is_alive"),
        )
        # no final sort: full-size relation; checkers are order-insensitive
    )


# ---------------------------------------------------------------------------
# source pipeline: multi-DB UNION ALL → pushed-down range scan →
# regex exclusion → per-status counts (the reference's actual ingest
# path: app.py:144-154 union, db.py:130-135 range, process.py:27-44
# exclusion) in one plan
# ---------------------------------------------------------------------------

@register(
    "source_pipeline",
    FACT_CTE
    + r"""
SELECT status_type, count(*) AS cnt, count(DISTINCT domain) AS n_domains
FROM (SELECT * FROM fact UNION ALL SELECT * FROM fact)
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
  AND (domain IS NULL OR NOT regexp_matches(domain, '"k": [12]'))
GROUP BY status_type
""",
)
def q_source_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ingest pipeline: two sources UNION ALL (duplicates
    kept, S6) → [2024-01-10, 2024-01-20) range with the predicate
    pushed to the parquet scan (S4/S7, raw-nanos filter → row-group
    skipping) → regex domain exclusion with NULL-keep (P3) → counts.
    Composes the same operators `range_scan` / `union_all_sources` /
    `regex_exclusion` check individually."""
    ensure_session_defaults(spark)
    one = dns_fact(
        spark, sf_dir, lo=dt.datetime(2024, 1, 10), hi=dt.datetime(2024, 1, 20)
    )
    both = union_all(one, one)
    return (
        exclude_domains(both, ['"k": [12]'])
        .groupBy("status_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("domain").alias("n_domains"),
        )
    )
