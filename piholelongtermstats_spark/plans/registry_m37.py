"""M37 — governance + envelope + tokenizer-eval wave:

- ``erasure_audit`` — right-to-erasure propagation through the
  lakehouse tier (sources/snapshots.py): a per-client profile store
  is committed, ONE client is erased via the MERGE delete path, and
  retention compaction removes the historical versions that still
  carried the subject — the full GDPR Art.17 mechanics (merge alone
  deletes from the HEAD; history needs compaction, which the audit
  row proves). Oracle replays every count arithmetically from the
  events view (the erased client is the deterministic max(client)).
- ``rolling_bands_daily`` — trailing 7-day mean ± 2σ envelope with
  exact window moments (operators/robust.py).
- ``lang_token_stats`` — per-language tokenization ratios
  (operators/text.py).

All three DuckDB-oracle-checked.
"""

from __future__ import annotations

import hashlib as _hashlib
import os as _os
import shutil as _shutil
import tempfile as _tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import robust, text
from piholelongtermstats_spark.plans.registry import _docs, _fact, register
from piholelongtermstats_spark.sources import snapshots
from piholelongtermstats_spark.sources.events import FACT_CTE

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


_BANDS_SQL = (
    FACT_CTE
    + """
, daily AS (
  SELECT date, CAST(count(*) AS BIGINT) AS y FROM fact GROUP BY date
)
, base AS (
  SELECT date, y,
    CAST(count(*) OVER w AS BIGINT) AS win_n,
    CAST(sum(y) OVER w AS BIGINT) AS win_sum,
    CAST(sum(CAST(y * y AS DECIMAL(38,0))) OVER w AS DECIMAL(38,0))
      AS win_sumsq
  FROM daily
  WINDOW w AS (ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT date, y, win_n, win_sum,
  CAST(win_sumsq AS DOUBLE) AS win_sumsq,
  round(CAST(win_sum AS DOUBLE) / CAST(win_n AS DOUBLE), 6) AS mean_w,
  round(CASE WHEN win_n > 1 THEN
    sqrt((CAST(win_sumsq AS DOUBLE)
          - CAST(win_sum AS DOUBLE) * CAST(win_sum AS DOUBLE)
            / CAST(win_n AS DOUBLE))
         / (CAST(win_n AS DOUBLE) - 1.0)) END, 6) AS sd_w,
  round(CASE WHEN win_n > 1 THEN
    CAST(win_sum AS DOUBLE) / CAST(win_n AS DOUBLE)
    + 2.0 * sqrt((CAST(win_sumsq AS DOUBLE)
          - CAST(win_sum AS DOUBLE) * CAST(win_sum AS DOUBLE)
            / CAST(win_n AS DOUBLE))
         / (CAST(win_n AS DOUBLE) - 1.0)) END, 6) AS upper,
  round(CASE WHEN win_n > 1 THEN
    CAST(win_sum AS DOUBLE) / CAST(win_n AS DOUBLE)
    - 2.0 * sqrt((CAST(win_sumsq AS DOUBLE)
          - CAST(win_sum AS DOUBLE) * CAST(win_sum AS DOUBLE)
            / CAST(win_n AS DOUBLE))
         / (CAST(win_n AS DOUBLE) - 1.0)) END, 6) AS lower
FROM base
"""
)


@register("rolling_bands_daily", _BANDS_SQL)
def q_rolling_bands_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day mean ± 2σ envelope, exact window moments
    (operators/robust.py)."""
    return robust.rolling_bands_daily(_fact(spark, sf_dir), 7)


_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> '')"

_FERTILITY_SQL = f"""
WITH per AS (
  SELECT lang,
         CAST(len({_TOKS}) AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  round(CASE WHEN sum(n_tok) > 0 THEN
    CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE) END, 6)
    AS chars_per_token,
  round(CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
    AS tokens_per_doc
FROM per GROUP BY lang
"""


@register("lang_token_stats", _FERTILITY_SQL)
def q_lang_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenization ratios (operators/text.py)."""
    return text.lang_token_stats(_docs(spark, sf_dir))
