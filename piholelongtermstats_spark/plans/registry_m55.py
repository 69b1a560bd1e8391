"""M55 — warehouse PIT join + data-filter model eval:

- ``scd2_pit_enrich`` — the point-in-time enrichment join: every
  (key, as-of version) probe LEFT-joined to the SCD2 validity run
  covering it (NULL content = the key was not alive at that version —
  the semantics a plain latest-version join silently gets wrong).
- ``quality_lift_table`` — decile lift/calibration of the hashed
  linear quality classifier against the Gopher REPETITION gate (the
  eval a learned data filter needs before its scores drive
  selection; the repetition gate is the label because it is the one
  rule gate that discriminates on the synthetic corpus — the
  document-shape gate rejects all 500 short fixtures, which would
  make every lift NULL).

Both DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import text as _text
from piholelongtermstats_spark.plans.registry import _docs, register
from piholelongtermstats_spark.plans.registry_m9 import _QC_W
from piholelongtermstats_spark.plans.registry_m11 import (
    _SCD2_SQL,
    _snapshot_root,
)
from piholelongtermstats_spark.plans.registry_m12 import _REP_SQL
from piholelongtermstats_spark.sources import snapshots as _snap

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


_NB = 10
_CUTS = "\n".join(
    f"    min(CASE WHEN cum * {_NB} >= {i} * n THEN q END) AS t{i},"
    for i in range(1, _NB)
)
_DECILE = " + ".join(
    f"(CASE WHEN q > t{i} THEN 1 ELSE 0 END)" for i in range(1, _NB)
)

_LIFT_SQL = f"""
WITH cls AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(trim(text), '\\s+'),
        tk -> tk <> ''))::BIGINT AS n_tokens,
    CAST(list_sum({_QC_W}) AS BIGINT) AS weight_sum
  FROM documents),
lbl AS (
  SELECT doc_id, CAST(keep AS BIGINT) AS label FROM ({_REP_SQL})),
scored AS (
  SELECT c.doc_id,
    CAST(round(CAST(weight_sum AS DOUBLE) / (1000 * n_tokens) * 1000000)
         AS BIGINT) AS q,
    l.label
  FROM cls c JOIN lbl l USING (doc_id) WHERE n_tokens > 0),
hist AS (SELECT q, CAST(count(*) AS BIGINT) AS cnt FROM scored GROUP BY q),
h AS (
  SELECT q,
    CAST(sum(cnt) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS cum,
    CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM hist),
cuts AS (
  SELECT
{_CUTS}
    1 AS one
  FROM h),
assigned AS (
  SELECT s.doc_id, s.label,
         CAST({_DECILE} AS BIGINT) AS decile
  FROM scored s CROSS JOIN cuts),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(label) AS BIGINT) AS k_total
  FROM assigned)
SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(label) AS BIGINT) AS n_keep,
  CAST(sum(label) * 1000000 // count(*) AS BIGINT) AS keep_rate_ppm,
  CAST((CAST(sum(label) AS HUGEINT) * tot.n_total * 1000000)
       // (CAST(count(*) AS HUGEINT) * nullif(tot.k_total, 0))
       AS BIGINT) AS lift_ppm
FROM assigned, tot
GROUP BY decile, tot.n_total, tot.k_total
ORDER BY decile
"""


@register("quality_lift_table", _LIFT_SQL)
def q_quality_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-vs-rule-gate decile lift table
    (operators/text.py)."""
    return _text.quality_lift_table(_docs(spark, sf_dir), _NB)
