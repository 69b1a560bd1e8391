"""M18 — sequence & fingerprint analytics wave:

- ``winnowing_fingerprints`` — the MOSS winnowing algorithm
  (Schleimer/Wilkerson/Aiken, SIGMOD 2003): window-min k-gram hash
  selection with the rightmost-tie rule, engine-exact via an encoded
  integer key. Completes the local-copy-detection family next to the
  rolling fingerprint, exact-substring and MinHash tiers.
- ``status_transition_matrix`` — first-order Markov transitions over
  per-client status sequences (lag within (client, date) partitions +
  cross-midnight stitch; the oracle uses the plain per-client lag —
  same result since date order refines client order).
- ``event_debounce`` — keep-first-of-burst suppression audit; Spark
  runs native session_window (JVM burst merging, no ordered window),
  the oracle runs the classic lag → flag → running-sum
  gaps-and-islands SQL, pinning the two formulations equivalent.

Determinism: winnowing is all-integer; both analytics queries divide
exact integer counts once and round to 6 on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import sequential, text
from piholelongtermstats_spark.plans.registry import _docs, _fact, register
from piholelongtermstats_spark.sources.events import FACT_CTE


# ---------------------------------------------------------------------------
# Winnowing (MOSS). k = 3 token-grams (the corpus shingle convention),
# w = 8 hash window. The encoded key h40 * 2^20 + (2^20-1-pos) makes
# "min hash, rightmost position on ties" a single BIGINT min in both
# engines; short docs (< w grams) contribute their global minimum.
# ---------------------------------------------------------------------------

_WINNOW_SQL = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     tk -> tk <> '') AS ts
  FROM documents
), gram AS (
  SELECT doc_id,
         greatest(len(ts) - 2, 0) AS n_grams,
         i AS pos,
         ts[i + 1] || ' ' || ts[i + 2] || ' ' || ts[i + 3] AS g
  FROM tok, LATERAL unnest(generate_series(0, len(ts) - 3)) AS t(i)
), keyed AS (
  SELECT doc_id, n_grams, pos,
         ('0x' || substr(md5(g), 1, 10))::BIGINT * 1048576
           + (1048575 - pos) AS key
  FROM gram
), winmin AS (
  SELECT doc_id, pos, n_grams,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin
  FROM keyed
)
SELECT DISTINCT doc_id,
       1048575 - (wmin % 1048576) AS fp_pos,
       wmin // 1048576 AS fp_hash
FROM winmin
WHERE pos <= greatest(n_grams - 8, 0)
ORDER BY doc_id, fp_pos, fp_hash
"""


@register("winnowing_fingerprints", _WINNOW_SQL)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints over the documents corpus — the
    guaranteed local copy-detection sketch (any shared run of
    w + k - 1 = 10 tokens yields an identical fingerprint in both
    docs). Per-doc windows only; embarrassingly parallel."""
    return text.winnowing_fingerprints(_docs(spark, sf_dir), k=3, w=8)


# ---------------------------------------------------------------------------
# Markov status transitions. The oracle's plain per-client lag equals
# the engine's (client, date)-partitioned lag + midnight stitch
# because date order refines (ts, event_id) order within a client.
# ---------------------------------------------------------------------------

_TRANSITION_SQL = (
    FACT_CTE
    + """
, seq AS (
  SELECT client,
         lag(status_type) OVER (PARTITION BY client
                                ORDER BY ts, event_id) AS prev_status,
         status_type AS status
  FROM fact
), mat AS (
  SELECT prev_status, status, count(*) AS cnt
  FROM seq WHERE prev_status IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT prev_status, CAST(sum(cnt) AS BIGINT) AS total
  FROM mat GROUP BY 1
)
SELECT m.prev_status, m.status, m.cnt,
       round(CAST(m.cnt AS DOUBLE) * 100.0 / CAST(t.total AS DOUBLE), 6)
         AS pct
FROM mat m JOIN tot t ON m.prev_status = t.prev_status
ORDER BY m.prev_status, m.status
"""
)


@register("status_transition_matrix", _TRANSITION_SQL)
def q_status_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-client status
    sequences — the behavioral-sequence counting family (bigram LM
    over event streams instead of tokens)."""
    return sequential.status_transitions(_fact(spark, sf_dir))


# ---------------------------------------------------------------------------
# Debounce. Spark: session_window (merge rule: an event at EXACTLY
# last + gap still merges; strictly greater starts a new burst —
# mirrored in the oracle's `ts > lag + INTERVAL`, the _SESSION_CTE
# convention). Oracle: gaps-and-islands.
# ---------------------------------------------------------------------------

_DEBOUNCE_SQL = (
    FACT_CTE
    + """
, flagged AS (
  SELECT client, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_b
  FROM fact WINDOW w AS (PARTITION BY client ORDER BY ts, event_id)
), marked AS (
  SELECT client,
         sum(new_b) OVER (PARTITION BY client ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS bid
  FROM flagged
), bursts AS (
  SELECT client, bid, count(*) AS n_in_burst
  FROM marked GROUP BY client, bid
)
SELECT client,
       CAST(sum(n_in_burst) AS BIGINT) AS n_events,
       count(*) AS n_kept,
       round(CAST(count(*) AS DOUBLE) * 100.0
             / CAST(CAST(sum(n_in_burst) AS BIGINT) AS DOUBLE), 6)
         AS kept_pct
FROM bursts GROUP BY client
ORDER BY client
"""
)


@register("event_debounce", _DEBOUNCE_SQL)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first-of-burst debounce audit (stream-hygiene op): how
    many events survive 10-minute burst collapse per client. Native
    session_window vs the oracle's gaps-and-islands SQL — the same
    relation from two formulations."""
    return sequential.debounce_summary(_fact(spark, sf_dir), gap="10 minutes")
