"""M68 — REAL FLAC decode, exact oracle (operators/flacc.py): the
compressed audio tier. Unlike the JPEG bound contract, FLAC is
lossless, so every hashed column is closed-form-replayable — the WAV
panel's oracle family plus the exact ``sample_sum`` tie-in; one wrong
sample anywhere in the rice/fixed-predictor/CRC/MD5 chain flips the
hash (tests show every single-byte payload corruption is rejected).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import flacc
from piholelongtermstats_spark.plans.registry import _docs, register

_FLAC_SQL = """
SELECT d.doc_id AS media_id,
  CAST(8000 + (d.doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
  CAST(1 AS BIGINT) AS n_channels,
  CAST(64 + d.doc_id % 64 AS BIGINT) AS n_frames,
  CAST((64 + d.doc_id % 64) * 1000 // (8000 + (d.doc_id % 3) * 4000)
       AS BIGINT) AS duration_ms,
  CAST(floor(sqrt(CAST(s.ss AS DOUBLE)
                  / CAST(64 + d.doc_id % 64 AS DOUBLE))) AS BIGINT) AS rms,
  s.sm AS sample_sum,
  CAST(1 AS INT) AS is_valid
FROM documents d JOIN (
  SELECT doc_id,
         CAST(sum(CAST(smp AS BIGINT) * smp) AS BIGINT) AS ss,
         CAST(sum(CAST(smp AS BIGINT)) AS BIGINT) AS sm
  FROM (
    SELECT d2.doc_id,
           ((d2.doc_id * 131 + i.range * 7919) % 65536) - 32768 AS smp
    FROM documents d2 JOIN range(128) i
      ON i.range < 64 + d2.doc_id % 64
  ) GROUP BY doc_id
) s ON s.doc_id = d.doc_id
"""


@register("flac_decode_panel", _FLAC_SQL)
def q_flac_decode_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize real FLAC payloads over the WAV tier's closed-form
    signal (same samples, compressed codec) and decode them through
    the full verified chain — STREAMINFO, frame sync, CRC-8, rice,
    fixed-order-2 reconstruction, CRC-16, MD5 — emitting exact
    integer features the oracle replays in closed form."""
    media = flacc.synth_flac_corpus(_docs(spark, sf_dir))
    return flacc.decode_flac_features(media)
