"""M53 — REAL audio decode (multimodal upgrade):

- ``wav_decode_panel`` — per-document WAV payloads synthesized with
  the stdlib RIFF writer, then decoded by the REAL byte-level parser
  (operators/multimodal.decode_wav_features — stdlib ``wave`` +
  PCM unpack + RMS; no fake path). The oracle replays the synthesis
  arithmetic in closed form, so a hash match PROVES the container
  round trip is byte-correct: the audio modality graduates from the
  stubbed rows-only tier to a fully oracle-checked decode.

Image/video decode stays stubbed (no codecs in this container,
operators/multimodal.py module note) — WAV is the one media container
the stdlib can genuinely parse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import multimodal
from piholelongtermstats_spark.plans.registry import _docs, register

_WAV_SQL = """
SELECT d.doc_id AS media_id,
  CAST(8000 + (d.doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
  CAST(1 AS BIGINT) AS n_channels,
  CAST(64 + d.doc_id % 64 AS BIGINT) AS n_frames,
  CAST((64 + d.doc_id % 64) * 1000 // (8000 + (d.doc_id % 3) * 4000)
       AS BIGINT) AS duration_ms,
  CAST(floor(sqrt(CAST(s.ss AS DOUBLE)
                  / CAST(64 + d.doc_id % 64 AS DOUBLE))) AS BIGINT) AS rms,
  CAST(1 AS INT) AS is_valid
FROM documents d JOIN (
  SELECT doc_id, CAST(sum(CAST(smp AS BIGINT) * smp) AS BIGINT) AS ss
  FROM (
    SELECT d2.doc_id,
           ((d2.doc_id * 131 + i.range * 7919) % 65536) - 32768 AS smp
    FROM documents d2 JOIN range(128) i
      ON i.range < 64 + d2.doc_id % 64
  ) GROUP BY doc_id
) s ON s.doc_id = d.doc_id
"""


@register("wav_decode_panel", _WAV_SQL)
def q_wav_decode_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize real RIFF/WAVE payloads per document and decode
    them with the stdlib byte-level parser
    (operators/multimodal.py)."""
    media = multimodal.synth_wav_corpus(_docs(spark, sf_dir))
    # No final sort: the driver hash is order-insensitive and a global
    # orderBy would double-execute the synth+decode upstream via
    # range-partition boundary sampling (the ce8cf88 lesson).
    return multimodal.decode_wav_features(media)
