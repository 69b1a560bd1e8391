"""M67 — Motion-JPEG AVI: the first COMPRESSED video tier
(operators/jpegc.py tail), composing the M64 RIFF/AVI container walk
with the M66 baseline-JPEG frame codec — which is exactly what real
MJPEG is (an AVI whose '00dc' chunks each hold a complete JPEG).

``mjpeg_frames_audit`` fans out one row per frame (the real
row-expansion shape of video pipelines: output rows = Σ frames, 3–6
per document) and hashes the frame timestamp, exact closed-form
source tie-ins, and the per-frame |err| ≤ 8 promise — so a container
bug (frame order, word alignment, the biCompression fourcc) or any
codec bug fails the gate on the specific frame row that broke.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import jpegc
from piholelongtermstats_spark.plans.registry import _docs, register

_MJPEG_SQL = """
WITH fr AS (
  SELECT d.doc_id, ff.range AS f
  FROM documents d JOIN range(6) ff ON ff.range < (3 + d.doc_id % 4)
), px AS (
  SELECT fr.doc_id, fr.f,
    CAST(sum((fr.doc_id * 31 + fr.f * 101 + rr.range * 13
              + cc.range * 17) % 256) AS BIGINT) AS s
  FROM fr
  JOIN range(13) rr ON rr.range < (9 + fr.doc_id % 5)
  JOIN range(20) cc ON cc.range < (13 + fr.doc_id % 8)
  GROUP BY fr.doc_id, fr.f)
SELECT px.doc_id AS media_id,
  CAST(px.f AS BIGINT) AS frame_idx,
  CAST(px.f * 100 AS BIGINT) AS frame_ts_ms,
  CAST(13 + px.doc_id % 8 AS BIGINT) AS width,
  CAST(9 + px.doc_id % 5 AS BIGINT) AS height,
  px.s AS src_sum,
  CAST(8 AS BIGINT) AS err_bound,
  CAST(1 AS INT) AS within_bound,
  CAST(1 AS INT) AS is_valid
FROM px
"""


@register("mjpeg_frames_audit", _MJPEG_SQL)
def q_mjpeg_frames_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize spec-shaped MJPEG AVIs (3–6 baseline-JPEG frames per
    document) and audit every frame through the full container walk +
    entropy/DCT decode under the pinned per-frame error contract."""
    media = jpegc.synth_mjpeg_corpus(_docs(spark, sf_dir))
    return jpegc.mjpeg_frames_audit(media)
