"""M64 — REAL video decode, oracle-checked (the M53/M63 playbook
completes the modality set):

- ``avi_decode_panel`` — per-document uncompressed RIFF/AVI payloads
  synthesized with the stdlib struct writer (spec-valid hdrl with
  avih + strl/strh/strf, movi with one '00db' DIB frame per chunk,
  3–6 frames at the per-id BMP dimensions, 10 fps) and decoded by the
  REAL chunk walker (operators/multimodal.py:_avi_parse — fourcc
  checks, LIST descent, word alignment, strf BITMAPINFOHEADER,
  per-frame stride un-padding + bottom-up flip). Features are
  POSITIONALLY weighted integer sums — Σ (f+1)·frame_checksum — so a
  frame-order error breaks the hash, not just a pixel error.
- ``avi_frame_sample_check`` — the real frame-SAMPLING path (keep
  f ≡ 0 mod 2, re-weight by sample position): the video twin of
  bmp_resize_roundtrip, certifying the selection arithmetic over
  really-decoded frames.

With M53 (WAV) and M63 (BMP) this makes every modality's codec-free
decode REAL and hash-checked; codec'd formats stay behind the
documented stubs.

Scale: mapInPandas streams Arrow batches, ≤ ~5 KB payloads,
per-row-bounded CPU; no shuffle before the final doc-count orderBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import multimodal
from piholelongtermstats_spark.plans.registry import _docs, register


# NOTE: no final sort. The driver hash is order-insensitive and the
# local harness sorts rows itself; a global orderBy double-executes
# the synth+decode upstream (boundary sampling) and a repartition(1)
# funnels a per-document relation through one task at scale. Natural
# decode-partition order is left as-is.

# Frame pixel byte (stored B,G,R): (id·31 + f·101 + r·13 + c·17 + ch·7) % 256
# Dims: w = 13 + id%8, h = 9 + id%5; n_frames = 3 + id%4; 10 fps.


def _avi_sql(every: int) -> str:
    """Closed-form replay of the synthesized frame grid; ``every`` = 1
    replays all frames with weight f+1, ``every`` = 2 replays the
    sampled stream (f ≡ 0 mod 2) with weight f//2 + 1 and the scaled
    frame period."""
    w = "(13 + d.doc_id % 8)"
    h = "(9 + d.doc_id % 5)"
    n = "(3 + d.doc_id % 4)"
    if every == 1:
        f_pred, wgt, n_out, usf = "TRUE", "(pf.f + 1)", n, 100000
    else:
        f_pred = f"pf.f % {every} = 0"
        wgt = f"(pf.f // {every} + 1)"
        n_out = f"(({n} + {every - 1}) // {every})"
        usf = 100000 * every
    return f"""
WITH pf AS (
  SELECT d.doc_id, ff.range AS f,
    CAST(sum((d.doc_id * 31 + ff.range * 101 + rr.range * 13
              + cc.range * 17 + 0) % 256)
       + sum((d.doc_id * 31 + ff.range * 101 + rr.range * 13
              + cc.range * 17 + 7) % 256)
       + sum((d.doc_id * 31 + ff.range * 101 + rr.range * 13
              + cc.range * 17 + 14) % 256) AS BIGINT) AS cks,
    CAST((299 * sum((d.doc_id * 31 + ff.range * 101 + rr.range * 13
                     + cc.range * 17 + 14) % 256)
        + 587 * sum((d.doc_id * 31 + ff.range * 101 + rr.range * 13
                     + cc.range * 17 + 7) % 256)
        + 114 * sum((d.doc_id * 31 + ff.range * 101 + rr.range * 13
                     + cc.range * 17 + 0) % 256))
       // ({w} * {h}) AS BIGINT) AS luma_milli
  FROM documents d
  JOIN range(6) ff ON ff.range < {n}
  JOIN range(13) rr ON rr.range < {h}
  JOIN range(20) cc ON cc.range < {w}
  GROUP BY d.doc_id, ff.range)
SELECT d.doc_id AS media_id,
  CAST({n_out} AS BIGINT) AS n_frames,
  CAST({w} AS BIGINT) AS width,
  CAST({h} AS BIGINT) AS height,
  CAST({usf} AS BIGINT) AS us_per_frame,
  CAST(sum(CASE WHEN {f_pred} THEN {wgt} * pf.cks ELSE 0 END) AS BIGINT)
    AS checksum_possum,
  CAST(sum(CASE WHEN {f_pred} THEN pf.luma_milli ELSE 0 END) AS BIGINT)
    AS luma_milli_sum,
  CAST(1 AS INT) AS is_valid
FROM documents d JOIN pf ON pf.doc_id = d.doc_id
GROUP BY d.doc_id
"""


@register("avi_decode_panel", _avi_sql(1))
def q_avi_decode_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize real uncompressed RIFF/AVI payloads per document and
    decode them with the stdlib chunk walker; positional-weighted
    exact-integer frame features."""
    media = multimodal.synth_avi_corpus(_docs(spark, sf_dir))
    return multimodal.decode_avi_features(media)


@register("avi_frame_sample_check", _avi_sql(2))
def q_avi_frame_sample_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real frame sampling (every 2nd frame) over really-decoded AVI
    payloads; the sample-position weighting certifies selection
    order."""
    media = multimodal.synth_avi_corpus(_docs(spark, sf_dir))
    return multimodal.sample_avi_frames(media, every=2)
