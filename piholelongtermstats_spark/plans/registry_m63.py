"""M63 — REAL image decode, oracle-checked (the M53 WAV playbook
applied to the image modality):

- ``bmp_decode_panel`` — per-document 24-bit BMP payloads synthesized
  with the stdlib struct encoder (operators/multimodal.py:
  synth_bmp_corpus — deterministic closed-form pixels, width varying
  mod 8 so the 4-byte row stride exercises every padding case) and
  decoded by the REAL byte-level parser (_bmp_parse: file header,
  DIB header, stride un-padding, bottom-up flip, BGR order). Every
  feature is exact integer arithmetic over pixel bytes, so DuckDB
  replays the synthesis formula in closed form and the outputs match
  only if the BMP round trip is byte-correct.
- ``bmp_resize_roundtrip`` — nearest-neighbor ×2 downsample
  (dst(r,c) = src(2r, 2c), numpy striding, no fp) RE-ENCODED as a
  valid BMP and decoded AGAIN: the oracle replays the strided
  formula, so a single wrong header field, stride, or flip in either
  the decoder or the re-encoder breaks the hash.

jpeg/h264 remain behind the documented stubs — those need external
codecs; this wave proves the byte-level image plumbing on a
codec-free format, exactly as M53 did for audio (and M65 extends it
to deflate-compressed PNG with stdlib zlib).

Scale: mapInPandas streams Arrow batches, per-row-bounded CPU,
payloads ≤ ~1 KB; the module-head partition-sizing rule is the only
knob. One map-side aggregate in the oracle; the Spark side has no
shuffle at all before the final orderBy of a doc-count relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import multimodal
from piholelongtermstats_spark.plans.registry import _docs, register


# NOTE: no final sort. The driver's value-hash is order-insensitive
# and the local harness sorts rows itself, so a trailing ORDER BY
# would pin nothing either checker needs — while a global orderBy
# double-executes the synth+decode upstream (range-partition boundary
# sampling) and a repartition(1) sort funnels a one-row-per-document
# relation (billions of rows at 100 TB) through one task. Leave the
# result in natural decode-partition order.

# Channel byte in stored (B,G,R) order: (id·31 + r·13 + c·17 + ch·7) % 256.
# Dims: w = 13 + id%8 (≤ 20), h = 9 + id%5 (≤ 13).


def _bmp_sql(scale: int) -> str:
    """Closed-form replay of the synthesized pixel grid, sub-sampled
    by ``scale`` (1 = the full image, 2 = the nearest-neighbor ×2
    downsample: src index = 2·dst index, dst dims = ceil(dim/2))."""
    w = f"(13 + d.doc_id % 8)"
    h = f"(9 + d.doc_id % 5)"
    if scale == 1:
        wd, hd, ri, ci = w, h, "rr.range", "cc.range"
    else:
        wd = f"(({w} + {scale - 1}) // {scale})"
        hd = f"(({h} + {scale - 1}) // {scale})"
        ri, ci = f"(rr.range * {scale})", f"(cc.range * {scale})"
    return f"""
WITH px AS (
  SELECT d.doc_id,
    CAST(sum((d.doc_id * 31 + {ri} * 13 + {ci} * 17 + 0) % 256) AS BIGINT)
      AS b_sum,
    CAST(sum((d.doc_id * 31 + {ri} * 13 + {ci} * 17 + 7) % 256) AS BIGINT)
      AS g_sum,
    CAST(sum((d.doc_id * 31 + {ri} * 13 + {ci} * 17 + 14) % 256) AS BIGINT)
      AS r_sum
  FROM documents d
  JOIN range(13) rr ON rr.range < {hd}
  JOIN range(20) cc ON cc.range < {wd}
  GROUP BY d.doc_id)
SELECT d.doc_id AS media_id,
  CAST({wd} AS BIGINT) AS width,
  CAST({hd} AS BIGINT) AS height,
  CAST(54 + ((3 * {wd} + 3) // 4 * 4) * {hd} AS BIGINT) AS n_bytes,
  px.b_sum + px.g_sum + px.r_sum AS checksum,
  px.b_sum, px.g_sum, px.r_sum,
  CAST((299 * px.r_sum + 587 * px.g_sum + 114 * px.b_sum)
       // ({wd} * {hd}) AS BIGINT) AS mean_luma_milli,
  CAST(1 AS INT) AS is_valid
FROM documents d JOIN px ON px.doc_id = d.doc_id
"""


@register("bmp_decode_panel", _bmp_sql(1))
def q_bmp_decode_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize real 24-bit BMP payloads per document and decode
    them with the stdlib byte-level parser (operators/multimodal.py:
    _bmp_parse); exact-integer channel sums + mean luma."""
    media = multimodal.synth_bmp_corpus(_docs(spark, sf_dir))
    return multimodal.decode_bmp_features(media)


@register("bmp_resize_roundtrip", _bmp_sql(2))
def q_bmp_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → nearest-neighbor ×2 downsample → RE-ENCODE as BMP →
    decode AGAIN: the oracle replays the strided pixel formula, so
    the hash certifies the full decode/re-encode round trip."""
    media = multimodal.synth_bmp_corpus(_docs(spark, sf_dir))
    resized = multimodal.resize_bmp_nearest(media, factor=2)
    return multimodal.decode_bmp_features(resized)
