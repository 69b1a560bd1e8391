"""M65 — REAL PNG decode, oracle-checked (the M63 BMP playbook
applied to the deflate-compressed image tier):

- ``png_decode_panel`` — per-document 8-bit RGB PNG payloads
  synthesized with the stdlib zlib encoder (operators/multimodal.py:
  synth_png_corpus — deterministic closed-form pixels; the encoder
  CYCLES the scanline filter type row % 5, so all five RFC 2083
  filters — None/Sub/Up/Average/Paeth — appear in every image) and
  decoded by the REAL parser (_png_parse: signature, per-chunk CRC32
  verification, IHDR validation, multi-IDAT concatenation, zlib
  inflate, scanline UN-filtering). Every feature is exact integer
  arithmetic over reconstructed pixel bytes, so DuckDB replays the
  synthesis formula in closed form and the hash matches only if the
  filter inversion is byte-correct for all five types.
- ``png_resize_roundtrip`` — nearest-neighbor ×2 downsample
  RE-ENCODED as a valid PNG (re-filter + deflate) and decoded AGAIN:
  one wrong filter, CRC, or chunk-length field in either direction
  breaks the hash.

PNG graduates from the codec-DEPENDENT stub tier: with WAV (M53),
BMP (M63) and AVI (M64) this is the fourth REAL decode; baseline
JPEG followed as the fifth (M66, operators/jpegc.py — lossy, so a
bound-contract audit instead of a pixel-exact oracle). h264 stays
behind the documented stub.

Scale: mapInPandas streams Arrow batches, per-row-bounded CPU,
payloads ≤ ~1 KB; the module-head partition-sizing rule is the only
knob. No shuffle anywhere in the decode path and NO final sort (the
driver hash is order-insensitive; a global orderBy would
double-execute the synth+decode upstream — the ce8cf88 lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import multimodal
from piholelongtermstats_spark.plans.registry import _docs, register

# Channel byte in stored (R,G,B) order: (id·31 + r·13 + c·17 + ch·7)
# % 256. Dims: w = 13 + id%8 (≤ 20), h = 9 + id%5 (≤ 13) — the BMP
# grid, so h ≥ 9 guarantees every filter type 0..4 occurs.


def _png_sql(scale: int) -> str:
    """Closed-form replay of the synthesized pixel grid, sub-sampled
    by ``scale`` (1 = the full image, 2 = the nearest-neighbor ×2
    downsample). n_bytes replays the DECOMPRESSED filtered-stream
    length h·(1+3w) — deterministic, unlike the deflate size."""
    w = "(13 + d.doc_id % 8)"
    h = "(9 + d.doc_id % 5)"
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
      AS r_sum,
    CAST(sum((d.doc_id * 31 + {ri} * 13 + {ci} * 17 + 7) % 256) AS BIGINT)
      AS g_sum,
    CAST(sum((d.doc_id * 31 + {ri} * 13 + {ci} * 17 + 14) % 256) AS BIGINT)
      AS b_sum
  FROM documents d
  JOIN range(13) rr ON rr.range < {hd}
  JOIN range(20) cc ON cc.range < {wd}
  GROUP BY d.doc_id)
SELECT d.doc_id AS media_id,
  CAST({wd} AS BIGINT) AS width,
  CAST({hd} AS BIGINT) AS height,
  CAST({hd} * (1 + 3 * {wd}) AS BIGINT) AS n_bytes,
  px.b_sum + px.g_sum + px.r_sum AS checksum,
  px.b_sum, px.g_sum, px.r_sum,
  CAST((299 * px.r_sum + 587 * px.g_sum + 114 * px.b_sum)
       // ({wd} * {hd}) AS BIGINT) AS mean_luma_milli,
  CAST(1 AS INT) AS is_valid
FROM documents d JOIN px ON px.doc_id = d.doc_id
"""


@register("png_decode_panel", _png_sql(1))
def q_png_decode_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize real 8-bit RGB PNG payloads per document (filter
    type cycling row % 5) and decode them with the stdlib zlib
    parser (operators/multimodal.py:_png_parse); exact-integer
    channel sums + mean luma."""
    media = multimodal.synth_png_corpus(_docs(spark, sf_dir))
    return multimodal.decode_png_features(media)


@register("png_resize_roundtrip", _png_sql(2))
def q_png_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → nearest-neighbor ×2 downsample → RE-ENCODE as PNG
    (re-filter + deflate) → decode AGAIN: the oracle replays the
    strided pixel formula, so the hash certifies the full
    inflate/un-filter/re-filter/deflate round trip."""
    media = multimodal.synth_png_corpus(_docs(spark, sf_dir))
    resized = multimodal.resize_png_nearest(media, factor=2)
    return multimodal.decode_png_features(resized)
