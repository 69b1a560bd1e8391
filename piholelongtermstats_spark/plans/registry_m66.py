"""M66 — REAL baseline JPEG codec, contract-audited (the fifth real
decode; see operators/jpegc.py for the full codec and the error-bound
theorem).

``jpeg_roundtrip_audit`` is the quantile_sketch_eval / fd_spectrum
playbook applied to a LOSSY codec: the decoded pixels are a float-DCT
round trip away from the source, so no closed-form SQL replays them —
but the SOURCE grid is the engine's closed-form family, the Q = 1
reconstruction bound is a theorem (|err| ≤ 8, observed ≤ 2), and the
audit relation hashes exact source tie-ins (dims, src_sum) plus the
pinned bound and the promise bits. A Huffman, zigzag, DCT, EXTEND, or
marker-parse bug either breaks the parse (is_valid = 0) or the bound
(within_bound = 0) and hash-fails the gate.

This was the "codec-DEPENDENT, stubbed" JPEG tier through r11
(operators/multimodal.py head) — baseline JPEG needs no library, only
T.81's math, all of which is stdlib + numpy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from piholelongtermstats_spark.operators import jpegc
from piholelongtermstats_spark.plans.registry import _docs, register

_JPEG_AUDIT_SQL = """
WITH px AS (
  SELECT d.doc_id,
    CAST(sum((d.doc_id * 31 + rr.range * 13 + cc.range * 17) % 256)
         AS BIGINT) AS s
  FROM documents d
  JOIN range(13) rr ON rr.range < (9 + d.doc_id % 5)
  JOIN range(20) cc ON cc.range < (13 + d.doc_id % 8)
  GROUP BY d.doc_id)
SELECT d.doc_id AS media_id,
  CAST(13 + d.doc_id % 8 AS BIGINT) AS width,
  CAST(9 + d.doc_id % 5 AS BIGINT) AS height,
  px.s AS src_sum,
  CAST(8 AS BIGINT) AS err_bound,
  CAST(1 AS INT) AS within_bound,
  CAST(1 AS INT) AS is_valid
FROM documents d JOIN px ON px.doc_id = d.doc_id
"""


@register("jpeg_decode_audit", _JPEG_AUDIT_SQL)
def q_jpeg_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize real baseline JPEG payloads per document (grayscale
    closed-form grid, all block-padding cases) and audit the full
    decode — marker walk, DHT reconstruction, entropy decode, IDCT —
    against the pinned |err| ≤ 8 contract with exact source tie-ins."""
    media = jpegc.synth_jpeg_corpus(_docs(spark, sf_dir))
    return jpegc.jpeg_roundtrip_audit(media)


# Resize roundtrip: the reference grid is the ×2-strided ORIGINAL
# closed form; the payload is TWO lossy trips from it (decode ≤ 8,
# strided pick exact, re-encode/decode ≤ 8) → bound 16, pinned.
_JPEG_RESIZE_SQL = """
WITH px AS (
  SELECT d.doc_id,
    CAST(sum((d.doc_id * 31 + rr.range * 2 * 13 + cc.range * 2 * 17)
             % 256) AS BIGINT) AS s
  FROM documents d
  JOIN range(13) rr ON rr.range < ((9 + d.doc_id % 5) + 1) // 2
  JOIN range(20) cc ON cc.range < ((13 + d.doc_id % 8) + 1) // 2
  GROUP BY d.doc_id)
SELECT d.doc_id AS media_id,
  CAST(((13 + d.doc_id % 8) + 1) // 2 AS BIGINT) AS width,
  CAST(((9 + d.doc_id % 5) + 1) // 2 AS BIGINT) AS height,
  px.s AS src_sum,
  CAST(16 AS BIGINT) AS err_bound,
  CAST(1 AS INT) AS within_bound,
  CAST(1 AS INT) AS is_valid
FROM documents d JOIN px ON px.doc_id = d.doc_id
"""


@register("jpeg_resize_roundtrip", _JPEG_RESIZE_SQL)
def q_jpeg_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → nearest-neighbor ×2 downsample → RE-ENCODE as baseline
    JPEG → decode again, audited against the strided closed form under
    the compounded (2×) error bound — certifies the encoder on
    arbitrary decoded content, not just the synth grid."""
    media = jpegc.synth_jpeg_corpus(_docs(spark, sf_dir))
    return jpegc.jpeg_roundtrip_audit(
        jpegc.resize_jpeg_nearest(media, factor=2), scale=2
    )
