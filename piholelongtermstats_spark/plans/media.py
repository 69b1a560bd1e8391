"""Media decode queries: byte statistics, features, resize and frame
sampling over the media blobs, and the real codec tier (WAV, BMP,
PNG, AVI, baseline JPEG, Motion-JPEG, FLAC) with its oracle-checked
or contract-audited decode panels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piholelongtermstats_spark.operators import flacc, jpegc, multimodal
from piholelongtermstats_spark.plans.registry import _docs, register


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------

@register(
    "media_byte_stats",
    """
SELECT mime, count(*) AS n_items,
       CAST(sum(nb) AS BIGINT) AS total_bytes,
       round(CAST(CAST(sum(nb) AS BIGINT) AS DOUBLE) / count(*), 6) AS avg_bytes
FROM (SELECT 'text/plain' AS mime, octet_length(encode(text)) AS nb FROM documents)
GROUP BY mime
""",
)
def q_media_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.byte_stats(multimodal.docs_as_media(_docs(spark, sf_dir)))


@register("media_features", rows_only="decode is a stubbed Pandas UDF")
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.docs_as_media(_docs(spark, sf_dir))
    return multimodal.extract_features(media, fake=True)


@register("media_resize", rows_only="stubbed decode, real metadata math")
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.docs_as_media(_docs(spark, sf_dir))
    return multimodal.resize_images(media, max_side=256)


@register("media_frames", rows_only="stubbed decode, real fan-out shape")
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.docs_as_media(_docs(spark, sf_dir)).limit(100)
    return multimodal.sample_frames(media, every_ms=1000, duration_ms=5000)


# Oracle-checked projections of the stubbed media pipelines: DuckDB
# v1.0 has no BLOB substring/md5, so raw payload bytes can't cross the
# oracle boundary — these check everything EXCEPT the bytes: the
# resize metadata arithmetic, and the frame fan-out shape + slice
# arithmetic (payload lengths), over a deterministic doc subset.

@register(
    "media_resize_check",
    """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(256 AS INTEGER) AS width, CAST(256 AS INTEGER) AS height
FROM documents
""",
)
def q_media_resize_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resize_images with NULL source dims fills max_side=256 and
    scale clips to 1.0 → 256×256 passthrough; payload verified by
    length (bytes can't cross the DuckDB boundary)."""
    from pyspark.sql import functions as F

    media = multimodal.docs_as_media(_docs(spark, sf_dir))
    return multimodal.resize_images(media, max_side=256).select(
        "media_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        "width",
        "height",
    )


@register(
    "media_frames_check",
    """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n0
  FROM documents WHERE doc_id < 100
), i AS (SELECT unnest(generate_series(0, 4)) AS frame_idx)
SELECT media_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(frame_idx * 1000 AS BIGINT) AS frame_ts_ms,
       CAST(greatest(least(16, n0 - ((frame_idx * 16) % greatest(n0, 1))), 0)
            AS BIGINT) AS n_bytes
FROM m CROSS JOIN i
""",
)
def q_media_frames_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample_frames fan-out over a DETERMINISTIC subset (doc_id<100 —
    the rows-only variant's limit(100) is not a stable set): 5 frames
    per item, ts = idx·1000 ms, payload = 16-byte slice at
    (idx·16) mod n — the slice-length arithmetic is reproduced in SQL."""
    from pyspark.sql import functions as F

    media = multimodal.docs_as_media(_docs(spark, sf_dir)).filter(
        F.col("media_id") < 100
    )
    return multimodal.sample_frames(media, every_ms=1000, duration_ms=5000).select(
        "media_id",
        "frame_idx",
        "frame_ts_ms",
        F.octet_length("payload").cast("long").alias("n_bytes"),
    )


# ---------------------------------------------------------------------------
# REAL audio decode (multimodal upgrade):
#
# - ``wav_decode_panel`` — per-document WAV payloads synthesized with
#   the stdlib RIFF writer, then decoded by the REAL byte-level parser
#   (operators/multimodal.decode_wav_features — stdlib ``wave`` +
#   PCM unpack + RMS; no fake path). The oracle replays the synthesis
#   arithmetic in closed form, so a hash match PROVES the container
#   round trip is byte-correct: the audio modality graduates from the
#   stubbed rows-only tier to a fully oracle-checked decode.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# REAL image decode, oracle-checked:
#
# - ``bmp_decode_panel`` — per-document 24-bit BMP payloads synthesized
#   with the stdlib struct encoder (operators/multimodal.py:
#   synth_bmp_corpus — deterministic closed-form pixels, width varying
#   mod 8 so the 4-byte row stride exercises every padding case) and
#   decoded by the REAL byte-level parser (_bmp_parse: file header,
#   DIB header, stride un-padding, bottom-up flip, BGR order). Every
#   feature is exact integer arithmetic over pixel bytes, so DuckDB
#   replays the synthesis formula in closed form and the outputs match
#   only if the BMP round trip is byte-correct.
# - ``bmp_resize_roundtrip`` — nearest-neighbor ×2 downsample
#   (dst(r,c) = src(2r, 2c), numpy striding, no fp) RE-ENCODED as a
#   valid BMP and decoded AGAIN: the oracle replays the strided
#   formula, so a single wrong header field, stride, or flip in either
#   the decoder or the re-encoder breaks the hash.
#
# jpeg/h264 remain behind the documented stubs — those need external
# codecs; this wave proves the byte-level image plumbing on a
# codec-free format, exactly as M53 did for audio (and M65 extends it
# to deflate-compressed PNG with stdlib zlib).
#
# Scale: mapInPandas streams Arrow batches, per-row-bounded CPU,
# payloads ≤ ~1 KB; the module-head partition-sizing rule is the only
# knob. One map-side aggregate in the oracle; the Spark side has no
# shuffle at all before the final orderBy of a doc-count relation.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# REAL video decode, oracle-checked:
#
# - ``avi_decode_panel`` — per-document uncompressed RIFF/AVI payloads
#   synthesized with the stdlib struct writer (spec-valid hdrl with
#   avih + strl/strh/strf, movi with one '00db' DIB frame per chunk,
#   3–6 frames at the per-id BMP dimensions, 10 fps) and decoded by the
#   REAL chunk walker (operators/multimodal.py:_avi_parse — fourcc
#   checks, LIST descent, word alignment, strf BITMAPINFOHEADER,
#   per-frame stride un-padding + bottom-up flip). Features are
#   POSITIONALLY weighted integer sums — Σ (f+1)·frame_checksum — so a
#   frame-order error breaks the hash, not just a pixel error.
# - ``avi_frame_sample_check`` — the real frame-SAMPLING path (keep
#   f ≡ 0 mod 2, re-weight by sample position): the video twin of
#   bmp_resize_roundtrip, certifying the selection arithmetic over
#   really-decoded frames.
#
# With M53 (WAV) and M63 (BMP) this makes every modality's codec-free
# decode REAL and hash-checked; codec'd formats stay behind the
# documented stubs.
#
# Scale: mapInPandas streams Arrow batches, ≤ ~5 KB payloads,
# per-row-bounded CPU; no shuffle before the final doc-count orderBy.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# REAL PNG decode, oracle-checked:
#
# - ``png_decode_panel`` — per-document 8-bit RGB PNG payloads
#   synthesized with the stdlib zlib encoder (operators/multimodal.py:
#   synth_png_corpus — deterministic closed-form pixels; the encoder
#   CYCLES the scanline filter type row % 5, so all five RFC 2083
#   filters — None/Sub/Up/Average/Paeth — appear in every image) and
#   decoded by the REAL parser (_png_parse: signature, per-chunk CRC32
#   verification, IHDR validation, multi-IDAT concatenation, zlib
#   inflate, scanline UN-filtering). Every feature is exact integer
#   arithmetic over reconstructed pixel bytes, so DuckDB replays the
#   synthesis formula in closed form and the hash matches only if the
#   filter inversion is byte-correct for all five types.
# - ``png_resize_roundtrip`` — nearest-neighbor ×2 downsample
#   RE-ENCODED as a valid PNG (re-filter + deflate) and decoded AGAIN:
#   one wrong filter, CRC, or chunk-length field in either direction
#   breaks the hash.
#
# Scale: mapInPandas streams Arrow batches, per-row-bounded CPU,
# payloads ≤ ~1 KB; the module-head partition-sizing rule is the only
# knob. No shuffle anywhere in the decode path and NO final sort (the
# driver hash is order-insensitive; a global orderBy would
# double-execute the synth+decode upstream — the ce8cf88 lesson).
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# REAL baseline JPEG codec, contract-audited (the fifth real
# decode; see operators/jpegc.py for the full codec and the error-bound
# theorem).
#
# ``jpeg_roundtrip_audit`` is the quantile_sketch_eval / fd_spectrum
# playbook applied to a LOSSY codec: the decoded pixels are a float-DCT
# round trip away from the source, so no closed-form SQL replays them —
# but the SOURCE grid is the engine's closed-form family, the Q = 1
# reconstruction bound is a theorem (|err| ≤ 8, observed ≤ 2), and the
# audit relation hashes exact source tie-ins (dims, src_sum) plus the
# pinned bound and the promise bits. A Huffman, zigzag, DCT, EXTEND, or
# marker-parse bug either breaks the parse (is_valid = 0) or the bound
# (within_bound = 0) and hash-fails the gate.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# Motion-JPEG AVI: the first COMPRESSED video tier
# (operators/jpegc.py tail), composing the M64 RIFF/AVI container walk
# with the M66 baseline-JPEG frame codec — which is exactly what real
# MJPEG is (an AVI whose '00dc' chunks each hold a complete JPEG).
#
# ``mjpeg_frames_audit`` fans out one row per frame (the real
# row-expansion shape of video pipelines: output rows = Σ frames, 3–6
# per document) and hashes the frame timestamp, exact closed-form
# source tie-ins, and the per-frame |err| ≤ 8 promise — so a container
# bug (frame order, word alignment, the biCompression fourcc) or any
# codec bug fails the gate on the specific frame row that broke.
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# REAL FLAC decode, exact oracle (operators/flacc.py): the
# compressed audio tier. Unlike the JPEG bound contract, FLAC is
# lossless, so every hashed column is closed-form-replayable — the WAV
# panel's oracle family plus the exact ``sample_sum`` tie-in; one wrong
# sample anywhere in the rice/fixed-predictor/CRC/MD5 chain flips the
# hash (tests show every single-byte payload corruption is rejected).
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# media pipeline: resize → frame-sample composition, verified on
# metadata + payload-length arithmetic (bytes can't cross the DuckDB
# boundary; decode itself is the documented stub)
# ---------------------------------------------------------------------------

@register(
    "media_pipeline_check",
    """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n0
  FROM documents WHERE doc_id < 100
), i AS (SELECT unnest(generate_series(0, 4)) AS frame_idx)
SELECT media_id,
       CAST(256 AS INTEGER) AS width, CAST(256 AS INTEGER) AS height,
       CAST(n0 AS BIGINT) AS resized_bytes,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(frame_idx * 1000 AS BIGINT) AS frame_ts_ms,
       CAST(greatest(least(16, n0 - ((frame_idx * 16) % greatest(n0, 1))), 0)
            AS BIGINT) AS frame_bytes
FROM m CROSS JOIN i
""",
)
def q_media_pipeline_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage media pipeline: resize (stub decode, real metadata
    arithmetic) feeding frame sampling (real fan-out shape), checked
    end-to-end on dims + payload lengths over a deterministic subset.
    The tiny per-media metadata side is broadcast onto the fanned-out
    frame rows."""
    media = multimodal.docs_as_media(_docs(spark, sf_dir)).filter(
        F.col("media_id") < 100
    )
    resized = multimodal.resize_images(media, max_side=256)
    meta = resized.select(
        "media_id",
        "width",
        "height",
        F.octet_length("payload").cast("long").alias("resized_bytes"),
    )
    frames = multimodal.sample_frames(resized, every_ms=1000, duration_ms=5000)
    return frames.select(
        "media_id",
        "frame_idx",
        "frame_ts_ms",
        F.octet_length("payload").cast("long").alias("frame_bytes"),
    ).join(F.broadcast(meta), "media_id")
