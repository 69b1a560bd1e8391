"""M65 — real PNG synth/decode/resize (operators/multimodal.py).

The stdlib-only PNG tier: zlib inflate/deflate, per-chunk CRC32,
scanline filters 0-4 (the encoder cycles row % 5 so every filter is
exercised in every image)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from piholelongtermstats_spark.operators import multimodal as mm


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"d{i}") for i in ids], "doc_id long, text string"
    )


def _png_pixel(media_id: int, r: int, c: int, ch: int) -> int:
    """Stored-order pixel byte (ch 0/1/2 = R/G/B, PNG's order):
    (id·31 + r·13 + c·17 + ch·7) % 256 — the closed form
    multimodal.synth_png_corpus draws and the oracle replays."""
    return (media_id * 31 + r * 13 + c * 17 + ch * 7) % 256


def _ref_sums(mid: int, scale: int = 1):
    """Pure-Python reference of the synthesized pixel channel sums
    (stored order R,G,B for PNG)."""
    w, h = mm._bmp_dims(mid)
    wd, hd = (w + scale - 1) // scale, (h + scale - 1) // scale
    sums = [0, 0, 0]
    for r in range(hd):
        for c in range(wd):
            for ch in range(3):
                sums[ch] += _png_pixel(mid, r * scale, c * scale, ch)
    return wd, hd, sums


# ---------------------------------------------------------------------------
# byte-level encoder/decoder (no Spark)
# ---------------------------------------------------------------------------


def test_roundtrip_random_images_all_filters():
    """decode(encode(px)) == px on random content at many dims —
    the encoder cycles filters 0..4 so every type is inverted."""
    rng = np.random.RandomState(7)
    for _ in range(12):
        h, w = int(rng.randint(1, 33)), int(rng.randint(1, 33))
        px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        got_w, got_h, rows, raw_len = mm._png_parse(mm._png_encode(px))
        assert (got_w, got_h) == (w, h)
        assert raw_len == h * (1 + 3 * w)
        assert np.array_equal(rows.reshape(h, w, 3), px)


def test_encoder_emits_every_filter_type_and_multi_idat():
    px = np.arange(13 * 20 * 3, dtype=np.int64).astype(np.uint8).reshape(13, 20, 3)
    enc = mm._png_encode(px)
    assert enc[:8] == mm._PNG_SIG
    # walk chunks: expect IHDR, >=2 IDAT (deflate stream > 64 bytes
    # for this size), IEND
    types, pos = [], 8
    idat = bytearray()
    while pos + 8 <= len(enc):
        (length,) = struct.unpack(">I", enc[pos : pos + 4])
        typ = enc[pos + 4 : pos + 8]
        types.append(typ)
        if typ == b"IDAT":
            idat += enc[pos + 8 : pos + 8 + length]
        pos += 12 + length
    assert types[0] == b"IHDR" and types[-1] == b"IEND"
    assert types.count(b"IDAT") >= 2
    raw = zlib.decompress(bytes(idat))
    ftypes = {raw[r * (1 + 60)] for r in range(13)}
    assert ftypes == {0, 1, 2, 3, 4}


@pytest.mark.parametrize(
    "mutate, err",
    [
        (lambda b: b"\x00" + b[1:], "not a PNG"),
        # flip a byte inside IHDR's body -> CRC mismatch
        (lambda b: b[:18] + bytes([b[18] ^ 0xFF]) + b[19:], "bad chunk CRC"),
    ],
)
def test_corrupt_payloads_raise(mutate, err):
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    enc = mm._png_encode(px)
    with pytest.raises(ValueError, match=err):
        mm._png_parse(mutate(enc))


def test_unsupported_variants_rejected():
    """16-bit / grayscale / interlaced IHDRs are refused (decoder
    only claims 8-bit RGB non-interlaced)."""
    for depth, ctype, interlace in ((16, 2, 0), (8, 0, 0), (8, 2, 1)):
        ihdr = struct.pack(">IIBBBBB", 4, 4, depth, ctype, 0, 0, interlace)
        enc = (
            mm._PNG_SIG
            + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", zlib.compress(b"\x00" * (4 * 13)))
            + mm._png_chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="unsupported PNG variant"):
            mm._png_parse(enc)


# ---------------------------------------------------------------------------
# Spark-side plumbing
# ---------------------------------------------------------------------------


def test_synth_corpus_payloads_are_real_pngs(spark):
    ids = list(range(8))
    rows = mm.synth_png_corpus(_docs(spark, ids)).collect()
    assert len(rows) == 8
    for r in rows:
        assert bytes(r["payload"][:8]) == mm._PNG_SIG
        w, h = mm._bmp_dims(r["media_id"])
        assert (r["width"], r["height"]) == (w, h)
        assert r["mime"] == "image/png"


def test_decode_matches_pixel_formula(spark):
    ids = [0, 3, 7, 11]
    feats = {
        r["media_id"]: r
        for r in mm.decode_png_features(
            mm.synth_png_corpus(_docs(spark, ids))
        ).collect()
    }
    for mid in ids:
        w, h, (rs, gs, bs) = _ref_sums(mid)
        g = feats[mid]
        assert (g["width"], g["height"]) == (w, h)
        assert (g["r_sum"], g["g_sum"], g["b_sum"]) == (rs, gs, bs)
        assert g["checksum"] == rs + gs + bs
        assert g["n_bytes"] == h * (1 + 3 * w)
        assert g["mean_luma_milli"] == (299 * rs + 587 * gs + 114 * bs) // (w * h)
        assert g["is_valid"] == 1


def test_resize_roundtrip_matches_strided_formula(spark):
    ids = [1, 6, 12]
    media = mm.synth_png_corpus(_docs(spark, ids))
    feats = {
        r["media_id"]: r
        for r in mm.decode_png_features(
            mm.resize_png_nearest(media, factor=2)
        ).collect()
    }
    for mid in ids:
        wd, hd, (rs, gs, bs) = _ref_sums(mid, scale=2)
        g = feats[mid]
        assert (g["width"], g["height"]) == (wd, hd)
        assert (g["r_sum"], g["g_sum"], g["b_sum"]) == (rs, gs, bs)
        assert g["is_valid"] == 1


def test_corrupt_payload_quarantines(spark):
    media = spark.createDataFrame(
        [(0, bytearray(b"not a png at all"), "image/png", None, None)],
        mm.MEDIA_SCHEMA,
    )
    rows = mm.decode_png_features(media).collect()
    assert len(rows) == 1
    assert rows[0]["is_valid"] == 0
    assert rows[0]["checksum"] is None
