"""M66 — real baseline JPEG codec (operators/jpegc.py).

The lossy tier: encoder and decoder are tested in three independent
ways so a shared compensating bug cannot hide — (1) transform-level
identities (DCT orthonormality, zigzag permutation, EXTEND
involution), (2) decoder-only checks whose expected pixels come from
THEORY, not from running our encoder's inverse (flat image ⇒ DC-only
blocks ⇒ level = clamp(DC/8 + 128)), (3) spec-layout pins on the
emitted segment bytes (SOI/DQT/SOF0/DHT/SOS ordering and fields).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from piholelongtermstats_spark.operators import jpegc as J


def _extend(v: int, s: int) -> int:
    """EXTEND (T.81 F.2.2.1): map s received bits back to the signed
    coefficient value — the reference form of the arithmetic the
    decoder inlines."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"d{i}") for i in ids], "doc_id long, text string"
    )


# ---------------------------------------------------------------------------
# transform-level identities (no Spark)
# ---------------------------------------------------------------------------


def test_dct_matrix_is_orthonormal():
    assert np.allclose(J._C @ J._C.T, np.eye(8), atol=1e-12)
    # forward-then-inverse is the identity to fp precision
    rng = np.random.RandomState(3)
    b = rng.randint(-128, 128, (8, 8)).astype(np.float64)
    assert np.allclose(J._C.T @ (J._C @ b @ J._C.T) @ J._C, b, atol=1e-9)


def test_zigzag_is_a_permutation_with_spec_prefix():
    assert sorted(J._ZIGZAG) == [(r, c) for r in range(8) for c in range(8)]
    # T.81 Figure 5's first diagonal walk
    assert J._ZIGZAG[:6] == [(0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2)]


def test_extend_inverts_category_encoding():
    for v in list(range(-40, 41)) + [-2047, -1024, 1023, 2047]:
        s = J._category(v)
        if s == 0:
            assert v == 0
            continue
        bits = v if v > 0 else v + (1 << s) - 1
        assert 0 <= bits < (1 << s)
        assert _extend(bits, s) == v


def test_huffman_tables_are_prefix_free_and_marker_safe():
    for enc in (J._DC_ENC, J._AC_ENC):
        codes = sorted(enc.values(), key=lambda cl: cl[1])
        for i, (c1, l1) in enumerate(codes):
            # no code is a prefix of another
            for c2, l2 in codes[i + 1 :]:
                assert not (l2 >= l1 and (c2 >> (l2 - l1)) == c1)
            # the all-ones pattern is never assigned (stuffing safety)
            assert c1 != (1 << l1) - 1


def test_bit_writer_stuffs_ff_and_reader_unstuffs():
    w = J._BitWriter()
    w.write(0xFF, 8)
    w.write(0xAB, 8)
    data = w.finish()
    assert data == b"\xff\x00\xab"
    r = J._BitReader(data)
    assert r.read_bits(8) == 0xFF
    assert r.read_bits(8) == 0xAB


# ---------------------------------------------------------------------------
# decoder-only checks: expected pixels from THEORY
# ---------------------------------------------------------------------------


def test_flat_images_decode_to_dc_level():
    """A flat v-image has DC = 8·(v−128), all AC zero; any correct
    decoder must reproduce v (±1 for DC rounding) — computed from the
    transform definition, not by inverting our encoder."""
    for v in (0, 1, 37, 127, 128, 200, 254, 255):
        pay = J.encode_jpeg_gray(np.full((16, 24), v, dtype=np.uint8))
        w, h, dec = J.decode_jpeg_gray(pay)
        assert (w, h) == (24, 16)
        assert np.abs(dec.astype(int) - v).max() <= 1


def test_single_basis_function_decodes_to_cosine():
    """Inject one quantized AC coefficient by hand-editing the block
    pipeline: encode a pure 2-D cosine, whose DCT is a single spike —
    the decoded image must match the closed-form basis evaluation."""
    u, v, amp = 2, 1, 200.0
    r = np.arange(8)[:, None]
    c = np.arange(8)[None, :]
    basis = (
        0.5
        * np.cos((2 * r + 1) * u * np.pi / 16)
        * 0.5
        * np.cos((2 * c + 1) * v * np.pi / 16)
    )
    px = np.clip(np.rint(128.0 + amp * basis), 0, 255).astype(np.uint8)
    pay = J.encode_jpeg_gray(px)
    _, _, dec = J.decode_jpeg_gray(pay)
    assert np.abs(dec.astype(int) - px.astype(int)).max() <= J.ERR_BOUND


# ---------------------------------------------------------------------------
# segment-layout pins (spec bytes, not behavior)
# ---------------------------------------------------------------------------


def test_segment_layout_matches_t81():
    pay = J.encode_jpeg_gray(J._luma(5, 10, 14))
    assert pay[:2] == b"\xff\xd8" and pay[-2:] == b"\xff\xd9"
    assert pay[2:4] == b"\xff\xe0" and pay[6:11] == b"JFIF\x00"
    i = pay.index(b"\xff\xdb")
    (ln,) = struct.unpack(">H", pay[i + 2 : i + 4])
    assert ln == 2 + 1 + 64 and pay[i + 4] == 0x00
    assert list(pay[i + 5 : i + 5 + 64]) == [1] * 64  # Q = 1 table
    j = pay.index(b"\xff\xc0")
    precision, h, w, ncomp = struct.unpack(">BHHB", pay[j + 4 : j + 10])
    assert (precision, h, w, ncomp) == (8, 10, 14, 1)
    assert pay[j + 11] == 0x11  # 1x1 sampling
    k = pay.index(b"\xff\xc4")
    assert pay[k + 4] == 0x00  # DC table class/id
    assert list(pay[k + 5 : k + 21]) == J._DC_BITS


# ---------------------------------------------------------------------------
# roundtrip contract
# ---------------------------------------------------------------------------


def test_roundtrip_bound_many_images():
    maxerr = 0
    for mid in list(range(40)) + [10**6, 10**9 + 7]:
        w, h = J._bmp_dims(mid)
        src = J._luma(mid, h, w)
        w2, h2, dec = J.decode_jpeg_gray(J.encode_jpeg_gray(src))
        assert (w2, h2) == (w, h)
        maxerr = max(
            maxerr, int(np.abs(dec.astype(int) - src.astype(int)).max())
        )
    assert maxerr <= J.ERR_BOUND
    assert maxerr <= 2  # observed headroom; regression canary


def test_roundtrip_bound_random_content():
    rng = np.random.RandomState(11)
    for _ in range(10):
        h, w = int(rng.randint(1, 40)), int(rng.randint(1, 40))
        src = rng.randint(0, 256, (h, w)).astype(np.uint8)
        w2, h2, dec = J.decode_jpeg_gray(J.encode_jpeg_gray(src))
        assert (w2, h2) == (w, h)
        assert np.abs(dec.astype(int) - src.astype(int)).max() <= J.ERR_BOUND


def test_corrupt_payloads_raise():
    pay = bytearray(J.encode_jpeg_gray(J._luma(1, 9, 13)))
    with pytest.raises(ValueError):
        J.decode_jpeg_gray(b"\x00\x01" + bytes(pay[2:]))  # no SOI
    flipped = bytearray(pay)
    i = flipped.index(b"\xff\xc0") + 5  # corrupt SOF height byte
    flipped[i] ^= 0xFF
    with pytest.raises(ValueError):
        J.decode_jpeg_gray(bytes(flipped))


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def test_jpeg_decode_audit_query(spark):
    import __spark_entry__ as se

    rows = se.queries()["jpeg_decode_audit"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.is_valid == 1 and r.within_bound == 1
        assert r.err_bound == J.ERR_BOUND
        w, h = J._bmp_dims(r.media_id)
        assert (r.width, r.height) == (w, h)
        assert r.src_sum == int(J._luma(r.media_id, h, w).astype(int).sum())


def test_jpeg_resize_roundtrip_query(spark):
    import __spark_entry__ as se

    rows = se.queries()["jpeg_resize_roundtrip"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.is_valid == 1 and r.within_bound == 1
        assert r.err_bound == 2 * J.ERR_BOUND
        w, h = J._bmp_dims(r.media_id)
        assert (r.width, r.height) == ((w + 1) // 2, (h + 1) // 2)
        src = J._luma(r.media_id, h, w)[::2, ::2]
        assert r.src_sum == int(src.astype(int).sum())


def test_audit_quarantines_corrupt_payload(spark):
    from piholelongtermstats_spark.operators import jpegc

    media = jpegc.synth_jpeg_corpus(_docs(spark, [1, 2, 3]))
    from pyspark.sql import functions as F

    broken = media.withColumn(
        "payload",
        F.when(F.col("media_id") == 2, F.lit(b"nope")).otherwise(
            F.col("payload")
        ),
    )
    got = {
        r.media_id: (r.is_valid, r.within_bound)
        for r in jpegc.jpeg_roundtrip_audit(broken).collect()
    }
    assert got[2] == (0, 0)
    assert got[1] == (1, 1) and got[3] == (1, 1)


def test_batched_idct_matches_per_block_reference():
    # r12: decode batches every block's dequant+IDCT into one stacked
    # matmul; this differential pins it to the original per-block form
    # (np.zeros/fancy-index/reshape/matmul pair) bit-for-bit.
    for mid in (0, 7, 13, 39, 254, 255, 256, 1279):
        w0, h0 = J._bmp_dims(mid)
        px = J._luma(mid, h0, w0)
        payload = J.encode_jpeg_gray(px)
        w, h, got = J.decode_jpeg_gray(payload)

        # reference decode: reuse the real parse up to the entropy
        # coefficients by re-deriving blocks from the decoded output
        # is circular — instead rebuild the expected pixels from the
        # SAME coefficient math the encoder used, per block.
        bh, bwid = (h + 7) // 8, (w + 7) // 8
        padded = np.pad(
            px.astype(np.float64) - 128.0,
            ((0, bh * 8 - h), (0, bwid * 8 - w)),
            mode="edge",
        )
        blocks = (
            padded.reshape(bh, 8, bwid, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        )
        coefs = np.einsum("ij,bjk,lk->bil", J._C, blocks, J._C)
        zz = np.rint(coefs).astype(np.int64)  # quantized (Q=1)
        out = np.zeros((bh * 8, bwid * 8), dtype=np.float64)
        bi = 0
        for by in range(bh):
            for bx in range(bwid):
                block = J._C.T @ zz[bi].astype(np.float64) @ J._C + 128.0
                out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = block
                bi += 1
        want = np.clip(np.rint(out), 0, 255).astype(np.uint8)[:h, :w]
        assert got.shape == want.shape
        assert np.array_equal(got, want), f"mid={mid}"
