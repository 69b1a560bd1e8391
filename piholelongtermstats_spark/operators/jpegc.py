"""M66 — REAL baseline JPEG codec (stdlib + numpy), closing the last
"codec-DEPENDENT" stub tier with genuine codec math instead of a
library dependency.

The container ships no image libraries, but nothing in baseline JPEG
(ITU-T T.81) needs one: the encoder here performs the real pipeline —
level shift, 8×8 forward DCT (orthonormal matrix form), uniform
quantization, zigzag, DC prediction, run-length/category coding,
canonical Huffman entropy coding with byte stuffing — and the decoder
performs the full inverse: marker/segment parse (SOI/APP0/DQT/SOF0/
DHT/SOS/EOI with length fields), DHT canonical-code reconstruction,
entropy decode (EXTEND sign recovery, EOB/ZRL), dequantize, inverse
zigzag, IDCT, level shift, clamp, crop. Grayscale (one component,
1×1 sampling) keeps the transform tier honest without dragging in
YCbCr conversion; the quantization table is all-ones, so the ONLY
loss is DCT round-trip rounding — which is what makes the accuracy
CONTRACT below provable.

Why a contract audit, not a pixel-exact oracle: JPEG is lossy — the
decoded grid is a float-DCT round trip away from the source, so no
closed-form SQL replays it (the PNG/BMP playbook does not apply).
Instead the fd_spectrum_audit / quantile_sketch_eval playbook does:
the SOURCE grid is closed-form (the engine-wide (id·31+r·13+c·17)%256
family), the reconstruction-error bound is a THEOREM (below), and the
audit relation carries exact source tie-ins plus the promise bits, so
a codec bug fails the driver hash gate, not just pytest.

Error-bound theorem (pinned as ERR_BOUND): with Q = 1 the coefficient
error after round() is ≤ 0.5 per coefficient. The 2-D orthonormal
basis functions are bounded by c_u·c_v with c_0 = 1/(2√2), c_{u>0} =
1/2, so the spatial error of the inverse transform is at most
0.5·(Σ_u c_u)² = 0.5·(1/(2√2) + 7/2)² ≈ 7.43, plus 0.5 for the final
pixel rounding → |decoded − source| ≤ 8 everywhere, any input.
Observed on the synth grid: ≤ 2 (tests pin both).

Decoder independence (the shared-bug question a self-roundtrip cannot
answer): tests/test_m66.py also feeds the decoder HAND-BUILT streams
whose pixel answer is known without running our encoder (a DC-only
block decodes to a flat level by construction), checks DCT
orthonormality against the identity, and pins encoder segment bytes
against the spec layout.

Scale: same shape as the other media tiers — synth and decode are
Arrow-batched mapInPandas over the _spread id relation; per-image CPU
is bounded (≤ 6 blocks at the synth dims); no shuffle in the codec
path and no final sort.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from piholelongtermstats_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    _bmp_dims,
    _spread,
)

# ---------------------------------------------------------------------------
# Transform + tables


def _dct_matrix() -> "np.ndarray":
    """Orthonormal 8-point DCT-II matrix: C @ C.T = I (tested), so
    forward = C B Cᵀ and inverse = Cᵀ F C with no scale bookkeeping."""
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    c = np.cos((2 * n + 1) * k * np.pi / 16) * 0.5
    c[0, :] = 1.0 / (2.0 * np.sqrt(2.0))
    return c


_C = _dct_matrix()

# Zigzag scan order (T.81 Figure 5): _ZIGZAG[i] = (row, col) of the
# i-th coefficient in scan order, generated (not transcribed) from the
# anti-diagonal walk so the table cannot be mistyped.
def _zigzag_order() -> "list[tuple[int, int]]":
    order = []
    for s in range(15):
        diag = [(r, s - r) for r in range(8) if 0 <= s - r < 8]
        order.extend(diag if s % 2 else diag[::-1])
    return order


_ZIGZAG = _zigzag_order()

# Huffman tables: OUR OWN canonical tables, embedded in DHT segments
# exactly as the format requires — baseline JPEG does not mandate the
# Annex-K tables, it mandates that the scan use whatever DHT carries.
# DC: 12 category symbols (0..11 — the 8-bit-precision DC-diff range
# is ±2047), all at code length 4 (12 ≤ 15 codes of one length is a
# valid canonical layer and leaves the all-ones code unused). AC: the
# full 162-symbol baseline alphabet (EOB, ZRL, and (run 0..15) ×
# (size 1..10)) at code length 9 (162 ≤ 511; all-ones unused).
_DC_SYMBOLS = list(range(12))
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_DC_BITS = [0, 0, 0, 12] + [0] * 12  # counts per code length 1..16
_AC_BITS = [0] * 8 + [162] + [0] * 7


def _canonical_codes(bits: list, symbols: list) -> dict:
    """symbol -> (code, length) per T.81 Annex C code assignment."""
    out = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[symbols[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_SYMBOLS)
# Inverse zigzag as a flat index: flat[_ZZ_FLAT] = zz reassembles the
# row-major coefficient vector in one vectorized store.
_ZZ_FLAT = np.array([r * 8 + c for (r, c) in _ZIGZAG], dtype=np.int64)


def _category(v: int) -> int:
    """Magnitude category: smallest s with |v| < 2**s."""
    return int(abs(v)).bit_length()


# ---------------------------------------------------------------------------
# Bit I/O with the JPEG stuffing rule


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self._n -= 8
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing: 0xFF in entropy data
                self.out.append(0x00)

    def finish(self) -> bytes:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


class _BitReader:
    """Entropy-segment reader: unstuffs 0xFF00 ONCE up front, then
    serves peek/consume from an integer accumulator — the table-driven
    decode path (read_symbol peeks maxlen bits and consumes the
    matched code's length in one step; the original bit-by-bit dict
    probe was the decode profile's top cost by 3×). Peeking may run
    past the real stream (virtual zero bits) because the last code of
    a valid scan can be shorter than maxlen; CONSUMING past it raises,
    so a decoder overrun still fails loudly."""

    def __init__(self, data: bytes) -> None:
        if b"\xff" in data:
            out = bytearray()
            i, n = 0, len(data)
            while i < n:
                b = data[i]
                out.append(b)
                if b == 0xFF:
                    if i + 1 >= n or data[i + 1] != 0x00:
                        raise ValueError("unexpected marker in entropy data")
                    i += 2
                else:
                    i += 1
            data = bytes(out)
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0
        self._realbits = 8 * len(data)
        self._consumed = 0

    def _need(self, n: int) -> None:
        while self._n < n:
            if self.pos < len(self.data):
                self._acc = (self._acc << 8) | self.data[self.pos]
                self.pos += 1
            else:
                self._acc <<= 8  # virtual pad, peek-only
            self._n += 8

    def peek(self, n: int) -> int:
        self._need(n)
        return (self._acc >> (self._n - n)) & ((1 << n) - 1)

    def consume(self, n: int) -> None:
        self._consumed += n
        if self._consumed > self._realbits:
            raise ValueError("entropy stream exhausted")
        self._need(n)
        self._n -= n
        self._acc &= (1 << self._n) - 1

    def read_bits(self, n: int) -> int:
        v = self.peek(n)
        self.consume(n)
        return v

    def read_symbol(self, lut_maxlen: tuple) -> int:
        lut, maxlen = lut_maxlen
        ent = lut[self.peek(maxlen)]
        if ent is None:
            raise ValueError("invalid Huffman code")
        self.consume(ent[1])
        return ent[0]


_LUT_CACHE: dict = {}


def _decode_lut(bits: list, symbols: list) -> tuple:
    """(lut, maxlen) for table-driven decode: every maxlen-bit window
    whose prefix is a code maps to (symbol, code length). Cached by
    the raw table bytes — a corpus decode re-reads the same DHT per
    frame, and rebuilding the 512-slot table dominated the parse."""
    key = (bytes(bits), bytes(symbols))
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    codes = _canonical_codes(bits, symbols)
    if not codes:
        raise ValueError("empty Huffman table")
    maxlen = max(length for _, length in codes.values())
    lut: list = [None] * (1 << maxlen)
    for sym, (code, length) in codes.items():
        lo = code << (maxlen - length)
        for i in range(lo, lo + (1 << (maxlen - length))):
            lut[i] = (sym, length)
    if len(_LUT_CACHE) > 64:  # corpus decodes reuse a handful of DHTs
        _LUT_CACHE.clear()
    _LUT_CACHE[key] = (lut, maxlen)
    return lut, maxlen


# ---------------------------------------------------------------------------
# Encoder


def _segment(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def _dht_body(tc_th: int, bits: list, symbols: list) -> bytes:
    return bytes([tc_th] + bits) + bytes(symbols)


def encode_jpeg_gray(px: "np.ndarray") -> bytes:
    """REAL baseline JPEG encoder for an (h, w) uint8 grayscale image:
    level shift → 8×8 FDCT → quantize (Q = 1) → zigzag → DC-diff +
    run/size AC coding → canonical Huffman → stuffed entropy bytes,
    wrapped in SOI/APP0/DQT/SOF0/DHT/SOS/EOI."""
    h, w = int(px.shape[0]), int(px.shape[1])
    bh, bw = (h + 7) // 8, (w + 7) // 8
    # edge-replicate padding to whole blocks (decoder crops to SOF dims)
    padded = np.pad(
        px.astype(np.float64) - 128.0,
        ((0, bh * 8 - h), (0, bw * 8 - w)),
        mode="edge",
    )
    # all blocks transformed in ONE einsum (the per-block matmul pair
    # plus the per-coefficient listcomp dominated the encode profile),
    # then zigzagged with a single fancy-index per block row
    blocks = (
        padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    coefs = np.einsum("ij,bjk,lk->bil", _C, blocks, _C)
    zzs = np.rint(coefs).astype(np.int64).reshape(-1, 64)[:, _ZZ_FLAT]
    # inlined bit writer (local acc/nb; the per-symbol method call was
    # the other top encode cost). Same stuffing/padding semantics as
    # _BitWriter, which stays as the tested reference form.
    out = bytearray()
    acc = nb = 0
    prev_dc = 0
    eob = _AC_ENC[0x00]
    zrl = _AC_ENC[0xF0]
    for zz in zzs.tolist():
        diff = zz[0] - prev_dc
        prev_dc = zz[0]
        # _category inlined (|v|.bit_length()): the function call per
        # coefficient was ~18% of the encode profile (r12 guide §1.2)
        s = (diff if diff >= 0 else -diff).bit_length()
        code, ln = _DC_ENC[s]
        if s:
            acc = (acc << ln) | code
            nb += ln
            acc = (acc << s) | (
                (diff if diff > 0 else diff + (1 << s) - 1) & ((1 << s) - 1)
            )
            nb += s
        else:
            acc = (acc << ln) | code
            nb += ln
        run = 0
        last_nz = 0
        for i in range(63, 0, -1):
            if zz[i]:
                last_nz = i
                break
        for i in range(1, last_nz + 1):
            v = zz[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                acc = (acc << zrl[1]) | zrl[0]
                nb += zrl[1]
                run -= 16
            s = (v if v >= 0 else -v).bit_length()
            code, ln = _AC_ENC[(run << 4) | s]
            acc = (acc << ln) | code
            nb += ln
            acc = (acc << s) | (
                (v if v > 0 else v + (1 << s) - 1) & ((1 << s) - 1)
            )
            nb += s
            run = 0
        if last_nz < 63:
            acc = (acc << eob[1]) | eob[0]
            nb += eob[1]
        while nb >= 8:
            byte = (acc >> (nb - 8)) & 0xFF
            nb -= 8
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
        acc &= (1 << nb) - 1
    if nb:
        pad = 8 - nb
        byte = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
        out.append(byte)
        if byte == 0xFF:
            out.append(0x00)
    scan = bytes(out)

    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = bytes([0x00]) + bytes([1] * 64)  # table 0, 8-bit, all ones
    sof0 = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht = _dht_body(0x00, _DC_BITS, _DC_SYMBOLS) + _dht_body(
        0x10, _AC_BITS, _AC_SYMBOLS
    )
    sos = bytes([1, 1, 0x00]) + bytes([0, 63, 0])
    return (
        b"\xff\xd8"  # SOI
        + _segment(0xFFE0, app0)
        + _segment(0xFFDB, dqt)
        + _segment(0xFFC0, sof0)
        + _segment(0xFFC4, dht)
        + _segment(0xFFDA, sos)
        + scan
        + b"\xff\xd9"  # EOI
    )


# ---------------------------------------------------------------------------
# Decoder


def decode_jpeg_gray(payload: bytes) -> "tuple[int, int, np.ndarray]":
    """REAL baseline JPEG decoder (grayscale, 1×1 sampling): marker
    walk with segment lengths, DQT/SOF0/DHT/SOS parse, canonical-code
    reconstruction FROM THE STREAM'S OWN DHT (not this module's
    constants), entropy decode with EXTEND/EOB/ZRL, dequantize,
    inverse zigzag, IDCT, level shift, clamp, crop to SOF dims.
    Returns (w, h, (h, w) uint8 array)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt = None
    w = h = None
    dc_dec = ac_dec = None
    scan_start = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("expected marker")
        marker = struct.unpack(">H", payload[pos : pos + 2])[0]
        if marker == 0xFFD9:
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xFFDB:
            if body[0] != 0x00:
                raise ValueError("only 8-bit quant table 0 supported")
            qt = np.array(list(body[1:65]), dtype=np.int64)
        elif marker == 0xFFC0:
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8 or ncomp != 1 or body[7] != 0x11:
                raise ValueError("unsupported SOF0 layout")
        elif marker == 0xFFC4:
            # possibly multiple tables in one DHT segment
            off = 0
            while off < len(body):
                tc_th = body[off]
                bits = list(body[off + 1 : off + 17])
                nsym = sum(bits)
                syms = list(body[off + 17 : off + 17 + nsym])
                table = _decode_lut(bits, syms)
                if tc_th >> 4 == 0:
                    dc_dec = table
                else:
                    ac_dec = table
                off += 17 + nsym
        elif marker == 0xFFDA:
            scan_start = pos + 2 + seglen
            break
        pos += 2 + seglen
    if qt is None or w is None or scan_start is None or dc_dec is None:
        raise ValueError("missing JPEG segments")
    # entropy data runs to the EOI marker (no restart markers emitted)
    end = payload.rfind(b"\xff\xd9")
    if end < 0:
        raise ValueError("missing EOI")
    reader = _BitReader(payload[scan_start:end])
    bh, bwid = (h + 7) // 8, (w + 7) // 8
    prev_dc = 0
    qgrid = np.zeros((8, 8), dtype=np.int64)
    for i, (r, c) in enumerate(_ZIGZAG):
        qgrid[r, c] = qt[i]
    # Hot entropy loop with LOCAL-variable bit ops (the method-call
    # version — peek/consume/_need per symbol — was 3× slower; the
    # _BitReader class remains the general/tested reader, this loop
    # is its inlined form over the same unstuffed buffer). Refills
    # pull FOUR bytes at a time (one int.from_bytes vs up to two
    # shift/or pairs; max deficit is 16 bits so a single 32-bit refill
    # always suffices). The buffer is zero-padded so the final symbol
    # can be PEEKED past the real bits; consuming past them still
    # raises (checked at the end).
    data = reader.data + b"\x00" * 16
    realbits = reader._realbits
    dc_lut, dc_max = dc_dec
    ac_lut, ac_max = ac_dec
    from_bytes = int.from_bytes
    acc = nb = bpos = consumed = 0
    zz_rows = []
    for _ in range(bh * bwid):
        zz = [0] * 64
        if nb < dc_max:
            acc = (acc << 32) | from_bytes(data[bpos : bpos + 4], "big")
            bpos += 4
            nb += 32
        ent = dc_lut[(acc >> (nb - dc_max)) & ((1 << dc_max) - 1)]
        if ent is None:
            raise ValueError("invalid Huffman code")
        s, ln = ent
        nb -= ln
        acc &= (1 << nb) - 1
        consumed += ln
        if s:
            if nb < s:
                acc = (acc << 32) | from_bytes(data[bpos : bpos + 4], "big")
                bpos += 4
                nb += 32
            v = acc >> (nb - s)
            nb -= s
            acc &= (1 << nb) - 1
            consumed += s
            prev_dc += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        zz[0] = prev_dc
        i = 1
        while i < 64:
            if nb < ac_max:
                acc = (acc << 32) | from_bytes(data[bpos : bpos + 4], "big")
                bpos += 4
                nb += 32
            ent = ac_lut[(acc >> (nb - ac_max)) & ((1 << ac_max) - 1)]
            if ent is None:
                raise ValueError("invalid Huffman code")
            sym, ln = ent
            nb -= ln
            acc &= (1 << nb) - 1
            consumed += ln
            if sym == 0x00:  # EOB
                break
            if sym == 0xF0:  # ZRL
                i += 16
                continue
            i += sym >> 4
            size = sym & 0x0F
            if i >= 64:
                raise ValueError("AC run past block end")
            if nb < size:
                acc = (acc << 32) | from_bytes(data[bpos : bpos + 4], "big")
                bpos += 4
                nb += 32
            v = acc >> (nb - size)
            nb -= size
            acc &= (1 << nb) - 1
            consumed += size
            zz[i] = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
            i += 1
        zz_rows.append(zz)
    if consumed > realbits:
        raise ValueError("entropy stream exhausted")
    # All blocks dequantized + IDCT'd in ONE batched set of array ops
    # (the per-block zeros/fancy-index/reshape/matmul-pair was ~20% of
    # the decode profile); the stacked matmul runs the identical
    # per-slice float64 kernel, raster order preserved by the
    # reshape/transpose — the exact inverse of the encoder's split.
    flat = np.zeros((bh * bwid, 64), dtype=np.float64)
    flat[:, _ZZ_FLAT] = zz_rows
    coef = flat.reshape(-1, 8, 8) * qgrid
    blocks = _C.T @ coef @ _C + 128.0
    out = (
        blocks.reshape(bh, bwid, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * 8, bwid * 8)
    )
    px = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return w, h, px[:h, :w]


# ---------------------------------------------------------------------------
# Spark operators

# Provable reconstruction bound for Q = 1 (derivation in the module
# docstring); pinned as a literal in BOTH the Spark relation and the
# oracle SQL so a silently loosened codec hash-fails.
ERR_BOUND = 8


def _luma(media_id: int, h: int, w: int) -> "np.ndarray":
    r = np.arange(h)[:, None]
    c = np.arange(w)[None, :]
    return ((media_id * 31 + r * 13 + c * 17) % 256).astype(np.uint8)


def synth_jpeg_corpus(docs: DataFrame) -> DataFrame:
    """One REAL baseline JPEG payload per document over the engine's
    closed-form grayscale grid ((id·31+r·13+c·17) % 256, _bmp_dims
    sizes so every block-padding case 13..20 × 9..13 occurs)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ws, hs = [], [], []
            for media_id in pdf["doc_id"]:
                mid = int(media_id)
                w, h = _bmp_dims(mid)
                payloads.append(encode_jpeg_gray(_luma(mid, h, w)))
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": payloads,
                    "mime": "image/jpeg",
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                }
            )

    return _spread(docs.select("doc_id")).mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


def resize_jpeg_nearest(media: DataFrame, factor: int = 2) -> DataFrame:
    """Decode → nearest-neighbor ×factor downsample (strided pick) →
    RE-ENCODE as baseline JPEG. Exercises the encoder on arbitrary
    decoded content (not just the synth grid) distributedly; the
    roundtrip audit then bounds the COMPOUNDED error (one decode ≤
    ERR_BOUND, plus the second encode/decode trip ≤ ERR_BOUND again —
    the strided pick itself adds nothing)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ws, hs = [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, px = decode_jpeg_gray(bytes(payload))
                small = px[::factor, ::factor]
                payloads.append(encode_jpeg_gray(small))
                hs.append(small.shape[0])
                ws.append(small.shape[1])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "mime": "image/jpeg",
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                }
            )

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


JPEG_AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("src_sum", T.LongType()),
        T.StructField("err_bound", T.LongType()),
        T.StructField("within_bound", T.IntegerType()),
        T.StructField("is_valid", T.IntegerType()),
    ]
)


def jpeg_roundtrip_audit(media: DataFrame, scale: int = 1) -> DataFrame:
    """Hash-checkable audit of the JPEG accuracy CONTRACT: decode the
    payload with the real decoder, recompute the closed-form source
    grid, and emit (media_id, width, height, src_sum, err_bound,
    within_bound, is_valid). src_sum is the exact integer sum of the
    SOURCE grid (replayed closed-form by DuckDB — proves the relation
    read this corpus), err_bound is the pinned literal, and
    within_bound promises max|decoded − source| ≤ err_bound — a
    Huffman, zigzag, DCT, or EXTEND bug breaks the promise (or the
    parse) and fails the driver hash gate. Decoded pixel sums are
    deliberately NOT hashed: they depend on float DCT rounding, which
    is exactly what the bound abstracts over.

    ``scale`` > 1 audits a resize_jpeg_nearest output: the reference
    grid is the ×scale-strided ORIGINAL closed form, and the bound
    doubles — the resized payload is two lossy trips from the source
    (decode ≤ ERR_BOUND, strided pick exact, re-encode/decode ≤
    ERR_BOUND again)."""
    bound = ERR_BOUND * (2 if scale > 1 else 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in JPEG_AUDIT_SCHEMA.fields}
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                mid = int(media_id)
                try:
                    w, h, px = decode_jpeg_gray(bytes(payload))
                    w0, h0 = _bmp_dims(mid)
                    src = _luma(mid, h0, w0)[::scale, ::scale]
                    ok = int(
                        px.shape == src.shape
                        and int(
                            np.abs(
                                px.astype(np.int64) - src.astype(np.int64)
                            ).max()
                        )
                        <= bound
                    )
                    rows["media_id"].append(mid)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["src_sum"].append(int(src.astype(np.int64).sum()))
                    rows["err_bound"].append(bound)
                    rows["within_bound"].append(ok)
                    rows["is_valid"].append(1)
                except (ValueError, struct.error):
                    rows["media_id"].append(mid)
                    rows["width"].append(0)
                    rows["height"].append(0)
                    rows["src_sum"].append(0)
                    rows["err_bound"].append(bound)
                    rows["within_bound"].append(0)
                    rows["is_valid"].append(0)
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=JPEG_AUDIT_SCHEMA)


# ---------------------------------------------------------------------------
# M67 — Motion-JPEG AVI: the first COMPRESSED video tier, composing
# the M64 RIFF/AVI container walk with the M66 frame codec. Real MJPEG
# is exactly this — an AVI whose '00dc' chunks each hold a complete
# baseline JPEG — so the synth corpus is spec-shaped (fccHandler /
# biCompression 'MJPG') and the audit decodes every frame through the
# full entropy/DCT path under the per-frame error contract.

MJPEG_US_PER_FRAME = 100000  # 10 fps, matches the M64 constant


def _mjpeg_n_frames(media_id: int) -> int:
    return 3 + media_id % 4


def _mjpeg_luma(media_id: int, f: int, h: int, w: int) -> "np.ndarray":
    """Per-frame closed-form grayscale grid: the _avi_pixel family
    ((id·31 + f·101 + r·13 + c·17) % 256) without the channel term."""
    r = np.arange(h)[:, None]
    c = np.arange(w)[None, :]
    return ((media_id * 31 + f * 101 + r * 13 + c * 17) % 256).astype(
        np.uint8
    )


def _riff_chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _riff_list(listtype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", listtype + body)


def _encode_mjpeg(media_id: int) -> bytes:
    """Spec-shaped MJPEG AVI: avih/strh/strf declare 'MJPG', movi
    carries one complete baseline JPEG per '00dc' chunk."""
    w, h = _bmp_dims(media_id)
    n = _mjpeg_n_frames(media_id)
    frames = [
        encode_jpeg_gray(_mjpeg_luma(media_id, f, h, w)) for f in range(n)
    ]
    max_sz = max(len(fr) for fr in frames)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        MJPEG_US_PER_FRAME, max_sz * 10, 0, 0, n, 0, 1, max_sz,
        w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4H",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, 10, 0, n, max_sz, 0, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHII", 40, w, h, 1, 24, 0x47504A4D, max_sz
    ) + struct.pack("<iiII", 2835, 2835, 0, 0)  # 'MJPG' little-endian
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(
            b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)
        ),
    )
    movi = _riff_list(
        b"movi", b"".join(_riff_chunk(b"00dc", fr) for fr in frames)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_mjpeg_corpus(docs: DataFrame) -> DataFrame:
    """One REAL Motion-JPEG AVI payload per document: 3–6 grayscale
    baseline-JPEG frames at the per-id BMP dimensions, 10 fps."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ws, hs = [], [], []
            for media_id in pdf["doc_id"]:
                mid = int(media_id)
                w, h = _bmp_dims(mid)
                payloads.append(_encode_mjpeg(mid))
                ws.append(w)
                hs.append(h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": payloads,
                    "mime": "video/x-motion-jpeg",
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                }
            )

    return _spread(docs.select("doc_id")).mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


def _mjpeg_parse(payload: bytes) -> "tuple[int, int, int, list]":
    """REAL RIFF walk for MJPEG: validate RIFF/'AVI ', read avih
    (frame period) and strf (dims + biCompression == 'MJPG'), collect
    the '00dc' JPEG payloads in stream order (word-aligned chunks).
    Returns (w, h, us_per_frame, [jpeg bytes per frame])."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    w = h = usf = None
    comp_ok = False
    frames: list = []

    def walk(lo: int, hi: int) -> None:
        nonlocal w, h, usf, comp_ok
        pos = lo
        while pos + 8 <= hi:
            fourcc = payload[pos : pos + 4]
            (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            body_lo = pos + 8
            if fourcc == b"LIST":
                walk(body_lo + 4, body_lo + size)
            elif fourcc == b"avih":
                (usf,) = struct.unpack("<I", payload[body_lo : body_lo + 4])
            elif fourcc == b"strf":
                _hdr, bw, bh, _pl, _bpp, comp = struct.unpack(
                    "<IiiHHI", payload[body_lo : body_lo + 20]
                )
                w, h = int(bw), int(bh)
                comp_ok = comp == 0x47504A4D  # 'MJPG'
            elif fourcc == b"00dc":
                frames.append(payload[body_lo : body_lo + size])
            pos = body_lo + size + (size & 1)

    walk(12, len(payload))
    if w is None or usf is None or not frames:
        raise ValueError("missing MJPEG headers or frames")
    if not comp_ok:
        raise ValueError("not MJPG-compressed")
    return w, h, usf, frames


MJPEG_AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("src_sum", T.LongType()),
        T.StructField("err_bound", T.LongType()),
        T.StructField("within_bound", T.IntegerType()),
        T.StructField("is_valid", T.IntegerType()),
    ]
)


def mjpeg_frames_audit(media: DataFrame) -> DataFrame:
    """Per-FRAME contract audit of the compressed video tier: walk the
    RIFF container, decode every '00dc' chunk through the full JPEG
    path, and fan out one row per frame with the frame timestamp, the
    exact closed-form source tie-in, and the |err| ≤ ERR_BOUND promise
    — a container-walk bug (frame order, word alignment, compression
    fourcc) or any codec bug hash-fails. Output rows = Σ frames, the
    real row-expansion shape of video pipelines."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in MJPEG_AUDIT_SCHEMA.fields}
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                mid = int(media_id)
                try:
                    w, h, usf, frames = _mjpeg_parse(bytes(payload))
                    for f, jpg in enumerate(frames):
                        fw, fh, px = decode_jpeg_gray(jpg)
                        src = _mjpeg_luma(mid, f, h, w)
                        ok = int(
                            (fw, fh) == (w, h)
                            and px.shape == src.shape
                            and int(
                                np.abs(
                                    px.astype(np.int64)
                                    - src.astype(np.int64)
                                ).max()
                            )
                            <= ERR_BOUND
                        )
                        rows["media_id"].append(mid)
                        rows["frame_idx"].append(f)
                        rows["frame_ts_ms"].append(f * usf // 1000)
                        rows["width"].append(fw)
                        rows["height"].append(fh)
                        rows["src_sum"].append(
                            int(src.astype(np.int64).sum())
                        )
                        rows["err_bound"].append(ERR_BOUND)
                        rows["within_bound"].append(ok)
                        rows["is_valid"].append(1)
                except (ValueError, struct.error):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(-1)
                    rows["frame_ts_ms"].append(-1)
                    rows["width"].append(0)
                    rows["height"].append(0)
                    rows["src_sum"].append(0)
                    rows["err_bound"].append(ERR_BOUND)
                    rows["within_bound"].append(0)
                    rows["is_valid"].append(0)
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=MJPEG_AUDIT_SCHEMA)
