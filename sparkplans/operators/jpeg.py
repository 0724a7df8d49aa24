"""JPEG (ITU-T T.81) encoder/decoder in pure stdlib + numpy —
baseline sequential and progressive.

Closes the last stubbed *image* branch of `operators/multimodal`: with
this module, `decode_image` handles JPEG payloads with no external
codec library.  Scope:

- 8-bit, 3-component YCbCr (JFIF), 4:4:4 AND 4:2:0 chroma sampling
- baseline sequential (SOF0) AND progressive (SOF2): DC successive
  approximation (first + refinement scans), spectral-selection AC
  band scans with general EOB-run semantics, AND AC successive-
  approximation refinement (T.81 G.1.2.3) in both directions
- Huffman entropy coding (non-arithmetic); quantization and Huffman
  tables are READ FROM THE STREAM (DQT/DHT), so the decoder handles
  conforming files generally, not just our encoder's output

The encoder writes canonical-Huffman tables it derives itself
(uniform code lengths — valid per the spec, which lets DHT carry any
canonical table; compression is a few % worse than the Annex K
defaults, and correctness is what the tests pin).  The DCT is the
orthonormal matrix form of the spec's FDCT; entropy coding is exact
run/size + magnitude-bits with 0xFF byte stuffing.

Everything numeric is numpy; the only per-symbol Python loop is the
entropy coder, which is the honest cost of a pure-Python codec (the
Arrow-batched mapInPandas flow amortizes it per partition).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------
# Constant tables
# ---------------------------------------------------------------------

# Annex K quantization tables (public spec constants), natural order.
QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)
QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)


def zigzag_order() -> list[tuple[int, int]]:
    """The spec's zigzag scan, generated (not hardcoded): anti-diagonal
    s = i+j walks up-right when s is even, down-left when odd."""
    out = []
    for s in range(15):
        rng = range(s, -1, -1) if s % 2 == 0 else range(0, s + 1)
        for i in rng:
            j = s - i
            if i < 8 and j < 8:
                out.append((i, j))
    return out


_ZZ = zigzag_order()
_ZZ_IDX = np.array([i * 8 + j for i, j in _ZZ])      # natural->stream
_INV_ZZ = np.argsort(_ZZ_IDX)                        # stream->natural


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix — equal to the spec's FDCT
    with its 1/4·C(u)C(v) normalization folded in."""
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    c = np.cos((2 * n + 1) * k * np.pi / 16)
    c[0] *= np.sqrt(1 / 2)
    return c / 2


_C = _dct_matrix()


def fdct2(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def idct2(coeffs: np.ndarray) -> np.ndarray:
    return _C.T @ coeffs @ _C


# JFIF RGB <-> YCbCr (BT.601 full-range)
def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = (ycc[..., i] for i in range(3))
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------
# Huffman tables (canonical; uniform lengths, all-ones code unused)
# ---------------------------------------------------------------------

# DC: 12 magnitude-category symbols at 4 bits (codes 0..11 < 1111).
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
# AC: 162 run/size symbols at 8 bits (codes 0..161 < 11111111).
_AC_VALS = [16 * r + s for r in range(16) for s in range(1, 11)] + [0x00, 0xF0]
_AC_BITS = [0] * 16
_AC_BITS[7] = len(_AC_VALS)  # all length 8


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical assignment per the spec."""
    codes, code = {}, 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return codes


_DC_CODES = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_CODES = _canonical_codes(_AC_BITS, _AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("entropy data exhausted")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker in entropy data")
                self.pos += 1  # skip stuffed 0x00
            self.acc = byte
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _magnitude_bits(v: int) -> tuple[int, int]:
    """(size category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _extend(bits: int, size: int) -> int:
    """Inverse of _magnitude_bits' appended-bits mapping."""
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


# ---------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------


def _quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    quality = min(max(quality, 1), 100)
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    qy = np.clip((QUANT_LUMA * scale + 50) // 100, 1, 255).astype(np.int32)
    qc = np.clip((QUANT_CHROMA * scale + 50) // 100, 1, 255).astype(np.int32)
    return qy, qc


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _dqt(tid: int, q: np.ndarray) -> bytes:
    return _seg(0xDB, bytes([tid]) + bytes(int(x) for x in q.flatten()[_ZZ_IDX]))


def _dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
    return _seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))


def _encode_block(bw: _BitWriter, block, q, prev_dc: int) -> int:
    """FDCT + quantize + entropy-code one 8x8 block; returns its DC
    (the caller threads per-component DC prediction)."""
    coeffs = np.round(fdct2(block) / q).astype(np.int64)
    stream = coeffs.flatten()[_ZZ_IDX]
    diff = int(stream[0]) - prev_dc
    size, bits = _magnitude_bits(diff)
    code, length = _DC_CODES[size]
    bw.write(code, length)
    if size:
        bw.write(bits, size)
    run = 0
    for v in stream[1:]:
        v = int(v)
        if v == 0:
            run += 1
            continue
        while run >= 16:
            zc, zl = _AC_CODES[0xF0]
            bw.write(zc, zl)
            run -= 16
        size, bits = _magnitude_bits(v)
        code, length = _AC_CODES[16 * run + size]
        bw.write(code, length)
        bw.write(bits, size)
        run = 0
    if run:
        ec, el = _AC_CODES[0x00]
        bw.write(ec, el)
    return int(stream[0])


def encode_jpeg(
    rgb: np.ndarray,
    quality: int = 85,
    subsample: bool = False,
    progressive: bool = False,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as baseline JFIF — 4:4:4 by
    default, or 4:2:0 (``subsample=True``: 16x16 MCUs of four Y blocks
    plus one 2x2-averaged Cb and Cr block — the variant virtually all
    camera/web JPEGs use), or PROGRESSIVE 4:4:4
    (``progressive=True``: SOF2 with a DC successive-approximation
    scan pair followed by per-component spectral-selection AC band
    scans — the multi-scan layout most web JPEGs ship)."""
    if progressive and subsample:
        raise ValueError("progressive writer is 4:4:4 only")
    a = np.asarray(rgb, dtype=np.uint8)
    h, w, c = a.shape
    assert c == 3, "RGB input"
    qy, qc = _quant_tables(quality)
    if progressive:
        return _encode_progressive(a, qy, qc)

    # pad to MCU multiples by edge replication
    mcu = 16 if subsample else 8
    ph, pw = -h % mcu, -w % mcu
    a = np.pad(a, ((0, ph), (0, pw), (0, 0)), mode="edge")
    ycc = rgb_to_ycbcr(a) - 128.0

    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    hh, ww = a.shape[:2]
    if not subsample:
        for by in range(0, hh, 8):
            for bx in range(0, ww, 8):
                for comp in range(3):
                    q = qy if comp == 0 else qc
                    prev_dc[comp] = _encode_block(
                        bw, ycc[by : by + 8, bx : bx + 8, comp], q, prev_dc[comp]
                    )
    else:
        y_plane = ycc[:, :, 0]
        # 2x2 box-filter chroma downsample
        cb = ycc[:, :, 1].reshape(hh // 2, 2, ww // 2, 2).mean(axis=(1, 3))
        cr = ycc[:, :, 2].reshape(hh // 2, 2, ww // 2, 2).mean(axis=(1, 3))
        for my in range(0, hh, 16):
            for mx in range(0, ww, 16):
                for dy in (0, 8):        # interleave: Y00 Y01 Y10 Y11
                    for dx in (0, 8):
                        prev_dc[0] = _encode_block(
                            bw,
                            y_plane[my + dy : my + dy + 8, mx + dx : mx + dx + 8],
                            qy,
                            prev_dc[0],
                        )
                cy, cx = my // 2, mx // 2
                prev_dc[1] = _encode_block(
                    bw, cb[cy : cy + 8, cx : cx + 8], qc, prev_dc[1]
                )
                prev_dc[2] = _encode_block(
                    bw, cr[cy : cy + 8, cx : cx + 8], qc, prev_dc[2]
                )

    y_samp = 0x22 if subsample else 0x11
    sof = _seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, y_samp, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    sos = _seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    app0 = _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    return (
        b"\xff\xd8"
        + app0
        + _dqt(0, qy)
        + _dqt(1, qc)
        + _dht(0, 0, _DC_BITS, _DC_VALS)
        + _dht(0, 1, _DC_BITS, _DC_VALS)
        + _dht(1, 0, _AC_BITS, _AC_VALS)
        + _dht(1, 1, _AC_BITS, _AC_VALS)
        + sof
        + sos
        + bw.flush()
        + b"\xff\xd9"
    )


def _encode_progressive(a: np.ndarray, qy: np.ndarray, qc: np.ndarray) -> bytes:
    """Progressive (SOF2) 4:4:4 writer.  Scan script:

      1. DC first scan, interleaved, successive approximation Al=1
         (diffs of dc >> 1)
      2. DC refinement scan (Ah=1, Al=0): one raw bit per block
      3-8. AC spectral-selection FIRST scans per component, bands
         1-5 and 6-63, successive approximation Al=1
      9-14. AC successive-approximation REFINEMENT scans (Ah=1,
         Al=0): sign-bit symbols for newly-significant coefficients,
         raw correction bits for already-significant ones (T.81
         G.1.2.3)

    Exercises every progressive structure the decoder supports: DC
    point transform + refinement, per-component non-interleaved AC
    first + refinement scans, ZRL-vs-EOB folding, and EOB
    semantics."""
    h, w, _ = a.shape
    ph, pw = -h % 8, -w % 8
    ap = np.pad(a, ((0, ph), (0, pw), (0, 0)), mode="edge")
    ycc = rgb_to_ycbcr(ap) - 128.0
    hh, ww = ap.shape[:2]
    bh, bw_blocks = hh // 8, ww // 8
    # quantized zigzag-stream coefficients per comp per block
    streams = [
        [
            [
                np.round(
                    fdct2(ycc[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, comp])
                    / (qy if comp == 0 else qc)
                )
                .astype(np.int64)
                .flatten()[_ZZ_IDX]
                for bx in range(bw_blocks)
            ]
            for by in range(bh)
        ]
        for comp in range(3)
    ]

    def sos(comps: list[tuple[int, int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comps)])
        for cid, td, ta in comps:
            body += bytes([cid, (td << 4) | ta])
        return _seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    out = bytearray()
    # scan 1: DC first, Al=1, interleaved
    bw = _BitWriter()
    prev = [0, 0, 0]
    for by in range(bh):
        for bx in range(bw_blocks):
            for comp in range(3):
                dc = int(streams[comp][by][bx][0]) >> 1
                size, bits = _magnitude_bits(dc - prev[comp])
                prev[comp] = dc
                code, length = _DC_CODES[size]
                bw.write(code, length)
                if size:
                    bw.write(bits, size)
    out += sos([(1, 0, 0), (2, 0, 0), (3, 0, 0)], 0, 0, 0, 1) + bw.flush()
    # scan 2: DC refinement (raw bits, no huffman)
    bw = _BitWriter()
    for by in range(bh):
        for bx in range(bw_blocks):
            for comp in range(3):
                bw.write(int(streams[comp][by][bx][0]) & 1, 1)
    out += sos([(1, 0, 0), (2, 0, 0), (3, 0, 0)], 0, 0, 1, 0) + bw.flush()
    # scans 3-8: AC band FIRST scans per component, Al=1 (magnitudes
    # arithmetic-shifted right by the point transform, sign preserved)
    for comp in range(3):
        ta = 0 if comp == 0 else 1
        for ss, se in ((1, 5), (6, 63)):
            bw = _BitWriter()
            for by in range(bh):
                for bx in range(bw_blocks):
                    band = streams[comp][by][bx][ss : se + 1]
                    run = 0
                    wrote_any = False
                    for v in band:
                        v = int(v)
                        mag = abs(v) >> 1  # point transform Al=1
                        if mag == 0:
                            run += 1
                            continue
                        v1 = mag if v > 0 else -mag
                        while run >= 16:
                            zc, zl = _AC_CODES[0xF0]
                            bw.write(zc, zl)
                            run -= 16
                        size, bits = _magnitude_bits(v1)
                        code, length = _AC_CODES[16 * run + size]
                        bw.write(code, length)
                        bw.write(bits, size)
                        run = 0
                        wrote_any = True
                    if run or not wrote_any:
                        ec, el = _AC_CODES[0x00]  # EOB (eobrun = 1)
                        bw.write(ec, el)
            out += sos([(comp + 1, 0, ta)], ss, se, 0, 1) + bw.flush()
    # scans 9-14: AC band REFINEMENT scans (Ah=1, Al=0) — the T.81
    # G.1.2.3 successive-approximation correction pass: newly
    # significant coefficients (|v| at full precision == 1) are coded
    # as run/size=1 symbols + a sign bit; already-significant ones
    # contribute one raw correction bit each (the low-order magnitude
    # bit), interleaved in coefficient order exactly where the decoder
    # walks them.  One EOB per block closes any trailing positions
    # (no cross-block EOB runs — simpler, still valid JPEG).
    for comp in range(3):
        ta = 0 if comp == 0 else 1
        for ss, se in ((1, 5), (6, 63)):
            bw = _BitWriter()
            for by in range(bh):
                for bx in range(bw_blocks):
                    band = [int(v) for v in streams[comp][by][bx][ss : se + 1]]
                    # last newly-significant index: ZRLs are only worth
                    # emitting while one still lies ahead; after it the
                    # zero run folds into the EOB
                    eob_idx = max(
                        (i for i, v in enumerate(band) if abs(v) == 1),
                        default=-1,
                    )
                    run = 0
                    pending: list[int] = []  # correction bits in coef order
                    for i, v in enumerate(band):
                        mag = abs(v)
                        if mag == 0:
                            run += 1
                            continue
                        while run > 15 and i <= eob_idx:
                            zc, zl = _AC_CODES[0xF0]
                            bw.write(zc, zl)
                            run -= 16
                            for b in pending:
                                bw.write(b, 1)
                            pending = []
                        if mag > 1:  # already significant at Al=1
                            pending.append(mag & 1)
                            continue
                        # newly significant (|v| == 1)
                        code, length = _AC_CODES[16 * run + 1]
                        bw.write(code, length)
                        bw.write(1 if v > 0 else 0, 1)  # sign bit
                        for b in pending:
                            bw.write(b, 1)
                        pending = []
                        run = 0
                    if run or pending:
                        ec, el = _AC_CODES[0x00]  # EOB, then trailing corrections
                        bw.write(ec, el)
                        for b in pending:
                            bw.write(b, 1)
            out += sos([(comp + 1, 0, ta)], ss, se, 1, 0) + bw.flush()

    sof = _seg(
        0xC2,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    app0 = _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    return (
        b"\xff\xd8"
        + app0
        + _dqt(0, qy)
        + _dqt(1, qc)
        + _dht(0, 0, _DC_BITS, _DC_VALS)
        + _dht(1, 0, _AC_BITS, _AC_VALS)
        + _dht(1, 1, _AC_BITS, _AC_VALS)
        + sof
        + bytes(out)
        + b"\xff\xd9"
    )


# ---------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------


class _HuffDecoder:
    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.lut: dict[tuple[int, int], int] = {}
        code, i = 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lut[(length, code)] = vals[i]
                code += 1
                i += 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | br.read_bit()
            length += 1
            sym = self.lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _next_marker(b: bytes, pos: int) -> tuple[int, int, int]:
    """Scan entropy-coded data from ``pos``: returns (entropy_end,
    marker, pos_after_marker).  Stuffed FF 00 pairs are data; FF fill
    bytes before the marker are allowed per the spec."""
    i, n = pos, len(b)
    while i < n - 1:
        if b[i] == 0xFF:
            if b[i + 1] == 0x00:
                i += 2
                continue
            j = i + 1
            while j < n and b[j] == 0xFF:
                j += 1
            if j < n:
                return i, b[j], j + 1
            raise ValueError("truncated entropy data")
        i += 1
    raise ValueError("no terminating marker")


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode an 8-bit 3-component JFIF payload to (h, w, 3) uint8
    RGB.  Supported: baseline sequential (SOF0) in 4:4:4 and 4:2:0,
    and PROGRESSIVE (SOF2) 4:4:4 with DC successive approximation,
    spectral-selection AC scans (general EOB-run semantics), and AC
    successive-approximation refinement scans (T.81 G.1.2.3).  All
    quantization and Huffman tables come from the stream."""
    b = bytes(payload or b"")
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffDecoder] = {}
    frame = None      # (h, w, comps[(cid, tq)], sub, progressive)
    coeffs = None     # per comp: [bh][bw] zigzag-stream int arrays
    grids = None      # per comp: (bh, bw)
    saw_scan = False
    while pos < len(b) - 1:
        if b[pos] != 0xFF:
            raise ValueError("marker expected")
        while pos < len(b) and b[pos] == 0xFF and pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1  # fill bytes
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / RSTn
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", b[pos + 2 : pos + 4])
        data = b[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            dpos = 0
            while dpos < len(data):
                pq, tq = data[dpos] >> 4, data[dpos] & 0x0F
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                flat = np.frombuffer(
                    data[dpos + 1 : dpos + 65], dtype=np.uint8
                ).astype(np.int32)
                qtables[tq] = flat  # zigzag order; invert at reconstruction
                dpos += 65
        elif marker == 0xC4:  # DHT
            dpos = 0
            while dpos < len(data):
                tc, th = data[dpos] >> 4, data[dpos] & 0x0F
                bits = list(data[dpos + 1 : dpos + 17])
                n = sum(bits)
                vals = list(data[dpos + 17 : dpos + 17 + n])
                htables[(tc, th)] = _HuffDecoder(bits, vals)
                dpos += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack(">BHHB", data[:6])
            if prec != 8 or nc != 3:
                raise ValueError("only 8-bit 3-component JPEG supported")
            comps, samps = [], []
            for i in range(nc):
                cid, samp, tq = data[6 + 3 * i : 9 + 3 * i]
                samps.append(samp)
                comps.append((cid, tq))
            if samps not in ([0x11, 0x11, 0x11], [0x22, 0x11, 0x11]):
                raise ValueError("only 4:4:4 or 4:2:0 sampling supported")
            sub = samps[0] == 0x22
            if progressive and sub:
                raise ValueError("progressive 4:2:0 not supported")
            frame = (h, w, comps, sub, progressive)
            if sub:
                mh, mw = (h + 15) // 16, (w + 15) // 16
                grids = [(2 * mh, 2 * mw), (mh, mw), (mh, mw)]
            else:
                bh, bw = (h + 7) // 8, (w + 7) // 8
                grids = [(bh, bw)] * 3
            coeffs = [
                [[np.zeros(64, dtype=np.int64) for _ in range(g[1])] for _ in range(g[0])]
                for g in grids
            ]
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("only baseline (SOF0) / progressive (SOF2) supported")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = data[0]
            cid_to_idx = {cid: i for i, (cid, _) in enumerate(frame[2])}
            scomps = []
            for i in range(ns):
                cid, tt = data[1 + 2 * i], data[2 + 2 * i]
                scomps.append((cid_to_idx[cid], tt >> 4, tt & 0x0F))
            ss, se, ahal = data[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            end, _, _ = _next_marker(b, pos)
            entropy = b[pos:end]
            pos = end
            _process_scan(
                entropy, frame, grids, coeffs, htables, scomps, ss, se, ah, al
            )
            saw_scan = True
        elif marker == 0xD8:
            raise ValueError("unexpected SOI")
        # APPn / COM / DRI(ignored: no restart intervals written) skipped
    if frame is None or not saw_scan:
        raise ValueError("truncated JPEG (no frame/scan)")
    return _reconstruct(frame, grids, coeffs, qtables)


def _process_scan(entropy, frame, grids, coeffs, htables, scomps, ss, se, ah, al):
    h, w, comps, sub, progressive = frame
    br = _BitReader(entropy)
    if ss == 0 and (not progressive or se == 0):
        # DC scan (progressive) or full sequential scan: interleaved
        if progressive and ah > 0:
            # DC refinement: one raw bit per block, MCU order
            gh, gw = grids[1] if sub else grids[0]
            n_mcu_y, n_mcu_x = (gh, gw) if sub else grids[0]
            for my in range(n_mcu_y):
                for mx in range(n_mcu_x):
                    for ci, _, _ in scomps:
                        blocks = (
                            [(2 * my + dy, 2 * mx + dx) for dy in (0, 1) for dx in (0, 1)]
                            if (sub and ci == 0)
                            else [(my, mx)]
                        )
                        for by, bx in blocks:
                            if br.read_bit():
                                coeffs[ci][by][bx][0] |= 1 << al
            return
        prev_dc = [0, 0, 0]
        n_mcu_y, n_mcu_x = grids[1] if sub else grids[0]
        for my in range(n_mcu_y):
            for mx in range(n_mcu_x):
                for ci, td, ta in scomps:
                    blocks = (
                        [(2 * my + dy, 2 * mx + dx) for dy in (0, 1) for dx in (0, 1)]
                        if (sub and ci == 0)
                        else [(my, mx)]
                    )
                    for by, bx in blocks:
                        stream = coeffs[ci][by][bx]
                        size = htables[(0, td)].decode(br)
                        diff = _extend(br.read_bits(size), size)
                        prev_dc[ci] += diff
                        stream[0] = prev_dc[ci] << al
                        if not progressive:
                            k = 1
                            ac = htables[(1, ta)]
                            while k < 64:
                                sym = ac.decode(br)
                                if sym == 0x00:
                                    break
                                if sym == 0xF0:
                                    k += 16
                                    continue
                                run, size = sym >> 4, sym & 0x0F
                                k += run
                                if k > 63:
                                    raise ValueError("AC index out of range")
                                stream[k] = _extend(br.read_bits(size), size)
                                k += 1
        return
    # AC scan: progressive spectral selection, single component
    if ah > 0:
        # successive-approximation REFINEMENT (T.81 G.1.2.3, the
        # libjpeg decode_mcu_AC_refine walk): run/size=1 symbols mark
        # newly-significant coefficients (sign bit follows); every
        # already-nonzero coefficient passed contributes one raw
        # correction bit; an EOB closes the block and the remaining
        # nonzero-history coefficients read their correction bits in
        # the EOB-run walk.
        if len(scomps) != 1:
            raise ValueError("AC scans must be single-component")
        ci, _, ta = scomps[0]
        ac = htables[(1, ta)]
        gh, gw = grids[ci]
        p1 = 1 << al

        def _correct(stream, k) -> None:
            if br.read_bit() and (abs(int(stream[k])) & p1) == 0:
                stream[k] += p1 if stream[k] > 0 else -p1

        eobrun = 0
        for by in range(gh):
            for bx in range(gw):
                stream = coeffs[ci][by][bx]
                k = ss
                if eobrun == 0:
                    while k <= se:
                        sym = ac.decode(br)
                        r, s = sym >> 4, sym & 0x0F
                        val = 0
                        if s == 0:
                            if r != 15:
                                eobrun = (1 << r) + (
                                    br.read_bits(r) if r else 0
                                )
                                break
                            # ZRL: pass 16 zero-history coefficients
                        else:
                            if s != 1:
                                raise ValueError(
                                    "invalid AC refinement symbol"
                                )
                            val = p1 if br.read_bit() else -p1
                        while k <= se:
                            if stream[k] != 0:
                                _correct(stream, k)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if val != 0 and k <= se:
                            stream[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if stream[k] != 0:
                            _correct(stream, k)
                        k += 1
                    eobrun -= 1
        return
    if len(scomps) != 1:
        raise ValueError("AC scans must be single-component")
    ci, _, ta = scomps[0]
    ac = htables[(1, ta)]
    gh, gw = grids[ci]
    eobrun = 0
    for by in range(gh):
        for bx in range(gw):
            if eobrun > 0:
                eobrun -= 1
                continue
            stream = coeffs[ci][by][bx]
            k = ss
            while k <= se:
                sym = ac.decode(br)
                r, s = sym >> 4, sym & 0x0F
                if s == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << r) - 1 + br.read_bits(r)
                    break
                k += r
                if k > se:
                    raise ValueError("AC index out of band")
                stream[k] = _extend(br.read_bits(s), s) << al
                k += 1


def _reconstruct(frame, grids, coeffs, qtables):
    h, w, comps, sub, _prog = frame
    planes = []
    for ci, (cid, tq) in enumerate(comps):
        gh, gw = grids[ci]
        q = qtables[tq][_INV_ZZ].reshape(8, 8).astype(np.int64)
        plane = np.zeros((gh * 8, gw * 8), dtype=np.float64)
        for by in range(gh):
            for bx in range(gw):
                nat = coeffs[ci][by][bx][_INV_ZZ].reshape(8, 8) * q
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = idct2(
                    nat.astype(np.float64)
                )
        planes.append(plane)
    if sub:
        hh, ww = planes[0].shape
        out = np.zeros((hh, ww, 3), dtype=np.float64)
        out[:, :, 0] = planes[0]
        for ci in (1, 2):
            up = planes[ci].repeat(2, axis=0).repeat(2, axis=1)
            out[:, :, ci] = up[:hh, :ww]
    else:
        out = np.stack(planes, axis=-1)
    return ycbcr_to_rgb(out[:h, :w] + 128.0)
