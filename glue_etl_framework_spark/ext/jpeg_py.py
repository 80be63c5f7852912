"""Pure-Python baseline JPEG (JFIF) codec — closing the last multimodal
decode gate offline (VERDICT r04 "What's missing" item 2; same playbook as
``ext/media_codecs.py`` BMP/WAV and ``io/avro_py.py``: the container ships
no libjpeg/PIL, so implement the profile from the public specification,
ITU-T T.81 / ISO 10918-1, and run REAL bytes through the Spark kernels).

Profile:

- **Decoder**: baseline sequential DCT (SOF0), 8-bit, 1 or 3 components,
  any sampling factors expressible in the MCU model (4:4:4, 4:2:0, 4:2:2,
  grayscale all exercised in tests), multiple DQT/DHT segments, restart
  intervals (DRI + RSTn), 0xFF00 byte stuffing, APPn/COM skipping.
  Anything outside baseline — progressive (SOF2), arithmetic coding,
  12-bit precision, hierarchical — raises ValueError loudly (a decode
  gate should fail honest, never guess).
- **Encoder**: baseline SOF0, 4:4:4 (and grayscale), the Annex K example
  quantization tables scaled by a quality factor (the libjpeg convention)
  and the Annex K typical Huffman tables. Output is a strictly
  conforming interchange-format stream: SOI APP0 DQT SOF0 DHT SOS ... EOI.

JPEG is lossy, so the round-trip contract differs from BMP/WAV's byte
identity: decode(encode(img)) must reconstruct within a PSNR bound
(property-tested), and single-color images — whose blocks are pure DC —
round-trip near-exactly. The decoder is also structurally cross-checked
field-by-field against the marker layout the encoder emits.

Reference parity note: the reference engine has no multimodal layer
(/root/reference/glue/glue_etl_framework.py is tabular-only); this module
belongs to the training-data pipeline extensions (SURVEY §2.13).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Constants from the spec
# ---------------------------------------------------------------------------

# zigzag scan order (T.81 Figure 5): ZIGZAG[i] = raster index of the i-th
# coefficient in scan order
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int32)

# Annex K.1 example quantization tables (luminance, chrominance)
QTAB_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32)

QTAB_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32)

# Annex K.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))

AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# orthonormal 8x8 DCT-II matrix: forward F = C @ f @ C.T, inverse f = C.T @ F @ C
_C = np.zeros((8, 8))
for _k in range(8):
    _s = np.sqrt(1.0 / 8) if _k == 0 else np.sqrt(2.0 / 8)
    for _n in range(8):
        _C[_k, _n] = _s * np.cos((2 * _n + 1) * _k * np.pi / 16)


def _quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality convention: 50 = Annex K tables as-is."""
    if not 1 <= quality <= 100:
        raise ValueError("jpeg: quality must be in [1, 100]")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = (q * scale + 50) // 100
    return np.clip(out, 1, 255)


# ---------------------------------------------------------------------------
# Huffman code construction (T.81 Annex C)
# ---------------------------------------------------------------------------


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical Annex C procedure."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _HuffDecoder:
    """Canonical Huffman decode table: (length -> {code: symbol})."""

    def __init__(self, bits: list[int], vals: list[int]):
        # a truncated DHT segment yields short bits/vals lists; validate
        # up front so corrupt streams raise ValueError (the module's
        # fail-loudly contract), not IndexError mid-table-build
        if len(bits) != 16 or len(vals) != sum(bits):
            raise ValueError("jpeg: truncated DHT segment")
        self.by_len: list[dict[int, int]] = [dict() for _ in range(17)]
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.by_len[length][code] = vals[k]
                code += 1
                k += 1
            code <<= 1


# ---------------------------------------------------------------------------
# Bit I/O over the entropy-coded segment
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing (B.1.1.5)
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits

    def restart(self, n: int) -> None:
        """Byte-align and emit an RSTn marker (markers are not stuffed)."""
        self.pad_to_byte()
        self.out += bytes([0xFF, 0xD0 + n])

    def flush(self) -> bytes:
        self.pad_to_byte()
        return bytes(self.out)


class _BitReader:
    """Reads the entropy-coded segment: un-stuffs 0xFF00, stops at markers,
    and lets the caller consume RSTn markers between restart intervals."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("jpeg: entropy data truncated")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:  # stuffed FF
                self.pos += 2
            else:  # a real marker — the scan has ended prematurely
                raise ValueError("jpeg: hit marker inside entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: _HuffDecoder) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.by_len[length].get(code)
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid Huffman code")

    def align_and_expect_rst(self, n: int) -> None:
        """Byte-align and consume the RSTn marker (B.2.1.2)."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        if self.pos + 1 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] == 0xD0 + n:
            self.pos += 2
        else:
            raise ValueError(f"jpeg: expected RST{n} marker")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the `size`-bit magnitude to a signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _category(v: int) -> int:
    """Bit size of |v| (DC/AC magnitude category)."""
    return int(abs(v)).bit_length()


# ---------------------------------------------------------------------------
# Color transforms (JFIF / BT.601 full range)
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


# ---------------------------------------------------------------------------
# Encoder (baseline SOF0, 4:4:4 color or grayscale)
# ---------------------------------------------------------------------------


def _encode_block(
    block: np.ndarray,
    qtab: np.ndarray,
    dc_codes: dict,
    ac_codes: dict,
    pred: int,
    bw: _BitWriter,
) -> int:
    """FDCT + quantize + entropy-code one 8x8 block; returns the new DC
    predictor."""
    coef = _C @ (block - 128.0) @ _C.T
    # half-up rounding (floor(x+0.5)), not np.round's half-even: the
    # rounding rule at the quantizer is implementation-defined in T.81,
    # and floor(x+0.5) is exactly replicable in ANSI SQL — the
    # multimodal decode-stats oracle replays this arithmetic
    q = np.floor(coef / qtab.reshape(8, 8) + 0.5).astype(np.int32)
    zz = q.flat[ZIGZAG]
    # DC
    diff = int(zz[0]) - pred
    size = _category(diff)
    code, length = dc_codes[size]
    bw.write(code, length)
    if size:
        bits = diff if diff >= 0 else diff + (1 << size) - 1
        bw.write(bits, size)
    # AC
    run = 0
    last_nz = 0
    nz = np.nonzero(zz[1:])[0]
    last_nz = (nz[-1] + 1) if len(nz) else 0
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL
            bw.write(c, ln)
            run -= 16
        size = _category(v)
        c, ln = ac_codes[(run << 4) | size]
        bw.write(c, ln)
        bits = v if v >= 0 else v + (1 << size) - 1
        bw.write(bits, size)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]  # EOB
        bw.write(c, ln)
    return int(zz[0])


def encode_jpeg(
    width: int,
    height: int,
    pixels: bytes,
    quality: int = 85,
    grayscale: bool = False,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode RGB (or grayscale) bytes as a baseline JFIF JPEG.

    ``pixels``: row-major RGB triplets (or single luma bytes when
    ``grayscale``), top-down — the same convention as ``encode_bmp``
    except RGB order and no row padding. ``subsample``: "444" (one block
    per component per MCU) or "420" (16x16 MCU, 2x2-averaged chroma).
    ``restart_interval``: MCUs between RSTn markers (0 = none)."""
    if width <= 0 or height <= 0:
        raise ValueError("jpeg: dimensions must be positive")
    if subsample not in ("444", "420"):
        raise ValueError("jpeg: subsample must be '444' or '420'")
    ncomp = 1 if grayscale else 3
    if len(pixels) != width * height * ncomp:
        raise ValueError(
            f"jpeg: expected {width * height * ncomp} bytes, got {len(pixels)}"
        )
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, ncomp)
    arr = arr.astype(np.float64)
    qt_l = _quality_scale(QTAB_LUMA, quality)
    qt_c = _quality_scale(QTAB_CHROMA, quality)
    dc_l = _build_codes(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _build_codes(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)

    # component layout: (plane, h, v, qtab, dc_codes, ac_codes)
    if grayscale:
        comps = [(arr[..., 0], 1, 1, qt_l, dc_l, ac_l)]
    else:
        y, cb, cr = np.moveaxis(_rgb_to_ycbcr(arr), -1, 0)
        if subsample == "444":
            comps = [
                (y, 1, 1, qt_l, dc_l, ac_l),
                (cb, 1, 1, qt_c, dc_c, ac_c),
                (cr, 1, 1, qt_c, dc_c, ac_c),
            ]
        else:  # 420: 2x2-mean downsampled chroma
            eh, ew = (height + 1) & ~1, (width + 1) & ~1
            def down(p):
                p = np.pad(p, ((0, eh - height), (0, ew - width)), mode="edge")
                return (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
            comps = [
                (y, 2, 2, qt_l, dc_l, ac_l),
                (down(cb), 1, 1, qt_c, dc_c, ac_c),
                (down(cr), 1, 1, qt_c, dc_c, ac_c),
            ]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    padded = []
    for plane, ch, cv, qt, dc, ac in comps:
        th, tw = mcuy * cv * 8, mcux * ch * 8
        plane = np.pad(
            plane,
            ((0, th - plane.shape[0]), (0, tw - plane.shape[1])),
            mode="edge",
        )
        padded.append((plane, ch, cv, qt, dc, ac))

    bw = _BitWriter()
    preds = [0] * ncomp
    rst_n = 0
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.restart(rst_n)
                rst_n = (rst_n + 1) & 7
                preds = [0] * ncomp
            for ci, (plane, ch, cv, qt, dc, ac) in enumerate(padded):
                for vv in range(cv):
                    for hh in range(ch):
                        y0 = (my * cv + vv) * 8
                        x0 = (mx * ch + hh) * 8
                        preds[ci] = _encode_block(
                            plane[y0 : y0 + 8, x0 : x0 + 8], qt, dc, ac,
                            preds[ci], bw,
                        )
            mcu_count += 1
    entropy = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    out += seg(0xDB, bytes([0x00]) + bytes(int(qt_l[z]) for z in ZIGZAG))
    if ncomp == 3:
        out += seg(0xDB, bytes([0x01]) + bytes(int(qt_c[z]) for z in ZIGZAG))
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for cid, (_p, ch, cv, _q, _d, _a) in enumerate(padded, start=1):
        sof += bytes([cid, (ch << 4) | cv, 0 if cid == 1 else 1])
    out += seg(0xC0, sof)

    def dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    out += dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
    out += dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
    if ncomp == 3:
        out += dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
        out += dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    if ncomp == 1:
        sos += bytes([1, 0x00])
    else:
        sos += bytes([1, 0x00, 2, 0x11, 3, 0x11])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder (baseline SOF0, generic sampling)
# ---------------------------------------------------------------------------


def decode_jpeg(blob: bytes) -> dict:
    """Decode a baseline JFIF/EXIF JPEG; returns ``{"width", "height",
    "n_channels", "pixels"}`` with pixels as row-major RGB (or luma)
    bytes, matching ``encode_jpeg``'s input convention."""
    if len(blob) < 4 or blob[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI marker")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, _HuffDecoder] = {}
    ac_tabs: dict[int, _HuffDecoder] = {}
    frame = None  # (height, width, [(cid, h, v, tq)])
    restart_interval = 0

    def need_len(p: int) -> int:
        if p + 2 > len(blob):
            raise ValueError("jpeg: truncated segment header")
        (ln,) = struct.unpack_from(">H", blob, p)
        if ln < 2 or p + ln > len(blob):
            raise ValueError("jpeg: truncated segment")
        return ln

    while True:
        if pos + 2 > len(blob):
            raise ValueError("jpeg: no SOS before end of data")
        if blob[pos] != 0xFF:
            raise ValueError("jpeg: expected marker")
        marker = blob[pos + 1]
        pos += 2
        if marker == 0xD8:  # stray SOI
            raise ValueError("jpeg: unexpected SOI")
        if marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                      0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"jpeg: only baseline (SOF0) supported, got SOF marker 0x{marker:02X}"
            )
        if marker == 0xDB:  # DQT
            ln = need_len(pos)
            p, end = pos + 2, pos + ln
            while p < end:
                pq, tq = blob[p] >> 4, blob[p] & 0x0F
                p += 1
                if pq != 0:
                    raise ValueError("jpeg: 16-bit quant tables not baseline")
                tab = np.zeros(64, dtype=np.int32)
                tab[ZIGZAG] = np.frombuffer(blob[p : p + 64], dtype=np.uint8)
                qtabs[tq] = tab
                p += 64
            pos += ln
        elif marker == 0xC4:  # DHT
            ln = need_len(pos)
            p, end = pos + 2, pos + ln
            while p < end:
                tc, th = blob[p] >> 4, blob[p] & 0x0F
                bits = list(blob[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(blob[p + 17 : p + 17 + nv])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _HuffDecoder(bits, vals)
                p += 17 + nv
            pos += ln
        elif marker == 0xC0:  # SOF0
            ln = need_len(pos)
            prec, h, w, nc = struct.unpack_from(">BHHB", blob, pos + 2)
            if prec != 8:
                raise ValueError("jpeg: only 8-bit precision is baseline")
            comps = []
            p = pos + 8
            for _ in range(nc):
                if p + 3 > len(blob):
                    raise ValueError("jpeg: truncated SOF0 component list")
                cid, hv, tq = blob[p], blob[p + 1], blob[p + 2]
                ch, cv = hv >> 4, hv & 0x0F
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    # zero factors would divide-by-zero in the upsample step
                    raise ValueError("jpeg: bad sampling factors")
                comps.append((cid, ch, cv, tq))
                p += 3
            frame = (h, w, comps)
            pos += ln
        elif marker == 0xDD:  # DRI
            ln = need_len(pos)
            (restart_interval,) = struct.unpack_from(">H", blob, pos + 2)
            pos += ln
        elif marker == 0xDA:  # SOS — decode the scan and finish
            ln = need_len(pos)
            if frame is None:
                raise ValueError("jpeg: SOS before SOF0")
            ns = blob[pos + 2]
            scan = []
            p = pos + 3
            for _ in range(ns):
                if p + 2 > len(blob):
                    raise ValueError("jpeg: truncated SOS component list")
                cs, tt = blob[p], blob[p + 1]
                scan.append((cs, tt >> 4, tt & 0x0F))
                p += 2
            if p + 3 > len(blob):
                raise ValueError("jpeg: truncated SOS header")
            ss, se, ahal = blob[p], blob[p + 1], blob[p + 2]
            if (ss, se) != (0, 63) or ahal != 0:
                raise ValueError("jpeg: non-baseline spectral selection")
            return _decode_scan(
                blob, pos + ln, frame, scan, qtabs, dc_tabs, ac_tabs,
                restart_interval,
            )
        elif marker == 0xD9:
            raise ValueError("jpeg: EOI before SOS")
        elif 0xD0 <= marker <= 0xD7:
            raise ValueError("jpeg: stray RST marker")
        elif marker == 0x01:
            continue  # TEM (standalone, no length)
        elif marker == 0xFF:
            # 0xFF is a FILL byte: a marker may be preceded by any number
            # of them (B.1.1.2). Consume ONE byte, not two — an odd-length
            # fill run would otherwise orphan the marker that follows it.
            pos -= 1
            continue
        else:  # APPn, COM, and anything else with a length
            pos += need_len(pos)


def _decode_scan(blob, pos, frame, scan, qtabs, dc_tabs, ac_tabs, dri):
    height, width, comps = frame
    if len(scan) != len(comps):
        raise ValueError("jpeg: multi-scan streams are not baseline interchange")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    by_id = {c[0]: c for c in comps}
    order = []  # (comp_index, plane, h, v, qtab, dc, ac)
    planes = []
    for ci, (cs, td, ta) in enumerate(scan):
        if cs not in by_id:
            raise ValueError(f"jpeg: scan references unknown component {cs}")
        cid, ch, cv, tq = by_id[cs]
        if tq not in qtabs or td not in dc_tabs or ta not in ac_tabs:
            raise ValueError("jpeg: scan references missing table")
        plane = np.zeros((mcuy * cv * 8, mcux * ch * 8), dtype=np.float64)
        planes.append(plane)
        order.append((ci, plane, ch, cv, qtabs[tq], dc_tabs[td], ac_tabs[ta]))

    br = _BitReader(blob, pos)
    preds = [0] * len(comps)
    rst_n = 0
    mcu_count = 0
    qbuf = np.zeros(64, dtype=np.float64)
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_count and mcu_count % dri == 0:
                br.align_and_expect_rst(rst_n)
                rst_n = (rst_n + 1) & 7
                preds = [0] * len(comps)
            for ci, plane, ch, cv, qt, dct, act in order:
                for v in range(cv):
                    for hh in range(ch):
                        qbuf[:] = 0.0
                        size = br.decode_symbol(dct)
                        diff = _extend(br.receive(size), size)
                        preds[ci] += diff
                        qbuf[0] = preds[ci] * qt[0]
                        k = 1
                        while k < 64:
                            sym = br.decode_symbol(act)
                            if sym == 0x00:  # EOB
                                break
                            run, size = sym >> 4, sym & 0x0F
                            if size == 0:
                                if run != 15:
                                    raise ValueError("jpeg: bad AC symbol")
                                k += 16  # ZRL
                                if k > 63:
                                    # a conforming encoder emits ZRL only when
                                    # a nonzero coefficient follows, so the
                                    # next index must still be <= 63; past it
                                    # the stream is corrupt — fail loudly
                                    # instead of continuing misaligned
                                    raise ValueError("jpeg: AC index overflow")
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("jpeg: AC index overflow")
                            qbuf[ZIGZAG[k]] = _extend(br.receive(size), size) * qt[ZIGZAG[k]]
                            k += 1
                        block = _C.T @ qbuf.reshape(8, 8) @ _C + 128.0
                        y0 = (my * cv + v) * 8
                        x0 = (mx * ch + hh) * 8
                        plane[y0 : y0 + 8, x0 : x0 + 8] = block
            mcu_count += 1

    # upsample each component to full resolution (nearest) and crop
    full = []
    for (ci, plane, ch, cv, _qt, _d, _a) in order:
        if ch != hmax or cv != vmax:
            plane = np.repeat(np.repeat(plane, vmax // cv, axis=0), hmax // ch, axis=1)
        full.append(plane[:height, :width])
    # half-up sample reconstruction (floor(x+0.5)) for the same
    # SQL-replicability reason as the encoder's quantizer
    if len(full) == 1:
        rgb = np.clip(np.floor(full[0] + 0.5), 0, 255).astype(np.uint8)
        return {
            "width": width, "height": height, "n_channels": 1,
            "pixels": rgb.tobytes(),
        }
    ycc = np.stack(full, axis=-1)
    rgb = np.clip(np.floor(_ycbcr_to_rgb(ycc) + 0.5), 0, 255).astype(np.uint8)
    return {
        "width": width, "height": height, "n_channels": 3,
        "pixels": rgb.tobytes(),
    }
