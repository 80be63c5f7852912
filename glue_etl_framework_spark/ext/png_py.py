"""Pure-Python PNG codec — closing the last image-decode gate offline.

Round 4 left PNG behind an honest NotImplementedError "needs zlib"; the
CPython standard library ships zlib built in, so the whole format is
implementable from the public specification (RFC 2083 / ISO 15948) with
no third-party dependency — the same playbook as BMP/WAV
(``ext/media_codecs.py``) and baseline JPEG (``ext/jpeg_py.py``).

Profile:

- **Decoder**: 8-bit greyscale (color type 0), truecolor RGB (2),
  greyscale+alpha (4) and RGBA (6); all five scanline filters
  (None/Sub/Up/Average/Paeth); multiple IDAT chunks; ancillary chunks
  skipped; per-chunk CRC-32 verified. Outside the profile — palette
  images (3), bit depths != 8, interlacing, missing/corrupt chunks —
  raises ValueError loudly.
- **Encoder**: 8-bit color types 0/2/4/6, filter 0 scanlines, one
  zlib-compressed IDAT. Canonical chunk layout IHDR IDAT IEND.

PNG is lossless, so the round-trip contract is byte identity
(decode(encode(x))["pixels"] == x), property-tested like BMP/WAV; the
decoder's filter reconstruction is additionally exercised against
hand-filtered streams in tests/test_png_py.py.

Reference parity note: the reference engine has no multimodal layer
(/root/reference/glue/glue_etl_framework.py is tabular-only); this module
belongs to the training-data pipeline extensions (SURVEY §2.13).
"""

from __future__ import annotations

import struct
import zlib

_MAGIC = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (8-bit only in this profile)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_COLOR_TYPE = {1: 0, 3: 2, 2: 4, 4: 6}  # n_channels -> color type


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, pixels: bytes, n_channels: int = 3) -> bytes:
    """Encode 8-bit samples (row-major, interleaved channels, top-down —
    the ``encode_jpeg`` convention) as a canonical PNG."""
    if width <= 0 or height <= 0:
        raise ValueError("png: dimensions must be positive")
    if n_channels not in _COLOR_TYPE:
        raise ValueError("png: n_channels must be 1, 2, 3 or 4")
    if len(pixels) != width * height * n_channels:
        raise ValueError(
            f"png: expected {width * height * n_channels} bytes, got {len(pixels)}"
        )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, _COLOR_TYPE[n_channels], 0, 0, 0)
    stride = width * n_channels
    raw = bytearray()
    for y in range(height):
        raw.append(0)  # filter type 0 (None)
        raw += pixels[y * stride : (y + 1) * stride]
    return (
        _MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(blob: bytes) -> dict:
    """Decode a PNG in the 8-bit non-interlaced profile; returns
    ``{"width", "height", "n_channels", "pixels"}`` (bytes, row-major,
    interleaved, top-down)."""
    if len(blob) < 8 or blob[:8] != _MAGIC:
        raise ValueError("png: bad signature")
    pos = 8
    ihdr = None
    idat = bytearray()
    seen_iend = False
    while pos < len(blob):
        if pos + 8 > len(blob):
            raise ValueError("png: truncated chunk header")
        (length,) = struct.unpack_from(">I", blob, pos)
        ctype = blob[pos + 4 : pos + 8]
        end = pos + 8 + length
        if end + 4 > len(blob):
            raise ValueError("png: truncated chunk")
        payload = blob[pos + 8 : end]
        (crc,) = struct.unpack_from(">I", blob, end)
        if crc != (zlib.crc32(ctype + payload) & 0xFFFFFFFF):
            raise ValueError(f"png: CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = payload
        elif ctype == b"IDAT":
            idat += payload
        elif ctype == b"PLTE":
            raise ValueError("png: palette images are outside the profile")
        elif ctype == b"IEND":
            seen_iend = True
            break
        # ancillary chunks (tEXt, gAMA, ...) are skipped
        pos = end + 4
    if ihdr is None or not idat or not seen_iend:
        raise ValueError("png: missing IHDR/IDAT/IEND")
    width, height, depth, ctype_v, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8:
        raise ValueError(f"png: only 8-bit depth supported (got {depth})")
    if ctype_v not in _CHANNELS:
        raise ValueError(f"png: unsupported color type {ctype_v}")
    if comp != 0 or filt != 0:
        raise ValueError("png: unknown compression/filter method")
    if interlace != 0:
        raise ValueError("png: interlaced streams are outside the profile")
    nch = _CHANNELS[ctype_v]
    stride = width * nch
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"png: IDAT inflate failed ({exc})") from exc
    if len(raw) != (stride + 1) * height:
        raise ValueError("png: decompressed size mismatch")
    out = bytearray(stride * height)
    prev = bytes(stride)
    for y in range(height):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        line = bytearray(raw[row_start + 1 : row_start + 1 + stride])
        if ftype == 0:  # None
            pass
        elif ftype == 1:  # Sub
            for i in range(nch, stride):
                line[i] = (line[i] + line[i - nch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - nch] if i >= nch else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - nch] if i >= nch else 0
                up_left = prev[i - nch] if i >= nch else 0
                line[i] = (line[i] + _paeth(left, prev[i], up_left)) & 0xFF
        else:
            raise ValueError(f"png: unknown filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = bytes(line)
    return {
        "width": width,
        "height": height,
        "n_channels": nch,
        "pixels": bytes(out),
    }
