"""Pure-Python GIF codec (GIF87a/89a, LZW) — the last common web-corpus
image container behind the multimodal decode gate, implemented from the
public specification (GIF89a spec / CompuServe; LZW per the spec's
variable-code-width variant) with no third-party dependency — the same
playbook as BMP/WAV (``media_codecs.py``), JPEG (``jpeg_py.py``) and PNG
(``png_py.py``).

Profile:

- **Decoder**: GIF87a and GIF89a, global and local color tables up to
  256 entries, full LZW (variable code width 3..12 bits LSB-first,
  clear/EOI codes, dictionary resets, deferred-clear streams), interlaced
  images (four-pass row order), extension blocks skipped (GCE, comments,
  application). Decodes the FIRST image descriptor — animated GIFs
  return frame 1 and report the total frame count; transparency is
  ignored (pixels come back as opaque palette RGB). Anything structurally
  outside the spec (bad signature, truncated sub-blocks, LZW code
  overflow) raises ValueError loudly.
- **Encoder**: GIF89a, one frame, global color table built from the
  image's distinct colors (<= 256 or ValueError), real LZW compression
  with dictionary resets, non-interlaced.

GIF is lossless over palettized content, so the round-trip contract is
byte identity on the RGB pixels (decode(encode(x))["pixels"] == x for any
image with <= 256 distinct colors), property-tested in
tests/test_gif_py.py alongside hand-interlaced streams and
dictionary-reset stress.

Reference parity note: the reference engine has no multimodal layer
(/root/reference/glue/glue_etl_framework.py is tabular-only); this module
belongs to the training-data pipeline extensions (SURVEY §2.13).
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------------------
# LZW (GIF variant: LSB-first variable-width codes, clear/EOI)
# ---------------------------------------------------------------------------


def _lzw_compress(indices: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh_dict() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(clear)}

    width = min_code_size + 1
    table = fresh_dict()
    next_code = eoi + 1
    emit(clear, width)
    buf = b""
    for b in indices:
        cand = buf + bytes([b])
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear, width)
            table = fresh_dict()
            next_code = eoi + 1
            width = min_code_size + 1
        buf = bytes([b])
    if buf:
        emit(table[buf], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int, n_expected: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("gif: LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("gif: LZW code before any output")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("gif: LZW code overflow")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
        if len(out) >= n_expected:
            # some encoders omit EOI or pad; stop at the pixel count
            break
    if len(out) < n_expected:
        raise ValueError("gif: LZW produced too few pixels")
    return bytes(out[:n_expected])


# ---------------------------------------------------------------------------
# Container
# ---------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def encode_gif(width: int, height: int, pixels: bytes) -> bytes:
    """Encode top-down row-major RGB bytes (<= 256 distinct colors) as a
    single-frame GIF89a with a global color table and real LZW."""
    if width <= 0 or height <= 0:
        raise ValueError("gif: dimensions must be positive")
    if len(pixels) != width * height * 3:
        raise ValueError(f"gif: expected {width * height * 3} bytes, got {len(pixels)}")
    colors: dict[bytes, int] = {}
    indices = bytearray()
    for i in range(0, len(pixels), 3):
        c = pixels[i : i + 3]
        idx = colors.get(c)
        if idx is None:
            idx = len(colors)
            if idx == 256:
                raise ValueError("gif: more than 256 distinct colors")
            colors[c] = idx
        indices.append(idx)
    # color table size: power of two >= max(2, len(colors))
    bits = max(1, (len(colors) - 1).bit_length())
    table_len = 1 << bits
    gct = bytearray()
    for c in colors:
        gct += c
    gct += bytes(3 * (table_len - len(colors)))
    min_code_size = max(2, bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out.append(0x80 | ((bits - 1) & 0x07))  # GCT flag + size
    out += b"\x00\x00"  # background index, aspect
    out += gct
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    out.append(min_code_size)
    data = _lzw_compress(bytes(indices), min_code_size)
    for i in range(0, len(data), 255):
        block = data[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def _read_subblocks(blob: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(blob):
            raise ValueError("gif: truncated sub-blocks")
        n = blob[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        if pos + n > len(blob):
            raise ValueError("gif: truncated sub-block body")
        out += blob[pos : pos + n]
        pos += n


def decode_gif(blob: bytes) -> dict:
    """Decode a GIF; returns ``{"width", "height", "n_channels": 3,
    "pixels", "n_frames"}`` — the FIRST frame's opaque RGB pixels plus
    the total image-descriptor count (animation length).

    Contract: only the FIRST frame is LZW-decoded, but the ENTIRE stream
    must be structurally intact — every later frame's descriptor, color
    table, and sub-block chain is walked (not decoded) to count
    ``n_frames``, and any truncation raises ValueError rather than
    silently under-reporting the frame count. This is deliberate
    fail-loudly behavior: a corpus GIF whose tail is truncated is a
    damaged asset, and the pipeline should quarantine it, not emit a
    plausible-looking partial count."""
    if len(blob) < 13 or blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad signature")
    _sw, _sh = struct.unpack_from("<HH", blob, 6)
    packed = blob[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = blob[pos : pos + 3 * n]
        if len(gct) < 3 * n:
            raise ValueError("gif: truncated global color table")
        pos += 3 * n
    first = None  # (w, h, pixels)
    n_frames = 0
    while pos < len(blob):
        b = blob[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            if pos >= len(blob):
                raise ValueError("gif: truncated extension")
            pos += 1
            _, pos = _read_subblocks(blob, pos)
            continue
        if b != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{b:02X}")
        if pos + 9 > len(blob):
            raise ValueError("gif: truncated image descriptor")
        _x, _y, w, h = struct.unpack_from("<HHHH", blob, pos)
        flags = blob[pos + 8]
        pos += 9
        table = gct
        if flags & 0x80:  # local color table
            n = 2 << (flags & 0x07)
            table = blob[pos : pos + 3 * n]
            if len(table) < 3 * n:
                raise ValueError("gif: truncated local color table")
            pos += 3 * n
        if table is None:
            raise ValueError("gif: no color table for image")
        if pos >= len(blob):
            raise ValueError("gif: missing LZW code size")
        min_code_size = blob[pos]
        pos += 1
        if not 2 <= min_code_size <= 11:
            raise ValueError(f"gif: bad LZW min code size {min_code_size}")
        data, pos = _read_subblocks(blob, pos)
        n_frames += 1
        if first is None:
            idx = _lzw_decompress(data, min_code_size, w * h)
            if flags & 0x40:  # interlaced: reorder rows
                rows = [idx[r * w : (r + 1) * w] for r in range(h)]
                ordered: list[bytes | None] = [None] * h
                src = 0
                for start, step in _INTERLACE_PASSES:
                    for y in range(start, h, step):
                        ordered[y] = rows[src]
                        src += 1
                idx = b"".join(r for r in ordered if r is not None)
            px = bytearray(w * h * 3)
            tlen = len(table) // 3
            for i, k in enumerate(idx):
                if k >= tlen:
                    raise ValueError("gif: palette index out of range")
                px[3 * i : 3 * i + 3] = table[3 * k : 3 * k + 3]
            first = (w, h, bytes(px))
    if first is None:
        raise ValueError("gif: no image descriptor")
    w, h, px = first
    return {
        "width": w,
        "height": h,
        "n_channels": 3,
        "pixels": px,
        "n_frames": n_frames,
    }
