"""Pure-Python BMP and WAV codecs — closing the multimodal decode gate
offline (same playbook as ``io/avro_py.py``: the container ships no image/
audio libraries, so implement the simplest real container formats from
their public specifications and run REAL bytes through the mapInPandas
kernels instead of stubbing the decode step).

Formats implemented:

- **BMP**: Windows device-independent bitmap, 24-bit uncompressed BI_RGB —
  BITMAPFILEHEADER (14 bytes) + BITMAPINFOHEADER (40 bytes) + bottom-up
  BGR rows padded to 4-byte boundaries. The uncompressed 24-bit profile is
  the format's lowest common denominator: every image tool can read the
  files these functions write (cross-checked by header-field tests).
- **WAV**: RIFF/WAVE with a 16-byte ``fmt `` chunk and a ``data`` chunk
  (written by ``wav_container``): PCM signed 16-bit (format 1), G.711
  mu-law (format 7) and G.711 A-law (format 6), the two G.711 variants
  decoded to linear 16-bit through the canonical CCITT expansions — pure
  integer arithmetic, SQL-replicable.

Both are byte-exact round-trip codecs (decode(encode(x)) == x, property-
tested in tests/test_media_codecs.py). They intentionally reject
anything outside the implemented profile loudly (ValueError with the
offending field) rather than guessing — a decode gate should fail honest.
The module imports only the stdlib, so ``session.ship_module`` can ship it
to executor workers that import it flat (``ext.multimodal.map_rows``).

Reference parity note: the reference engine has no multimodal layer at all
(its surface is Spark SQL over tabular sources — /root/reference/glue/
glue_etl_framework.py); this module belongs to the large-scale training-data
pipeline extensions.
"""

from __future__ import annotations

import struct


# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed BI_RGB)
# ---------------------------------------------------------------------------

_BMP_FILE_HEADER = struct.Struct("<2sIHHI")   # magic, file size, res, res, offset
_BMP_INFO_HEADER = struct.Struct("<IiiHHIIiiII")


def _bmp_row_stride(width: int) -> int:
    return (width * 3 + 3) & ~3


def encode_bmp(width: int, height: int, pixels: bytes) -> bytes:
    """Encode top-down row-major RGB bytes (len == width*height*3) as a
    24-bit uncompressed BMP (bottom-up BGR rows, 4-byte-padded)."""
    if width <= 0 or height <= 0:
        raise ValueError(f"bmp dimensions must be positive: {width}x{height}")
    expected = width * height * 3
    if len(pixels) != expected:
        raise ValueError(f"pixel buffer is {len(pixels)} bytes, need {expected}")
    stride = _bmp_row_stride(width)
    pad = b"\x00" * (stride - width * 3)
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray(width * 3)
        base = y * width * 3
        # RGB -> BGR per pixel
        row[0::3] = pixels[base + 2 : base + width * 3 : 3]
        row[1::3] = pixels[base + 1 : base + width * 3 : 3]
        row[2::3] = pixels[base : base + width * 3 : 3]
        rows.append(bytes(row) + pad)
    data = b"".join(rows)
    offset = _BMP_FILE_HEADER.size + _BMP_INFO_HEADER.size
    file_header = _BMP_FILE_HEADER.pack(b"BM", offset + len(data), 0, 0, offset)
    info_header = _BMP_INFO_HEADER.pack(
        _BMP_INFO_HEADER.size, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return file_header + info_header + data


def decode_bmp(blob: bytes) -> dict:
    """Decode a 24-bit uncompressed BMP; returns ``{"width", "height",
    "n_channels", "pixels"}`` with pixels as top-down row-major RGB bytes.
    Rejects any file outside the implemented profile loudly."""
    if len(blob) < _BMP_FILE_HEADER.size + _BMP_INFO_HEADER.size:
        raise ValueError("bmp: truncated header")
    magic, _file_size, _r1, _r2, offset = _BMP_FILE_HEADER.unpack_from(blob, 0)
    if magic != b"BM":
        raise ValueError(f"bmp: bad magic {magic!r}")
    (
        hdr_size,
        width,
        height,
        planes,
        bpp,
        compression,
        _img_size,
        _xppm,
        _yppm,
        _ncolors,
        _nimportant,
    ) = _BMP_INFO_HEADER.unpack_from(blob, _BMP_FILE_HEADER.size)
    if hdr_size < _BMP_INFO_HEADER.size:
        raise ValueError(f"bmp: unsupported info-header size {hdr_size}")
    if planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(
            f"bmp: only 24-bit uncompressed supported (planes={planes}, "
            f"bpp={bpp}, compression={compression})"
        )
    bottom_up = height > 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError(f"bmp: bad dimensions {width}x{height}")
    stride = _bmp_row_stride(width)
    if len(blob) < offset + stride * height:
        raise ValueError("bmp: truncated pixel data")
    out = bytearray(width * height * 3)
    for row_idx in range(height):
        src_y = (height - 1 - row_idx) if bottom_up else row_idx
        src = offset + src_y * stride
        base = row_idx * width * 3
        # BGR -> RGB per pixel
        out[base : base + width * 3 : 3] = blob[src + 2 : src + width * 3 : 3]
        out[base + 1 : base + width * 3 : 3] = blob[src + 1 : src + width * 3 : 3]
        out[base + 2 : base + width * 3 : 3] = blob[src : src + width * 3 : 3]
    return {
        "width": width,
        "height": height,
        "n_channels": 3,
        "pixels": bytes(out),
    }


# ---------------------------------------------------------------------------
# WAV (RIFF/WAVE, PCM signed 16-bit little-endian)
# ---------------------------------------------------------------------------


def encode_wav(sample_rate: int, samples: list[int], n_channels: int = 1) -> bytes:
    """Encode signed 16-bit samples (interleaved if multi-channel) as a
    canonical PCM WAV file."""
    if sample_rate <= 0 or n_channels <= 0:
        raise ValueError("wav: sample_rate and n_channels must be positive")
    if len(samples) % n_channels:
        raise ValueError("wav: sample count not divisible by channel count")
    data = struct.pack(f"<{len(samples)}h", *samples)
    return wav_container(1, n_channels, sample_rate, 16, data)


def wav_container(
    format_code: int, n_channels: int, sample_rate: int, bits: int, data: bytes
) -> bytes:
    """Wrap already-encoded sample bytes in a canonical RIFF/WAVE file: one
    16-byte ``fmt `` chunk (format code 1 = PCM, 6 = G.711 A-law, 7 =
    G.711 mu-law; ``bits`` per stored sample) and one ``data`` chunk."""
    block_align = n_channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH",
        format_code, n_channels, sample_rate, sample_rate * block_align, block_align, bits,
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(blob: bytes) -> dict:
    """Decode a PCM 16-bit WAV; returns ``{"sample_rate", "n_channels",
    "samples"}`` (samples as a list of ints, interleaved). Walks the RIFF
    chunk list, so files with extra chunks (LIST/INFO) still decode."""
    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("wav: not a RIFF/WAVE file")
    pos, end = 12, len(blob)
    fmt = None
    data = None
    while pos + 8 <= end:
        cid = blob[pos : pos + 4]
        (size,) = struct.unpack_from("<I", blob, pos + 4)
        if pos + 8 + size > end:
            # reject loudly (module contract, like decode_bmp on truncated
            # pixel data): a silent slice would decode fewer samples
            raise ValueError("wav: truncated chunk")
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("wav: missing fmt/data chunk")
    if len(fmt) < 16:  # PCM fmt chunk is >= 16 bytes; corrupt sizes leak struct.error otherwise
        raise ValueError("wav: fmt chunk too short")
    audio_format, n_channels, sample_rate, _brate, _balign, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if audio_format == 1 and bits == 16:
        n = len(data) // 2
        samples = list(struct.unpack(f"<{n}h", data[: n * 2]))
    elif audio_format == 7 and bits == 8:  # G.711 mu-law
        samples = [mulaw_decode_byte(b) for b in data]
    elif audio_format == 6 and bits == 8:  # G.711 A-law
        samples = [alaw_decode_byte(b) for b in data]
    else:
        raise ValueError(
            f"wav: only PCM 16-bit and G.711 mu-law/A-law 8-bit supported "
            f"(format={audio_format}, bits={bits})"
        )
    return {"sample_rate": sample_rate, "n_channels": n_channels, "samples": samples}


# ---------------------------------------------------------------------------
# G.711 mu-law (WAV audio format 7) — ITU-T G.711 companding
# ---------------------------------------------------------------------------

_MULAW_BIAS = 0x84
_MULAW_MAX = 32635


def mulaw_decode_byte(b: int) -> int:
    """Expand one G.711 mu-law byte to a linear signed 16-bit sample (the
    canonical CCITT/Sun algorithm; pure integer arithmetic, so the decode
    table is exactly replicable in SQL — the mu-law decode-stats oracle
    relies on this)."""
    if not 0 <= b <= 255:
        raise ValueError("mulaw: byte out of range")
    c = ~b & 0xFF
    t = (((c & 0x0F) << 3) + _MULAW_BIAS) << ((c >> 4) & 0x07)
    return _MULAW_BIAS - t if c & 0x80 else t - _MULAW_BIAS


def mulaw_encode_sample(sample: int) -> int:
    """Compress one linear signed 16-bit sample to a G.711 mu-law byte."""
    if not -32768 <= sample <= 32767:
        raise ValueError("mulaw: sample out of range")
    sign = 0x80 if sample < 0 else 0
    mag = min(-sample if sample < 0 else sample, _MULAW_MAX) + _MULAW_BIAS
    exp = 7
    mask = 0x4000
    while exp > 0 and not mag & mask:
        mask >>= 1
        exp -= 1
    mant = (mag >> (exp + 3)) & 0x0F
    return ~(sign | (exp << 4) | mant) & 0xFF


def encode_wav_mulaw(sample_rate: int, samples: list[int], n_channels: int = 1) -> bytes:
    """Encode linear 16-bit samples as a G.711 mu-law WAV (format code 7,
    8 bits per stored sample)."""
    if sample_rate <= 0 or n_channels <= 0:
        raise ValueError("wav: sample_rate and n_channels must be positive")
    if len(samples) % n_channels:
        raise ValueError("wav: sample count not divisible by channel count")
    data = bytes(mulaw_encode_sample(s) for s in samples)
    return wav_container(7, n_channels, sample_rate, 8, data)


# ---------------------------------------------------------------------------
# G.711 A-law (WAV audio format 6) — the E1/European companding twin
# ---------------------------------------------------------------------------


def alaw_decode_byte(b: int) -> int:
    """Expand one G.711 A-law byte to a linear signed 16-bit sample (the
    canonical CCITT/Sun algorithm; pure integer arithmetic, SQL-replicable
    like the mu-law twin)."""
    if not 0 <= b <= 255:
        raise ValueError("alaw: byte out of range")
    c = b ^ 0x55  # even-bit inversion
    mag = c & 0x7F
    exp = mag >> 4
    mant = mag & 0x0F
    if exp == 0:
        t = (mant << 4) + 8
    else:
        t = ((mant << 4) + 0x108) << (exp - 1)
    return t if c & 0x80 else -t


def alaw_encode_sample(sample: int) -> int:
    """Compress one linear signed 16-bit sample to a G.711 A-law byte."""
    if not -32768 <= sample <= 32767:
        raise ValueError("alaw: sample out of range")
    sign = 0x80 if sample >= 0 else 0
    mag = min(sample if sample >= 0 else -sample, 32767)
    if mag < 256:
        byte = sign | (mag >> 4)
    else:
        exp = 0  # segment above the linear one: exp = floor(log2(mag)) - 8
        m = mag >> 8
        while m > 1:
            m >>= 1
            exp += 1
        mant = (mag >> (exp + 4)) & 0x0F
        byte = sign | ((exp + 1) << 4) | mant
    return byte ^ 0x55


def encode_wav_alaw(sample_rate: int, samples: list[int], n_channels: int = 1) -> bytes:
    """Encode linear 16-bit samples as a G.711 A-law WAV (format code 6,
    8 bits per stored sample)."""
    if sample_rate <= 0 or n_channels <= 0:
        raise ValueError("wav: sample_rate and n_channels must be positive")
    if len(samples) % n_channels:
        raise ValueError("wav: sample count not divisible by channel count")
    data = bytes(alaw_encode_sample(s) for s in samples)
    return wav_container(6, n_channels, sample_rate, 8, data)
