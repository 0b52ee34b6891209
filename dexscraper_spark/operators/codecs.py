"""Pure-Python image and audio codecs for the multimodal stages — REAL
formats, no external libraries.

* BMP: uncompressed 24/32-bit BITMAPINFOHEADER (bottom-up or top-down
  rows, 4-byte row padding).
* PNG: 8-bit greyscale/RGB/RGBA, non-interlaced — full zlib inflate
  (stdlib) + all five scanline filters (None/Sub/Up/Average/Paeth).
* WAV: RIFF PCM audio, 8/16-bit, any channel count (decode + O(1)
  probe + encoder twin; cross-checked against the stdlib ``wave``
  module in tests).

Every other format (JPEG, WebP, compressed audio, any video container)
needs a real codec library and raises the marked ``NotImplementedError``
from :func:`decode_image`; the bulk media stages give such rows null
metadata.

Decoded output is canonical row-major top-down pixel bytes (images) /
interleaved PCM bytes (audio), so ``decode_image``/``decode_wav`` give
the multimodal operators real-codec paths next to the deterministic
FAKE container.
"""

from __future__ import annotations

import struct
import zlib

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# PNG color type → channels (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def sniff_format(data: bytes) -> str | None:
    if data[:2] == b"BM":
        return "bmp"
    if data[:8] == PNG_SIGNATURE:
        return "png"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    return None


def probe_image(data: bytes) -> dict | None:
    """O(1) metadata read — dims/channels straight from the fixed-offset
    headers (BMP: offsets 18/22/28; PNG: IHDR at byte 16), no pixel
    decode. The metadata scan stage must not pay a full per-pixel
    Python inflate+unfilter just to learn width×height.

    Returns {format, width, height, channels} or None if the payload is
    not a recognizable BMP/PNG header. Never raises on truncated
    input."""
    try:
        if data[:2] == b"BM" and len(data) >= 30:
            width = struct.unpack_from("<i", data, 18)[0]
            height = abs(struct.unpack_from("<i", data, 22)[0])
            bpp = struct.unpack_from("<H", data, 28)[0]
            if width <= 0 or bpp % 8:
                return None
            return {"format": "bmp", "width": width, "height": height,
                    "channels": bpp // 8}
        if data[:8] == PNG_SIGNATURE and len(data) >= 26:
            width, height = struct.unpack_from(">II", data, 16)
            color_type = data[25]
            ch = _PNG_CHANNELS.get(color_type)
            if width <= 0 or ch is None:
                return None
            return {"format": "png", "width": width, "height": height,
                    "channels": ch}
    except (struct.error, IndexError):
        return None
    return None


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------

def decode_bmp(data: bytes) -> dict:
    """Uncompressed 24/32-bit BMP → {width, height, channels, pixels}
    (pixels: row-major top-down, per-pixel RGB(A) byte order)."""
    if data[:2] != b"BM" or len(data) < 54:
        raise ValueError("not a BMP file")
    pixel_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    width = struct.unpack_from("<i", data, 18)[0]
    height_raw = struct.unpack_from("<i", data, 22)[0]
    if width <= 0:
        raise ValueError(f"invalid BMP width {width}")
    planes, bpp = struct.unpack_from("<HH", data, 26)
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression != 0:
        raise ValueError(f"compressed BMP (method {compression}) unsupported")
    if bpp not in (24, 32):
        raise ValueError(f"only 24/32-bit BMP supported, got {bpp}")
    channels = bpp // 8
    top_down = height_raw < 0
    height = abs(height_raw)
    row_stride = (width * channels + 3) & ~3
    out = bytearray()
    for row in range(height):
        src_row = row if top_down else height - 1 - row
        start = pixel_off + src_row * row_stride
        line = data[start:start + width * channels]
        # BMP stores BGR(A); canonicalize to RGB(A)
        for px in range(width):
            p = px * channels
            out.append(line[p + 2])
            out.append(line[p + 1])
            out.append(line[p])
            if channels == 4:
                out.append(line[p + 3])
    return {"format": "bmp", "width": width, "height": height,
            "channels": channels, "pixels": bytes(out)}


def encode_bmp(width: int, height: int, pixels: bytes,
               channels: int = 3) -> bytes:
    """Canonical RGB top-down pixels → 24-bit uncompressed BMP
    (bottom-up, padded rows) — the standard layout other tools emit."""
    if channels != 3:
        raise ValueError("encoder emits 24-bit BMP only")
    row_stride = (width * 3 + 3) & ~3
    body = bytearray()
    for row in range(height - 1, -1, -1):
        line = bytearray()
        for px in range(width):
            p = (row * width + px) * 3
            line += bytes((pixels[p + 2], pixels[p + 1], pixels[p]))  # BGR
        line += b"\x00" * (row_stride - len(line))
        body += line
    pixel_off = 14 + 40
    file_size = pixel_off + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, pixel_off)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(body), 2835, 2835, 0, 0)
    return header + info + body


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> dict:
    """8-bit non-interlaced PNG → {width, height, channels, pixels}
    (top-down RGB(A)/grey bytes). Full inflate + scanline unfiltering."""
    if data[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG file")
    pos, width = 8, None
    idat = bytearray()
    while pos < len(data):
        length, ctype = struct.unpack_from(">I4s", data, pos)
        chunk = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", chunk)
            if depth != 8:
                raise ValueError(f"only 8-bit depth supported, got {depth}")
            if color not in _PNG_CHANNELS:
                raise ValueError(f"unsupported color type {color}")
            if interlace != 0:
                raise ValueError("interlaced PNG unsupported")
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    out = bytearray()
    prev = bytearray(stride)
    for row in range(height):
        off = row * (stride + 1)
        ftype = raw[off]
        line = bytearray(raw[off + 1:off + 1 + stride])
        if ftype == 1:      # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:    # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:    # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:    # Paeth
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                up_left = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(left, prev[i], up_left)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter {ftype}")
        out += line
        prev = line
    return {"format": "png", "width": width, "height": height,
            "channels": channels, "pixels": bytes(out)}


def encode_png(width: int, height: int, pixels: bytes, *, channels: int = 3,
               filter_type: int = 0) -> bytes:
    """Minimal PNG writer (8-bit, one filter type for all rows) — used to
    produce real test files whose expected pixels are known independently
    of the decoder."""
    color = {1: 0, 3: 2, 4: 6}[channels]
    stride = width * channels
    raw = bytearray()
    prev = bytearray(stride)
    for row in range(height):
        line = bytearray(pixels[row * stride:(row + 1) * stride])
        enc = bytearray(line)
        if filter_type == 1:
            for i in range(stride - 1, channels - 1, -1):
                enc[i] = (line[i] - line[i - channels]) & 0xFF
        elif filter_type == 2:
            for i in range(stride):
                enc[i] = (line[i] - prev[i]) & 0xFF
        elif filter_type == 3:
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                enc[i] = (line[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif filter_type == 4:
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                up_left = prev[i - channels] if i >= channels else 0
                enc[i] = (line[i] - _paeth(left, prev[i], up_left)) & 0xFF
        raw.append(filter_type)
        raw += enc
        prev = line

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + ctype + payload
                + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (PNG_SIGNATURE + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def decode_image(data: bytes) -> dict:
    """Dispatch: real BMP/PNG decode; anything else raises (JPEG, WebP
    etc. need a real codec library)."""
    fmt = sniff_format(data)
    if fmt == "bmp":
        return decode_bmp(data)
    if fmt == "png":
        return decode_png(data)
    raise NotImplementedError(
        "STUB: only BMP/PNG have pure-Python decoders; "
        "other formats need a real codec library")


# ---------------------------------------------------------------------------
# WAV (RIFF PCM) — the real audio twin of the image codecs
# ---------------------------------------------------------------------------

def _wav_chunks(data: bytes):
    """Yield (fourcc, payload) for each RIFF sub-chunk, honouring the
    word-alignment pad byte after odd-sized chunks."""
    pos = 12  # past RIFF size WAVE
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        yield cid, data[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)


def probe_audio(data: bytes) -> dict | None:
    """O(1) WAV metadata — fmt-chunk fields + data size, no sample
    copy. Returns {format, sample_rate, channels, sample_width,
    n_samples} or None (never raises on truncated/foreign input)."""
    try:
        if sniff_format(data) != "wav":
            return None
        fmt = None
        for cid, chunk in _wav_chunks(data):
            if cid == b"fmt " and len(chunk) >= 16:
                fmt = struct.unpack_from("<HHIIHH", chunk, 0)
            elif cid == b"data" and fmt is not None:
                tag, ch, rate, _bps, _align, bits = fmt
                if tag != 1 or bits not in (8, 16) or ch < 1:
                    return None
                width = bits // 8
                return {"format": "wav", "sample_rate": rate,
                        "channels": ch, "sample_width": width,
                        "n_samples": len(chunk) // (width * ch)}
    except (struct.error, IndexError):
        return None
    return None


def decode_wav(data: bytes) -> dict:
    """RIFF PCM WAV → {format, sample_rate, channels, sample_width,
    n_samples, samples} with ``samples`` the raw interleaved PCM bytes
    of the data chunk (8-bit unsigned or 16-bit little-endian signed —
    the two PCM layouts the format defines for these widths). Raises
    ValueError on malformed input, NotImplementedError on non-PCM
    (float/ADPCM/extensible) or 24/32-bit streams."""
    if sniff_format(data) != "wav":
        raise ValueError("not a WAV file")
    fmt = None
    for cid, chunk in _wav_chunks(data):
        if cid == b"fmt ":
            if len(chunk) < 16:
                raise ValueError("WAV: truncated fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", chunk, 0)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("WAV: data chunk before fmt")
            tag, ch, rate, _bps, _align, bits = fmt
            if tag != 1:
                raise NotImplementedError(
                    f"WAV: only PCM (format tag 1) supported, got {tag}")
            if bits not in (8, 16):
                raise NotImplementedError(
                    f"WAV: only 8/16-bit PCM supported, got {bits}")
            if ch < 1:
                raise ValueError("WAV: zero channels")
            width = bits // 8
            frame = width * ch
            n = len(chunk) // frame
            return {"format": "wav", "sample_rate": rate,
                    "channels": ch, "sample_width": width,
                    "n_samples": n, "samples": chunk[:n * frame]}
    raise ValueError("WAV: no data chunk")


def encode_wav(samples: bytes, *, sample_rate: int, channels: int = 1,
               sample_width: int = 2) -> bytes:
    """Interleaved PCM bytes → canonical 44-byte-header RIFF WAV (the
    test-fixture twin; also cross-checked against the stdlib ``wave``
    writer in tests)."""
    if sample_width not in (1, 2):
        raise ValueError("encode_wav: sample_width must be 1 or 2")
    if channels < 1:
        raise ValueError("encode_wav: channels must be >= 1")
    frame = sample_width * channels
    if len(samples) % frame:
        raise ValueError("encode_wav: samples not a whole frame count")
    byte_rate = sample_rate * frame
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate,
                      frame, sample_width * 8)
    out = (b"RIFF" + struct.pack("<I", 36 + len(samples)) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + fmt
           + b"data" + struct.pack("<I", len(samples)) + samples)
    return out

