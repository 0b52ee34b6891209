"""Real image codecs (operators/codecs.py): byte-exact BMP and PNG decode
with no external libraries, and the multimodal decode stage recognizing
real files next to the FAKE container."""

from __future__ import annotations

import struct
import zlib

import pytest

from dexscraper_spark.operators.codecs import (
    PNG_SIGNATURE, decode_bmp, decode_image, decode_png, encode_bmp,
    encode_png, sniff_format,
)


def _gradient(width: int, height: int, channels: int = 3) -> bytes:
    return bytes(((x * 7 + y * 13 + c * 29) % 256)
                 for y in range(height) for x in range(width)
                 for c in range(channels))


def test_bmp_decode_hand_built_file_byte_exact():
    """A 2x2 24-bit BMP assembled by hand from the spec (bottom-up rows,
    BGR order, 4-byte padding) decodes to the exact expected pixels."""
    # pixels (top-down RGB): (255,0,0) (0,255,0) / (0,0,255) (255,255,255)
    bottom_row = bytes((255, 0, 0)) + bytes((255, 255, 255))   # BGR of row 1
    top_row = bytes((0, 0, 255)) + bytes((0, 255, 0))          # BGR of row 0
    body = bottom_row + b"\x00\x00" + top_row + b"\x00\x00"    # stride 8
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    img = decode_bmp(header + info + body)
    assert (img["width"], img["height"], img["channels"]) == (2, 2, 3)
    assert img["pixels"] == bytes((255, 0, 0, 0, 255, 0,
                                   0, 0, 255, 255, 255, 255))


def test_bmp_encode_decode_roundtrip():
    px = _gradient(5, 3)
    img = decode_bmp(encode_bmp(5, 3, px))
    assert img["pixels"] == px
    assert (img["width"], img["height"]) == (5, 3)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [1, 3, 4])
def test_png_decode_all_filters_byte_exact(filter_type, channels):
    """Every PNG scanline filter (None/Sub/Up/Average/Paeth) un-filters to
    the exact source pixels, for grey/RGB/RGBA."""
    px = _gradient(6, 4, channels)
    data = encode_png(6, 4, px, channels=channels, filter_type=filter_type)
    img = decode_png(data)
    assert img["pixels"] == px
    assert (img["width"], img["height"], img["channels"]) == (6, 4, channels)


def test_png_decode_multi_idat_and_ihdr_fields():
    """IDAT split across chunks must reassemble before inflate."""
    px = _gradient(4, 4)
    data = encode_png(4, 4, px, filter_type=2)
    # split the single IDAT into two chunks
    sig, rest = data[:8], data[8:]
    chunks, pos = [], 0
    while pos < len(rest):
        ln = struct.unpack_from(">I", rest, pos)[0]
        chunks.append((rest[pos + 4:pos + 8], rest[pos + 8:pos + 8 + ln]))
        pos += 12 + ln
    out = sig
    for ctype, payload in chunks:
        parts = [payload[:3], payload[3:]] if ctype == b"IDAT" else [payload]
        for p in parts:
            out += (struct.pack(">I", len(p)) + ctype + p
                    + struct.pack(">I", zlib.crc32(ctype + p) & 0xFFFFFFFF))
    assert decode_png(out)["pixels"] == px


def test_decode_image_dispatch_and_remaining_stub():
    assert sniff_format(encode_bmp(2, 2, _gradient(2, 2))) == "bmp"
    assert sniff_format(PNG_SIGNATURE + b"x") == "png"
    # JPEG, like WebP, needs an external codec library: it is not
    # sniffed and takes the marked stub path
    assert sniff_format(b"\xff\xd8\xff\xe0fakejpeg") is None
    for data in (b"\xff\xd8\xff\xe0fakejpeg", b"RIFFxxxxWEBPdata"):
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_image(data)


def test_multimodal_meta_decodes_real_files(spark):
    """decode_media_meta handles real BMP/PNG payloads next to FAKE
    containers: dims from the real headers, decoded pixels as body."""
    import pandas as pd
    from dexscraper_spark.operators.multimodal import (
        decode_media_meta, encode_fake_media)
    px = _gradient(8, 5)
    rows = [
        (0, "image", encode_bmp(8, 5, px)),
        (1, "image", encode_png(8, 5, px, filter_type=4)),
        (2, "image", encode_fake_media("image", width=4, height=4,
                                       channels=3, body=bytes(48))),
    ]
    media = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "kind", "payload"]))
    meta = {r["media_id"]: r for r in decode_media_meta(media).collect()}
    assert meta[0]["format"] == "bmp"
    assert (meta[0]["width"], meta[0]["height"], meta[0]["channels"]) == (8, 5, 3)
    assert meta[1]["format"] == "png"
    assert (meta[1]["width"], meta[1]["height"]) == (8, 5)
    assert meta[2]["format"] == "fake"
