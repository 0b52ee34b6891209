"""Multimodal plumbing tests: schema, batch shapes, frame explode,
feature vectors feeding the similarity operator and video dedup over
the FAKE container, the one media format the stages read. Every other
payload (BMP, PNG, JPEG, WAV, corrupt bytes) gets null metadata and
embeds its raw bytes."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from dexscraper_spark.operators.multimodal import (
    FEATURE_DIM, decode_media_meta, encode_fake_media, extract_features,
    sample_frames, synthetic_media, _embed_body, _parse_header,
)


def test_decode_meta_schema_and_pruning(spark):
    media = synthetic_media(spark, 12)
    meta = decode_media_meta(media)
    rows = {r["media_id"]: r for r in meta.collect()}
    assert len(rows) == 12
    img = rows[0]
    assert img["kind"] == "image" and img["format"] == "fake"
    assert img["width"] == 16 and img["height"] == 9 and img["channels"] == 3
    assert img["payload_bytes"] > img["width"] * img["height"]
    aud = rows[1]
    assert aud["kind"] == "audio" and aud["sample_rate"] == 8000
    vid = rows[2]
    assert vid["kind"] == "video" and vid["n_frames"] >= 4
    # metadata-only aggregation works without touching payloads
    agg = meta.groupBy("kind").agg(F.count(F.lit(1)).alias("n")).collect()
    assert sum(r["n"] for r in agg) == 12


def test_sample_frames_explodes_videos(spark):
    media = synthetic_media(spark, 6)   # media 2 and 5 are videos
    frames = sample_frames(media, every=2).collect()
    by_media = {}
    for f in frames:
        by_media.setdefault(f["media_id"], []).append(f)
    assert set(by_media) == {2, 5}
    for frames_list in by_media.values():
        idxs = sorted(f["frame_index"] for f in frames_list)
        assert idxs == list(range(0, 2 * len(idxs), 2))
        sizes = {len(f["frame"]) for f in frames_list}
        assert len(sizes) == 1  # constant frame byte size


def test_features_feed_similarity(spark):
    from dexscraper_spark.operators.similarity import cosine_topk
    media = synthetic_media(spark, 9)
    feats = extract_features(media)
    rows = feats.collect()
    assert all(len(r["embedding"]) == FEATURE_DIM for r in rows)
    assert all(abs(sum(r["embedding"]) - 1.0) < 1e-9 for r in rows)
    ann = cosine_topk(
        feats.withColumnRenamed("media_id", "vec_id"),
        feats.withColumnRenamed("media_id", "vec_id").filter(F.col("vec_id") == 0),
        k=3, dim=FEATURE_DIM)
    got = ann.collect()
    assert len(got) == 3 and all(r["query_id"] == 0 for r in got)


def _jpeg_header(w=8, h=8, nc=1):
    """A JFIF stream up to its SOF0 frame header: enough for any real
    decoder to read the dims; here it must get null metadata."""
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = struct.pack(">BHHB", 8, h, w, nc) + b"\x01\x11\x00" * nc
    return (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
            + b"\xff\xc0" + struct.pack(">H", 2 + len(sof0)) + sof0
            + b"\xff\xd9")


def test_malformed_payload_yields_null_meta(spark):
    import pandas as pd
    from dexscraper_spark.operators.multimodal import MEDIA_SCHEMA
    pdf = pd.DataFrame({"media_id": [0, 1, 2],
                        "kind": ["image", "image", "image"],
                        "payload": [b"NOTFAKE123456789", b"",
                                    _jpeg_header()]})
    meta = decode_media_meta(spark.createDataFrame(pdf, schema=MEDIA_SCHEMA))
    rows = meta.collect()
    assert len(rows) == 3 and all(r["format"] is None for r in rows)


def test_decode_media_meta_corrupt_payload_yields_null_meta(spark):
    """One unsupported/corrupt image must not abort the whole job."""
    import pandas as pd
    from dexscraper_spark.operators.multimodal import (
        MEDIA_SCHEMA, decode_media_meta)
    truncated_png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 4  # signature, no IHDR
    pdf = pd.DataFrame([(0, "image", truncated_png),
                        (1, "image", b"BM" + b"\x00" * 10)],  # short BMP
                       columns=["media_id", "kind", "payload"])
    rows = decode_media_meta(
        spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)).collect()
    assert len(rows) == 2
    assert all(r.format is None and r.width is None for r in rows)


# ---------------------------------------------------------------------------
# Video: FAKE-container frame sampling composed with features + dedup


def test_video_frame_starting_with_magic_embeds_all_its_pixels(spark):
    """A sampled frame is a one-frame FAKE image, so raw pixels that
    happen to start with the container magic are never parsed as a
    header: the frame embeds all of its bytes."""
    from dexscraper_spark.operators.multimodal import video_features

    frame = b"FAKE" + bytes(range(60))      # one 8x8 greyscale frame
    video = encode_fake_media("video", width=8, height=8, channels=1,
                              n_frames=2, body=frame * 2)
    media = spark.createDataFrame(
        [(1, "video", video)], "media_id long, kind string, payload binary")

    frames = sample_frames(media, every=1).collect()
    assert [f["frame_index"] for f in frames] == [0, 1]
    for f in frames:
        hdr = _parse_header(bytes(f["frame"]))
        assert hdr["kind"] == "image" and hdr["body"] == frame
        assert (hdr["width"], hdr["height"], hdr["channels"]) == (8, 8, 1)
    [row] = video_features(media, every=1).collect()
    assert row["embedding"] == pytest.approx(
        _embed_body(frame, FEATURE_DIM), abs=1e-12)


def test_video_dedup_composes_frames_features_semdedup(spark):
    """The video end-to-end story: two videos with the same visual
    content (the second a longer clip of the same scene, so the
    payload bytes differ) collapse to the min media_id; a visually
    different video and a non-video row pass through."""
    from dexscraper_spark.operators.multimodal import (video_dedup,
                                                       video_features)

    def scene_video(val, n=4, w=16, h=12):
        frame = bytes((val + i % 3) % 256 for i in range(w * h * 3))
        return encode_fake_media("video", width=w, height=h, channels=3,
                                 n_frames=n, body=frame * n)

    a = scene_video(10)           # media 1
    dup = scene_video(10, n=6)    # media 2: same visual content
    assert dup != a
    c = scene_video(200)          # media 3: different content
    rows = [(1, "video", a), (2, "video", dup),
            (3, "video", c), (9, "image", b"\x00" * 8)]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary")

    feats = {r["media_id"]: r["embedding"]
             for r in video_features(media, every=1).collect()}
    assert set(feats) == {1, 2, 3}      # the image row never competed
    import math
    def cos(x, y):
        d = sum(a*b for a, b in zip(x, y))
        return d / (math.sqrt(sum(a*a for a in x))
                    * math.sqrt(sum(b*b for b in y)))
    assert cos(feats[1], feats[2]) > 0.99
    assert cos(feats[1], feats[3]) < 0.5

    kept = video_dedup(media, every=1, threshold=0.95, nlist=2)
    ids = sorted(r["media_id"] for r in kept.collect())
    assert ids == [1, 3, 9]             # 2 lost to 1; 3 and 9 untouched


def _bmp_file() -> bytes:
    """A 2x2 24-bit BMP (file header, BITMAPINFOHEADER, padded rows)."""
    body = bytes(range(6)) + b"\x00\x00" + bytes(range(6, 12)) + b"\x00\x00"
    return (struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(body),
                          2835, 2835, 0, 0)
            + body)


def _png_header() -> bytes:
    """A PNG signature and its IHDR chunk (4x4 RGB, 8-bit)."""
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + b"IHDR"
            + ihdr + struct.pack(">I", 0))


def _wav_file() -> bytes:
    """A RIFF PCM WAV: mono, 8 kHz, 8-bit, 64 samples."""
    pcm = bytes((x * 11) % 253 for x in range(64))
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    return (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)


def test_fused_meta_features_matches_two_kernels(spark):
    """decode_media_meta_features (ONE payload pass, no payload
    passthrough) must be field-for-field identical to joining
    decode_media_meta with extract_features — across the FAKE container,
    foreign headers (BMP, PNG, WAV), a None payload, and a corrupt
    payload. A foreign header is not read: its row gets null metadata
    and embeds its raw bytes."""
    import pandas as pd
    from dexscraper_spark.operators.multimodal import (
        MEDIA_SCHEMA, META_FEATURE_SCHEMA, decode_media_meta,
        decode_media_meta_features)

    foreign = {100: _bmp_file(), 101: _png_header(), 102: _wav_file()}
    extra = pd.DataFrame(
        [(100, "image", foreign[100]),
         (101, "image", foreign[101]),
         (102, "audio", foreign[102]),
         (103, "image", None),
         (104, "image", b"NOTFAKE123456789")],
        columns=["media_id", "kind", "payload"])
    media = synthetic_media(spark, 9).unionByName(
        spark.createDataFrame(extra, schema=MEDIA_SCHEMA))

    fused = {r["media_id"]: r
             for r in decode_media_meta_features(media).collect()}
    meta = {r["media_id"]: r for r in decode_media_meta(media).collect()}
    feats = {r["media_id"]: r for r in extract_features(media).collect()}

    assert set(fused) == set(meta) == set(feats)
    meta_fields = [f.name for f in META_FEATURE_SCHEMA.fields
                   if f.name != "embedding"]
    for mid, row in fused.items():
        for f in meta_fields:
            assert row[f] == meta[mid][f], (mid, f, row[f], meta[mid][f])
        assert row["embedding"] == feats[mid]["embedding"], mid
    for mid, raw in foreign.items():
        assert fused[mid]["format"] is None and meta[mid]["format"] is None
        assert fused[mid]["payload_bytes"] == len(raw)
        assert fused[mid]["embedding"] == _embed_body(raw, FEATURE_DIM), mid
    # the fused schema must not ship the payload back out of Python
    assert "payload" not in fused[0].asDict()
