"""Multimodal plumbing tests: schema, batch shapes, frame explode,
feature vectors feeding the similarity operator, the real BMP/PNG/WAV
codec paths next to the FAKE container, video dedup over FAKE-container
videos, and stubbed formats (JPEG, WebP) raising the marked
NotImplementedError when decoded directly and yielding null metadata
through the bulk stages."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dexscraper_spark.operators.multimodal import (
    FEATURE_DIM, decode_media_meta, encode_fake_media, extract_features,
    resize_images, sample_frames, synthetic_media, _decode_real_image,
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


def test_resize_halves_dimensions(spark):
    media = synthetic_media(spark, 3)
    resized = decode_media_meta(resize_images(media, factor=2))
    r = resized.filter(F.col("media_id") == 0).collect()[0]
    assert (r["width"], r["height"]) == (8, 4)
    assert r["payload_bytes"] < 16 * 9 * 3


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
    decoder to read the dims; here it must take the stub path."""
    import struct as _struct
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = _struct.pack(">BHHB", 8, h, w, nc) + b"\x01\x11\x00" * nc
    return (b"\xff\xd8"
            + b"\xff\xe0" + _struct.pack(">H", 2 + len(app0)) + app0
            + b"\xff\xc0" + _struct.pack(">H", 2 + len(sof0)) + sof0
            + b"\xff\xd9")


def test_real_codec_path_decodes_bmp_png_jpeg():
    """BMP/PNG decode for real (pure-Python, tests/test_codecs.py);
    JPEG and every other format needing an external codec library take
    the stub path: decode_image raises, the bulk path yields None."""
    from dexscraper_spark.operators.codecs import (decode_image,
                                                   encode_bmp,
                                                   probe_image,
                                                   sniff_format)
    px = bytes(range(2 * 2 * 3))
    img = _decode_real_image(encode_bmp(2, 2, px))
    assert img["format"] == "bmp" and img["body"] == px
    # non-image bytes (the FAKE container) are not the real-codec path
    assert _decode_real_image(encode_fake_media(
        "image", width=2, height=2, channels=1, body=b"abcd")) is None
    jpeg = _jpeg_header()
    assert sniff_format(jpeg) is None and probe_image(jpeg) is None
    assert _decode_real_image(jpeg) is None
    for stubbed in (jpeg, b"RIFFxxxxWEBPdata"):
        with pytest.raises(NotImplementedError, match="STUB"):
            decode_image(stubbed)


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
    import struct as _struct
    import pandas as pd
    from dexscraper_spark.operators.codecs import PNG_SIGNATURE
    from dexscraper_spark.operators.multimodal import (
        MEDIA_SCHEMA, decode_media_meta)
    truncated_png = PNG_SIGNATURE + b"\x00" * 4  # signature, no IHDR
    pdf = pd.DataFrame([(0, "image", truncated_png),
                        (1, "image", b"BM" + b"\x00" * 10)],  # short BMP
                       columns=["media_id", "kind", "payload"])
    rows = decode_media_meta(
        spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)).collect()
    assert len(rows) == 2
    assert all(r.format is None and r.width is None for r in rows)


def test_probe_image_matches_full_decode_dims():
    from dexscraper_spark.operators.codecs import (
        decode_image, encode_bmp, encode_png, probe_image)
    px = bytes(range(48))  # 4x4 RGB
    for enc in (encode_bmp, encode_png):
        data = enc(4, 4, px, channels=3)
        probe, full = probe_image(data), decode_image(data)
        assert (probe["width"], probe["height"], probe["channels"]) == \
               (full["width"], full["height"], full["channels"])
        assert probe["format"] == full["format"]


def test_extract_features_format_independent(spark):
    """The same pixels as BMP vs PNG must embed identically (features over
    decoded pixels, not container bytes)."""
    import pandas as pd
    from dexscraper_spark.operators.codecs import encode_bmp, encode_png
    from dexscraper_spark.operators.multimodal import (
        MEDIA_SCHEMA, extract_features)
    px = bytes((x * 7) % 251 for x in range(4 * 4 * 3))
    pdf = pd.DataFrame(
        [(0, "image", encode_bmp(4, 4, px, channels=3)),
         (1, "image", encode_png(4, 4, px, channels=3))],
        columns=["media_id", "kind", "payload"])
    rows = {r.media_id: r.embedding for r in extract_features(
        spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)).collect()}
    assert rows[0] == rows[1]


# ---------------------------------------------------------------------------
# Real audio: RIFF PCM WAV codec + DSP feature stage


def _sine_wav(freq, *, sr=8000, n=4000, amp=0.5, channels=1, width=2):
    import struct as _struct

    import numpy as np

    from dexscraper_spark.operators.codecs import encode_wav
    t = np.arange(n) / sr
    x = amp * np.sin(2 * np.pi * freq * t)
    if width == 2:
        pcm = (x * 32767).astype("<i2")
    else:
        pcm = ((x * 127) + 128).astype(np.uint8)
    if channels == 2:
        pcm = np.repeat(pcm, 2)
    return encode_wav(pcm.tobytes(), sample_rate=sr, channels=channels,
                      sample_width=width), x


def test_wav_codec_roundtrip_and_stdlib_cross_check(tmp_path):
    """decode_wav against the INDEPENDENT stdlib wave module in both
    directions: my encoder's files parse identically in `wave`, and a
    `wave`-written file parses identically here."""
    import io
    import wave as stdwave

    import numpy as np

    from dexscraper_spark.operators.codecs import (decode_wav,
                                                   encode_wav,
                                                   probe_audio,
                                                   sniff_format)

    pcm = np.arange(-100, 100, dtype="<i2").tobytes()
    mine = encode_wav(pcm, sample_rate=16000, channels=2)
    assert sniff_format(mine) == "wav"
    r = stdwave.open(io.BytesIO(mine))
    # 200 int16 samples interleaved over 2 channels = 100 frames
    assert (r.getframerate(), r.getnchannels(), r.getsampwidth(),
            r.getnframes()) == (16000, 2, 2, 100)
    assert r.readframes(100) == pcm

    buf = io.BytesIO()
    w = stdwave.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(44100)
    w.writeframes(pcm)
    w.close()
    d = decode_wav(buf.getvalue())
    assert (d["sample_rate"], d["channels"], d["sample_width"],
            d["n_samples"]) == (44100, 1, 2, 200)
    assert d["samples"] == pcm
    p = probe_audio(buf.getvalue())
    assert p == {"format": "wav", "sample_rate": 44100, "channels": 1,
                 "sample_width": 2, "n_samples": 200}


def test_wav_codec_validation():
    import pytest as _pytest

    from dexscraper_spark.operators.codecs import decode_wav, encode_wav

    with _pytest.raises(ValueError, match="WAV"):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVE")  # no chunks
    # non-PCM format tag
    import struct as _struct
    fmt = _struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)  # float
    bad = (b"RIFF" + _struct.pack("<I", 36) + b"WAVE"
           + b"fmt " + _struct.pack("<I", 16) + fmt
           + b"data" + _struct.pack("<I", 0))
    with _pytest.raises(NotImplementedError, match="PCM"):
        decode_wav(bad)
    with _pytest.raises(ValueError, match="frame"):
        encode_wav(b"\x00\x01\x02", sample_rate=8000, channels=2)


def test_wav_flows_through_media_meta_stage(spark):
    """A real WAV payload gets typed metadata through the Spark stage —
    O(1) probe, no sample decode."""
    import pandas as pd

    from dexscraper_spark.operators.multimodal import (MEDIA_SCHEMA,
                                                       decode_media_meta)

    wav, _ = _sine_wav(440, sr=8000, n=1600, channels=2)
    pdf = pd.DataFrame([(0, "audio", wav)],
                       columns=["media_id", "kind", "payload"])
    [row] = decode_media_meta(
        spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)).collect()
    assert row["format"] == "wav" and row["sample_rate"] == 8000
    assert row["channels"] == 2 and row["n_frames"] == 1600


def test_audio_features_separate_tone_from_noise(spark):
    """Real DSP sanity on real WAVs: a 200 Hz tone at 8 kHz has
    zcr ≈ 2·f/sr = 0.05; white noise ≈ 0.5 — an order of magnitude
    apart. RMS of a 0.5-amp sine ≈ 0.354. Stereo mixdown and 8-bit
    width both decode."""
    import numpy as np
    import pandas as pd

    from dexscraper_spark.operators.codecs import encode_wav
    from dexscraper_spark.operators.multimodal import (MEDIA_SCHEMA,
                                                       audio_features)

    tone, _ = _sine_wav(200, sr=8000, n=4000, amp=0.5)
    rng = np.random.default_rng(5)
    noise = encode_wav(
        (rng.uniform(-0.9, 0.9, 4000) * 32767).astype("<i2").tobytes(),
        sample_rate=8000)
    tone8, _ = _sine_wav(200, sr=8000, n=4000, amp=0.5, width=1)
    stereo, _ = _sine_wav(200, sr=8000, n=4000, amp=0.5, channels=2)
    pdf = pd.DataFrame([(0, "audio", tone), (1, "audio", noise),
                        (2, "audio", tone8), (3, "audio", stereo),
                        (4, "audio", b"not audio")],
                       columns=["media_id", "kind", "payload"])
    rows = {r["media_id"]: r for r in audio_features(
        spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)).collect()}
    assert set(rows) == {0, 1, 2, 3}          # bad row dropped
    assert abs(rows[0]["rms"] - 0.354) < 0.02
    assert abs(rows[0]["zcr"] - 0.05) < 0.005
    assert rows[1]["zcr"] > 0.3               # noise
    assert abs(rows[2]["zcr"] - rows[0]["zcr"]) < 0.01   # 8-bit same
    assert abs(rows[3]["rms"] - rows[0]["rms"]) < 0.01   # mixdown same
    assert len(rows[0]["embedding"]) == 16
    # embedding feeds similarity: tone windows are uniform, noise isn't
    assert np.std(rows[0]["embedding"][:8]) < np.std(
        rows[1]["embedding"][:8]) + 0.05


def test_audio_features_fake_container_and_extract_features_wav(spark):
    """The FAKE audio container still flows through audio_features, and
    extract_features embeds a WAV's DECODED samples (re-wrapping the
    same PCM in a FAKE container with identical bytes embeds
    identically)."""
    import pandas as pd

    from dexscraper_spark.operators.multimodal import (
        MEDIA_SCHEMA, audio_features, encode_fake_media,
        extract_features)

    body = bytes((x * 7) % 251 for x in range(400))
    fake = encode_fake_media("audio", sample_rate=8000, channels=1,
                             body=body)
    from dexscraper_spark.operators.codecs import encode_wav
    wav8 = encode_wav(body, sample_rate=8000, channels=1,
                      sample_width=1)
    pdf = pd.DataFrame([(0, "audio", fake), (1, "audio", wav8)],
                       columns=["media_id", "kind", "payload"])
    df = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
    rows = {r["media_id"]: r for r in audio_features(df).collect()}
    # same samples, two containers: identical features
    assert rows[0]["rms"] == rows[1]["rms"]
    assert rows[0]["embedding"] == rows[1]["embedding"]
    emb = {r["media_id"]: r["embedding"]
           for r in extract_features(df).collect()}
    assert emb[0] == emb[1]   # byte-histogram over DECODED samples


# ---------------------------------------------------------------------------
# Video: FAKE-container frame sampling composed with features + dedup


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


def test_fused_meta_features_matches_two_kernels(spark):
    """r12 optimization: decode_media_meta_features (ONE payload pass, no
    payload passthrough) must be field-for-field identical to joining
    decode_media_meta with extract_features — across the FAKE container,
    real codecs (BMP, WAV), a None payload, and a corrupt payload."""
    import pandas as pd
    from dexscraper_spark.operators.codecs import encode_bmp, encode_wav
    from dexscraper_spark.operators.multimodal import (
        MEDIA_SCHEMA, META_FEATURE_SCHEMA, decode_media_meta,
        decode_media_meta_features)

    px = bytes((x * 7) % 251 for x in range(4 * 4 * 3))
    pcm = bytes((x * 11) % 253 for x in range(64))
    extra = pd.DataFrame(
        [(100, "image", encode_bmp(4, 4, px, channels=3)),
         (101, "audio", encode_wav(pcm, sample_rate=8000,
                                   channels=1, sample_width=1)),
         (102, "image", None),
         (103, "image", b"NOTFAKE123456789")],
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
    # the fused schema must not ship the payload back out of Python
    assert "payload" not in fused[0].asDict()
