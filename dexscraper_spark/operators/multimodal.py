"""Multimodal columns (BASELINE.json north star): image/audio/video as
opaque ``binary`` payloads + typed metadata, with decode / resize /
frame-sample / feature-extract as Arrow-batched pandas stages.

The Spark-side plumbing here is real and tested — schemas, partitioning,
``mapInPandas`` batch shapes, exploded frame rows, feature vectors feeding
the similarity operators. The *codec* step has two real paths: the
deterministic in-repo container format (``FAKE`` header) whose decode is
exact — the only format the registered ``multimodal_pipeline`` row
reads, and the only video format — and pure-Python real codecs
(operators/codecs.py — BMP, PNG with full zlib inflate + scanline
unfiltering, and RIFF PCM WAV audio; no PIL, no audio libs). Formats
that need external codec libraries (JPEG, WebP, compressed audio, real
video containers) raise a clearly marked ``NotImplementedError`` when
decoded directly; through the bulk stages they get null metadata.

Scale notes:
* payloads never leave executors: every stage is mapInPandas over binary
  columns — Arrow moves bytes zero-copy, no driver collection.
* metadata is a typed struct column, so pruning works: a query over
  ``meta.width`` never deserializes payload bytes (columnar parquet).
* frame sampling is a 1→N mapInPandas (UDTF shape) — the explode happens
  executor-side with bounded memory per batch.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),      # image | audio | video
    T.StructField("payload", T.BinaryType()),
])

META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("payload_bytes", T.LongType()),
    T.StructField("payload", T.BinaryType()),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_index", T.IntegerType()),
    T.StructField("frame", T.BinaryType()),
])

FEATURE_DIM = 16
FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType())),
])

# decode_media_meta's columns minus the payload passthrough, plus the
# feature vector — the output of the fused single-pass kernel.
META_FEATURE_SCHEMA = T.StructType(
    [f for f in META_SCHEMA.fields if f.name != "payload"]
    + [T.StructField("embedding", T.ArrayType(T.DoubleType()))])

_MAGIC = b"FAKE"
# container header: magic | kind u8 | width u16 | height u16 | channels u8 |
# sample_rate u32 | n_frames u16
_HEADER = "<4sBHHBIH"
_KINDS = {0: "image", 1: "audio", 2: "video"}
_KIND_IDS = {v: k for k, v in _KINDS.items()}


def encode_fake_media(kind: str, *, width: int = 0, height: int = 0,
                      channels: int = 0, sample_rate: int = 0,
                      n_frames: int = 1, body: bytes = b"") -> bytes:
    return struct.pack(_HEADER, _MAGIC, _KIND_IDS[kind], width, height,
                       channels, sample_rate, n_frames) + body


def _parse_header(payload: bytes) -> dict | None:
    size = struct.calcsize(_HEADER)
    if payload is None or len(payload) < size:
        return None
    magic, kind_id, w, h, ch, sr, nf = struct.unpack(_HEADER, payload[:size])
    if magic != _MAGIC:
        return None
    return {"format": "fake", "kind": _KINDS.get(kind_id), "width": w,
            "height": h, "channels": ch, "sample_rate": sr, "n_frames": nf,
            "body": payload[size:]}


def _probe_real_image(payload: bytes) -> dict | None:
    """Metadata-only real-codec path: O(1) header probe
    (``codecs.probe_image``) — the scan stage never pays a per-pixel
    Python decode just to learn dimensions. Returns the ``_parse_header``
    dict shape (body=None) or None for unrecognized/corrupt headers."""
    from dexscraper_spark.operators.codecs import probe_image
    meta = probe_image(payload)
    if meta is None:
        return None
    return {"format": meta["format"], "kind": "image",
            "width": meta["width"], "height": meta["height"],
            "channels": meta["channels"], "sample_rate": 0, "n_frames": 1,
            "body": None}


def _probe_real_audio(payload: bytes) -> dict | None:
    """O(1) real-audio metadata (``codecs.probe_audio`` — RIFF PCM WAV):
    fmt-chunk fields + sample count, no sample copy. ``n_frames``
    carries the per-channel sample count (the audio analogue of a frame
    count); width/height stay 0 like the FAKE audio container."""
    from dexscraper_spark.operators.codecs import probe_audio
    meta = probe_audio(payload)
    if meta is None:
        return None
    return {"format": "wav", "kind": "audio", "width": 0, "height": 0,
            "channels": meta["channels"],
            "sample_rate": meta["sample_rate"],
            "n_frames": meta["n_samples"], "body": None}


def _decode_real_audio(payload: bytes) -> dict | None:
    """Real-audio decode path (RIFF PCM WAV): same dict shape as
    ``_parse_header`` with the interleaved PCM bytes as the body (plus
    ``sample_width`` so consumers can interpret them); None for
    non-WAV/undecodable payloads — one bad row must not abort the
    mapInPandas task."""
    from dexscraper_spark.operators.codecs import decode_wav, sniff_format
    if sniff_format(payload) != "wav":
        return None
    try:
        wav = decode_wav(payload)
    except Exception:
        return None
    return {"format": "wav", "kind": "audio", "width": 0, "height": 0,
            "channels": wav["channels"],
            "sample_rate": wav["sample_rate"],
            "n_frames": wav["n_samples"], "body": wav["samples"],
            "sample_width": wav["sample_width"]}


def _decode_real_image(payload: bytes) -> dict | None:
    """Real-codec path: pure-Python BMP/PNG decode (operators/codecs.py —
    zlib inflate + scanline unfiltering; no PIL). Returns the same dict
    shape as ``_parse_header`` with decoded pixels as the body, or None
    if the payload is not a decodable file (palette/16-bit PNG, RLE
    BMP, truncated stream, any other format) — one bad row must not
    abort a million-row mapInPandas task."""
    from dexscraper_spark.operators.codecs import decode_image, sniff_format
    if sniff_format(payload) is None:
        return None
    try:
        img = decode_image(payload)
    except Exception:
        return None
    return {"format": img["format"], "kind": "image",
            "width": img["width"], "height": img["height"],
            "channels": img["channels"], "sample_rate": 0, "n_frames": 1,
            "body": img["pixels"]}


def synthetic_media(spark, n: int = 12) -> DataFrame:
    """Deterministic media table: images, audio clips, and videos."""
    import pandas as pd
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            w, h, c = 16 + i, 9 + i, 3
            body = bytes((x * (i + 1)) % 251 for x in range(w * h * c))
            payload = encode_fake_media(kind, width=w, height=h, channels=c,
                                        body=body)
        elif kind == "audio":
            sr, samples = 8000, 160
            body = bytes((x * (i + 3)) % 253 for x in range(samples))
            payload = encode_fake_media(kind, sample_rate=sr, channels=1,
                                        body=body)
        else:
            nf, w, h = 4 + i % 3, 8, 6
            body = bytes((x * (i + 5)) % 249 for x in range(nf * w * h))
            payload = encode_fake_media(kind, width=w, height=h, channels=1,
                                        n_frames=nf, body=body)
        rows.append((i, kind, payload))
    pdf = pd.DataFrame(rows, columns=["media_id", "kind", "payload"])
    return spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)


def decode_media_meta(media: DataFrame) -> DataFrame:
    """payload → typed metadata struct columns (+ payload passthrough)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                hdr = _parse_header(bytes(payload)) if payload is not None else None
                if hdr is None and payload is not None:
                    # metadata stage: O(1) header probes, never a pixel/
                    # sample decode (that belongs to the feature stages)
                    hdr = (_probe_real_image(bytes(payload))
                           or _probe_real_audio(bytes(payload)))
                out.append({
                    "media_id": int(mid), "kind": kind,
                    "format": hdr["format"] if hdr else None,
                    "width": hdr["width"] if hdr else None,
                    "height": hdr["height"] if hdr else None,
                    "channels": hdr["channels"] if hdr else None,
                    "sample_rate": hdr["sample_rate"] if hdr else None,
                    "n_frames": hdr["n_frames"] if hdr else None,
                    "payload_bytes": len(payload) if payload is not None else 0,
                    "payload": payload,
                })
            yield pd.DataFrame(out, columns=[f.name for f in META_SCHEMA.fields])

    return media.mapInPandas(run, schema=META_SCHEMA)


def resize_images(media: DataFrame, *, factor: int = 2) -> DataFrame:
    """Deterministic downsample of FAKE-container images: keep every
    ``factor``-th pixel per axis; header rewritten with new dims.
    Binary→binary batch stage — the shape real resize kernels plug into.
    Real-codec payloads (BMP/PNG) are NOT in this stage's contract and
    pass out of it silently — decode them to pixels first
    (``codecs.decode_image``) and re-wrap with ``encode_fake_media``."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                hdr = _parse_header(bytes(payload)) if payload is not None else None
                if not hdr or hdr["kind"] != "image":
                    continue
                w, h, c = hdr["width"], hdr["height"], hdr["channels"]
                nw, nh = max(w // factor, 1), max(h // factor, 1)
                body = hdr["body"]
                new_body = bytearray()
                for y in range(0, nh * factor, factor):
                    for x in range(0, nw * factor, factor):
                        px = (y * w + x) * c
                        new_body += body[px:px + c]
                out.append({
                    "media_id": int(mid), "kind": kind,
                    "payload": encode_fake_media("image", width=nw, height=nh,
                                                 channels=c, body=bytes(new_body)),
                })
            yield pd.DataFrame(out, columns=["media_id", "kind", "payload"])

    return media.mapInPandas(run, schema=MEDIA_SCHEMA)


def sample_frames(media: DataFrame, *, every: int = 2) -> DataFrame:
    """Video → exploded frame rows (1→N mapInPandas, UDTF shape): the
    FAKE container's raw frame bytes, sliced by the header's dims.
    Non-video and undecodable rows are dropped (shared media-stage
    contract)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                hdr = _parse_header(bytes(payload)) if payload is not None else None
                if not hdr or hdr["kind"] != "video":
                    continue
                w, h, nf = hdr["width"], hdr["height"], hdr["n_frames"]
                frame_bytes = w * h * max(hdr["channels"], 1)
                for fi in range(0, nf, every):
                    start = fi * frame_bytes
                    out.append({
                        "media_id": int(mid), "frame_index": fi,
                        "frame": hdr["body"][start:start + frame_bytes]})
            yield pd.DataFrame(out, columns=["media_id", "frame_index", "frame"])

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def _feature_body(payload: bytes) -> bytes:
    """The byte sequence a payload embeds over: the decoded body.
    Real-codec payloads embed DECODED PIXELS/SAMPLES, not container
    bytes — the same image as PNG vs BMP (or the same clip re-wrapped)
    must embed identically (compressed IDAT bytes are near-uniform
    noise)."""
    hdr = _parse_header(payload)
    if hdr is None:
        hdr = _decode_real_image(payload) or _decode_real_audio(payload)
    return hdr["body"] if hdr else (payload or b"")


def _embed_body(body: bytes, dim: int) -> list[float]:
    """Normalized byte histogram of a decoded body — the deterministic
    embedding stand-in shared by extract_features and the fused kernel."""
    hist = [0.0] * dim
    for b in body:
        hist[b % dim] += 1.0
    total = sum(hist) or 1.0
    return [v / total for v in hist]


def extract_features(media: DataFrame, *, dim: int = FEATURE_DIM) -> DataFrame:
    """payload → deterministic feature vector (byte-histogram projection) —
    a stand-in with the exact schema/batch shape of a real embedding model;
    output feeds operators.similarity directly."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = [{"media_id": int(m), "kind": k,
                    "embedding": _embed_body(
                        _feature_body(bytes(p) if p is not None else b""),
                        dim)}
                   for m, k, p in zip(pdf["media_id"], pdf["kind"], pdf["payload"])]
            yield pd.DataFrame(out, columns=["media_id", "kind", "embedding"])

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def decode_media_meta_features(media: DataFrame, *,
                               dim: int = FEATURE_DIM) -> DataFrame:
    """:func:`decode_media_meta` + :func:`extract_features` fused into ONE
    payload pass (guide §4.1/§8): the two-kernel form ships every payload
    across the JVM→Python boundary twice — and decode_media_meta ships it
    BACK a third time as its passthrough column — to produce a few scalar
    meta fields and a dim-float vector. The fused kernel crosses the
    boundary once and returns only the small columns (no payload
    passthrough), so at corpus scale the payload bytes move exactly once.

    Field-for-field identical to the two kernels it fuses: the meta
    fields use the same header parse + O(1) probes as decode_media_meta,
    and the embedding uses the same ``_feature_body``/``_embed_body``
    helpers as extract_features (one shared ``_parse_header`` call feeds
    both — same bytes, same result)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                raw = bytes(payload) if payload is not None else None
                hdr = _parse_header(raw) if raw is not None else None
                meta_hdr = hdr
                if meta_hdr is None and raw is not None:
                    meta_hdr = (_probe_real_image(raw)
                                or _probe_real_audio(raw))
                if hdr is not None:
                    body = hdr["body"]
                else:
                    body = _feature_body(raw if raw is not None else b"")
                out.append({
                    "media_id": int(mid), "kind": kind,
                    "format": meta_hdr["format"] if meta_hdr else None,
                    "width": meta_hdr["width"] if meta_hdr else None,
                    "height": meta_hdr["height"] if meta_hdr else None,
                    "channels": meta_hdr["channels"] if meta_hdr else None,
                    "sample_rate": meta_hdr["sample_rate"] if meta_hdr else None,
                    "n_frames": meta_hdr["n_frames"] if meta_hdr else None,
                    "payload_bytes": len(raw) if raw is not None else 0,
                    "embedding": _embed_body(body, dim),
                })
            yield pd.DataFrame(
                out, columns=[f.name for f in META_FEATURE_SCHEMA.fields])

    return media.mapInPandas(run, schema=META_FEATURE_SCHEMA)


AUDIO_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zcr", T.DoubleType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType())),
])


def audio_features(media: DataFrame, *, n_windows: int = 8) -> DataFrame:
    """Real audio DSP features over PCM samples — the audio twin of the
    image feature stage, numpy-vectorized inside one ``mapInPandas``
    (Arrow-batched, samples never leave the executor):

    * ``rms``   — clip loudness (root mean square of the normalized
      signal; multi-channel clips are mixed down by mean first);
    * ``zcr``   — zero-crossing rate (crossings / sample), the classic
      cheap pitch/noisiness proxy (a tone's zcr ≈ 2·f/sr, white noise
      ≈ 0.5 — separable by orders of magnitude);
    * ``embedding`` — per-window RMS profile (``n_windows`` equal
      slices) concatenated with the per-window zcr profile: a
      2·n_windows-dim vector with the exact schema/shape the
      similarity/ANN operators consume.

    Decodes REAL WAV payloads (``codecs.decode_wav``: 8-bit unsigned /
    16-bit signed PCM, normalized to [-1, 1]) and the FAKE audio
    container (body bytes as unsigned 8-bit, same normalization).
    Non-audio / undecodable rows are dropped (the stage contract all
    the media stages share)."""
    import numpy as np
    import pandas as pd

    def pcm(payload: bytes):
        hdr = _parse_header(payload)
        if hdr is not None:
            if hdr["kind"] != "audio":
                return None, 0
            x = np.frombuffer(hdr["body"], dtype=np.uint8)
            return (x.astype(np.float64) - 128.0) / 128.0, \
                hdr["sample_rate"]
        wav = _decode_real_audio(payload)
        if wav is None:
            return None, 0
        if wav["sample_width"] == 1:
            x = np.frombuffer(wav["body"], dtype=np.uint8)
            x = (x.astype(np.float64) - 128.0) / 128.0
        else:
            x = np.frombuffer(wav["body"], dtype="<i2")
            x = x.astype(np.float64) / 32768.0
        if wav["channels"] > 1:  # mixdown: mean over channels
            n = (len(x) // wav["channels"]) * wav["channels"]
            x = x[:n].reshape(-1, wav["channels"]).mean(axis=1)
        return x, wav["sample_rate"]

    def feats(x: "np.ndarray") -> tuple:
        n = len(x)
        rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
        zc = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) \
            if n > 1 else 0.0
        emb = []
        for part in np.array_split(x, n_windows):
            emb.append(float(np.sqrt(np.mean(part * part)))
                       if len(part) else 0.0)
        for part in np.array_split(x, n_windows):
            emb.append(float(np.mean(np.signbit(part[1:])
                                     != np.signbit(part[:-1])))
                       if len(part) > 1 else 0.0)
        return rms, zc, emb

    def run(batches):
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                x, sr = pcm(bytes(payload))
                if x is None:
                    continue
                rms, zc, emb = feats(x)
                out.append({"media_id": int(mid), "sample_rate": int(sr),
                            "n_samples": int(len(x)), "rms": rms,
                            "zcr": zc, "embedding": emb})
            yield pd.DataFrame(
                out, columns=[f.name for f in
                              AUDIO_FEATURE_SCHEMA.fields])

    return media.mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)


def video_features(media: DataFrame, *, every: int = 2,
                   dim: int = FEATURE_DIM) -> DataFrame:
    """Per-VIDEO embedding: frame-sample (:func:`sample_frames`, the
    FAKE container) → per-frame pixel-histogram
    embedding (:func:`extract_features` over the decoded frames) →
    mean-pool per video. The pooling is pure built-ins (posexplode →
    per-position avg → re-assembled array): order-invariant and
    partial-aggregatable, so the mean of a million frames never holds
    more than dim doubles per video in the aggregation state.
    Returns (media_id, embedding) — feeds semantic_dedup / the ANN
    operators directly. Videos with no decodable frames emit nothing
    (the shared media-stage drop contract)."""
    frames = sample_frames(media, every=every)
    per_frame = extract_features(
        frames.select("media_id", F.lit("image").alias("kind"),
                      F.col("frame").alias("payload")), dim=dim)
    return (per_frame
            .select("media_id", F.posexplode("embedding")
                    .alias("pos", "v"))
            .groupBy("media_id", "pos").agg(F.avg("v").alias("v"))
            .groupBy("media_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "v")))
                 .alias("__s"))
            .select("media_id",
                    F.transform("__s", lambda x: x["v"])
                    .alias("embedding")))


def video_dedup(media: DataFrame, *, every: int = 2,
                threshold: float = 0.95, nlist: int = 8,
                seed: int = 42, dim: int = FEATURE_DIM,
                max_cluster: int | None = None) -> DataFrame:
    """End-to-end video near-duplicate removal (the video twin of the
    audio story): :func:`video_features` → :func:`~dexscraper_spark.
    operators.dedup.semantic_dedup` over the pooled frame embeddings —
    three existing operators composed, nothing new shuffles. Survivor
    = min media_id per duplicate group (the engine-wide convention).
    Rows that never competed — non-video media, videos with no
    decodable frames — pass through untouched; only LOSERS are
    dropped. Returns the surviving rows of ``media``, all columns."""
    from dexscraper_spark.operators.dedup import semantic_dedup

    feats = video_features(media, every=every, dim=dim)
    kept = semantic_dedup(feats, id_col="media_id",
                          vec_col="embedding", nlist=nlist,
                          threshold=threshold, seed=seed,
                          max_cluster=max_cluster)
    losers = feats.select("media_id").join(
        kept.select("media_id"), "media_id", "left_anti")
    return media.join(losers, "media_id", "left_anti")
