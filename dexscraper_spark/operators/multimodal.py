"""Multimodal columns (BASELINE.json north star): image/audio/video as
opaque ``binary`` payloads + typed metadata, with decode / frame-sample /
feature-extract as Arrow-batched pandas stages.

The Spark-side plumbing here is real and tested — schemas, partitioning,
``mapInPandas`` batch shapes, exploded frame rows, feature vectors feeding
the similarity operators. The media stage reads one container: the
deterministic in-repo ``FAKE`` header format, whose decode is exact and
which is all the registered ``multimodal_pipeline`` row reads. Any other
payload (BMP, PNG, JPEG, WebP, WAV, corrupt bytes) gets null metadata
and embeds its raw bytes.

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


def sample_frames(media: DataFrame, *, every: int = 2) -> DataFrame:
    """Video → exploded frame rows (1→N mapInPandas, UDTF shape): each
    frame, sliced by the header's dims, is emitted as a one-frame FAKE
    image payload, so a frame is an image row every media stage reads.
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
                w, h, c = hdr["width"], hdr["height"], hdr["channels"]
                frame_bytes = w * h * max(c, 1)
                for fi in range(0, hdr["n_frames"], every):
                    start = fi * frame_bytes
                    out.append({
                        "media_id": int(mid), "frame_index": fi,
                        "frame": encode_fake_media(
                            "image", width=w, height=h, channels=c,
                            body=hdr["body"][start:start + frame_bytes])})
            yield pd.DataFrame(out, columns=["media_id", "frame_index", "frame"])

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def _feature_body(payload: bytes) -> bytes:
    """The byte sequence a payload embeds over: the FAKE container's
    body, else the raw bytes."""
    hdr = _parse_header(payload)
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

    Field-for-field identical to the two kernels it fuses: one
    ``_parse_header`` call per row feeds both the meta fields and the
    embedding body (the FAKE body, else the raw bytes, as in
    ``_feature_body``)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                raw = bytes(payload) if payload is not None else None
                hdr = _parse_header(raw) if raw is not None else None
                body = hdr["body"] if hdr else (raw or b"")
                out.append({
                    "media_id": int(mid), "kind": kind,
                    "format": hdr["format"] if hdr else None,
                    "width": hdr["width"] if hdr else None,
                    "height": hdr["height"] if hdr else None,
                    "channels": hdr["channels"] if hdr else None,
                    "sample_rate": hdr["sample_rate"] if hdr else None,
                    "n_frames": hdr["n_frames"] if hdr else None,
                    "payload_bytes": len(raw) if raw is not None else 0,
                    "embedding": _embed_body(body, dim),
                })
            yield pd.DataFrame(
                out, columns=[f.name for f in META_FEATURE_SCHEMA.fields])

    return media.mapInPandas(run, schema=META_FEATURE_SCHEMA)


def video_features(media: DataFrame, *, every: int = 2,
                   dim: int = FEATURE_DIM) -> DataFrame:
    """Per-VIDEO embedding: frame-sample (:func:`sample_frames`, one
    FAKE image payload per frame) → per-frame pixel-histogram
    embedding (:func:`extract_features` over the frames' pixels) →
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
    """End-to-end video near-duplicate removal: :func:`video_features`
    → :func:`~dexscraper_spark.operators.dedup.semantic_dedup` over the
    pooled frame embeddings —
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
