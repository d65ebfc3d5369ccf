"""Multimodal columns: opaque binary payloads with typed metadata.

Image/audio/video ride as BinaryType columns; decode/feature-extraction run
as Arrow-batched pandas UDFs over mapInPandas. Two containers decode for
REAL with pure numpy/struct (no third-party codec libraries): RIFF/WAVE
PCM-16 (`decode_wav`) and BMP BI_RGB-24 (`decode_bmp`), byte-exact
roundtrips. Compressed kinds (JPEG, PNG, MP3, MP4) raise
NotImplementedError; `fake=True` keeps the deterministic byte-derived
stand-in for pipeline-shape tests (the `multimodal_features` row).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("codec", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)


def synth_media_from_documents(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Deterministic fake media table: payload = UTF-8 bytes of the text
    (stands in for encoded image bytes), typed metadata derived from it."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image/fake").alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.lit("fake").alias("codec"),
            (F.length(text_col) % 64 + 1).cast("int").alias("width"),
            (F.length(text_col) % 48 + 1).cast("int").alias("height"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """PCM-16 mono RIFF/WAVE container (canonical 44-byte header)."""
    data = np.asarray(samples).astype("<i2").tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                                sample_rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Parse RIFF/WAVE PCM-16: walks chunks (fmt , data), returns
    (samples[n, channels], sample_rate). Pure numpy/struct."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt = 12, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt chunk")
            audio_format, channels, rate, _, _, bits = fmt
            if audio_format != 1 or bits != 16:
                raise NotImplementedError("only PCM-16 WAV decodes here")
            return np.frombuffer(body, dtype="<i2").reshape(-1, channels), rate
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    raise ValueError("no data chunk")


def encode_bmp(pixels: np.ndarray) -> bytes:
    """24-bit BI_RGB BMP from an (h, w, 3) uint8 RGB array (bottom-up rows,
    BGR byte order, rows padded to 4 bytes — the classic layout)."""
    h, w, _ = pixels.shape
    pad = (-w * 3) % 4
    rows = b"".join(
        pixels[y][:, ::-1].tobytes() + b"\x00" * pad for y in range(h - 1, -1, -1)
    )
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows),
                       2835, 2835, 0, 0)
    return (
        b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54) + info + rows
    )


def decode_bmp(payload: bytes) -> np.ndarray:
    """Parse a 24-bit BI_RGB BMP to an (h, w, 3) uint8 RGB array."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack("<I", payload[10:14])[0]
    _, w, h, _, bpp = struct.unpack("<IiiHH", payload[14:30])
    comp = struct.unpack("<I", payload[30:34])[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only 24-bit BI_RGB BMP decodes here")
    stride = w * 3 + ((-w * 3) % 4)
    height = abs(h)
    out = np.empty((height, w, 3), np.uint8)
    for i in range(height):
        line = np.frombuffer(payload, np.uint8, w * 3, off + i * stride).reshape(w, 3)
        out[height - 1 - i if h > 0 else i] = line[:, ::-1]  # BGR → RGB
    return out


def decode_media(payload: bytes, kind: str, fake: bool = False) -> np.ndarray:
    """Decode a media payload to a pixel/sample array.

    Real pure-numpy codecs: 'audio/wav' (PCM-16) and 'image/bmp' (BI_RGB
    24-bit). Compressed kinds (JPEG, PNG, MP3, MP4) need codec libraries
    and raise; fake=True returns the deterministic byte-derived stand-in so the
    pipeline shape stays testable for any kind."""
    if kind == "audio/wav":
        return decode_wav(bytes(payload))[0]
    if kind == "image/bmp":
        return decode_bmp(bytes(payload))
    if fake:
        arr = np.frombuffer(payload, dtype=np.uint8)
        return arr[: (len(arr) // 4) * 4].reshape(-1, 4)
    raise NotImplementedError(
        f"no pure-numpy codec for {kind!r}; compressed image/audio/video "
        "decoding requires codec libraries not present in this environment "
        "(fake=True for the stand-in)"
    )


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def extract_features(media: DataFrame, feature_dim: int = 8, fake_decode: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over the binary column. The feature
    is a deterministic byte-histogram projection (stand-in for a real
    image/audio embedding); batches stream through mapInPandas so one task
    never holds more than a batch of payloads."""

    def _extract(batches):
        for pdf in batches:
            feats, md5s, sizes = [], [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                b = bytes(payload)
                md5s.append(hashlib.md5(b).hexdigest())
                sizes.append(len(b))
                arr = decode_media(b, kind, fake=fake_decode)
                hist = np.bincount(
                    arr.ravel().astype(np.int64) % feature_dim, minlength=feature_dim
                )
                total = hist.sum() or 1
                feats.append((hist / total).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": np.asarray(sizes, dtype=np.int64),
                    "payload_md5": md5s,
                    "feature": feats,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        _extract, FEATURE_SCHEMA
    )


def synth_wav_media(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Media table whose payloads are REAL RIFF/WAVE PCM-16 files (decodable
    by any audio tool), derived deterministically from document text."""

    @F.pandas_udf("binary")  # defined here: UDFs need an active session
    def _wav_from_text(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            b = np.frombuffer(str(t).encode("utf-8")[:512], dtype=np.uint8)
            samples = (b.astype(np.int16) - 128) * 257
            out.append(encode_wav(samples))
        return pd.Series(out)

    payload = _wav_from_text(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("audio/wav").alias("kind"),
        payload.alias("payload"),
    ).select(
        "media_id",
        "kind",
        "payload",
        F.struct(
            F.lit("pcm16").alias("codec"),
            F.lit(0).cast("int").alias("width"),
            F.lit(0).cast("int").alias("height"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def resize_pixels(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w, 3) uint8 array — pure numpy
    (index maps, no loops)."""
    h, w, _ = pixels.shape
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return pixels[ys][:, xs]


def resize_media(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Distributed image resize: decode (BMP real; other kinds raise) →
    nearest-neighbor resize → re-encode, batched through mapInPandas so a
    task holds one Arrow batch of payloads at a time."""

    def _resize(batches):
        for pdf in batches:
            out = []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                px = decode_media(bytes(payload), kind)
                out.append(encode_bmp(resize_pixels(px, out_w, out_h)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": "image/bmp",
                    "payload": out,
                }
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return media.select("media_id", "kind", "payload").mapInPandas(_resize, schema)


# -- fake video container: u32 n_frames, then n_frames length-prefixed BMPs --


def encode_video(frames: list[np.ndarray]) -> bytes:
    """Deterministic toy video container (length-prefixed BMP frames) — the
    honest stand-in for mp4 (real demuxing needs ffmpeg, absent here); the
    per-frame codec is the REAL BMP path."""
    import struct as _struct

    body = b"".join(
        _struct.pack("<I", len(b)) + b for b in (encode_bmp(f) for f in frames)
    )
    return _struct.pack("<I", len(frames)) + body


def sample_frames(video_payload: bytes, every_k: int = 2) -> list[np.ndarray]:
    """Frame-sample a toy video: decode every k-th frame (frames are
    length-prefixed, so skipped frames are SEEKED over, never decoded —
    the property that matters when a real demuxer replaces this)."""
    import struct as _struct

    n = _struct.unpack("<I", video_payload[:4])[0]
    pos = 4
    out = []
    for i in range(n):
        (flen,) = _struct.unpack("<I", video_payload[pos:pos + 4])
        pos += 4
        if i % every_k == 0:
            out.append(decode_bmp(video_payload[pos:pos + flen]))
        pos += flen
    return out


def sample_frames_media(media: DataFrame, every_k: int = 2, feature_dim: int = 8) -> DataFrame:
    """Distributed frame sampling + per-frame features over video payloads:
    one output row per SAMPLED frame (media_id, frame_idx, width, height,
    feature) via mapInPandas."""

    def _sample(batches):
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for j, frame in enumerate(sample_frames(bytes(payload), every_k)):
                    hist = np.bincount(
                        frame.ravel().astype(np.int64) % feature_dim,
                        minlength=feature_dim,
                    )
                    total = hist.sum() or 1
                    rows.append(
                        (int(mid), j * every_k, frame.shape[1], frame.shape[0],
                         (hist / total).tolist())
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "width", "height", "feature"],
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("feature", T.ArrayType(T.DoubleType())),
        ]
    )
    return media.select("media_id", "payload").mapInPandas(_sample, schema)
