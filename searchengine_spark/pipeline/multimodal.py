"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

A 100 TB training-data pipeline carries media as ``binary`` columns
with structured metadata; decode/feature-extraction runs as
Arrow-batched ``mapInPandas`` so bytes never round-trip through the
driver and each task decodes only its partition.

Decode is real for all three kinds: images (pure-zlib PNG codec,
media_codecs.decode_png, or JPEG, pipeline/jpeg.py), audio (stdlib WAV)
and video (uncompressed-AVI or Motion-JPEG RIFF walker,
media_codecs.decode_avi); payloads generated by ``make_media`` are
genuine PNG/WAV/AVI bytes. Other video codecs remain the documented
ffmpeg plug point (``decode_avi`` raises ``NotImplementedError``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, n_bytes long"
)
FEATURE_DIM = 16

FEATURES_SCHEMA = (
    "media_id long, kind string, width int, height int, n_frames int, "
    f"feature array<float>"
)


def make_media(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table with REAL payload bytes:
    images are valid PNGs, audio clips valid WAVs, videos valid
    uncompressed AVIs (media_codecs)."""
    from searchengine_spark.pipeline.media_codecs import (
        encode_avi,
        encode_png,
        encode_wav,
    )

    kinds = ["image", "audio", "video"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng((seed << 32) + i)
                kind = kinds[i % 3]
                if kind == "image":
                    w, h = 16 + i % 16, 16 + i % 8
                    payload = encode_png(
                        rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
                    )
                elif kind == "audio":
                    samples = rng.integers(
                        -(2**14), 2**14, size=256 + i % 512, dtype=np.int16
                    )
                    payload = encode_wav(samples, sample_rate=8000)
                else:
                    nf, w, h = 2 + i % 6, 8 + i % 8, 8 + i % 4
                    payload = encode_avi(
                        rng.integers(0, 256, size=(nf, h, w, 3), dtype=np.uint8)
                    )
                mime = {
                    "image": "image/png",
                    "audio": "audio/wav",
                    "video": "video/x-msvideo",
                }[kind]
                rows.append((i, kind, payload, mime, len(payload)))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "mime", "n_bytes"]
            )

    return spark.range(0, n, 1, max(2, n // 1000 + 1)).mapInPandas(gen, MEDIA_SCHEMA)


def _decode(payload: bytes, kind: str):
    """Decode an image (PNG or JPEG — baseline and progressive,
    dispatched on magic bytes), audio (WAV), and video (uncompressed
    AVI or Motion-JPEG); other codecs need ffmpeg."""
    from searchengine_spark.pipeline.media_codecs import (
        decode_avi,
        decode_png,
        decode_wav,
    )

    if kind == "image":
        if payload[:2] == b"\xff\xd8":  # JPEG SOI
            from searchengine_spark.pipeline.jpeg import decode_jpeg

            w, h, px = decode_jpeg(payload)
        else:
            w, h, px = decode_png(payload)
        # 16-bin luminance histogram, mass-normalized
        lum = px.astype(np.float32).mean(axis=2).ravel()
        hist, _ = np.histogram(lum, bins=FEATURE_DIM, range=(0.0, 255.0))
        feat = (hist / max(1, lum.size)).astype(np.float32)
        return w, h, 1, feat
    if kind == "audio":
        rate, nch, samples = decode_wav(payload)
        hist, _ = np.histogram(
            samples.astype(np.float32), bins=FEATURE_DIM, range=(-32768.0, 32768.0)
        )
        feat = (hist / max(1, samples.size)).astype(np.float32)
        return rate // 1000, nch, int(samples.size), feat
    # video: uncompressed AVI or MJPEG (baseline-JPEG frames, decoded
    # natively via pipeline/jpeg.py); decode_avi raises
    # NotImplementedError for other codecs — the ffmpeg plug point.
    w, h, frames = decode_avi(payload)
    lum = frames.astype(np.float32).mean(axis=3).ravel()
    hist, _ = np.histogram(lum, bins=FEATURE_DIM, range=(0.0, 255.0))
    feat = (hist / max(1, lum.size)).astype(np.float32)
    return w, h, int(frames.shape[0]), feat


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + featurize media partitions via mapInPandas.

    The PNG/JPEG/WAV/AVI kernels (media_codecs, jpeg) decode all three
    kinds; other video codecs raise NotImplementedError inside
    decode_avi (ffmpeg plug point).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "kind": [], "width": [], "height": [],
                   "n_frames": [], "feature": []}
            for _, row in pdf.iterrows():
                w, h, nf, feat = _decode(bytes(row["payload"]), row["kind"])
                out["media_id"].append(row["media_id"])
                out["kind"].append(row["kind"])
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["feature"].append(feat)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, FEATURES_SCHEMA)


def resize_plan(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize planning: target dims per item (pure column math; the
    pixel work would live in the same mapInPandas as decode)."""
    feats = extract_features(media)
    scale = F.least(
        F.lit(1.0),
        F.lit(float(max_side)) / F.greatest(F.col("width"), F.col("height")),
    )
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("width") * scale).cast("int").alias("target_w"),
        F.round(F.col("height") * scale).cast("int").alias("target_h"),
    )


def frame_sample_plan(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame-sampling plan for videos: (media_id, frame_index) rows.
    The frame counts come from the decoded AVI headers, so the plan
    samples actual decodable frames."""
    feats = extract_features(media).where(F.col("kind") == "video")
    return feats.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_index"),
    )
