"""Multimodal (image/audio/video) column handling.

Design (per the build mandate): media payloads are opaque ``binary`` columns
travelling next to a typed metadata struct; all decode / feature-extract /
resize / frame-sample operators run as Arrow-batched scalar pandas UDFs so
payload bytes never round-trip through the driver, only the payload column
crosses the Python boundary, and independent feature columns in one
projection fuse into a single ArrowEvalPython stage.

The decode core is REAL and dependency-free (``operators/media_codecs.py``):
BMP/PPM/PGM, PNG (stdlib zlib), baseline + progressive JPEG (ITU T.81),
GIF (LZW) images; PCM WAV audio; the RAWV raw-frame video container; and
an ISO-BMFF (MP4/MOV) metadata probe that walks the box tree without
touching sample data. Codecs outside that set take ``decode_fn=...``, and
``fake=True`` substitutes a deterministic hash-derived decode for
plumbing tests.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_TYPE = T.StructType(
    [
        T.StructField("media_type", T.StringType()),   # image/audio/video
        T.StructField("format", T.StringType()),        # jpeg/png/wav/mp4/...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("byte_size", T.LongType()),
    ]
)

IMAGE_FEATURES_TYPE = T.StructType(
    [
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("std_gray", T.DoubleType()),
        T.StructField("phash", T.LongType()),
    ]
)


def attach_media_metadata(df: DataFrame, payload_col: str, media_type: str,
                          fmt: str, meta_col: str = "media_meta") -> DataFrame:
    """Attach a minimal metadata struct (sizes computable without decode)."""
    return df.withColumn(
        meta_col,
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("n_channels"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.length(F.col(payload_col)).cast("long").alias("byte_size"),
        ),
    )


def _fake_decode(payload: bytes, w: int = 8, h: int = 8) -> np.ndarray:
    """Deterministic stand-in decode: derive an (h, w, 3) uint8 'image' from
    the payload's sha256 stream. STUB — replace with a real codec."""
    need = w * h * 3
    out = bytearray()
    seed = payload or b""
    counter = 0
    while len(out) < need:
        out.extend(hashlib.sha256(seed + counter.to_bytes(4, "little")).digest())
        counter += 1
    return np.frombuffer(bytes(out[:need]), dtype=np.uint8).reshape(h, w, 3)


def _image_feature_row(b, decode_fn) -> tuple:
    if b is None:
        return (None, None, None, None, None)
    img = decode_fn(bytes(b)).astype(np.float64)
    gray = img.mean(axis=2)
    # 64-bit average hash on an 8x8 downsample
    g8 = gray[: 8 * (gray.shape[0] // 8) or 8, : 8 * (gray.shape[1] // 8) or 8]
    if g8.shape[0] >= 8 and g8.shape[1] >= 8:
        g8 = g8[: g8.shape[0] // 8 * 8, : g8.shape[1] // 8 * 8]
        g8 = g8.reshape(8, g8.shape[0] // 8, 8, g8.shape[1] // 8).mean(axis=(1, 3))
    else:
        g8 = np.resize(gray, (8, 8))
    bits = (g8 > g8.mean()).flatten()
    ph = 0
    for i, v in enumerate(bits):
        if v:
            ph |= 1 << i
    # avoid unsigned overflow into long
    if ph >= 1 << 63:
        ph -= 1 << 64
    return (
        float(img[:, :, 0].mean()),
        float(img[:, :, 1].mean()),
        float(img[:, :, 2].mean()),
        float(gray.std()),
        ph,
    )


def image_features_col(payload, decode_fn: Optional[Callable[[bytes], np.ndarray]] = None,
                       fake: bool = False):
    """Column form: Arrow-batched scalar pandas UDF payload → features
    struct. Only the payload column crosses the Python boundary, and
    several independent feature columns in one projection fuse into a
    SINGLE ArrowEvalPython stage (one Python round-trip for image + audio
    + N codecs, vs one mapInPandas stage — shipping every column — each)."""
    if decode_fn is None:
        if fake:
            decode_fn = _fake_decode
        else:
            from .media_codecs import decode_image

            decode_fn = decode_image  # native BMP/PPM/PGM/PNG/JPEG

    @F.pandas_udf(IMAGE_FEATURES_TYPE)
    def _f(s: pd.Series) -> pd.DataFrame:
        rows = [_image_feature_row(b, decode_fn) for b in s]
        return pd.DataFrame(
            rows, columns=[f.name for f in IMAGE_FEATURES_TYPE.fields]
        )

    return _f(payload)


def image_features(
    df: DataFrame,
    payload_col: str = "payload",
    out_col: str = "img_features",
    decode_fn: Optional[Callable[[bytes], np.ndarray]] = None,
    fake: bool = False,
    batch_size_hint: int = 2048,
) -> DataFrame:
    """Decode + feature-extract images (channel means, gray std, 64-bit
    average-hash perceptual hash). Wrapper over :func:`image_features_col`."""
    return df.withColumn(
        out_col, image_features_col(F.col(payload_col), decode_fn, fake)
    )


def resize_image_array(img: np.ndarray, width: int, height: int,
                       method: str = "bilinear") -> np.ndarray:
    """Pure-numpy image resize kernel (H,W,C uint8 → height,width,C).
    'nearest' picks the sample whose center covers the output pixel;
    'bilinear' uses edge-clamped center-aligned sampling (the standard
    half-pixel convention, so a solid image stays exactly solid and an
    upscale of a linear ramp stays linear)."""
    img = np.asarray(img)
    if img.ndim == 2:
        img = img[:, :, None]
    h_in, w_in = img.shape[:2]
    if method == "nearest":
        yi = np.minimum(((np.arange(height) + 0.5) * h_in / height).astype(np.int64),
                        h_in - 1)
        xi = np.minimum(((np.arange(width) + 0.5) * w_in / width).astype(np.int64),
                        w_in - 1)
        out = img[yi[:, None], xi[None, :]]
        return np.ascontiguousarray(out)
    if method != "bilinear":
        raise ValueError(f"resize method {method!r}; 'nearest' or 'bilinear'")
    fy = np.clip((np.arange(height) + 0.5) * h_in / height - 0.5, 0, h_in - 1)
    fx = np.clip((np.arange(width) + 0.5) * w_in / width - 0.5, 0, w_in - 1)
    y0 = np.floor(fy).astype(np.int64)
    x0 = np.floor(fx).astype(np.int64)
    y1 = np.minimum(y0 + 1, h_in - 1)
    x1 = np.minimum(x0 + 1, w_in - 1)
    wy = (fy - y0)[:, None, None]
    wx = (fx - x0)[None, :, None]
    a = img[y0[:, None], x0[None, :]].astype(np.float64)
    b = img[y0[:, None], x1[None, :]].astype(np.float64)
    c = img[y1[:, None], x0[None, :]].astype(np.float64)
    d = img[y1[:, None], x1[None, :]].astype(np.float64)
    out = (a * (1 - wy) * (1 - wx) + b * (1 - wy) * wx
           + c * wy * (1 - wx) + d * wy * wx)
    return np.ascontiguousarray(np.clip(np.rint(out), 0, 255).astype(np.uint8))


def image_resize_col(payload, width: int, height: int,
                     method: str = "bilinear", out_format: str = "png",
                     decode_fn: Optional[Callable[[bytes], np.ndarray]] = None,
                     fake: bool = False):
    """Column form of image resize: binary payload in (any codec
    decode_image reads: BMP/PPM/PGM/PNG/JPEG/GIF), resized re-encoded
    binary payload out — binary→binary keeps the op composable with the
    features/hash ops, and only payload bytes cross the Arrow boundary."""
    from .media_codecs import encode_bmp, encode_png, encode_ppm

    enc = {"png": encode_png, "ppm": encode_ppm, "bmp": encode_bmp}.get(out_format)
    if enc is None:
        raise ValueError(f"out_format {out_format!r}; png/ppm/bmp")
    if decode_fn is None:
        if fake:
            decode_fn = _fake_decode
        else:
            from .media_codecs import decode_image

            decode_fn = decode_image

    @F.pandas_udf("binary")
    def _f(s: pd.Series) -> pd.Series:
        out = []
        for b in s:
            if b is None:
                out.append(None)
                continue
            img = decode_fn(bytes(b))
            out.append(enc(resize_image_array(img, width, height, method)))
        return pd.Series(out, dtype=object)

    return _f(payload)


def image_resize(
    df: DataFrame,
    payload_col: str = "payload",
    width: int = 64,
    height: int = 64,
    method: str = "bilinear",
    out_format: str = "png",
    out_col: str = "resized",
    decode_fn: Optional[Callable[[bytes], np.ndarray]] = None,
    fake: bool = False,
) -> DataFrame:
    """Decode → resize → re-encode images. Wrapper over
    :func:`image_resize_col`."""
    return df.withColumn(out_col, image_resize_col(
        F.col(payload_col), width, height, method, out_format, decode_fn, fake))


def frame_sample(
    df: DataFrame,
    payload_col: str = "payload",
    n_frames: int = 4,
    out_col: str = "frames",
    decode_fn: Optional[Callable[[bytes, int], list]] = None,
    fake: bool = False,
) -> DataFrame:
    """Sample n evenly-spaced frames from video payloads → array<binary>
    (PPM-encoded). Native for the RAWV raw-frame container; compressed
    video needs ``decode_fn=...`` (or ``fake=True`` for plumbing tests)."""
    if decode_fn is None:
        if fake:
            def decode_fn(b: bytes, n: int) -> list:
                if not b:
                    return []
                step = max(1, len(b) // n)
                return [b[i * step : (i + 1) * step] for i in range(min(n, len(b)))]
        else:
            from .media_codecs import decode_rawv_frames, encode_ppm

            def decode_fn(b: bytes, n: int) -> list:
                # native RAWV container → PPM-encoded frames
                return [encode_ppm(f) for f in decode_rawv_frames(bytes(b), n)]

    @F.pandas_udf(T.ArrayType(T.BinaryType()))
    def _f(s: pd.Series) -> pd.Series:
        return pd.Series(
            [None if b is None else decode_fn(bytes(b), n_frames) for b in s]
        )

    return df.withColumn(out_col, _f(F.col(payload_col)))


AUDIO_FEATURES_TYPE = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def audio_features_col(payload,
                       decode_fn: Optional[Callable[[bytes], tuple]] = None):
    """Column form: payload → audio-features struct (scalar pandas UDF, see
    :func:`image_features_col` for why this beats a mapInPandas stage)."""
    if decode_fn is None:
        from .media_codecs import decode_wav_any

        decode_fn = decode_wav_any  # PCM + IMA ADPCM

    def one(b) -> tuple:
        if b is None:
            return (None, None, None, None, None)
        samples, sr = decode_fn(bytes(b))
        n = len(samples)
        zc = int(np.count_nonzero(np.diff(np.signbit(samples)))) if n else 0
        return (
            int(sr),
            int(round(1000.0 * n / sr)) if sr else None,
            float(np.sqrt(np.mean(samples**2))) if n else 0.0,
            float(np.abs(samples).max()) if n else 0.0,
            zc,
        )

    @F.pandas_udf(AUDIO_FEATURES_TYPE)
    def _f(s: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [one(b) for b in s],
            columns=[f.name for f in AUDIO_FEATURES_TYPE.fields],
        )

    return _f(payload)


def audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    out_col: str = "audio_features",
    decode_fn: Optional[Callable[[bytes], tuple]] = None,
) -> DataFrame:
    """Decode + feature-extract audio — native for PCM WAV (stdlib
    ``wave``). Features: sample rate, duration, RMS, peak, zero crossings."""
    return df.withColumn(out_col, audio_features_col(F.col(payload_col), decode_fn))


VIDEO_META_TYPE = T.StructType(
    [
        T.StructField("brand", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("video_codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("audio_codec", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
    ]
)


def video_metadata_col(payload):
    """ISO BMFF (MP4/MOV) metadata probe as a column: box-tree walk only —
    sample data (mdat) is never read, so a manifest scan over a 100-TB
    video corpus ships kilobytes per file, not the payload."""
    from .media_codecs import probe_mp4

    def one(b):
        if b is None:
            return (None,) * 9
        try:
            info = probe_mp4(bytes(b))
        except Exception:
            return (None,) * 9
        vid = next((t for t in info["tracks"] if t["kind"] == "video"), None)
        aud = next((t for t in info["tracks"] if t["kind"] == "audio"), None)
        return (
            info["brand"], info["duration_ms"], len(info["tracks"]),
            vid["codec"] if vid else None,
            vid["width"] if vid else None,
            vid["height"] if vid else None,
            aud["codec"] if aud else None,
            aud["sample_rate"] if aud else None,
            aud["n_channels"] if aud else None,
        )

    @F.pandas_udf(VIDEO_META_TYPE)
    def _f(s: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [one(b) for b in s],
            columns=[f.name for f in VIDEO_META_TYPE.fields],
        )

    return _f(payload)


def video_metadata(df: DataFrame, payload_col: str = "payload",
                   out_col: str = "video_meta") -> DataFrame:
    """MP4/MOV metadata probe (duration, track codecs/dims/rates)."""
    return df.withColumn(out_col, video_metadata_col(F.col(payload_col)))


def _audio_fingerprint_one(samples: np.ndarray, bits: int = 64) -> Optional[int]:
    """Energy-difference fingerprint (the time-domain core of the
    Haitsma-Kalman 2002 audio-fingerprint family, public method): split
    the signal into ``bits``+1 equal frames, take each frame's energy,
    and emit one bit per adjacent-frame energy INCREASE. Amplitude-
    invariant (scaling multiplies every energy equally) and stable under
    small noise; near-duplicate audio lands within a few bits, so
    :func:`~duckdb_spatial_spark.operators.dedup.hamming_neardup_pairs`
    is the matching join."""
    n = len(samples)
    if n < bits + 1:
        return None
    frames = bits + 1
    # trim to a multiple of `frames` so the reshape is exact
    m = n - n % frames
    e = (samples[:m].astype(np.float64).reshape(frames, m // frames) ** 2).sum(axis=1)
    up = e[1:] > e[:-1]
    fp = 0
    for i, v in enumerate(up):
        if v:
            fp |= 1 << i
    if fp >= 1 << 63:
        fp -= 1 << 64
    return fp


def audio_fingerprint_col(payload, bits: int = 64,
                          decode_fn: Optional[Callable[[bytes], tuple]] = None):
    """Column form: payload → 64-bit fingerprint (long, NULL for missing
    or too-short audio). One scalar pandas UDF — only the payload crosses
    the Python boundary."""
    if decode_fn is None:
        from .media_codecs import decode_wav_any

        decode_fn = decode_wav_any

    @F.pandas_udf(T.LongType())
    def _f(s: pd.Series) -> pd.Series:
        out = []
        for b in s:
            if b is None:
                out.append(None)
                continue
            try:
                samples, _sr = decode_fn(bytes(b))
            except Exception:
                # corrupt/mistyped payloads NULL out instead of failing
                # the job — same contract as video_metadata's probe
                out.append(None)
                continue
            out.append(_audio_fingerprint_one(np.asarray(samples), bits))
        return pd.Series(out, dtype="object")

    return _f(payload)


def audio_fingerprint(df: DataFrame, payload_col: str = "payload",
                      out_col: str = "audio_fp", bits: int = 64,
                      decode_fn: Optional[Callable[[bytes], tuple]] = None) -> DataFrame:
    """Audio near-dup dedup, stage 1: 64-bit energy-delta fingerprints.
    Stage 2 is ``hamming_neardup_pairs(df, id, out_col)`` — the same
    modality-agnostic hamming tier the image aHash uses."""
    return df.withColumn(
        out_col, audio_fingerprint_col(F.col(payload_col), bits, decode_fn))
