"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, decoded / feature-extracted inside ``mapInPandas``.

Decoding: ``real_media_decoder`` REALLY decodes the dependency-free
formats — PCM WAV audio (stdlib ``wave``), uncompressed 24/32-bit BMP and
binary PPM images (numpy) — producing true dimensions/duration and
content-derived features (time-slice RMS for audio, 4x4 mean-pooled
grayscale for images). Compressed formats (JPEG/PNG/MP3/MP4) need
external codecs this container does not ship; they raise a clearly-marked
NotImplementedError, and ``deterministic_fake_decoder`` remains available
for schema-correct plumbing tests. Swapping in PIL/librosa/ffmpeg is a
one-argument change with no plan changes.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = "media_id long, kind string, payload binary, meta string"
FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, width int, height int, "
    "channels int, duration_ms int, feature array<float>"
)

FEATURE_DIM = 16


def as_media_table(df: DataFrame, id_col: str, payload_col, kind: str = "image") -> DataFrame:
    """Project any table into the canonical media shape (binary payload +
    metadata). Used to exercise the pipeline with synthetic payloads."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        payload_col.cast("binary").alias("payload"),
        F.to_json(F.struct(F.lit(kind).alias("kind"))).alias("meta"),
    )


def deterministic_fake_decoder(kind: str, payload: bytes) -> dict:
    """STUB decoder: schema-correct, deterministic pseudo-features derived
    from the payload hash. NOT a real decode — stands in for PIL/librosa/
    ffmpeg which are absent in this container."""
    from ..sketches.hashing import xxhash64_bytes

    h = xxhash64_bytes(payload or b"")
    rs = np.random.RandomState(h % (2**31))
    out = {
        "n_bytes": len(payload or b""),
        "width": int(64 + h % 1024) if kind == "image" else 0,
        "height": int(64 + (h >> 10) % 1024) if kind == "image" else 0,
        "channels": 3 if kind == "image" else (1 if kind == "audio" else 0),
        "duration_ms": int(h % 600000) if kind in ("audio", "video") else 0,
        "feature": rs.normal(size=FEATURE_DIM).astype(np.float32),
    }
    return out


def _feature_pool_gray(gray: np.ndarray) -> np.ndarray:
    """4x4 mean-pooled grayscale thumbnail, row-major, scaled to [0,1] —
    the 16-dim image feature (FEATURE_DIM = 16). Images smaller than 4px
    on a side repeat rows/columns instead of producing empty (NaN) pools."""
    h, w = gray.shape
    if h < 4:
        gray = gray[np.arange(4) * h // 4]
        h = 4
    if w < 4:
        gray = gray[:, np.arange(4) * w // 4]
        w = 4
    ys = np.array_split(np.arange(h), 4)
    xs = np.array_split(np.arange(w), 4)
    return (
        np.array([[gray[np.ix_(yy, xx)].mean() for xx in xs] for yy in ys], dtype=np.float32)
        .ravel()
        / np.float32(255.0)
    )


def decode_wav(payload: bytes) -> dict:
    """PCM WAV via the stdlib ``wave`` module: true channel count,
    duration, and a 16-slice RMS-envelope feature (full-scale units)."""
    import io
    import wave

    with wave.open(io.BytesIO(payload)) as w:
        nch, sw, fr, nframes = (
            w.getnchannels(),
            w.getsampwidth(),
            w.getframerate(),
            w.getnframes(),
        )
        raw = w.readframes(nframes)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sw)
    if dtype is None:
        raise NotImplementedError(f"unsupported WAV sample width {sw}")
    x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if sw == 1:
        x -= 128.0
    x = x.reshape(-1, nch).mean(axis=1)  # mono mix
    scale = 128.0 if sw == 1 else float(1 << (8 * sw - 1))
    feat = np.array(
        [np.sqrt((s * s).mean()) if s.size else 0.0 for s in np.array_split(x, FEATURE_DIM)],
        dtype=np.float32,
    ) / np.float32(scale)
    return {
        "n_bytes": len(payload),
        "width": 0,
        "height": 0,
        "channels": nch,
        "duration_ms": int(round(nframes / fr * 1000.0)) if fr else 0,
        "feature": feat,
    }


def decode_bmp(payload: bytes) -> dict:
    """Uncompressed 24/32-bit BMP via numpy (BITMAPINFOHEADER layout):
    true dimensions and the pooled-grayscale feature."""
    import struct as _struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = _struct.unpack_from("<I", payload, 10)[0]
    w, h = _struct.unpack_from("<ii", payload, 18)
    bpp = _struct.unpack_from("<H", payload, 28)[0]
    compression = _struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(f"only uncompressed 24/32-bit BMP (got bpp={bpp})")
    nch = bpp // 8
    bottom_up = h > 0
    h = abs(h)
    rowsize = ((w * nch + 3) // 4) * 4
    arr = (
        np.frombuffer(payload, np.uint8, count=rowsize * h, offset=off)
        .reshape(h, rowsize)[:, : w * nch]
        .reshape(h, w, nch)
    )
    if bottom_up:
        arr = arr[::-1]
    gray = arr[..., :3].mean(axis=2)  # BGR(A) rows; grayscale is order-free
    return {
        "n_bytes": len(payload),
        "width": int(w),
        "height": int(h),
        "channels": nch,
        "duration_ms": 0,
        "feature": _feature_pool_gray(gray),
    }


def decode_ppm(payload: bytes) -> dict:
    """Binary PPM (P6, maxval <= 255) via numpy."""
    tokens: list[bytes] = []
    i = 0
    while len(tokens) < 4 and i < len(payload):
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment to end of line
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(payload[i:j])
        i = j
    i += 1  # single whitespace after maxval
    magic, w, h, maxval = tokens[0], int(tokens[1]), int(tokens[2]), int(tokens[3])
    if magic != b"P6" or maxval > 255:
        raise NotImplementedError("only binary P6 PPM with maxval <= 255")
    arr = np.frombuffer(payload, np.uint8, count=w * h * 3, offset=i).reshape(h, w, 3)
    return {
        "n_bytes": len(payload),
        "width": w,
        "height": h,
        "channels": 3,
        "duration_ms": 0,
        "feature": _feature_pool_gray(arr.mean(axis=2)),
    }


def synth_bmp(width: int, height: int, value: int) -> bytes:
    """Minimal uncompressed 24-bit solid-color BMP (BITMAPINFOHEADER) —
    deterministic synthetic payloads for tests/queries."""
    import struct as _struct

    rowsize = ((width * 3 + 3) // 4) * 4
    img = np.zeros((height, rowsize), dtype=np.uint8)
    img[:, : width * 3] = value
    pixels = img.tobytes()
    off = 14 + 40
    header = _struct.pack("<2sIHHI", b"BM", off + len(pixels), 0, 0, off)
    info = _struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + info + pixels


def real_media_decoder(kind: str, payload: bytes) -> dict:
    """Format-sniffing real decoder for the dependency-free formats;
    compressed formats raise (external codec required — the remaining
    declared stub surface)."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    raise NotImplementedError(
        f"no dependency-free decoder for this {kind} payload "
        f"(magic {payload[:4]!r}); JPEG/PNG/MP3/MP4 need PIL/librosa/ffmpeg"
    )


def extract_media_features(
    df: DataFrame,
    decoder: Callable[[str, bytes], dict] | None = deterministic_fake_decoder,
) -> DataFrame:
    """mapInPandas feature extraction over media rows. ``decoder=None``
    raises NotImplementedError (real decode unavailable here); pass
    ``deterministic_fake_decoder`` (default) for plumbing tests or a real
    decoder callable in production."""
    if decoder is None:
        raise NotImplementedError(
            "real media decoding requires image/audio libraries not present "
            "in this environment; pass deterministic_fake_decoder or a real "
            "decoder callable"
        )

    def part(batches):
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                feats = decoder(kind, bytes(payload) if payload is not None else b"")
                feats["media_id"] = int(mid)
                feats["kind"] = kind
                rows.append(feats)
            out = pd.DataFrame(rows)
            out["feature"] = out["feature"].map(lambda a: a.tolist())
            yield out[
                ["media_id", "kind", "n_bytes", "width", "height", "channels", "duration_ms", "feature"]
            ]

    return df.mapInPandas(part, schema=FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per planned frame
    (media_id, frame_idx, ts_ms) from the decoded duration — the decode of
    the frame itself is the stubbed step. Demonstrates the explode-based
    fan-out shape a real sampler uses."""
    feats = extract_media_features(df)
    # ceil(duration/every) frames: one per STARTED interval, so the final
    # partial interval still yields its frame (duration 2500 @ 1000 ->
    # ts 0/1000/2000, not just 0/1000 — floor dropped the tail frame)
    return feats.filter(F.col("kind") == "video").select(
        "media_id",
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.ceil(F.col("duration_ms") / every_ms).cast("int") - 1, F.lit(0)
                ),
            )
        ).alias("frame_idx", "_i"),
    ).select("media_id", "frame_idx", (F.col("frame_idx") * every_ms).alias("ts_ms"))
