"""Multimodal (image/audio/video) column plumbing (driver brief).

Media payloads are opaque ``binary`` columns with a typed metadata struct.
The Spark-side machinery — schema, batching, partitioning, Arrow transfer,
UDF signatures — is real and tested; the codec step goes through
``decode_payload_ex``, which uses a real decoder (PIL, behind an import-try)
when the library exists and the bytes parse, and otherwise a clearly-marked
deterministic STUB (this container ships no image/audio libraries).  A
cluster image that installs PIL gets real pixel decode with zero code
change; synthetic fake-byte corpora behave identically either way.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | audio | video
        StructField("payload", BinaryType()),    # opaque encoded bytes
        StructField("mime", StringType()),
        StructField("width", IntegerType()),     # typed metadata
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("feature", ArrayType(FloatType())),  # embedding-like
        StructField("frames_sampled", IntegerType()),
        # which decode path produced the feature: 'bmp'/'pil' (real
        # pixels), 'stub' (deterministic fallback), 'none' (no decoder).
        # Without this a mixed/codec-less cluster yields silently
        # heterogeneous features with no way to tell after the fact.
        StructField("codec", StringType()),
    ]
)


def _decode_stub(payload: bytes, kind: str) -> np.ndarray:
    """STUB decoder — deterministic fake pixels/samples from a hash of the
    payload.  Replace with PIL.Image.open / soundfile / pyav in production.
    Raises for unknown kinds exactly like a real decoder would."""
    if kind not in ("image", "audio", "video"):
        raise NotImplementedError(f"no decoder for kind={kind!r}")
    digest = hashlib.sha256(payload).digest()
    return np.frombuffer((digest * 8)[:256], dtype=np.uint8).astype(np.float32)


def _bmp_decode(payload: bytes):
    """Dependency-free real-pixel decode for uncompressed BMP (the one
    raster format trivial enough to parse with struct+numpy) — so the
    real-pixel path is exercised even in containers that ship no codec
    libraries.  Returns the grayscale float32 raveled pixel array
    (top-down row-major, matching ``np.asarray(PIL...convert('L'))``)
    or None for anything that is not a plain BI_RGB BMP.

    Supports BITMAPINFOHEADER (and larger headers), bit depths 8 (with
    palette), 24 and 32, compression BI_RGB only.  RGB->L uses PIL's
    exact integer formula ``(19595R + 38470G + 7471B + 0x8000) >> 16``
    so the output is bit-identical to the PIL path on the same bytes
    (differentially tested when PIL is importable)."""
    try:
        if len(payload) < 54 or payload[:2] != b"BM":
            return None
        data_off = struct.unpack_from("<I", payload, 10)[0]
        hdr_size = struct.unpack_from("<I", payload, 14)[0]
        if hdr_size < 40:  # BITMAPCOREHEADER etc. — not worth supporting
            return None
        width, height = struct.unpack_from("<ii", payload, 18)
        bits, comp = (
            struct.unpack_from("<H", payload, 28)[0],
            struct.unpack_from("<I", payload, 30)[0],
        )
        if comp != 0 or bits not in (8, 24, 32) or width <= 0 or height == 0:
            return None
        flip = height > 0  # positive height = bottom-up row order
        height = abs(height)
        row_bytes = (width * bits // 8 + 3) & ~3  # rows pad to 4 bytes
        px = np.frombuffer(
            payload, dtype=np.uint8, count=row_bytes * height, offset=data_off
        ).reshape(height, row_bytes)
        if flip:
            px = px[::-1]
        if bits == 8:
            n_colors = struct.unpack_from("<I", payload, 46)[0] or 256
            pal = np.frombuffer(
                payload, dtype=np.uint8, count=n_colors * 4, offset=14 + hdr_size
            ).reshape(n_colors, 4)  # BGRX entries
            idx = px[:, :width]
            b_, g_, r_ = (pal[idx, c].astype(np.uint32) for c in (0, 1, 2))
        else:
            step = bits // 8
            rows = px[:, : width * step].reshape(height, width, step)
            b_, g_, r_ = (rows[..., c].astype(np.uint32) for c in (0, 1, 2))
        lum = (19595 * r_ + 38470 * g_ + 7471 * b_ + 0x8000) >> 16
        return lum.astype(np.float32).ravel()
    except (ValueError, struct.error, IndexError):
        # IndexError: hostile 8-bit BMPs whose pixel bytes exceed the
        # declared palette (biClrUsed) — must fall back to the stub, not
        # fail the task (the never-fail decode contract)
        return None


def _real_image_decode(payload: bytes):
    """Decode real image bytes to a grayscale float32 sample array via PIL
    when the library is installed.  Returns None when PIL is absent OR the
    bytes are not a decodable image — the deterministic stub then applies,
    so synthetic corpora (whose payloads are fake bytes) produce identical
    output with and without codec libs.  The import is inside the function
    because decode runs worker-side under mapInPandas (imports resolve per
    Python worker, and must not fail module import on codec-less boxes)."""
    try:
        import io

        from PIL import Image
    except ImportError:
        return None
    try:
        with Image.open(io.BytesIO(payload)) as img:
            return np.asarray(img.convert("L"), dtype=np.float32).ravel()
    except Exception:
        return None


def decode_payload_ex(payload: bytes, kind: str) -> tuple:
    """Codec entry point: the real decoder when one is importable and the
    bytes parse, else the deterministic stub.  Swap-in point for cluster
    images that ship PIL/soundfile/pyav — nothing else changes.

    Returns ``(samples, codec)`` where codec is ``'bmp'`` (dependency-free
    real-pixel path), ``'pil'`` or ``'stub'`` — the per-row provenance
    that makes mixed/codec-less environments detectable in the output
    (see FEATURES_SCHEMA.codec)."""
    if kind == "image":
        bmp = _bmp_decode(payload)
        if bmp is not None:
            return bmp, "bmp"
        real = _real_image_decode(payload)
        if real is not None:
            return real, "pil"
    return _decode_stub(payload, kind), "stub"


def extract_features(media: DataFrame, feature_dim: int = 8) -> DataFrame:
    """Decode -> feature-extract as an Arrow-batched mapInPandas.

    The batch shape is (rows, payload bytes); per batch we vectorize the
    post-decode math in numpy.  Frame sampling for video is simulated by
    slicing the fake sample array at a fixed stride.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for media_id, kind, payload in zip(
                b["media_id"], b["kind"], b["payload"]
            ):
                data = bytes(payload) if payload is not None else b""
                try:
                    samples, codec = decode_payload_ex(data, kind)
                except NotImplementedError:
                    out.append((int(media_id), kind, len(data), None, 0, "none"))
                    continue
                frames = 1
                if kind == "video":
                    samples = samples[::4]  # frame sampling stub
                    frames = 4
                if samples.size < feature_dim:
                    # real decoders can return fewer samples than
                    # feature_dim (a 1x1 tracking pixel via PIL): tile
                    # deterministically so no array_split chunk is empty
                    # (an empty chunk's mean() is NaN)
                    samples = np.resize(samples, feature_dim)
                chunks = np.array_split(
                    samples.astype(np.float64), feature_dim
                )
                feat = [float(round(c.mean(), 4)) for c in chunks]
                out.append((int(media_id), kind, len(data), feat, frames, codec))
            yield pd.DataFrame(
                out, columns=[f.name for f in FEATURES_SCHEMA.fields]
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),   # re-encoded bytes
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


def resize_media(df: DataFrame, width: int = 32, height: int = 32) -> DataFrame:
    """Resize images to (width, height) — Arrow-batched mapInPandas with
    the same schema in and out, so it composes with extract_features.

    The pixel math is the STUB path (decode -> numpy stride resample ->
    deterministic re-encode); swap ``_decode_stub`` + the byte packing for
    PIL's ``Image.resize`` in a cluster image and the plumbing (schema,
    batching, metadata update, non-image passthrough) is unchanged."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for row in b.itertuples(index=False):
                data = bytes(row.payload) if row.payload is not None else b""
                if row.kind != "image":
                    out.append(tuple(row))  # passthrough, metadata intact
                    continue
                samples = _decode_stub(data, row.kind)
                # stride resample to width*height "pixels" (stub for a
                # real bilinear resize over decoded pixel rows)
                n_px = max(width * height, 1)
                idx = np.linspace(0, len(samples) - 1, n_px).astype(np.int64)
                resized = samples[idx].astype(np.uint8).tobytes()
                out.append(
                    (
                        int(row.media_id), row.kind, bytearray(resized),
                        row.mime, width, height, int(row.duration_ms),
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in RESIZED_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
        StructField("ts_ms", IntegerType()),
    ]
)


def sample_frames(df: DataFrame, every_ms: int = 250) -> DataFrame:
    """Explode videos into sampled frames (one output row per frame) —
    the 1:N shape a real frame sampler produces, with payload bytes
    never shuffled (row-local mapInPandas).  Frame content is the STUB
    decode sliced per frame; a real pyav/ffmpeg reader drops in at the
    marked line."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for row in b.itertuples(index=False):
                if row.kind != "video" or not row.duration_ms:
                    continue
                data = bytes(row.payload) if row.payload is not None else b""
                samples = _decode_stub(data, row.kind)  # <- real decoder here
                n_frames = max(int(row.duration_ms) // every_ms, 1)
                chunks = np.array_split(samples, n_frames)
                for k, chunk in enumerate(chunks):
                    out.append(
                        (
                            int(row.media_id), k,
                            bytearray(chunk.astype(np.uint8).tobytes()),
                            k * every_ms,
                        )
                    )
            yield pd.DataFrame(
                out, columns=[f.name for f in FRAMES_SCHEMA.fields]
            )

    return df.mapInPandas(run, schema=FRAMES_SCHEMA)


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests/benchmarks."""
    rows = []
    kinds = ["image", "audio", "video", "blob"]
    for i in range(n):
        kind = kinds[i % len(kinds)]
        payload = struct.pack(">QQ", i, i * 7919) * 16
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                {"image": "image/png", "audio": "audio/wav",
                 "video": "video/mp4", "blob": "application/octet-stream"}[kind],
                64 if kind == "image" else 0,
                64 if kind == "image" else 0,
                1000 if kind in ("audio", "video") else 0,
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
