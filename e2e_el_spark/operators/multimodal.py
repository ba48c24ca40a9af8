"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata.

The Spark-side plumbing is real and tested — schema, partition-preserving
mapInPandas, Arrow batch shapes — and ``decode_image`` REALLY decodes the
uncompressed raster formats parseable without codec libraries: binary PPM
(P6), binary PGM (P5), and uncompressed 24/32-bit BMP, all in pure numpy.
Compressed formats (JPEG/PNG) still raise NotImplementedError unless
``fake=True`` (no codec libs in this container) — swapping in PIL later
only replaces the inner function; the DataFrame contract is unchanged.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FEATURE_SCHEMA = (
    "media_id string, kind string, feat array<float>, n_bytes bigint, sha256 string"
)


def _decode_pnm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6, RGB) / PGM (P5, gray) → HxWx3 float32 array."""
    magic = payload[:2]
    # header: magic, width, height, maxval — whitespace/comment separated
    tokens: list[int] = []
    i = 2
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment to end of line
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(int(payload[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("16-bit PNM not supported")
    ch = 3 if magic == b"P6" else 1
    arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * ch, offset=i)
    arr = arr.reshape(h, w, ch).astype(np.float32)
    return np.repeat(arr, 3, axis=2) if ch == 1 else arr


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BMP (BITMAPINFOHEADER) → HxWx3 float32."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP not supported")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(f"BMP bpp={bpp} compression={compression}")
    flip = h > 0  # positive height = bottom-up storage
    h = abs(h)
    nb = bpp // 8
    row_bytes = (w * nb + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(payload, dtype=np.uint8, count=row_bytes * h, offset=data_offset)
    rows = rows.reshape(h, row_bytes)[:, : w * nb].reshape(h, w, nb)
    if flip:
        rows = rows[::-1]
    bgr = rows[:, :, :3].astype(np.float32)
    return bgr[:, :, ::-1].copy()  # BGR → RGB


def _try_import_pil():
    """Optional-dependency probe for compressed codecs (JPEG/PNG). Module
    cached after first probe; None when Pillow is absent (this container)."""
    global _PIL_IMAGE
    if _PIL_IMAGE is _UNSET:
        try:
            from PIL import Image as _img  # noqa: PLC0415

            _PIL_IMAGE = _img
        except ImportError:
            _PIL_IMAGE = None
    return _PIL_IMAGE


_UNSET = object()
_PIL_IMAGE = _UNSET


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """Decode image bytes → HxWx3 float32 array.

    REAL decode for the self-describing uncompressed formats (binary
    PPM/PGM, uncompressed 24/32-bit BMP) in pure numpy. Compressed codecs
    (JPEG/PNG/anything else) go through the optional Pillow seam when the
    library is installed — the fake path is unreachable then. Without
    Pillow (this container) they raise NotImplementedError unless
    ``fake=True``, which returns a deterministic 4x4x3 pseudo-image derived
    from the byte content (pure function) so downstream plumbing stays
    testable.
    """
    b = payload or b""
    try:
        if b[:2] in (b"P6", b"P5"):
            return _decode_pnm(b)
        if b[:2] == b"BM":
            return _decode_bmp(b)
    except Exception:
        if not fake:  # fake mode tolerates magic-byte lookalikes
            raise
    pil = _try_import_pil()
    if pil is not None:
        import io

        try:
            img = pil.open(io.BytesIO(b))
            return np.asarray(img.convert("RGB"), dtype=np.float32)
        except Exception:
            if not fake:  # fake mode still tolerates undecodable bytes
                raise
    if not fake:
        raise NotImplementedError(
            "only PPM/PGM/BMP decode without codec libs; install Pillow for "
            "JPEG/PNG, or pass fake=True"
        )
    h = hashlib.sha256(b).digest()
    arr = np.frombuffer((h * 2)[:48], dtype=np.uint8).reshape(4, 4, 3)
    return arr.astype(np.float32)


def extract_features(
    media: DataFrame, dim: int = 16, fake: bool = True,
) -> DataFrame:
    """mapInPandas feature extraction over BINARY payloads.

    Batched: one numpy pass per Arrow batch, never per-row Python calls into
    Spark. The fake featureizer pools the pseudo-decode + byte stats into a
    ``dim``-float vector — deterministic, schema-stable.
    """

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, sizes, shas = [], [], []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                img = decode_image(b, fake=fake)
                pooled = img.mean(axis=(0, 1))  # 3 channel means
                need = (dim - 3) * 4
                digest = hashlib.sha256(b).digest()
                digest = (digest * (need // len(digest) + 1))[:need]
                hv = np.frombuffer(digest, dtype=np.uint32).astype(np.float32)
                hv = hv / np.float32(2**32)
                feats.append(np.concatenate([pooled / 255.0, hv]).astype(np.float32))
                sizes.append(len(b))
                shas.append(hashlib.sha256(b).hexdigest())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feat": [list(f) for f in feats],
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "sha256": shas,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explode (media_id, frame_ts_ms) rows from
    duration metadata — pure DataFrame math; the actual frame grab is the
    stubbed decode. Demonstrates the partitioning story: one row per frame,
    repartitionable by media_id for locality."""
    from pyspark.sql import functions as F

    # duration_ms <= 0 (zero-length/unknown media) yields NO frames — the
    # old greatest(duration-1, 0) emitted a phantom frame at t=0 there
    # (sequence(0, 0) = [0]), diverging from the q44 range() oracle
    return media.filter(
        (F.col("kind") == "video") & (F.col("duration_ms") > 0)
    ).select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )
