"""Multimodal plumbing: schema, mapInPandas batching, stubbed decode."""

import hashlib

import pytest
from pyspark.sql import functions as F

from e2e_el_spark.operators.multimodal import (
    decode_image,
    extract_features,
    frame_sample_plan,
)


def _media(spark):
    rows = [
        ("m1", "image", b"\x89PNGfake1", "image/png", 4, 4, 0),
        ("m2", "image", b"\x89PNGfake2", "image/png", 4, 4, 0),
        ("v1", "video", b"\x00\x00ftypmp4", "video/mp4", 640, 480, 3500),
    ]
    return spark.createDataFrame(
        rows,
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image(b"bytes")


def test_decode_fake_deterministic():
    a = decode_image(b"payload", fake=True)
    b = decode_image(b"payload", fake=True)
    assert a.shape == (4, 4, 3)
    assert (a == b).all()
    assert (decode_image(b"other", fake=True) != a).any()


def test_extract_features_schema_and_determinism(spark):
    media = _media(spark)
    f1 = {r.media_id: r for r in extract_features(media, dim=16).collect()}
    f2 = {r.media_id: r for r in extract_features(media, dim=16).collect()}
    assert set(f1) == {"m1", "m2", "v1"}
    for mid in f1:
        assert len(f1[mid].feat) == 16
        assert f1[mid].feat == f2[mid].feat
        assert f1[mid].sha256 == hashlib.sha256(
            {"m1": b"\x89PNGfake1", "m2": b"\x89PNGfake2", "v1": b"\x00\x00ftypmp4"}[mid]
        ).hexdigest()
    assert f1["m1"].feat != f1["m2"].feat


def test_frame_sample_plan(spark):
    media = _media(spark)
    frames = frame_sample_plan(media, every_ms=1000)
    got = sorted((r.media_id, r.frame_ts_ms) for r in frames.collect())
    assert got == [("v1", 0), ("v1", 1000), ("v1", 2000), ("v1", 3000)]


def _make_ppm(w, h, rgb):
    """Minimal binary P6 with a constant color."""
    import numpy as np

    header = f"P6\n# test\n{w} {h}\n255\n".encode()
    px = np.tile(np.array(rgb, dtype=np.uint8), (h, w, 1))
    return header + px.tobytes(), px


def _make_bmp(w, h, rgb):
    """Uncompressed 24-bit bottom-up BMP with a constant color."""
    import struct

    import numpy as np

    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    data_offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", data_offset + img_size, 0, 0, data_offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    bgr = bytes([rgb[2], rgb[1], rgb[0]]) * w
    pad = b"\x00" * (row_bytes - w * 3)
    body = (bgr + pad) * h
    px = np.tile(np.array(rgb, dtype=np.uint8), (h, w, 1))
    return header + info + body, px


def test_decode_ppm_real_pixels():
    import numpy as np

    from e2e_el_spark.operators.multimodal import decode_image

    payload, px = _make_ppm(5, 3, (200, 10, 30))
    arr = decode_image(payload)  # no fake flag needed: REAL decode
    assert arr.shape == (3, 5, 3)
    assert np.array_equal(arr.astype(np.uint8), px)


def test_decode_pgm_grayscale_to_rgb():
    import numpy as np

    from e2e_el_spark.operators.multimodal import decode_image

    header = b"P5\n4 2\n255\n"
    body = bytes(range(8))
    arr = decode_image(header + body)
    assert arr.shape == (2, 4, 3)
    assert np.array_equal(arr[:, :, 0], arr[:, :, 1])  # gray replicated
    assert arr[0, 3, 0] == 3.0


def test_decode_bmp_real_pixels():
    import numpy as np

    from e2e_el_spark.operators.multimodal import decode_image

    payload, px = _make_bmp(6, 4, (12, 250, 99))
    arr = decode_image(payload)
    assert arr.shape == (4, 6, 3)
    assert np.array_equal(arr.astype(np.uint8), px)  # BGR flip + row flip undone


def test_decode_compressed_still_raises_without_fake():
    import pytest as _pytest

    from e2e_el_spark.operators.multimodal import decode_image

    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n\x1a\n....")
    # fake mode tolerates garbage and magic-byte lookalikes
    assert decode_image(b"P6 garbage", fake=True).shape == (4, 4, 3)
    assert decode_image(b"\x89PNG", fake=True).shape == (4, 4, 3)


def test_extract_features_real_decode_channel_means(spark):
    """End-to-end through mapInPandas: a real PPM payload's first three
    features are the true channel means / 255."""
    import pytest as _pytest

    from e2e_el_spark.operators.multimodal import extract_features

    payload, _ = _make_ppm(4, 4, (100, 150, 200))
    media = spark.createDataFrame(
        [("m1", "image", bytearray(payload), "image/x-portable-pixmap", 4, 4, 0)],
        "media_id string, kind string, payload binary, mime string, width int, height int, duration_ms int",
    )
    feat = extract_features(media, dim=8, fake=False).collect()[0].feat
    assert feat[0] == _pytest.approx(100 / 255, abs=1e-6)
    assert feat[1] == _pytest.approx(150 / 255, abs=1e-6)
    assert feat[2] == _pytest.approx(200 / 255, abs=1e-6)


def test_compressed_codec_seam():
    """Without Pillow: PNG magic raises (honest boundary). With Pillow: the
    real decoder engages and the fake path is unreachable — the roundtrip
    half of this test self-activates the moment the codec lib exists."""
    import numpy as np
    import pytest

    from e2e_el_spark.operators.multimodal import _try_import_pil, decode_image

    png_magic = b"\x89PNG\r\n\x1a\n" + b"garbage"
    if _try_import_pil() is None:
        with pytest.raises(NotImplementedError):
            decode_image(png_magic)
        # fake mode still yields the deterministic pseudo-image
        assert decode_image(png_magic, fake=True).shape == (4, 4, 3)
    else:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.fromarray(
            np.arange(48, dtype=np.uint8).reshape(4, 4, 3), "RGB"
        ).save(buf, format="PNG")
        out = decode_image(buf.getvalue(), fake=True)  # fake must be bypassed
        assert out.shape == (4, 4, 3)
        assert np.array_equal(out, np.arange(48).reshape(4, 4, 3).astype("float32"))


def test_frame_sample_plan_zero_duration_yields_no_frames(spark):
    """duration_ms <= 0 (unknown/empty media) must produce NO frames — the
    old form emitted a phantom frame at t=0 (ADVICE r3)."""
    rows = [
        ("v0", "video", None, "video/mp4", 0, 0, 0),
        ("vneg", "video", None, "video/mp4", 0, 0, -5),
        ("v1", "video", None, "video/mp4", 0, 0, 1500),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id string, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    got = sorted((r.media_id, r.frame_ts_ms) for r in frame_sample_plan(media).collect())
    assert got == [("v1", 0), ("v1", 1000)]
