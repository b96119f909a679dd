"""Baseline JPEG decoder (functions/jpeg.py) against the test encoder
(jpeg_encoder.py): roundtrips (quant tables of ones so the only loss
is DCT rounding) covering 4:4:4, grayscale, 4:2:0 subsampling, restart
markers, and lossy uniform quantization; out-of-scope coding modes
must raise NotImplementedError."""

import numpy as np
import pytest

from amazon_personalize_connectors_spark.functions.jpeg import jpeg_pixels
from jpeg_encoder import jpeg_encode


def _rng(seed=7):
    return np.random.default_rng(seed)


def test_roundtrip_444_rgb():
    img = _rng().integers(0, 256, size=(12, 17, 3), dtype="u1")
    got = jpeg_pixels(jpeg_encode(img))
    assert got.shape == (12, 17, 3)
    # quant=1 keeps loss to DCT+color-transform rounding
    assert np.max(np.abs(got.astype(int) - img.astype(int))) <= 4


def test_roundtrip_grayscale():
    img = _rng(11).integers(0, 256, size=(16, 16), dtype="u1")
    got = jpeg_pixels(jpeg_encode(img))
    assert got.shape == (16, 16, 1)
    assert np.max(np.abs(got[..., 0].astype(int) - img.astype(int))) <= 2


def test_roundtrip_420_subsampled():
    # neutral chroma (equal channels) so 4:2:0 box-averaging is
    # lossless and the tolerance stays at DCT rounding
    g = _rng(23).integers(0, 256, size=(20, 13), dtype="u1")
    img = np.stack([g, g, g], axis=-1)
    got = jpeg_pixels(jpeg_encode(img, subsample=True))
    assert got.shape == (20, 13, 3)
    assert np.max(np.abs(got.astype(int) - img.astype(int))) <= 4


def test_restart_markers():
    img = _rng(31).integers(0, 256, size=(24, 24, 3), dtype="u1")
    plain = jpeg_pixels(jpeg_encode(img))
    with_rst = jpeg_pixels(jpeg_encode(img, restart_interval=2))
    assert np.array_equal(plain, with_rst)


def test_uniform_quantization_trades_size_for_error():
    img = _rng(41).integers(0, 256, size=(32, 32, 3), dtype="u1")
    lossless = jpeg_encode(img, quant=1)
    lossy = jpeg_encode(img, quant=8)
    assert len(lossy) < len(lossless)
    got = jpeg_pixels(lossy)
    # still a faithful image: bounded reconstruction error
    assert np.max(np.abs(got.astype(int) - img.astype(int))) <= 8 * 8


def test_progressive_raises():
    img = _rng(5).integers(0, 256, size=(8, 8), dtype="u1")
    data = bytearray(jpeg_encode(img))
    idx = data.find(b"\xff\xc0")
    data[idx + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(NotImplementedError, match="progressive"):
        jpeg_pixels(bytes(data))


def test_real_decoder_dispatches_jpeg():
    from amazon_personalize_connectors_spark.functions.multimodal import (
        real_decoder,
    )

    img = _rng(3).integers(0, 256, size=(10, 10, 3), dtype="u1")
    out = real_decoder(jpeg_encode(img), "image")
    w, h, nch = out["features"][:3]
    assert (w, h, nch) == (10.0, 10.0, 3.0)
    assert all(0.0 <= m <= 1.0 for m in out["features"][3:])


def test_resize_image_handles_jpeg():
    from amazon_personalize_connectors_spark.functions.multimodal import (
        resize_image,
    )

    img = _rng(13).integers(0, 256, size=(16, 16, 3), dtype="u1")
    out = resize_image(jpeg_encode(img), 4, 4)
    assert out["width"] == 4 and out["height"] == 4


def test_decompression_bomb_guard():
    import struct

    img = _rng(2).integers(0, 256, size=(8, 8), dtype="u1")
    data = bytearray(jpeg_encode(img))
    idx = data.find(b"\xff\xc0")
    # rewrite declared dims to 65535 x 65535 — must refuse BEFORE
    # allocating/decoding, not hang on 67M MCUs
    struct.pack_into(">HH", data, idx + 5, 65535, 65535)
    with pytest.raises(ValueError, match="bomb"):
        jpeg_pixels(bytes(data))


def test_fuzzed_jpegs_terminate():
    """Random corruption must raise a clean error or decode — never
    hang or crash the worker (decode runs inside mapInPandas)."""
    img = _rng(9).integers(0, 256, size=(8, 8), dtype="u1")
    good = jpeg_encode(img)
    rng = np.random.default_rng(123)
    for _ in range(60):
        data = bytearray(good)
        for _ in range(rng.integers(1, 6)):
            data[rng.integers(2, len(data))] = rng.integers(0, 256)
        try:
            out = jpeg_pixels(bytes(data), max_pixels=1_000_000)
        except Exception:  # noqa: BLE001 — any CLEAN error is fine
            continue
        assert out.dtype == np.uint8


def test_fill_bytes_before_marker_are_skipped():
    """T.81 B.1.1.2: optional 0xFF fill bytes may pad any marker; the
    scan must not parse them as a segment length."""
    img = _rng(5).integers(0, 256, size=(16, 16, 3), dtype="u1")
    data = jpeg_encode(img)
    base = jpeg_pixels(data)
    # insert a run of fill bytes before the first post-SOI marker
    padded = data[:2] + b"\xff\xff\xff" + data[2:]
    assert padded[2:5] == b"\xff\xff\xff"
    got = jpeg_pixels(padded)
    assert (got == base).all()


def test_truncated_restart_stream_raises_valueerror():
    """A restart-coded stream missing its later entropy segments must
    raise the documented ValueError, not IndexError."""
    import pytest

    img = _rng(6).integers(0, 256, size=(32, 32, 3), dtype="u1")
    data = jpeg_encode(img, restart_interval=1)
    # cut the stream at the SECOND restart marker (keep header + the
    # first entropy segment), then close with EOI
    first_rst = data.index(b"\xff\xd0")
    truncated = data[: first_rst + 2] + b"\xff\xd9"
    with pytest.raises(ValueError, match="restart segment"):
        jpeg_pixels(truncated)
