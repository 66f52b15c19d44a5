"""Codec round-trip + fidelity gates (BASELINE.json input_hint:
lossless exact, lossy PSNR >= 40 dB)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from jimmy_spark.codecs import bmp, decode_image, encode_image
from jimmy_spark.codecs.registry import FORMATS, LOSSLESS


def _img(seed: int, w: int, h: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("fmt", FORMATS)
@pytest.mark.parametrize("wh", [(16, 16), (32, 24), (64, 48), (5, 3), (1, 1)])
def test_roundtrip(fmt, wh):
    w, h = wh
    arr = _img(w * 1000 + h, w, h)
    out = decode_image(encode_image(arr, fmt), fmt)
    assert out.shape == (h, w, 3)
    if fmt in LOSSLESS:
        np.testing.assert_array_equal(out, arr)
    else:
        mse = ((arr.astype(np.float64) - out.astype(np.float64)) ** 2).mean()
        psnr = 10 * np.log10(255.0**2 / mse)
        assert psnr >= 40.0, psnr


def test_truncated_raises():
    arr = _img(7, 16, 16)
    for fmt in FORMATS:
        data = encode_image(arr, fmt)
        with pytest.raises(ValueError):
            decode_image(data[: len(data) // 2], fmt)


def _bmp_top_down(data: bytes) -> bytes:
    """Rewrite a bottom-up BMP as the equivalent top-down one (negative
    height, rows stored first-to-last)."""
    (offset,) = struct.unpack_from("<I", data, 10)
    w, h = struct.unpack_from("<ii", data, 18)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, np.uint8, count=h * stride, offset=offset)
    head = bytearray(data[:offset])
    struct.pack_into("<i", head, 22, -h)
    return bytes(head) + rows.reshape(h, stride)[::-1].tobytes()


def _bmp_decode_reversed_view(data: bytes) -> np.ndarray:
    """The reversed-channel-view formulation ``bmp.decode`` replaced."""
    (offset,) = struct.unpack_from("<I", data, 10)
    w, h = struct.unpack_from("<ii", data, 18)
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(data, dtype=np.uint8, count=h * stride, offset=offset)
    out = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
    return (out[::-1] if flip else out).copy()


@pytest.mark.parametrize("top_down", [False, True])
@pytest.mark.parametrize("w", range(1, 8))
def test_bmp_decode_bit_identical_to_reversed_view(w, top_down):
    """Per-channel copies == the old ``[:, :, ::-1]`` view, byte for
    byte, for every stride padding (w mod 4) and both row orders."""
    arr = _img(300 + w, w, 5)
    data = bmp.encode(arr)
    if top_down:
        data = _bmp_top_down(data)
    got = bmp.decode(data)
    ref = _bmp_decode_reversed_view(data)
    assert got.dtype == np.uint8 and got.flags.c_contiguous
    np.testing.assert_array_equal(got, ref)
    np.testing.assert_array_equal(got, arr)
    assert zlib.crc32(got) == zlib.crc32(ref) == zlib.crc32(arr.tobytes())


def test_wrong_fmt_raises():
    arr = _img(8, 16, 16)
    png = encode_image(arr, "png")
    with pytest.raises(ValueError):
        decode_image(png, "bmp")


def test_unknown_fmt():
    with pytest.raises(ValueError):
        encode_image(_img(9, 4, 4), "tiff")


def test_qwav_roundtrip():
    from jimmy_spark.codecs import qwav

    samples = (np.arange(5000) % 30001 - 15000).astype(np.int16)
    data = qwav.encode(samples, 16000)
    out, sr = qwav.decode(data)
    assert sr == 16000
    np.testing.assert_array_equal(out, samples)
    with pytest.raises(ValueError):
        qwav.decode(data[:10] + b"xx")
    with pytest.raises(ValueError):
        qwav.decode(b"RIFFnot-a-qwav")


def test_qvid_roundtrip():
    from jimmy_spark.codecs import qvid

    frames = (np.arange(6 * 8 * 8 * 3) % 256).astype(np.uint8).reshape(6, 8, 8, 3)
    data = qvid.encode(frames, 24)
    out, fps = qvid.decode(data)
    assert fps == 24
    np.testing.assert_array_equal(out, frames)
    with pytest.raises(ValueError):
        qvid.decode(b"QVIDgarbage")


def test_suffix_repair_sniffing():
    """Mislabeled bytes decode via magic-byte sniffing (google_keep.py's
    suffix-repair fallback); hopeless bytes still raise."""
    from jimmy_spark.codecs import registry

    arr = _img(5, 12, 9)
    for true_fmt in registry.FORMATS:
        data = registry.encode_image(arr, true_fmt)
        assert registry.sniff_format(data) == true_fmt
        for lie in ("gif", None, *(f for f in registry.FORMATS if f != true_fmt)):
            px, actual = registry.decode_image_sniffed(data, lie)
            assert actual == true_fmt
            if true_fmt in registry.LOSSLESS:
                np.testing.assert_array_equal(px, arr)
    with pytest.raises(ValueError, match="undecodable"):
        registry.decode_image_sniffed(b"\x00\x01garbage", "gif")
