"""Minimal real BMP codec (BI_RGB 24-bit, bottom-up) in NumPy."""

from __future__ import annotations

import struct

import numpy as np


def encode(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> BMP bytes (24-bit BGR, rows padded to 4)."""
    if arr.dtype != np.uint8 or arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (h,w,3) uint8, got {arr.dtype} {arr.shape}")
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    pixel_data = rows.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixel_data), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0)
    return header + info + pixel_data


def decode(data: bytes) -> np.ndarray:
    """BMP bytes -> (h, w, 3) uint8 RGB."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (offset,) = struct.unpack_from("<I", data, 10)
    hdr_size, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", data, 14)
    if bpp != 24 or comp != 0:
        raise ValueError("unsupported BMP variant (need 24-bit BI_RGB)")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    raw = np.frombuffer(data, dtype=np.uint8, count=h * stride, offset=offset)
    rows = raw.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    # BGR -> RGB as three strided channel copies into one fresh array:
    # copying the reversed-channel view (``rows[:, :, ::-1]``) instead
    # made the whole decode of a 64x48 image about twice as slow
    out = np.empty((h, w, 3), dtype=np.uint8)
    out[:, :, 0] = rows[:, :, 2]
    out[:, :, 1] = rows[:, :, 1]
    out[:, :, 2] = rows[:, :, 0]
    return out
