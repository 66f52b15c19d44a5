"""Multimodal column operators: images are opaque ``binary`` + typed
metadata; decode/feature/resize run as Arrow-batched ``mapInPandas``.

Real here (pure NumPy on our codecs): image decode, per-channel stats,
histogram features, nearest-neighbor thumbnailing, aHash perceptual hash;
audio features and video frame sampling over DETERMINISTIC FAKE codecs
(codecs/qwav.py, qvid.py — no libsndfile/ffmpeg in this container; the
STUB NOTICE lives in the codec modules and swapping a real decoder in
changes only them, the Spark plumbing here is real and tested).
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from jimmy_spark.codecs import decode_image

# Per-task content-addressed cache discipline, shared by every blob
# kernel (fused map, decode, features, fingerprints): each output is a
# pure function of (fmt, bytes), so identical blobs pay decode+features
# once per task instead of once per row. Keys are (fmt, SHA-256(bytes)
# truncated to 16 bytes) — never the blobs themselves, which would pin up
# to _CACHE_CAP full images (and their Arrow batch buffers) in executor
# memory. An entry stays ~100 bytes whatever the image size, 128-bit
# collision odds are negligible at any corpus size, and the dict is
# cleared at the cap. SHA-256 over blake2b: with the SHA extensions
# OpenSSL hashes a 3.4 KB blob in about half the time.
_CACHE_CAP = 65536


def blob_key(fmt, blob) -> tuple:
    """(fmt, digest) cache key over any bytes-like blob (bytes or an
    Arrow buffer memoryview); NULL blobs key on a sentinel so the decode
    path's usual error row is cached/replayed like any other."""
    if blob is None:
        return (fmt, None)
    return (fmt, hashlib.sha256(blob).digest()[:16])


def cached_blob_fn(cache: dict | None, fmt, blob, fn):
    """Memoize ``fn(blob, fmt)`` (a pure blob-determined row kernel) in a
    per-task dict; ``cache=None`` runs uncached (local twins/goldens)."""
    if cache is None:
        return fn(blob, fmt)
    key = blob_key(fmt, blob)
    hit = cache.get(key)
    if hit is None:
        hit = fn(blob, fmt)
        if len(cache) >= _CACHE_CAP:
            cache.clear()
        cache[key] = hit
    return hit


def _cache_put(cache: dict | None, key, val):
    if cache is not None:
        if len(cache) >= _CACHE_CAP:
            cache.clear()
        cache[key] = val
    return val


def grouped_blob_rows(
    blobs, fmts, cache: dict | None, decode_fn, err_fn, group_fn,
    chunk: int = 256,
) -> list[tuple]:
    """Shape-grouped execution of a blob-determined row kernel: resolve
    cache hits, decode misses per row (codecs are inherently per-blob),
    then stack SAME-SHAPE decoded arrays and compute the feature math
    vectorized across the group — tiny images (the common web-corpus
    case) otherwise pay ~1-3us of NumPy dispatch per op per row, which
    dominates the actual arithmetic (guide §4.2: hand whole batches to
    vectorized kernels). ``chunk`` bounds the float64 temporaries per
    group so executor memory stays flat.

    Protocol: ``decode_fn(blob, fmt) -> (u8_array, extra)`` raising
    ValueError for corrupt rows; ``err_fn(msg, blob) -> tuple`` builds
    the error row; ``group_fn(u83, extras) -> list[tuple]`` computes one
    value tuple per stacked image, REPRODUCING the per-row op order
    bit-for-bit (tests assert batched == per-row on every kernel).
    Returns one tuple per input row, all cached like cached_blob_fn.
    """
    n = len(blobs)
    out: list = [None] * n
    pend: dict[tuple, list] = {}
    for i in range(n):
        key = blob_key(fmts[i], blobs[i])
        if cache is not None:
            hit = cache.get(key)
            if hit is not None:
                out[i] = hit
                continue
        try:
            u8, extra = decode_fn(blobs[i], fmts[i])
        except ValueError as e:
            out[i] = _cache_put(cache, key, err_fn(str(e), blobs[i]))
            continue
        pend.setdefault(u8.shape, []).append((i, key, u8, extra))
    for items in pend.values():
        for c0 in range(0, len(items), chunk):
            part = items[c0 : c0 + chunk]
            u83 = np.stack([u for _, _, u, _ in part])
            rows = group_fn(u83, [x for _, _, _, x in part])
            for (i, key, _, _), tup in zip(part, rows):
                out[i] = _cache_put(cache, key, tup)
    return out

FEATURE_SCHEMA = (
    "image_id string, ok boolean, error string, "
    "mean_r double, mean_g double, mean_b double, "
    "std_lum double, edge_energy double, "
    "ahash long, thumb_crc long, sharp_e3 long, clip_e3 long"
)


def _quality_ints(arr_u8: np.ndarray) -> tuple[int, int]:
    """Exact-integer image-quality pair (training-data filter features):

    ``sharp_e3``  — 1000x the population variance of the 4-neighbor
                    Laplacian of the 8-bit integer luma ((299r+587g+114b)
                    div 1000), the classic variance-of-Laplacian focus
                    measure; blur drives it toward 0. Interior pixels
                    only; images thinner than 3px score 0.
    ``clip_e3``   — 1000x the fraction of pixels with ANY channel clipped
                    at 0 or 255 (over/under-exposure), floor-divided.

    All arithmetic is int64-bounded NumPy + arbitrary-precision Python for
    the variance numerator, so results are bit-identical across hosts —
    the same no-IEEE contract as operators/raster.py idw_raster.
    """
    a = arr_u8.astype(np.int64)
    luma = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    h, w = luma.shape
    if h >= 3 and w >= 3:
        lap = (
            4 * luma[1:-1, 1:-1]
            - luma[:-2, 1:-1] - luma[2:, 1:-1]
            - luma[1:-1, :-2] - luma[1:-1, 2:]
        )
        m = int(lap.size)
        s1 = int(lap.sum())
        s2 = int((lap * lap).sum())
        sharp = (1000 * (m * s2 - s1 * s1)) // (m * m)
    else:
        sharp = 0
    clipped = int(((a == 0) | (a == 255)).any(axis=2).sum())
    return sharp, (1000 * clipped) // (h * w)


_W64 = np.uint64(1) << np.arange(64, dtype=np.uint64)


def _ahash(gray: np.ndarray) -> np.int64:
    """8x8 average hash (public aHash algorithm) — the engine's computed
    perceptual hash (the input table's ``phash`` column is the precomputed
    analogue, jimmy's Resource.md5). Bit i set iff cell i beats the mean;
    packing is a uint64 dot against the power weights (LSB-first, the
    same value the r5 per-bit loop produced — distinct powers of two sum
    below 2^64, so no wraparound)."""
    t = _resize_nn(gray, 8, 8)
    bits = (t > t.mean()).ravel()
    val = bits.astype(np.uint64) @ _W64
    return np.int64(np.uint64(val).view(np.int64))


def _resize_nn(arr: np.ndarray, w: int, h: int) -> np.ndarray:
    """Nearest-neighbor resize (deterministic integer index math)."""
    sh, sw = arr.shape[:2]
    ys = (np.arange(h) * sh) // h
    xs = (np.arange(w) * sw) // w
    return arr[ys][:, xs]


_LUM_W = np.array([0.299, 0.587, 0.114])


def _features_row(blob, fmt) -> tuple:
    """Blob-determined feature tuple — a pure function of (fmt, bytes),
    hence cacheable per task: (ok, error, mean_r, mean_g, mean_b,
    std_lum, edge_energy, ahash, thumb_crc, sharp_e3, clip_e3). The float
    math is unchanged from r5 (same exact-integer inputs, same op order),
    so values are bit-identical to the uncached kernel."""
    try:
        u8 = decode_image(blob, fmt)
        arr = u8.astype(np.float64)
        lum = arr @ _LUM_W
        gx = np.abs(np.diff(lum, axis=1)).mean() if lum.shape[1] > 1 else 0.0
        gy = np.abs(np.diff(lum, axis=0)).mean() if lum.shape[0] > 1 else 0.0
        sharp, clip = _quality_ints(u8)
        return (
            True, None,
            arr[:, :, 0].mean(), arr[:, :, 1].mean(), arr[:, :, 2].mean(),
            lum.std(), gx + gy,
            _ahash(lum),
            zlib.crc32(_resize_nn(u8, 16, 16).tobytes()),
            sharp, clip,
        )
    except ValueError as e:
        return (False, str(e), 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0, 0, 0)


def _quality_ints_batch(u83: np.ndarray) -> tuple[list[int], list[int]]:
    """``_quality_ints`` over a stack of same-shape uint8 images — all
    integer math, so vectorization is exact by construction; the final
    variance formula stays in arbitrary-precision Python ints per image
    (the same no-IEEE contract)."""
    k, h, w = u83.shape[:3]
    if h >= 3 and w >= 3:
        # int32 intermediates: every value is bounded (luma <= 255000,
        # |lap| <= 1020, lap^2 <= 1,040,400 — all < 2^31) and the sums
        # accumulate in explicit int64, so results are exactly the int64
        # per-row kernel's at half the memory traffic
        a32 = u83.astype(np.int32)
        luma3 = (
            299 * a32[:, :, :, 0] + 587 * a32[:, :, :, 1] + 114 * a32[:, :, :, 2]
        ) // 1000
        lap3 = (
            4 * luma3[:, 1:-1, 1:-1]
            - luma3[:, :-2, 1:-1] - luma3[:, 2:, 1:-1]
            - luma3[:, 1:-1, :-2] - luma3[:, 1:-1, 2:]
        )
        m = int(lap3.shape[1] * lap3.shape[2])
        s1 = lap3.sum(axis=(1, 2), dtype=np.int64)
        s2 = (lap3 * lap3).sum(axis=(1, 2), dtype=np.int64)
        sharp = [
            (1000 * (m * int(s2[j]) - int(s1[j]) * int(s1[j]))) // (m * m)
            for j in range(k)
        ]
    else:
        sharp = [0] * k
    clip3 = ((u83 == 0) | (u83 == 255)).any(axis=3).sum(axis=(1, 2))
    return sharp, [(1000 * int(c)) // (h * w) for c in clip3]


_T16 = np.arange(16)


def _features_group(u83: np.ndarray, _extras: list) -> list[tuple]:
    """Batched ``_features_row`` over a stack of same-shape decoded
    images. Everything elementwise or integer runs ONE NumPy dispatch
    per GROUP (astype, luma matmul, diffs, quality ints, thumbnails) —
    exact in any evaluation order by construction. The six FLOAT
    reductions (channel means, std, gradient means) and aHash stay
    per-image, each called on a VIEW of the batched array with exactly
    the per-row kernel's layout — the same NumPy reduction routine on an
    identically-laid-out input, so bit-identity holds by construction
    rather than by reduction-blocking luck (multi-axis batched means
    were measured to drift in the last ulp at some group sizes)."""
    k, h, w = u83.shape[:3]
    sharp, clip = _quality_ints_batch(u83)
    th3 = u83[:, (_T16 * h) // 16][:, :, (_T16 * w) // 16]
    out = []
    for j in range(k):
        # the FLOAT path stays per-image, starting from a fresh aligned
        # astype of the image — batched float64 stacks put per-image
        # views at odd SIMD alignments and batched matmuls reassociate
        # the 3-term luma dot, both of which drift the last ulp; the
        # per-image ops below are the per-row kernel's verbatim
        arr = u83[j].astype(np.float64)
        lum = arr @ _LUM_W
        gx = np.abs(np.diff(lum, axis=1)).mean() if w > 1 else 0.0
        gy = np.abs(np.diff(lum, axis=0)).mean() if h > 1 else 0.0
        out.append(
            (
                True, None,
                arr[:, :, 0].mean(), arr[:, :, 1].mean(), arr[:, :, 2].mean(),
                lum.std(), gx + gy, _ahash(lum),
                zlib.crc32(th3[j].tobytes()), sharp[j], clip[j],
            )
        )
    return out


def _features_decode(blob, fmt):
    return decode_image(blob, fmt), None


def _features_err(msg: str, _blob) -> tuple:
    return (False, msg, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0, 0, 0)


def _features_batch(pdf: pd.DataFrame, cache: dict | None = None) -> pd.DataFrame:
    """Feature kernel (module-level so the golden-oracle generator can
    run it locally on the same rows — all ops are per-row-deterministic,
    so batch boundaries cannot change results). Rows resolve through the
    per-task content-addressed memo (``cache``; None runs uncached), and
    misses compute shape-grouped (``_features_group``) — both paths
    bit-identical to the r5 per-row loop."""
    n = len(pdf)
    cols = {
        "image_id": pdf["image_id"].to_numpy(),
        "ok": np.zeros(n, dtype=bool),
        "error": np.full(n, None, dtype=object),
        "mean_r": np.zeros(n), "mean_g": np.zeros(n), "mean_b": np.zeros(n),
        "std_lum": np.zeros(n), "edge_energy": np.zeros(n),
        "ahash": np.zeros(n, dtype=np.int64),
        "thumb_crc": np.zeros(n, dtype=np.int64),
        "sharp_e3": np.zeros(n, dtype=np.int64),
        "clip_e3": np.zeros(n, dtype=np.int64),
    }
    rows = grouped_blob_rows(
        pdf["bytes"].to_numpy(), pdf["fmt"].to_numpy(), cache,
        _features_decode, _features_err, _features_group,
    )
    for i, tup in enumerate(rows):
        (
            cols["ok"][i], cols["error"][i],
            cols["mean_r"][i], cols["mean_g"][i], cols["mean_b"][i],
            cols["std_lum"][i], cols["edge_energy"][i],
            cols["ahash"][i], cols["thumb_crc"][i],
            cols["sharp_e3"][i], cols["clip_e3"][i],
        ) = tup
    return pd.DataFrame(cols)


def image_features(images: DataFrame) -> DataFrame:
    """decode -> per-channel means, luminance std, gradient energy, aHash,
    16x16 thumbnail crc. Error-isolated like operators/decode.py. Identical
    blobs pay the decode+feature kernel once per task (content-addressed
    cache, the fused-map discipline)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in batches:
            yield _features_batch(pdf, cache)

    return images.select("image_id", "bytes", "fmt").mapInPandas(gen, FEATURE_SCHEMA)


# --- audio / video: real Spark plumbing over deterministic fake codecs ----
# (codecs/qwav.py + qvid.py carry the STUB NOTICE: no libsndfile/ffmpeg in
# this container, so the decode step is a deterministic stand-in; swapping
# a real decoder in changes only the codec module.)

AUDIO_SCHEMA = (
    "media_id string, ok boolean, error string, sample_rate int, "
    "n_samples int, duration_ms long, rms_milli long, peak long, "
    "zero_crossings long"
)


def _audio_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    from jimmy_spark.codecs import qwav

    n = len(pdf)
    cols = {
        "media_id": pdf["media_id"].to_numpy(),
        "ok": np.zeros(n, dtype=bool),
        "error": np.full(n, None, dtype=object),
        "sample_rate": np.zeros(n, dtype=np.int32),
        "n_samples": np.zeros(n, dtype=np.int32),
        "duration_ms": np.zeros(n, dtype=np.int64),
        "rms_milli": np.zeros(n, dtype=np.int64),
        "peak": np.zeros(n, dtype=np.int64),
        "zero_crossings": np.zeros(n, dtype=np.int64),
    }
    blobs = pdf["bytes"].to_numpy()
    for i in range(n):
        try:
            samples, sr = qwav.decode(bytes(blobs[i]))
            x = samples.astype(np.int64)
            cols["sample_rate"][i] = sr
            cols["n_samples"][i] = x.size
            cols["duration_ms"][i] = x.size * 1000 // sr
            # zero-sample streams are legal: all stats degenerate to 0
            # (an unguarded mean() would be NaN and int(NaN) would raise)
            if x.size:
                cols["rms_milli"][i] = int(
                    np.floor(np.sqrt((x * x).mean()) * 1000)
                )
                cols["peak"][i] = int(np.abs(x).max())
                cols["zero_crossings"][i] = int(
                    np.count_nonzero((x[1:] < 0) != (x[:-1] < 0))
                )
            cols["ok"][i] = True
        except Exception as e:  # noqa: BLE001 — zlib/struct errors too
            cols["error"][i] = str(e)
    return pd.DataFrame(cols)


def audio_features(df: DataFrame) -> DataFrame:
    """decode (deterministic fake codec) -> duration / integer-RMS / peak /
    zero-crossing features; error-isolated like image_features."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _audio_batch(pdf)

    return df.select("media_id", "bytes").mapInPandas(gen, AUDIO_SCHEMA)


VIDEO_SCHEMA = (
    "media_id string, ok boolean, error string, frame_idx int, "
    "fps int, mean_milli long, frame_crc long"
)


def _video_batch(pdf: pd.DataFrame, every_n: int) -> pd.DataFrame:
    from jimmy_spark.codecs import qvid

    rows: list[tuple] = []
    for media_id, blob in zip(pdf["media_id"], pdf["bytes"]):
        try:
            frames, fps = qvid.decode(bytes(blob))
            for fi in range(0, frames.shape[0], every_n):
                fr = frames[fi]
                rows.append(
                    (
                        media_id, True, None, fi, fps,
                        int(fr.astype(np.int64).sum() * 1000 // fr.size),
                        int(zlib.crc32(fr)),
                    )
                )
        except Exception as e:  # noqa: BLE001 — per-record isolation
            rows.append((media_id, False, str(e), -1, 0, 0, 0))
    return pd.DataFrame(
        rows,
        columns=[
            "media_id", "ok", "error", "frame_idx", "fps",
            "mean_milli", "frame_crc",
        ],
    )


def video_frame_sample(df: DataFrame, every_n: int = 3) -> DataFrame:
    """decode (deterministic fake container) -> one row per every_n-th
    frame with integer mean + crc; error-isolated per record."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _video_batch(pdf, every_n)

    return df.select("media_id", "bytes").mapInPandas(gen, VIDEO_SCHEMA)
