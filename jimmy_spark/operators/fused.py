"""Fused spatial pipeline stage: ONE narrow map over the images table.

decode -> validate -> georef -> hex r7-9 -> S2 l12/14/16 -> XYZ tiles ->
broadcast R-tree PIP, all inside a single ``mapInArrow`` (one Arrow
crossing, zero shuffle, no pandas on either side of it).

This is the 100-TB hot path: the modular operators (decode.py, cells.py,
pip.py, tiling.py) define and verify the semantics — each matched to a
DuckDB oracle — and this stage fuses them so a 10^12-row scan pays one
Python round-trip per batch instead of five chained stages. Shuffles only
happen *after* this map, in the aggregations (salted counts etc.).
tests/test_fused.py asserts fused == composition of the modular operators
row for row.

Per batch, the only per-row Python is the blob digest and decode-cache
lookup (``multimodal.cached_blob_fn``); blobs are read as memoryview
slices of the Arrow data buffer and copied only on a cache miss. The
declared-size check, ``ok``, ``px_checksum``, the error strings, the
kernels and the ``polygon_ids`` list column are whole-batch NumPy/Arrow.
``image_id`` and ``caption`` pass through as the input Arrow arrays.

Output: one row per input image; PIP matches as an array<string> column,
sorted per row (explode downstream when the pair-stream shape is needed).
A NULL ``phash`` has no location: its geo, hex, S2 and tile columns are
NULL and its ``polygon_ids`` empty.
"""

from __future__ import annotations

import functools
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from jimmy_spark.codecs import decode_image
from jimmy_spark.functions import georef, hexgrid, s2, tiles
from jimmy_spark.functions.raycast import inside_ring
from jimmy_spark.functions.rtree import STRtree
from jimmy_spark.operators.multimodal import cached_blob_fn
from jimmy_spark.operators.pip import _polygons_to_arrays

FUSED_SCHEMA = (
    "image_id string, caption string, ok boolean, error string, "
    "px_checksum long, lat_e7 long, lon_e7 long, "
    "hex_r7 long, hex_r8 long, hex_r9 long, "
    "s2_l12 long, s2_l14 long, s2_l16 long, "
    "tile_z8_x long, tile_z8_y long, tile_z12_x long, tile_z12_y long, "
    "tile_z16_x long, tile_z16_y long, polygon_ids array<string>"
)
_NAMES = [f.split()[0] for f in FUSED_SCHEMA.split(", ")]


def _verdict(blob, fmt) -> tuple:
    """Blob-determined (dec_h, dec_w, crc, error); crc -1 marks a decode
    error. Pure in (fmt, bytes), so cached per task."""
    try:
        arr = decode_image(blob, fmt)
        # crc over the array buffer directly — decoders return
        # C-contiguous uint8, so this equals crc32(tobytes())
        return (arr.shape[0], arr.shape[1], zlib.crc32(arr), None)
    except ValueError as e:
        return (0, 0, -1, str(e))


def _null_mask(arr: pa.Array) -> np.ndarray | None:
    return arr.is_null().to_numpy(zero_copy_only=False) if arr.null_count else None


def _blob_verdicts(blobs: pa.Array, fmts: list, cache: dict) -> list[tuple]:
    """One cached ``_verdict`` per row, blobs sliced out of the Arrow data
    buffer (a NULL blob stays None so the codec reports it)."""
    n = len(blobs)
    off_t = np.int64 if pa.types.is_large_binary(blobs.type) else np.int32
    _, off_buf, data_buf = blobs.buffers()
    offs = np.frombuffer(
        off_buf, off_t, n + 1, blobs.offset * np.dtype(off_t).itemsize
    ).tolist()
    data = memoryview(data_buf if data_buf is not None else b"")
    null = _null_mask(blobs)
    out = []
    for i in range(n):
        blob = None if null is not None and null[i] else data[offs[i] : offs[i + 1]]
        out.append(cached_blob_fn(cache, fmts[i], blob, _verdict))
    return out


def _declared(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(values with NULL as 0, validity)."""
    null = _null_mask(arr)
    valid = np.ones(len(arr), bool) if null is None else ~null
    return arr.fill_null(0).to_numpy(), valid


def _decode_columns(batch: pa.RecordBatch, cache: dict) -> list[pa.Array]:
    """``ok``, ``error``, ``px_checksum``: the size check against the
    declared (w, h) stays per row, so rows sharing bytes but declaring
    different sizes get their own verdicts."""
    hits = _blob_verdicts(
        batch.column("bytes"), batch.column("fmt").to_pylist(), cache
    )
    dec_h, dec_w, crc, msg = zip(*hits) if hits else ((),) * 4
    dec_h, dec_w, crc = (np.array(c, np.int64) for c in (dec_h, dec_w, crc))
    err = np.array(msg, dtype=object)
    w, w_ok = _declared(batch.column("w"))
    h, h_ok = _declared(batch.column("h"))
    decoded = crc >= 0
    ok = decoded & w_ok & h_ok & (dec_w == w) & (dec_h == h)
    bad = np.flatnonzero(decoded & ~ok)
    if bad.size:
        decl_w = np.where(w_ok[bad], w[bad].astype(str), "None")
        decl_h = np.where(h_ok[bad], h[bad].astype(str), "None")
        err[bad] = functools.reduce(np.char.add, (
            "decoded size ", dec_w[bad].astype(str), "x", dec_h[bad].astype(str),
            " != declared ", decl_w, "x", decl_h,
        ))
    return [
        pa.array(ok),
        pa.array(err, type=pa.string()),
        pa.array(np.where(ok, crc, 0)),
    ]


def fused_spatial_stage(images: DataFrame, polygons: pd.DataFrame) -> DataFrame:
    ids_arr, ring_x, ring_y, min_x, min_y, max_x, max_y = _polygons_to_arrays(
        polygons
    )
    tree = STRtree(min_x, min_y, max_x, max_y)
    # polygon_ids come out sorted per row: rank each polygon by its id
    # string, so one lexsort of (point, rank) pairs orders every list
    id_strs = np.array([str(i) for i in ids_arr], dtype=str)
    order = np.argsort(id_strs, kind="stable")
    rank = np.empty(len(order), np.int64)
    rank[order] = np.arange(len(order))
    ids_by_rank = pa.array(id_strs[order].tolist(), type=pa.string())

    def polygon_ids(lat, lon, no_loc: np.ndarray | None) -> pa.Array:
        n = len(lat)
        pi, ri = tree.query_points(lon, lat)
        if no_loc is not None:
            keep = ~no_loc[pi]
            pi, ri = pi[keep], ri[keep]
        pts, ranks = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        for r in np.unique(ri):
            sel = pi[ri == r]
            sel = sel[inside_ring(lon[sel], lat[sel], ring_x[r], ring_y[r])]
            pts.append(sel)
            ranks.append(np.full(len(sel), rank[r], np.int64))
        p, k = np.concatenate(pts), np.concatenate(ranks)
        o = np.lexsort((k, p))
        offsets = np.zeros(n + 1, np.int32)
        np.cumsum(np.bincount(p, minlength=n), out=offsets[1:])
        return pa.ListArray.from_arrays(pa.array(offsets), ids_by_rank.take(k[o]))

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cache: dict[tuple, tuple] = {}  # per task: see multimodal.blob_key
        for batch in batches:
            phash = batch.column("phash")
            no_loc = _null_mask(phash)
            lat, lon = georef.latlon_e7_np(phash.fill_null(0).to_numpy())
            geo = [lat, lon]
            geo += [hexgrid.encode(lat, lon, res) for res in hexgrid.RESOLUTIONS]
            geo += [s2.encode(lat, lon, lvl) for lvl in (12, 14, 16)]
            for z in tiles.ZOOMS:
                geo += tiles.xy_np(lat, lon, z)
            cols = [batch.column("image_id"), batch.column("caption")]
            cols += _decode_columns(batch, cache)
            cols += [pa.array(a, type=pa.int64(), mask=no_loc) for a in geo]
            cols.append(polygon_ids(lat, lon, no_loc))
            yield pa.RecordBatch.from_arrays(cols, names=_NAMES)

    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    return images.select(*cols).mapInArrow(gen, FUSED_SCHEMA)
