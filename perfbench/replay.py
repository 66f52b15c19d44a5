"""Kernel replay: the workload's own input batches through the public kernels.

The fused stage runs every kernel inside one ``mapInPandas`` crossing,
where Spark only reports the crossing's total Python time. This module
reads task-sized slices of the generated input with pyarrow and calls the
same public kernels in this process, one at a time, so each gets its own
time per row (or per blob):

- ``fused``: blake2b-128 digest of each blob, decode-cache hit share, and
  the output frame build;
- ``codecs``: ``decode_image`` on distinct blobs, per format;
- ``functions``: ``georef.latlon_e7_np``, ``hexgrid.encode``,
  ``s2.encode``, ``tiles.xy_np``, ``STRtree.query_points`` and
  ``inside_ring``, plus the share of R-tree candidates that PIP accepts.

Each kernel is timed ``REPS`` times over the same slice and the median is
kept. Every call is recorded as a span.
"""

from __future__ import annotations

import hashlib
import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

REPS = 3


class Spans:
    """In-memory span list, written once when the run ends."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: str | None, **attrs) -> str:
        sid = f"s{len(self.items)}"
        self.items.append(dict(id=sid, name=name, layer=layer, start=start,
                               end=end, parent=parent, attrs=attrs))
        return sid


def _timed(spans: Spans, parent: str, name: str, layer: str, fn, n: int) -> float:
    """Median seconds over REPS calls of ``fn``; returns µs per item."""
    times = []
    for _ in range(REPS):
        t0 = time.time()
        fn()
        t1 = time.time()
        spans.add(name, layer, t0, t1, parent, items=n)
        times.append(t1 - t0)
    return statistics.median(times) / max(n, 1) * 1e6


def _slices(images_dir: Path, max_slices: int) -> list[pd.DataFrame]:
    """The first row group (4 096 rows, about one Arrow batch) of each of
    the first ``max_slices`` input files."""
    files = sorted(images_dir.glob("*.parquet"))
    out = []
    for f in files[:max_slices]:
        pf = pq.ParquetFile(f)
        out.append(pf.read_row_group(0).to_pandas())
    return out


def replay(data_dir: Path, spans: Spans, parent: str, max_slices: int = 4) -> dict:
    from jimmy_spark.codecs import decode_image
    from jimmy_spark.functions import georef, hexgrid, s2, tiles
    from jimmy_spark.functions.raycast import inside_ring
    from jimmy_spark.functions.rtree import STRtree

    slices = _slices(data_dir / "images.parquet", max_slices)
    batch = pd.concat(slices, ignore_index=True)
    blobs = batch["bytes"].to_numpy()
    fmts = batch["fmt"].to_numpy()
    n = len(batch)
    m: dict[str, float] = {}

    m["fused.digest_us_per_row"] = _timed(
        spans, parent, "blake2b", "fused",
        lambda: [hashlib.blake2b(b, digest_size=16).digest() for b in blobs], n,
    )
    # decode-cache hits inside each task-sized slice (an input property)
    hits = 0
    for sl in slices:
        seen = set()
        for b, f in zip(sl["bytes"], sl["fmt"]):
            key = (f, hashlib.blake2b(b, digest_size=16).digest())
            hits += key in seen
            seen.add(key)
    m["fused.blob_hit_share"] = hits / n

    distinct: dict[str, list[bytes]] = {}
    seen_b: set[bytes] = set()
    for b, f in zip(blobs, fmts):
        if b not in seen_b:
            seen_b.add(b)
            distinct.setdefault(f, []).append(b)

    def decode_all(items, fmt):
        for b in items:
            try:
                decode_image(b, fmt)
            except ValueError:
                pass

    per_fmt = {}
    for fmt in sorted(distinct):
        per_fmt[fmt] = _timed(
            spans, parent, f"decode_image[{fmt}]", "codecs",
            lambda items=distinct[fmt], fmt=fmt: decode_all(items, fmt),
            len(distinct[fmt]),
        )
    total = sum(len(v) for v in distinct.values())
    m["codecs.decode_us_per_blob"] = (
        sum(per_fmt[f] * len(distinct[f]) for f in per_fmt) / max(total, 1)
    )
    for fmt in ("png", "jpeg", "bmp"):
        m[f"codecs.{fmt}_us_per_blob"] = per_fmt.get(fmt, 0.0)
    m["codecs.distinct_blob_share"] = total / n

    phash = batch["phash"].to_numpy(np.int64)
    lat, lon = georef.latlon_e7_np(phash)
    m["functions.georef_us_per_row"] = _timed(
        spans, parent, "georef.latlon_e7_np", "functions",
        lambda: georef.latlon_e7_np(phash), n,
    )
    m["functions.hexgrid_us_per_row"] = _timed(
        spans, parent, "hexgrid.encode", "functions",
        lambda: [hexgrid.encode(lat, lon, r) for r in hexgrid.RESOLUTIONS], n,
    )
    m["functions.s2_us_per_row"] = _timed(
        spans, parent, "s2.encode", "functions",
        lambda: [s2.encode(lat, lon, lvl) for lvl in (12, 14, 16)], n,
    )
    m["functions.tiles_us_per_row"] = _timed(
        spans, parent, "tiles.xy_np", "functions",
        lambda: [tiles.xy_np(lat, lon, z) for z in tiles.ZOOMS], n,
    )

    polys = pd.read_parquet(data_dir / "polygons.parquet")
    ring_x = [np.array([v["lon_e7"] for v in r], np.int64) for r in polys["ring"]]
    ring_y = [np.array([v["lat_e7"] for v in r], np.int64) for r in polys["ring"]]
    tree = STRtree(
        polys["min_lon"].to_numpy(np.int64), polys["min_lat"].to_numpy(np.int64),
        polys["max_lon"].to_numpy(np.int64), polys["max_lat"].to_numpy(np.int64),
    )
    m["functions.rtree_us_per_row"] = _timed(
        spans, parent, "STRtree.query_points", "functions",
        lambda: tree.query_points(lon, lat), n,
    )
    pi, ri = tree.query_points(lon, lat)

    def pip():
        matched = 0
        for r in np.unique(ri):
            sel = pi[ri == r]
            matched += int(inside_ring(lon[sel], lat[sel], ring_x[r], ring_y[r]).sum())
        return matched

    m["functions.raycast_us_per_row"] = _timed(
        spans, parent, "inside_ring", "functions", pip, n
    )
    m["functions.pip_match_ratio"] = pip() / max(len(pi), 1)

    # the fused stage's output frame, built from the same column arrays
    cols = {
        "image_id": batch["image_id"].to_numpy(),
        "caption": batch["caption"].to_numpy(),
        "ok": np.ones(n, dtype=bool),
        "error": np.full(n, None, dtype=object),
        "px_checksum": np.zeros(n, dtype=np.int64),
        "lat_e7": lat,
        "lon_e7": lon,
    }
    for r in hexgrid.RESOLUTIONS:
        cols[f"hex_r{r}"] = hexgrid.encode(lat, lon, r)
    for lvl in (12, 14, 16):
        cols[f"s2_l{lvl}"] = s2.encode(lat, lon, lvl)
    for z in tiles.ZOOMS:
        cols[f"tile_z{z}_x"], cols[f"tile_z{z}_y"] = tiles.xy_np(lat, lon, z)

    def frame():
        pd.DataFrame(dict(cols, polygon_ids=[[] for _ in range(n)]))

    m["fused.frame_us_per_row"] = _timed(spans, parent, "frame build", "fused", frame, n)
    m["functions.kernels_us_per_row"] = sum(
        m[f"functions.{k}_us_per_row"]
        for k in ("georef", "hexgrid", "s2", "tiles", "rtree", "raycast")
    )
    return m
