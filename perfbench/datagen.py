"""Seeded inputs for the three workloads, cached by (workload, seed, recipe).

Each generator is a pure function of the seed, so the same seed always
gives byte-identical files. Generation runs in at most ``nproc`` worker
processes and is never timed. A marker file holding the recipe makes a
finished directory reusable by later runs with the same seed.

- ``enrich``: the repo's own image table (``write_images`` with
  ``skew_frac=0.4``): 40 % of rows in three hot cities, and heavy blob
  duplication, because the repo's pixel generator has few distinct
  patterns per shape.
- ``analytics``: a points table (image_id, lat_e7, lon_e7) with no image
  bytes, 40 % of points jittered around the same three hot cities.
- ``job``: a unique-heavy image table from this module's own pixel
  generator, with corrupt rows and co-located near-duplicate shots
  planted at known rates.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RECIPES = {
    "enrich": dict(v=1, rows=48_000, polygons=60, skew_frac=0.4),
    "analytics": dict(v=1, rows=80_000, polygons=60, queries=300, hot_frac=0.4),
    # corrupt_every: rows gi % corrupt_every in (3, 5) are corrupt;
    # dup_every: rows gi % dup_every == 1 re-shoot the previous row's scene
    "job": dict(v=1, rows=16_000, polygons=40, corrupt_every=100, dup_every=10),
}

_PQ_KW = dict(compression="zstd", row_group_size=4096)


def tiny() -> None:
    """Shrink every recipe for the harness's own smoke check."""
    for name, r in RECIPES.items():
        RECIPES[name] = dict(r, rows=r["rows"] // 20, tiny=True)


def ensure(workload: str, seed: int, root: Path, procs: int) -> Path:
    recipe = dict(RECIPES[workload], workload=workload, seed=seed)
    tag = "-tiny" if recipe.get("tiny") else ""
    d = root / f"{workload}{tag}-s{seed}-v{recipe['v']}"
    marker = d / "_RECIPE.json"
    if marker.exists() and json.loads(marker.read_text()) == recipe:
        return d
    if d.exists():
        shutil.rmtree(d)
    d.mkdir(parents=True)
    _GENERATORS[workload](d, seed, recipe, procs)
    marker.write_text(json.dumps(recipe))
    return d


def expected(d: Path) -> dict:
    """What the generator knows about its output (row and plant counts)."""
    p = d / "_EXPECTED.json"
    return json.loads(p.read_text()) if p.exists() else {}


def _polygons_and_queries(d: Path, seed: int, recipe: dict) -> None:
    from jimmy_spark.datagen.knn_queries import write_knn_queries
    from jimmy_spark.datagen.polygons import write_polygons

    write_polygons(str(d / "polygons.parquet"), recipe["polygons"], seed)
    if "queries" in recipe:
        write_knn_queries(str(d / "knn_queries.parquet"), recipe["queries"], seed)


def _gen_enrich(d: Path, seed: int, recipe: dict, procs: int) -> None:
    from jimmy_spark.datagen.images import write_images

    write_images(
        str(d / "images.parquet"),
        recipe["rows"],
        seed,
        shards=procs,
        skew_frac=recipe["skew_frac"],
    )
    _polygons_and_queries(d, seed, recipe)
    (d / "_EXPECTED.json").write_text(json.dumps({"rows": recipe["rows"]}))


def _hot_points(n: int, seed: int, hot_frac: float) -> tuple[np.ndarray, np.ndarray]:
    from jimmy_spark.datagen.core import phash_for_index, splitmix64
    from jimmy_spark.datagen.images import HOT_CENTERS
    from jimmy_spark.functions.georef import latlon_e7_np

    idx = np.arange(n, dtype=np.uint64)
    lat, lon = latlon_e7_np(phash_for_index(idx, seed))
    h = splitmix64(idx ^ np.uint64(seed * 104_729 + 17))
    hot = (h % np.uint64(1_000_000)) < np.uint64(int(hot_frac * 1_000_000))
    which = ((h >> np.uint64(8)) % np.uint64(len(HOT_CENTERS))).astype(np.int64)
    jit_lat = ((h >> np.uint64(16)) % np.uint64(40_000)).astype(np.int64) - 20_000
    jit_lon = ((h >> np.uint64(32)) % np.uint64(40_000)).astype(np.int64) - 20_000
    hot_lat = np.choose(which, [c[0] for c in HOT_CENTERS]) + jit_lat
    hot_lon = np.choose(which, [c[1] for c in HOT_CENTERS]) + jit_lon
    return np.where(hot, hot_lat, lat), np.where(hot, hot_lon, lon)


def _gen_analytics(d: Path, seed: int, recipe: dict, procs: int) -> None:
    n = recipe["rows"]
    lat, lon = _hot_points(n, seed, recipe["hot_frac"])
    ids = np.array([f"pt_{i:010d}" for i in range(n)], dtype=object)
    out = d / "points.parquet"
    out.mkdir()
    per = -(-n // procs)
    for s in range(procs):
        sl = slice(s * per, min(n, (s + 1) * per))
        pq.write_table(
            pa.table(
                {
                    "image_id": pa.array(ids[sl], pa.string()),
                    "lat_e7": pa.array(lat[sl], pa.int64()),
                    "lon_e7": pa.array(lon[sl], pa.int64()),
                }
            ),
            out / f"part-{s:05d}.parquet",
            **_PQ_KW,
        )
    _polygons_and_queries(d, seed, recipe)
    (d / "_EXPECTED.json").write_text(json.dumps({"rows": n}))


# --- job: unique-heavy images ------------------------------------------------


def _job_pixels(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Smooth per-channel gradients with per-row random origin and slopes:
    compressible like photos, and distinct for almost every row."""
    ys = np.arange(h, dtype=np.int64)[:, None, None]
    xs = np.arange(w, dtype=np.int64)[None, :, None]
    a = rng.integers(0, 256, size=3)[None, None, :]
    bx = rng.integers(1, 8, size=3)[None, None, :]
    by = rng.integers(1, 8, size=3)[None, None, :]
    return ((a + xs * bx + ys * by) % 256).astype(np.uint8)


def _job_shard(args) -> tuple[str, int, int]:
    from jimmy_spark.codecs.registry import decode_image, encode_image
    from jimmy_spark.datagen.images import FMTS, HEIGHTS, WIDTHS, make_caption
    from jimmy_spark.functions.georef import invert_latlon_e7

    path, start, count, seed, corrupt_every, dup_every = args
    idx = np.arange(start, start + count, dtype=np.uint64)
    lat, lon = _hot_points(start + count, seed, 0.4)
    phash_all = invert_latlon_e7(lat, lon)
    phash = phash_all[start:]
    blobs, fmts, ws, hs, caps, ph = [], [], [], [], [], []
    corrupt = dups = 0
    for i, gi in enumerate(range(start, start + count)):
        src = gi - 1 if dup_every and gi % dup_every == 1 else gi
        rng = np.random.default_rng([seed, src])
        shape = int(rng.integers(0, 3))
        w, h, fmt = int(WIDTHS[shape]), int(HEIGHTS[shape]), FMTS[int(rng.integers(0, 3))]
        arr = _job_pixels(rng, w, h)
        p = int(phash[i])
        if src != gi:
            # a second shot of the same scene: same place, same format and
            # size, a small brightness bump on the top-left block
            bumped = arr.astype(np.int64)
            bumped[: max(1, h // 4), : max(1, w // 4), :] += 24
            arr = np.clip(bumped, 0, 255).astype(np.uint8)
            p = int(phash_all[src])
            dups += 1
        data = encode_image(arr, fmt)
        if corrupt_every and gi % corrupt_every == 3:
            data = data[: max(8, len(data) // 2)]
        elif corrupt_every and gi % corrupt_every == 5:
            fmt = FMTS[(FMTS.index(fmt) + 1) % 3]
        if corrupt_every and gi % corrupt_every in (3, 5):
            try:
                decode_image(data, fmt)
            except ValueError:
                corrupt += 1
            else:
                raise RuntimeError(f"planted corrupt row {gi} decodes cleanly")
        blobs.append(data)
        fmts.append(fmt)
        ws.append(w)
        hs.append(h)
        ph.append(p)
        caps.append(make_caption(gi, p))
    pq.write_table(
        pa.table(
            {
                "image_id": pa.array([f"img_{g:012d}" for g in idx.tolist()], pa.string()),
                "bytes": pa.array(blobs, pa.binary()),
                "w": pa.array(ws, pa.int32()),
                "h": pa.array(hs, pa.int32()),
                "fmt": pa.array(fmts, pa.string()),
                "caption": pa.array(caps, pa.string()),
                "phash": pa.array(ph, pa.int64()),
            }
        ),
        path,
        **_PQ_KW,
    )
    return path, corrupt, dups


def _gen_job(d: Path, seed: int, recipe: dict, procs: int) -> None:
    n = recipe["rows"]
    out = d / "images.parquet"
    out.mkdir()
    per = -(-n // procs)
    jobs = [
        (str(out / f"part-{s:05d}.parquet"), s * per, min(per, n - s * per), seed,
         recipe["corrupt_every"], recipe["dup_every"])
        for s in range(procs)
        if s * per < n
    ]
    with mp.get_context("spawn").Pool(len(jobs)) as pool:
        res = pool.map(_job_shard, jobs)
    _polygons_and_queries(d, seed, recipe)
    (d / "_EXPECTED.json").write_text(
        json.dumps(
            {
                "rows": n,
                "corrupt_rows": sum(r[1] for r in res),
                "dup_shots": sum(r[2] for r in res),
            }
        )
    )


_GENERATORS = {"enrich": _gen_enrich, "analytics": _gen_analytics, "job": _gen_job}
