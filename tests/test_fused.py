"""Fused stage == composition of the modular (oracle-verified) operators."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pyarrow.parquet as pq
import pytest

from jimmy_spark.codecs import bmp, decode_image, png, qjpg
from jimmy_spark.operators import cells, decode, fused, pip, tiling

IMAGES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)
GEO_COLS = (
    "lat_e7", "lon_e7", "hex_r7", "hex_r8", "hex_r9",
    "s2_l12", "s2_l14", "s2_l16", "tile_z8_x", "tile_z8_y",
    "tile_z12_x", "tile_z12_y", "tile_z16_x", "tile_z16_y",
)


def _assert_fused_matches_modular(spark, data_dir: str, with_errors: bool):
    """Row for row, every column: ``error`` strings included and
    ``polygon_ids`` as ordered arrays."""
    imgs = spark.read.parquet(f"{data_dir}/images.parquet")
    poly_pdf = pq.read_table(f"{data_dir}/polygons.parquet").to_pandas()

    f_out = fused.fused_spatial_stage(imgs, poly_pdf).cache()

    d = decode.decode_stage(imgs)
    pts = cells.with_s2_cells(
        cells.with_hex_cells(cells.with_georef(d), use_arrow_udf=False)
    )
    pts = tiling.with_tiles(pts)
    m = pts.toPandas().set_index("image_id").sort_index()
    g = f_out.toPandas().set_index("image_id").sort_index()

    assert (g["ok"] == m["ok"]).all()
    assert list(g["error"]) == list(m["error"])
    assert (~g["ok"]).any() == with_errors
    for c in ("px_checksum",) + GEO_COLS:
        assert (g[c] == m[c]).all(), c
    assert (g["caption"] == m["caption"]).all()

    modular_ids: dict[str, list[str]] = {}
    for r in pip.pip_join_rtree(
        cells.with_georef(imgs.select("image_id", "phash")), poly_pdf
    ).collect():
        modular_ids.setdefault(r.image_id, []).append(r.polygon_id)
    fused_ids = {
        r.image_id: list(r.polygon_ids)
        for r in f_out.select("image_id", "polygon_ids").collect()
    }
    assert any(len(v) > 1 for v in modular_ids.values())
    for image_id, got in fused_ids.items():
        assert got == sorted(modular_ids.get(image_id, [])), image_id
    f_out.unpersist()


def test_fused_matches_modular(spark, t1_dir):
    _assert_fused_matches_modular(spark, t1_dir, with_errors=False)


def test_fused_matches_modular_on_corrupt_rows(spark, t2err_dir):
    """t2err plants corrupt blobs: their error strings must match too."""
    _assert_fused_matches_modular(spark, t2err_dir, with_errors=True)


def test_fused_decode_cache_is_per_row_correct(spark, t1_dir):
    """The r5 content-addressed decode cache memoizes only the
    blob-determined triple (shape, crc, error); the shape-vs-declared
    validation must stay per row. Rows sharing identical bytes but
    declaring different sizes get different verdicts, and a repeated
    corrupt blob reports the same error on every row."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    good = qjpg.encode(img)
    bad = b"QJPGgarbage-not-a-stream"
    rows = [
        ("a", good, 16, 16, "jpeg", "cap", 1),
        ("b", good, 8, 8, "jpeg", "cap", 2),     # same bytes, wrong decl
        ("c", good, 16, 16, "jpeg", "cap", 3),   # cache hit, still ok
        ("d", bad, 16, 16, "jpeg", "cap", 4),
        ("e", bad, 16, 16, "jpeg", "cap", 5),    # cached error replays
        ("f", None, 16, 16, "jpeg", "cap", 6),   # NULL blob: error row,
        ("g", None, 16, 16, "jpeg", "cap", 7),   # not a task TypeError
    ]
    imgs = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    poly_pdf = pq.read_table(f"{t1_dir}/polygons.parquet").to_pandas()
    out = {
        r.image_id: r
        for r in fused.fused_spatial_stage(imgs, poly_pdf).collect()
    }
    assert out["a"].ok and out["c"].ok
    assert out["a"].px_checksum == out["c"].px_checksum != 0
    assert not out["b"].ok
    assert out["b"].error == "decoded size 16x16 != declared 8x8"
    assert not out["d"].ok and not out["e"].ok
    assert out["d"].error == out["e"].error and out["d"].error
    assert not out["f"].ok and not out["g"].ok
    assert out["f"].error == out["g"].error and "corrupt" in out["f"].error


def _bmp_top_down(data: bytes) -> bytes:
    """Rewrite a bottom-up BMP as the equivalent top-down one."""
    (offset,) = struct.unpack_from("<I", data, 10)
    w, h = struct.unpack_from("<ii", data, 18)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, np.uint8, count=h * stride, offset=offset)
    head = bytearray(data[:offset])
    struct.pack_into("<i", head, 22, -h)
    return bytes(head) + rows.reshape(h, stride)[::-1].tobytes()


def _codec_error(blob, fmt) -> str:
    try:
        decode_image(blob, fmt)
    except ValueError as e:
        return str(e)
    raise AssertionError(f"{fmt} blob decoded")


def test_fused_edge_rows(spark, t1_dir):
    """Per-record isolation on malformed rows: every one comes out as an
    error row carrying the codec's own message (or the size verdict),
    never a task failure; a top-down BMP decodes to the same pixels as a
    bottom-up one. The empty polygon set (``spatial_job --pip-strategy
    cells``) changes nothing but ``polygon_ids``."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    b, p, q = bmp.encode(img), png.encode(img), qjpg.encode(img)
    crc = zlib.crc32(img.tobytes())
    rows = [
        ("null_blob", None, 5, 6, "bmp", "c", 1),
        ("null_fmt", b, 5, 6, None, "c", 2),
        ("null_w", b, None, 6, "bmp", "c", 3),
        ("null_h", b, 5, None, "bmp", "c", 4),
        ("unknown_fmt", b, 5, 6, "gif", "c", 5),
        ("trunc_png", p[: len(p) // 2], 5, 6, "png", "c", 6),
        ("trunc_qjpg", q[: len(q) // 2], 5, 6, "jpeg", "c", 7),
        ("trunc_bmp", b[: len(b) // 2], 5, 6, "bmp", "c", 8),
        ("top_down_bmp", _bmp_top_down(b), 5, 6, "bmp", "c", 9),
        ("bmp", b, 5, 6, "bmp", None, 10),
        ("png", p, 5, 6, "png", "c", 11),
    ]
    imgs = spark.createDataFrame(rows, IMAGES_DDL).coalesce(1)
    poly_pdf = pq.read_table(f"{t1_dir}/polygons.parquet").to_pandas()
    out = {r.image_id: r for r in fused.fused_spatial_stage(imgs, poly_pdf).collect()}
    no_polys = {
        r.image_id: r
        for r in fused.fused_spatial_stage(imgs, poly_pdf.iloc[0:0]).collect()
    }

    expect_err = {
        "null_blob": _codec_error(None, "bmp"),
        "null_fmt": "unknown image fmt None",
        "unknown_fmt": "unknown image fmt 'gif'",
        "trunc_png": _codec_error(p[: len(p) // 2], "png"),
        "trunc_qjpg": _codec_error(q[: len(q) // 2], "jpeg"),
        "trunc_bmp": _codec_error(b[: len(b) // 2], "bmp"),
    }
    for image_id, msg in expect_err.items():
        r = out[image_id]
        assert not r.ok and r.error == msg and r.px_checksum == 0, image_id
    for image_id in ("null_w", "null_h"):
        r = out[image_id]
        assert not r.ok and r.px_checksum == 0, image_id
        assert r.error.startswith("decoded size 5x6 != declared "), r.error
    for image_id in ("top_down_bmp", "bmp", "png"):
        r = out[image_id]
        assert r.ok and r.error is None and r.px_checksum == crc, image_id
    assert out["bmp"].caption is None and out["png"].caption == "c"

    assert len(no_polys) == len(out) == len(rows)
    for image_id, r in out.items():
        e = no_polys[image_id].asDict()
        assert e.pop("polygon_ids") == []
        got = r.asDict()
        got.pop("polygon_ids")
        assert got == e, image_id


def test_fused_null_phash_has_no_location(spark, t1_dir):
    """A NULL ``phash`` has no georeference: every geo, hex, S2 and tile
    column is NULL (as ``cells.with_georef`` gives) and ``polygon_ids``
    is empty, while ``ok``/``error`` stay as the decode set them."""
    img = np.random.default_rng(12).integers(0, 256, (6, 5, 3), dtype=np.uint8)
    b = bmp.encode(img)
    rows = [
        ("null_phash", b, 5, 6, "bmp", "c", None),
        ("null_phash_bad", b"BMgarbage", 5, 6, "bmp", "c", None),
        ("located", b, 5, 6, "bmp", "c", 1),
    ]
    imgs = spark.createDataFrame(rows, IMAGES_DDL).coalesce(1)
    poly_pdf = pq.read_table(f"{t1_dir}/polygons.parquet").to_pandas()
    out = {r.image_id: r for r in fused.fused_spatial_stage(imgs, poly_pdf).collect()}
    ref = {
        r.image_id: r
        for r in cells.with_georef(imgs.select("image_id", "phash")).collect()
    }

    r = out["null_phash"]
    assert r.ok and r.error is None and r.px_checksum == zlib.crc32(img.tobytes())
    assert not out["null_phash_bad"].ok and out["null_phash_bad"].error
    for image_id in ("null_phash", "null_phash_bad"):
        assert ref[image_id].lat_e7 is None
        assert all(out[image_id][c] is None for c in GEO_COLS), image_id
        assert out[image_id].polygon_ids == []
    located, want = out["located"], ref["located"]
    assert (located.lat_e7, located.lon_e7) == (want.lat_e7, want.lon_e7)
    assert all(located[c] is not None for c in GEO_COLS)


def test_fused_size_verdict_ignores_nulls_elsewhere_in_batch(spark, t1_dir):
    """The declared-size message of a row does not depend on whether
    another row of its Arrow batch has a NULL ``w``/``h``; a NULL
    declared size prints as ``None``."""
    img = np.random.default_rng(13).integers(0, 256, (6, 5, 3), dtype=np.uint8)
    b = bmp.encode(img)
    rows = [
        ("null_w", b, None, 6, "bmp", "c", 1),
        ("null_h", b, 5, None, "bmp", "c", 2),
        ("wrong", b, 4, 6, "bmp", "c", 3),
    ]
    imgs = spark.createDataFrame(rows, IMAGES_DDL).coalesce(1)
    poly_pdf = pq.read_table(f"{t1_dir}/polygons.parquet").to_pandas()
    out = fused.fused_spatial_stage(imgs, poly_pdf).collect()
    assert {r.image_id: r.error for r in out} == {
        "null_w": "decoded size 5x6 != declared Nonex6",
        "null_h": "decoded size 5x6 != declared 5xNone",
        "wrong": "decoded size 5x6 != declared 4x6",
    }


def test_fused_plan_is_one_arrow_map(spark, t1_dir):
    """One Arrow crossing and no shuffle: the optimized plan holds
    exactly one ``MapInArrow`` and the physical plan no ``Exchange``."""
    imgs = spark.read.parquet(f"{t1_dir}/images.parquet")
    poly_pdf = pq.read_table(f"{t1_dir}/polygons.parquet").to_pandas()
    qe = fused.fused_spatial_stage(imgs, poly_pdf)._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    assert optimized.count("MapInArrow") == 1, optimized
    assert "MapInPandas" not in optimized
    assert "Exchange" not in qe.executedPlan().toString()
