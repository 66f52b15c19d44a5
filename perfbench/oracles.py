"""Output checks against the repo's DuckDB oracles.

Each reference is computed untimed, once per (workload, seed), and cached
as parquet next to the generated input. Where a brute-force oracle is
quadratic, the check runs on a deterministic spatial slice that contains
part of a hot city (``SLICE``): a pair or component set restricted to a
subset of points equals the oracle's answer on that subset.

Every check returns a list of failures, each a dict with the check's name,
its cause and a short detail. Nothing is filtered out: a mismatch from a
known defect is still a failure, reported with that cause.
"""

from __future__ import annotations

import zlib
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

from jimmy_spark.datagen.images import HOT_CENTERS

# half-width (e7 units) of the slice box around the first hot city, plus a
# uniform latitude band so sparse regions are covered as well
SLICE_HALF = {"analytics": 5_000, "job": 20_000}
BAND = (0, 2_000_000)

# kNN: check a deterministic subset of the queries against all points
KNN_CHECK_QUERIES = 60


def _con(work: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{work / 'tmp'}'")
    return con


def _cached(path: Path, make) -> pd.DataFrame:
    if path.exists():
        return pd.read_parquet(path)
    df = make()
    df.to_parquet(path)
    return df


def _slice_mask(lat: np.ndarray, lon: np.ndarray, half: int) -> np.ndarray:
    clat, clon = HOT_CENTERS[0]
    box = (np.abs(lat - clat) <= half) & (np.abs(lon - clon) <= half)
    band = (lat >= BAND[0]) & (lat < BAND[1])
    return box | band


def fail(check: str, cause: str, detail: str) -> dict:
    return {"check": check, "cause": cause, "detail": detail[:400]}


def _pairs(df: pd.DataFrame, a: str, b: str) -> set[tuple]:
    return set(zip(df[a].astype(str), df[b].astype(str)))


def _diff(check: str, got: set, exp: set) -> list[dict]:
    if got == exp:
        return []
    miss, extra = sorted(exp - got)[:3], sorted(got - exp)[:3]
    return [fail(check, "mismatch vs oracle",
                  f"{len(got)} rows vs {len(exp)} expected; missing {miss}; extra {extra}")]


# --- enrich ------------------------------------------------------------------


def _pip_sql(points_sql: str, polygons: Path) -> str:
    from jimmy_spark.operators.pip import duckdb_pip_sql

    return duckdb_pip_sql(points_sql, str(polygons))


def enrich_reference(data: Path, work: Path) -> dict[str, pd.DataFrame]:
    from jimmy_spark.functions.georef import duckdb_lat_lon_sql
    from jimmy_spark.functions.tiles import ZOOMS, duckdb_xy_sql

    con = _con(work)
    lat, lon = duckdb_lat_lon_sql("phash")
    pts = f"SELECT image_id, {lat} AS lat_e7, {lon} AS lon_e7 FROM '{data}/images.parquet/*.parquet'"
    tile_cols = []
    for z in ZOOMS:
        x, y = duckdb_xy_sql("lat_e7", "lon_e7", z)
        tile_cols += [f"{x} AS tile_z{z}_x", f"{y} AS tile_z{z}_y"]

    def rows():
        return con.sql(f"SELECT *, {', '.join(tile_cols)} FROM ({pts})").df()

    def pip():
        return con.sql(_pip_sql(pts, data / "polygons.parquet")).df()

    return {
        "rows": _cached(data / "ref_enrich_rows.parquet", rows),
        "pip": _cached(data / "ref_enrich_pip.parquet", pip),
    }


def check_enrich(got: dict, data: Path, work: Path, expected_rows: int) -> list[dict]:
    import pyarrow.parquet as pq

    from jimmy_spark.codecs import decode_image
    from jimmy_spark.functions import hexgrid, s2

    ref = enrich_reference(data, work)
    out = got["fused"].set_index("image_id").sort_index()
    fails: list[dict] = []
    if len(out) != expected_rows:
        fails.append(fail("enrich.rows", "row count", f"{len(out)} != {expected_rows}"))
    if not out["ok"].all():
        bad = out[~out["ok"]]
        fails.append(fail("enrich.ok", "rows in error on a clean input",
                           f"{len(bad)} rows, e.g. {bad['error'].iloc[0]}"))
    exp = ref["rows"].set_index("image_id").sort_index()
    for col in exp.columns:
        if not np.array_equal(out[col].to_numpy(np.int64), exp[col].to_numpy(np.int64)):
            n = int((out[col].to_numpy(np.int64) != exp[col].to_numpy(np.int64)).sum())
            fails.append(fail(f"enrich.{col}", "mismatch vs DuckDB oracle", f"{n} rows differ"))
    lat = exp["lat_e7"].to_numpy(np.int64)
    lon = exp["lon_e7"].to_numpy(np.int64)
    for r in hexgrid.RESOLUTIONS:
        if not np.array_equal(out[f"hex_r{r}"].to_numpy(np.int64), hexgrid.encode(lat, lon, r)):
            fails.append(fail(f"enrich.hex_r{r}", "mismatch vs hexgrid.encode", ""))
    for lvl in (12, 14, 16):
        if not np.array_equal(out[f"s2_l{lvl}"].to_numpy(np.int64), s2.encode(lat, lon, lvl)):
            fails.append(fail(f"enrich.s2_l{lvl}", "mismatch vs s2.encode", ""))
    got_pip = {(i, p) for i, ps in out["polygon_ids"].items() for p in ps}
    fails += _diff("enrich.pip", got_pip, _pairs(ref["pip"], "image_id", "polygon_id"))
    # decode-cache correctness: every row's checksum equals a fresh decode
    crc: dict[tuple, int] = {}
    t = pq.read_table(data / "images.parquet", columns=["image_id", "bytes", "fmt"])
    bad = 0
    for i, b, f in zip(t["image_id"].to_pylist(), t["bytes"].to_pylist(), t["fmt"].to_pylist()):
        key = (f, b)
        if key not in crc:
            crc[key] = zlib.crc32(decode_image(b, f))
        bad += crc[key] != out.at[i, "px_checksum"]
    if bad:
        fails.append(fail("enrich.px_checksum", "mismatch vs decode_image", f"{bad} rows"))
    return fails


# --- analytics -----------------------------------------------------------------


def _ij_tables(data: Path, work: Path) -> tuple[Path, Path]:
    """Points and polygon rings projected to S2 (face, i, j), with the face
    folded into both coordinates so rings on different faces never meet:
    the planar PIP oracle in this space is region_select's contract."""
    from jimmy_spark.functions import s2 as s2f

    def proj(lat, lon):
        x, y, z = s2f.xyz_from_latlon_e7(lat, lon)
        face, u, v = s2f.face_uv_from_xyz(x, y, z)
        off = face.astype(np.int64) << 31
        return s2f.ij_from_st(s2f.st_from_uv(u)) + off, s2f.ij_from_st(s2f.st_from_uv(v)) + off, face

    pts = pd.read_parquet(data / "points.parquet")
    pi, pj, _ = proj(pts["lat_e7"].to_numpy(np.int64), pts["lon_e7"].to_numpy(np.int64))
    p_path = work / "ij_points.parquet"
    pd.DataFrame({"image_id": pts["image_id"], "lat_e7": pj, "lon_e7": pi}).to_parquet(p_path)
    polys = pd.read_parquet(data / "polygons.parquet")
    rows = []
    for pid, ring in zip(polys["polygon_id"], polys["ring"]):
        lat = np.array([v["lat_e7"] for v in ring], np.int64)
        lon = np.array([v["lon_e7"] for v in ring], np.int64)
        ri, rj, face = proj(lat, lon)
        if len(np.unique(face)) != 1:
            continue  # outside region_select's contract: never covered
        rows.append({
            "polygon_id": pid,
            "ring": [{"lat_e7": int(b), "lon_e7": int(a)} for a, b in zip(ri, rj)],
            "min_lat": int(rj.min()), "max_lat": int(rj.max()),
            "min_lon": int(ri.min()), "max_lon": int(ri.max()),
        })
    g_path = work / "ij_polygons.parquet"
    pd.DataFrame(rows).to_parquet(g_path)
    return p_path, g_path


def analytics_reference(data: Path, work: Path) -> dict[str, pd.DataFrame]:
    from jimmy_spark.functions import hexgrid
    from jimmy_spark.functions.tiles import ZOOMS, duckdb_xy_sql
    from jimmy_spark.operators.distjoin import duckdb_dist_sql
    from jimmy_spark.operators.knn import duckdb_knn_sql

    con = _con(work)
    pts_path = f"{data}/points.parquet/*.parquet"
    pts = pd.read_parquet(data / "points.parquet")
    lat = pts["lat_e7"].to_numpy(np.int64)
    lon = pts["lon_e7"].to_numpy(np.int64)

    def hex_counts():
        cells = pd.Series(hexgrid.encode(lat, lon, 8), name="hex_r8")
        return cells.value_counts().rename("cnt").reset_index()

    def pyramid():
        parts = []
        for z in ZOOMS:
            x, y = duckdb_xy_sql("lat_e7", "lon_e7", z)
            parts.append(f"SELECT {z}::INT AS z, {x} AS x, {y} AS y, count(*) AS cnt "
                         f"FROM '{pts_path}' GROUP BY ALL")
        return con.sql(" UNION ALL ".join(parts)).df()

    def knn():
        q = pd.read_parquet(data / "knn_queries.parquet").iloc[:KNN_CHECK_QUERIES]
        qp = work / "knn_check_queries.parquet"
        q.to_parquet(qp)
        return con.sql(duckdb_knn_sql(f"SELECT image_id, lat_e7, lon_e7 FROM '{pts_path}'", str(qp))).df()

    def dist():
        sl = pts[_slice_mask(lat, lon, SLICE_HALF["analytics"])]
        con.register("slice_pts", sl)
        return con.sql(duckdb_dist_sql("SELECT * FROM slice_pts", 100)).df()

    def region():
        p_path, g_path = _ij_tables(data, work)
        return con.sql(_pip_sql(f"SELECT * FROM '{p_path}'", g_path)).df()

    return {
        "hex": _cached(data / "ref_hex.parquet", hex_counts),
        "pyramid": _cached(data / "ref_pyramid.parquet", pyramid),
        "knn": _cached(data / "ref_knn.parquet", knn),
        "dist": _cached(data / "ref_dist.parquet", dist),
        "region": _cached(data / "ref_region.parquet", region),
    }


def check_analytics(got: dict, data: Path, work: Path) -> list[dict]:
    ref = analytics_reference(data, work)
    fails: list[dict] = []
    hex_got, pyr_got = got["rollup"]
    fails += _diff("analytics.rollup_hex", set(zip(hex_got["hex_r8"], hex_got["cnt"])),
                   set(zip(ref["hex"]["hex_r8"], ref["hex"]["cnt"])))
    fails += _diff("analytics.rollup_pyramid",
                   set(zip(pyr_got["z"], pyr_got["x"], pyr_got["y"], pyr_got["cnt"])),
                   set(zip(ref["pyramid"]["z"], ref["pyramid"]["x"], ref["pyramid"]["y"],
                           ref["pyramid"]["cnt"])))
    (knn_got,) = got["knn"]
    qids = set(ref["knn"]["query_id"])
    knn_got = knn_got[knn_got["query_id"].isin(qids)]
    fails += _diff("analytics.knn",
                   set(zip(knn_got["query_id"], knn_got["rank"], knn_got["image_id"])),
                   set(zip(ref["knn"]["query_id"], ref["knn"]["rank"], ref["knn"]["image_id"])))
    (dist_got,) = got["distjoin"]
    pts = pd.read_parquet(data / "points.parquet")
    mask = _slice_mask(pts["lat_e7"].to_numpy(np.int64), pts["lon_e7"].to_numpy(np.int64),
                       SLICE_HALF["analytics"])
    in_slice = set(pts["image_id"][mask])
    dist_got = dist_got[dist_got["a_id"].isin(in_slice) & dist_got["b_id"].isin(in_slice)]
    fails += _diff("analytics.distjoin",
                   set(zip(dist_got["a_id"], dist_got["b_id"], dist_got["dist2"])),
                   set(zip(ref["dist"]["a_id"], ref["dist"]["b_id"], ref["dist"]["dist2"])))
    (reg_got,) = got["region"]
    fails += _diff("analytics.region", _pairs(reg_got, "image_id", "polygon_id"),
                   _pairs(ref["region"], "image_id", "polygon_id"))
    return fails


def analytics_counts(data: Path, work: Path) -> dict[str, int]:
    """Exact rollup group counts every timed operation must repeat."""
    ref = analytics_reference(data, work)
    return {"rollup_hex_groups": len(ref["hex"]), "rollup_tiles": len(ref["pyramid"])}


# --- job -------------------------------------------------------------------------


def check_job(out: Path, data: Path, work: Path, summary: dict, expected: dict) -> list[dict]:
    from jimmy_spark.operators.imagedup import duckdb_keep_best_sql, duckdb_scene_sql

    fails: list[dict] = []
    rows = expected["rows"]
    for k in ("rows_in", "rows_out"):
        if summary.get(k) != rows:
            fails.append(fail(f"job.{k}", "lineage count", f"{summary.get(k)} != {rows} input rows"))
    if summary.get("rows_err") != expected["corrupt_rows"]:
        fails.append(fail("job.rows_err", "lineage error count",
                           f"{summary.get('rows_err')} != {expected['corrupt_rows']} planted"))
    con = _con(work)
    enriched = con.sql(
        f"SELECT image_id, lat_e7, lon_e7, polygon_ids FROM read_parquet('{out}/enriched/*/*.parquet') WHERE ok"
    ).df()
    feats = pd.read_parquet(out / "features")
    feats = feats[feats["ok"]][["image_id", "ahash", "sharp_e3", "clip_e3"]]
    pts = enriched.merge(feats, on="image_id")
    mask = _slice_mask(pts["lat_e7"].to_numpy(np.int64), pts["lon_e7"].to_numpy(np.int64),
                       SLICE_HALF["job"])
    sl = pts[mask].drop(columns=["polygon_ids"])
    in_slice = set(sl["image_id"])
    con.register("slice_pts", sl)
    con.register("ok_pts", enriched[["image_id", "lat_e7", "lon_e7"]])

    got_pip = {(i, p) for i, ps in zip(enriched["image_id"], enriched["polygon_ids"]) for p in ps}
    exp_pip = _pairs(con.sql(_pip_sql("SELECT * FROM ok_pts", data / "polygons.parquet")).df(),
                     "image_id", "polygon_id")
    fails += _diff("job.pip", got_pip, exp_pip)

    scene = pd.read_parquet(out / "scene_dups")
    both = scene["a_id"].isin(in_slice) & scene["b_id"].isin(in_slice)
    exp_scene = con.sql(duckdb_scene_sql("SELECT * FROM slice_pts", 100, 6)).df()
    fails += _diff("job.scene_dups",
                   set(zip(scene["a_id"][both], scene["b_id"][both], scene["dist2"][both])),
                   set(zip(exp_scene["a_id"], exp_scene["b_id"], exp_scene["dist2"])))
    if exp_scene.empty:
        fails.append(fail("job.scene_dups", "the check slice holds no scene pair",
                          "the comparison would be vacuous"))

    # keep-best: components wholly inside the slice are identical; drop the
    # clusters that have a scene pair crossing the slice border
    kb = pd.read_parquet(out / "keep_best")
    crossing = scene[scene["a_id"].isin(in_slice) ^ scene["b_id"].isin(in_slice)]
    edge_ids = set(crossing["a_id"]) | set(crossing["b_id"])
    kb = kb[kb["image_id"].isin(in_slice)]
    bad_clusters = set(kb["cluster_id"][kb["image_id"].isin(edge_ids)])
    dropped = set(kb["image_id"][kb["cluster_id"].isin(bad_clusters)])
    kb = kb[~kb["image_id"].isin(dropped)]
    exp_kb = con.sql(duckdb_keep_best_sql(
        "SELECT * FROM slice_pts", 100, 6, num_id_sql="substring(image_id, 5, 12)::BIGINT"
    )).df()
    exp_kb = exp_kb[~exp_kb["image_id"].isin(dropped)]
    fails += _diff("job.keep_best", set(zip(kb["image_id"], kb["cluster_id"], kb["keep"])),
                   set(zip(exp_kb["image_id"], exp_kb["cluster_id"], exp_kb["keep"])))
    return fails
