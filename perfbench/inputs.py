"""Seeded input generators for the chip-pipeline benchmark.

Everything here is a pure function of the workload seed and a size table,
so the same seed always yields the same files. Inputs are written with
pyarrow (no Spark involved) at microsecond timestamp precision: Spark 4.1
rejects pandas' default nanosecond parquet timestamps.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from instageo_e2e_geospatial_ml_spark import codecs
from instageo_e2e_geospatial_ml_spark.mgrs import mgrs_precision0, mgrs_tile_bounds

BANDS = ("B02", "B03", "B04", "B8A", "B11", "B12")
MASK_BAND = "Fmask"
ALL_BANDS = BANDS + (MASK_BAND,)
# granules are acquired at 10:30 UTC on their day
BASE_TS = datetime(2023, 1, 1, 10, 30)
FMASK_BITS = (1, 2, 3, 5)  # cloud, near cloud/shadow, cloud shadow, water


def valid_tiles(rng: np.random.Generator, n: int, min_gap: float = 3.0) -> list[str]:
    """n MGRS precision-0 tiles whose footprint centre maps back to the same
    tile id, so observations drawn around the centre land in the tile whose
    granules cover them. Centres are at least min_gap degrees apart, so no
    two footprints overlap."""
    out: list[str] = []
    centres: list = []
    while len(out) < n:
        lat = rng.uniform(-40.0, 50.0, 64)
        lon = rng.uniform(-120.0, 140.0, 64)
        for tile in mgrs_precision0(lat, lon):
            xs, ys = mgrs_tile_bounds(tile)
            c = (xs.mean(), ys.mean())
            if mgrs_precision0(c[1], c[0])[0] != tile or any(
                abs(c[0] - a) < min_gap and abs(c[1] - b) < min_gap for a, b in centres
            ):
                continue
            out.append(tile)
            centres.append(c)
            if len(out) == n:
                break
    return out


def granule_id(tile: str, day: int) -> str:
    ts = BASE_TS + timedelta(days=day)
    return f"HLS.S30.T{tile}.{ts.year}{ts.timetuple().tm_yday:03d}T103000.v2.0"


@dataclass(frozen=True)
class Scene:
    """Tiles, granule catalog and observations of one seeded scene."""

    tiles: list
    catalog: pa.Table      # granule_id, tile_id, ts, cloud_cover, fp_*
    obs: pa.Table          # oid, x, y, date (yyyy-mm-dd), label
    obs_tile: np.ndarray   # index into tiles of the tile each obs was drawn around


def make_scene(
    seed: int, n_tiles: int, days: int, obs_per_tile: int,
    spread: float, date_lo: int, date_hi: int, sparse_tiles: int = 0,
) -> Scene:
    """A daily granule catalog per tile and observations drawn uniformly
    within `spread` degrees of each tile centre, dated [date_lo, date_hi)
    days after the first granule. The last `sparse_tiles` tiles get only
    three observations each, so a density filter has tiles to drop."""
    rng = np.random.default_rng([seed, 1])
    tiles = valid_tiles(rng, n_tiles)
    cat_cols: dict = {k: [] for k in (
        "granule_id", "tile_id", "ts", "cloud_cover",
        "fp_minx", "fp_miny", "fp_maxx", "fp_maxy", "fp_xs", "fp_ys",
    )}
    obs_cols: dict = {k: [] for k in ("oid", "x", "y", "date", "label")}
    obs_tile = []
    for ti, tile in enumerate(tiles):
        xs, ys = mgrs_tile_bounds(tile)
        for day in range(days):
            cat_cols["granule_id"].append(granule_id(tile, day))
            cat_cols["tile_id"].append(tile)
            cat_cols["ts"].append(BASE_TS + timedelta(days=day))
            cat_cols["fp_minx"].append(float(xs.min()))
            cat_cols["fp_miny"].append(float(ys.min()))
            cat_cols["fp_maxx"].append(float(xs.max()))
            cat_cols["fp_maxy"].append(float(ys.max()))
            cat_cols["fp_xs"].append(xs.astype(float).tolist())
            cat_cols["fp_ys"].append(ys.astype(float).tolist())
        cat_cols["cloud_cover"].extend(np.round(rng.uniform(0, 100, days), 2).tolist())
        cx, cy = float(xs.mean()), float(ys.mean())
        n = 3 if ti >= n_tiles - sparse_tiles else obs_per_tile
        obs_tile += [ti] * n
        obs_cols["x"].extend((cx + rng.uniform(-spread, spread, n)).tolist())
        obs_cols["y"].extend((cy + rng.uniform(-spread, spread, n)).tolist())
        day = rng.integers(date_lo, date_hi, n)
        obs_cols["date"].extend(
            (BASE_TS.date() + timedelta(days=int(d))).isoformat() for d in day
        )
        obs_cols["label"].extend(rng.integers(0, 2, n).tolist())
    obs_cols["oid"] = list(range(len(obs_cols["x"])))
    catalog = pa.table({
        **{k: v for k, v in cat_cols.items() if k != "ts"},
        "ts": pa.array(cat_cols["ts"], pa.timestamp("us", tz="UTC")),
    })
    obs = pa.table({
        "oid": pa.array(obs_cols["oid"], pa.int64()),
        "x": pa.array(obs_cols["x"], pa.float64()),
        "y": pa.array(obs_cols["y"], pa.float64()),
        "date": pa.array(obs_cols["date"], pa.string()),
        "label": pa.array(obs_cols["label"], pa.int32()),
    })
    return Scene(tiles, catalog, obs, np.array(obs_tile))


def band_pixels(seed: int, granule: str, band: str, size: int) -> np.ndarray:
    """Deterministic (1, size, size) raster of one granule band: a gradient
    with seeded noise for spectral bands, sparse Fmask bits for the mask."""
    key = int.from_bytes(hashlib.md5(f"{granule}:{band}".encode()).digest()[:8], "little")
    rng = np.random.default_rng([seed, 2, key])
    if band == MASK_BAND:
        m = np.zeros((size, size), np.uint16)
        for bit in FMASK_BITS:
            m |= (rng.random((size, size)) < 0.02).astype(np.uint16) << bit
        return m[None]
    ramp = np.linspace(1500, 6500, size, dtype=np.float64)
    img = ramp[None, :] + 0.4 * ramp[:, None] + rng.normal(0, 120, (size, size))
    return np.clip(img, 0, 10000).astype(np.uint16)[None]


def write_images(seed: int, granules: list, size: int, path: str, n_files: int) -> int:
    """PNG image table, one row per (granule, band), split over n_files
    parquet files so the scan spreads over tasks. Returns the row count."""
    os.makedirs(path, exist_ok=True)
    ids = [f"{g}:{b}" for g in granules for b in ALL_BANDS]
    for f in range(n_files):
        part = ids[f::n_files]
        payloads = [
            codecs.encode(band_pixels(seed, *i.split(":"), size), "png") for i in part
        ]
        pq.write_table(
            pa.table({
                "image_id": pa.array(part, pa.string()),
                "bytes": pa.array(payloads, pa.binary()),
                "w": pa.array([size] * len(part), pa.int32()),
                "h": pa.array([size] * len(part), pa.int32()),
                "fmt": pa.array(["png"] * len(part), pa.string()),
            }),
            os.path.join(path, f"part-{f:03d}.parquet"),
            row_group_size=32,
        )
    return len(ids)


def write_table(table: pa.Table, path: str, n_files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(
            table.slice(f * step, step), os.path.join(path, f"part-{f:03d}.parquet"),
            coerce_timestamps="us",
        )


def make_points(seed: int, n_points: int, n_polys: int, n_queries: int):
    """Point-join inputs: uniform points, diamond polygons and kNN query
    points over lon [-180, 180) x lat [-80, 80)."""
    rng = np.random.default_rng([seed, 3])
    points = pa.table({
        "pid": pa.array(np.arange(n_points, dtype=np.int64)),
        "x": pa.array(rng.uniform(-180.0, 180.0, n_points)),
        "y": pa.array(rng.uniform(-80.0, 80.0, n_points)),
    })
    cx = rng.uniform(-170.0, 170.0, n_polys)
    cy = rng.uniform(-70.0, 70.0, n_polys)
    r = rng.choice([0.55, 0.75, 0.95], n_polys)
    polys = pa.table({
        "granule_id": pa.array([f"p{i}" for i in range(n_polys)]),
        "fp_minx": pa.array(cx - r), "fp_miny": pa.array(cy - r),
        "fp_maxx": pa.array(cx + r), "fp_maxy": pa.array(cy + r),
        "fp_xs": pa.array(np.stack([cx + r, cx, cx - r, cx], 1).tolist()),
        "fp_ys": pa.array(np.stack([cy, cy + r, cy, cy - r], 1).tolist()),
    })
    queries = pa.table({
        "qid": pa.array(np.arange(n_queries, dtype=np.int64)),
        "qx": pa.array(rng.uniform(-179.0, 179.0, n_queries)),
        "qy": pa.array(rng.uniform(-79.0, 79.0, n_queries)),
    })
    return points, polys, queries
