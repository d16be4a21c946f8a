"""Deterministic synthetic data generators (seed-fixed, no external data).

Produces the three tables the engine operates on, per BASELINE.json
input_hint and FIXTURES.md:

  images(image_id, bytes, w, h, fmt, caption, phash)   — one row per
      (granule, band); pixels are seeded gradients+noise, uint16 [0,10000];
      mask bands (Fmask) are uint8 bitfields.
  observations(x, y, date, label, year)                — golden 10 points
      (reference tests/data_tests/test_data_pipeline.py:87-100) plus seeded
      clusters around MGRS tile centers.
  granule_catalog(granule_id, tile_id, ts, cloud_cover, fp_minx.., fp_xs/ys,
      band)                                            — STAC-item stand-in
      (reference stac_utils.py:320-389 search results).

Two generation paths:
  * pandas (driver-side) for unit tests at tiny scale;
  * distributed via spark.range + mapInPandas for bench scale — at 10^12-row
    scale image synthesis itself must be a distributed job, never a driver
    loop.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

from . import codecs
from .mgrs import mgrs_precision0, mgrs_tile_bounds

GOLDEN_POINTS = [
    # (lon, lat, date, mgrs) — reference test_data_pipeline.py:87-100
    (44.48, 15.115617, "2022-06-08", "38PMB"),
    (44.48865, 15.099767, "2022-06-08", "38PMB"),
    (46.437787, 14.714659, "2022-06-08", "38PPB"),
    (49.095545, 16.066929, "2022-06-08", "39QTT"),
    (-0.1305, 28.028967, "2022-06-09", "30RYS"),
    (44.6216, 16.16195, "2022-06-09", "38QMC"),
    (49.398908, 16.139727, "2022-06-09", "39QUT"),
    (44.451435, 15.209633, "2022-06-08", "38PMB"),
    (49.435228, 16.151837, "2022-06-09", "39QUT"),
    (44.744167, 15.287778, "2022-06-09", "38PMB"),
]

DEFAULT_TILES = ["38PMB", "38PPB", "39QTT", "30RYS", "38QMC", "39QUT"]

_COL_BY_MOD = {1: "CDEF", 2: "KLMN", 0: "TUVW"}  # valid mid-square columns per zone%3


def make_tiles(n: int) -> list[str]:
    """Deterministic list of n valid MGRS precision-0 tile ids spread over
    zones/bands (for large synthetic benchmarks)."""
    out = []
    zones = list(range(31, 51))
    bands = "PQRS"  # northern mid-latitudes, no band-edge quirks
    rows = "BCU"
    i = 0
    while len(out) < n:
        z = zones[i % len(zones)]
        b = bands[(i // len(zones)) % len(bands)]
        c = _COL_BY_MOD[z % 3][(i // (len(zones) * len(bands))) % 4]
        r = rows[(i // (len(zones) * len(bands) * 4)) % len(rows)]
        tile = f"{z}{b}{c}{r}"
        if tile not in out:
            out.append(tile)
        i += 1
    return out
BANDS = ["B02", "B03", "B04", "B8A", "B11", "B12"]
MASK_BAND = "Fmask"
BASE_DATE = datetime(2022, 5, 1)


def _seed_from(key: str) -> int:
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "little")


def granule_id_for(tile_id: str, day: int) -> str:
    """HLS-style granule id; the tile-name split in the reference
    (data_pipeline.py:162-174) relies on this dotted shape."""
    ts = BASE_DATE + timedelta(days=day)
    doy = ts.timetuple().tm_yday
    return f"HLS.S30.T{tile_id}.{ts.year}{doy:03d}T072619.v2.0"


def synth_pixels(image_id: str, w: int, h: int, is_mask: bool) -> np.ndarray:
    """Deterministic pixels keyed by image_id: per-band gradient + seeded
    noise, uint16 clipped to [0, 10000]; mask bands are uint8 bitfields
    (bits 1,2,3,5 meaningful — reference data_pipeline.py:44-47)."""
    rng = np.random.default_rng(_seed_from(image_id))
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    if is_mask:
        # sparse cloud/shadow/water bits
        base = np.zeros((h, w), dtype=np.uint16)
        for bit in (1, 2, 3, 5):
            blob = rng.random((h, w)) < 0.03
            base |= (blob.astype(np.uint16) << bit)
        return base.reshape(1, h, w)
    phase = rng.uniform(0, 2 * np.pi)
    grad = 2000.0 + 5000.0 * (xx / max(w - 1, 1)) + 2000.0 * (yy / max(h - 1, 1))
    wave = 800.0 * np.sin(xx / 13.0 + phase) * np.cos(yy / 7.0 - phase)
    noise = rng.normal(0.0, 150.0, (h, w))
    img = np.clip(grad + wave + noise, 0, codecs.HLS_MAX).astype(np.uint16)
    return img.reshape(1, h, w)


def caption_for(image_id: str) -> str:
    """Caption is an exact deterministic function of image_id (the per-row
    caption-equality invariant from BASELINE.json)."""
    return f"synthetic scene {image_id} md5={hashlib.md5(image_id.encode()).hexdigest()[:12]}"


def _image_row(image_id: str, w: int, h: int, fmt: str) -> dict:
    is_mask = image_id.endswith(":" + MASK_BAND)
    px = synth_pixels(image_id, w, h, is_mask)
    use_fmt = "raw8" if is_mask else fmt
    return {
        "image_id": image_id,
        "bytes": codecs.encode(px, use_fmt),
        "w": np.int32(w),
        "h": np.int32(h),
        "fmt": use_fmt,
        "caption": caption_for(image_id),
        "phash": np.int64(codecs.phash64(px)),
    }


def gen_granule_catalog_pdf(
    tiles: list[str] | None = None,
    days: int = 60,
    every: int = 5,
    notch: bool = True,
) -> pd.DataFrame:
    """Granule catalog: one granule per tile every `every` days.

    Footprints are the real MGRS 100 km squares (via mgrs_tile_bounds), with
    an optional notch cut from one corner so point-in-polygon differs from
    the bbox test (FIXTURES.md §3)."""
    tiles = tiles or DEFAULT_TILES
    rows = []
    for tile in tiles:
        lon_b, lat_b = mgrs_tile_bounds(tile)
        if notch:
            # pull the first corner inward 25% of the tile → concave quad
            cx, cy = float(lon_b.mean()), float(lat_b.mean())
            lon_b = lon_b.copy()
            lat_b = lat_b.copy()
            lon_b[0] = lon_b[0] + 0.25 * (cx - lon_b[0])
            lat_b[0] = lat_b[0] + 0.25 * (cy - lat_b[0])
        rng = np.random.default_rng(_seed_from("granules:" + tile))
        for day in range(0, days, every):
            gid = granule_id_for(tile, day)
            rows.append(
                {
                    "granule_id": gid,
                    "tile_id": tile,
                    "ts": BASE_DATE + timedelta(days=day, hours=7, minutes=26),
                    "cloud_cover": float(np.round(rng.uniform(0, 100), 2)),
                    "fp_minx": float(lon_b.min()),
                    "fp_miny": float(lat_b.min()),
                    "fp_maxx": float(lon_b.max()),
                    "fp_maxy": float(lat_b.max()),
                    "fp_xs": lon_b.astype(np.float64).tolist(),
                    "fp_ys": lat_b.astype(np.float64).tolist(),
                }
            )
    return pd.DataFrame(rows)


def gen_observations_pdf(
    n_extra_per_tile: int = 30,
    tiles: list[str] | None = None,
    spread: float = 0.15,
    date_lo: int = 20,
    date_hi: int = 55,
) -> pd.DataFrame:
    """The 10 golden observation rows + seeded clusters near tile centers.

    date_lo/date_hi: observation dates drawn uniformly from
    BASE_DATE + [date_lo, date_hi) days.
    """
    tiles = tiles or DEFAULT_TILES
    rows = [
        {"x": x, "y": y, "date": pd.Timestamp(d), "label": i % 2, "year": 2022}
        for i, (x, y, d, _) in enumerate(GOLDEN_POINTS)
    ]
    for tile in tiles:
        lon_b, lat_b = mgrs_tile_bounds(tile)
        cx, cy = float(lon_b.mean()), float(lat_b.mean())
        rng = np.random.default_rng(_seed_from("obs:" + tile))
        for _ in range(n_extra_per_tile):
            rows.append(
                {
                    "x": cx + rng.uniform(-spread, spread),
                    "y": cy + rng.uniform(-spread, spread),
                    "date": pd.Timestamp(
                        BASE_DATE + timedelta(days=int(rng.integers(date_lo, date_hi)))
                    ),
                    "label": int(rng.integers(0, 2)),
                    "year": 2022,
                }
            )
    pdf = pd.DataFrame(rows)
    pdf["mgrs_tile_id"] = mgrs_precision0(pdf["y"].to_numpy(), pdf["x"].to_numpy())
    return pdf


def gen_images_pdf(
    catalog: pd.DataFrame, w: int = 224, h: int = 224, fmt: str = "raw",
    extra_bands: list[str] | None = None,
) -> pd.DataFrame:
    """Driver-side image table for unit tests: rows (granule × band)."""
    bands = [*BANDS, MASK_BAND, *(extra_bands or [])]
    rows = [
        _image_row(f"{gid}:{band}", w, h, fmt)
        for gid in catalog["granule_id"].unique()
        for band in bands
    ]
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# Distributed generation (bench scale)
# ---------------------------------------------------------------------------

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


def gen_images_df(spark, granule_ids: list[str], w: int = 224, h: int = 224, fmt: str = "raw",
                  num_partitions: int = 32):
    """Distributed image-table generation: spark.range over (granule, band)
    pairs → mapInPandas synthesis. This is the pattern that scales to 10^12
    rows (each task synthesizes+encodes its own batch; no driver loop)."""
    from pyspark.sql import functions as F

    bands = [*BANDS, MASK_BAND]
    gdf = spark.createDataFrame([(g,) for g in granule_ids], "granule_id string")
    pairs = gdf.crossJoin(
        spark.createDataFrame([(b,) for b in bands], "band string")
    ).withColumn("image_id", F.concat_ws(":", "granule_id", "band")).repartition(num_partitions, "image_id")

    def synth_batch(it):
        for pdf in it:
            out = [_image_row(iid, w, h, fmt) for iid in pdf["image_id"]]
            yield pd.DataFrame(out, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"])

    return pairs.mapInPandas(synth_batch, IMAGES_SCHEMA)
