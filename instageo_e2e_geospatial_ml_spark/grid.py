"""Packed int64 lat/lon grid-cell index — the engine's H3/S2 analogue.

The reference keys all spatial work on MGRS precision-0 tiles (strings).
For scale we additionally use a hierarchical equirectangular grid whose cell
id is a closed-form function of (lon, lat, res) — exactly expressible in both
Spark SQL and ANSI SQL (DuckDB oracle), and cheap to compute vectorized.

Layout of the 64-bit id (non-negative):
    bits 58..62  res (0..15)
    bits 29..57  cell_y = floor((lat + 90) / size(res))
    bits  0..28  cell_x = floor((lon + 180) / size(res))
with size(res) = 180 / 2**res degrees (res 0 → 180°, res 10 → ~0.176°,
res 15 → ~5.5e-3° ≈ 600 m). k-ring = Chebyshev-distance-k neighborhood
(8k cells on ring k), the analogue of H3's k-ring used for kNN candidate
expansion (north rule; SURVEY.md §2.3 J9).
"""

from __future__ import annotations

import numpy as np

# the id layout above; functions/geo.cell_id builds the same id as a column
RES_SHIFT = 58
Y_SHIFT = 29
XY_MASK = (1 << 29) - 1


def _pack(res: int, cy: np.ndarray, cx: np.ndarray) -> np.ndarray:
    return (np.int64(res) << RES_SHIFT) | (cy << Y_SHIFT) | cx


def cell_size_deg(res: int) -> float:
    return 180.0 / (1 << res)


def cell_encode(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized (lon, lat) → packed int64 cell id at resolution `res`."""
    n = 1 << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    # same FP expression as sql_cell_expr so numpy/Spark/DuckDB agree bit-for-bit
    cx = np.clip(np.floor((lon + 180.0) * n / 180.0), 0, 2 * n - 1).astype(np.int64)
    cy = np.clip(np.floor((lat + 90.0) * n / 180.0), 0, n - 1).astype(np.int64)
    return _pack(res, cy, cx)


def cell_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id → (res, cx, cy)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> RES_SHIFT
    cy = (cell >> Y_SHIFT) & XY_MASK
    cx = cell & XY_MASK
    return res, cx, cy


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell id → (lon_min, lat_min, lon_max, lat_max)."""
    res, cx, cy = cell_decode(cell)
    s = 180.0 / (1 << res).astype(np.float64)
    lon_min = cx * s - 180.0
    lat_min = cy * s - 90.0
    return lon_min, lat_min, lon_min + s, lat_min + s


def k_ring(cell: int, k: int) -> np.ndarray:
    """All cell ids within Chebyshev distance k (the (2k+1)² block), clamped
    to the grid; longitude does NOT wrap (matches the closed-form SQL twin)."""
    res, cx, cy = cell_decode(np.array([cell]))
    res, cx, cy = int(res[0]), int(cx[0]), int(cy[0])
    nx = 2 * (1 << res)
    ny = 1 << res
    xs = np.arange(max(0, cx - k), min(nx - 1, cx + k) + 1, dtype=np.int64)
    ys = np.arange(max(0, cy - k), min(ny - 1, cy + k) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return _pack(res, gy.ravel(), gx.ravel())


def covering_cells(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int
) -> np.ndarray:
    """All cells at `res` intersecting the bbox (for polygon bucketing, J1)."""
    s = cell_size_deg(res)
    x0 = int(np.clip(np.floor((lon_min + 180.0) / s), 0, 2 * (1 << res) - 1))
    x1 = int(np.clip(np.floor((lon_max + 180.0) / s), 0, 2 * (1 << res) - 1))
    y0 = int(np.clip(np.floor((lat_min + 90.0) / s), 0, (1 << res) - 1))
    y1 = int(np.clip(np.floor((lat_max + 90.0) / s), 0, (1 << res) - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    return _pack(res, gy.ravel(), gx.ravel())


# ---- SQL fragments (identical semantics in Spark SQL and DuckDB) -----------

def sql_cell_expr(lon_expr: str, lat_expr: str, res: int) -> str:
    """Closed-form SQL producing the same packed id as `cell_encode`.

    Uses only +,*,floor,CAST — runs identically in Spark SQL and DuckDB,
    which is how the driver's oracle verifies the cell index.
    """
    n = 1 << res
    cy = (
        f"least(greatest(CAST(floor(({lat_expr} + 90.0) * {n} / 180.0) AS BIGINT), "
        f"CAST(0 AS BIGINT)), CAST({n - 1} AS BIGINT))"
    )
    cx = (
        f"least(greatest(CAST(floor(({lon_expr} + 180.0) * {n} / 180.0) AS BIGINT), "
        f"CAST(0 AS BIGINT)), CAST({2 * n - 1} AS BIGINT))"
    )
    return (
        f"(CAST({res} AS BIGINT) * {1 << RES_SHIFT} "
        f"+ {cy} * {1 << Y_SHIFT} "
        f"+ {cx})"
    )
