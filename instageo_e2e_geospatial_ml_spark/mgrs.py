"""Pure-numpy WGS84 → UTM → MGRS (precision 0, 100 km square) encoder.

Replaces the reference's per-row ``mgrs.MGRS().toMGRS(lat, lon, MGRSPrecision=0)``
(reference: instageo/data/data_pipeline.py:374-377, geo_utils.py:42-49) with a
fully vectorized numpy implementation suitable for Arrow-batched pandas UDFs.

The forward Transverse Mercator uses the 6th-order Krüger flattening series
(public formulation, see e.g. Karney 2011 "Transverse Mercator with an
accuracy of a few nanometers" and the standard series on Wikipedia's
"Transverse Mercator: flattening series" page) — accuracy ~1e-9 deg, far
beyond the 100 km granularity needed for precision-0 MGRS.

Limitations (documented, matching SURVEY.md §7.2): the Norway/Svalbard UTM
zone exceptions and the X-band 72-84° special widths are NOT implemented —
the reference's own golden tests never touch them.
"""

from __future__ import annotations

import numpy as np

# WGS84
_A = 6378137.0
_F = 1.0 / 298.257223563
_K0 = 0.9996
_E0 = 500000.0  # false easting

_N = _F / (2.0 - _F)
_N2 = _N * _N
_N3 = _N2 * _N
_N4 = _N3 * _N
_N5 = _N4 * _N
_N6 = _N5 * _N
# Rectifying radius
_AA = _A / (1.0 + _N) * (1.0 + _N2 / 4.0 + _N4 / 64.0 + _N6 / 256.0)
# Krüger alpha series coefficients (6th order)
_ALPHA = np.array(
    [
        _N / 2.0 - 2.0 * _N2 / 3.0 + 5.0 * _N3 / 16.0 + 41.0 * _N4 / 180.0
        - 127.0 * _N5 / 288.0 + 7891.0 * _N6 / 37800.0,
        13.0 * _N2 / 48.0 - 3.0 * _N3 / 5.0 + 557.0 * _N4 / 1440.0
        + 281.0 * _N5 / 630.0 - 1983433.0 * _N6 / 1935360.0,
        61.0 * _N3 / 240.0 - 103.0 * _N4 / 140.0 + 15061.0 * _N5 / 26880.0
        + 167603.0 * _N6 / 181440.0,
        49561.0 * _N4 / 161280.0 - 179.0 * _N5 / 168.0 + 6601661.0 * _N6 / 7257600.0,
        34729.0 * _N5 / 80640.0 - 3418889.0 * _N6 / 1995840.0,
        212378941.0 * _N6 / 319334400.0,
    ]
)

_LAT_BANDS = "CDEFGHJKLMNPQRSTUVWX"  # 8° bands, -80..84 (no I, O)
_ROW_LETTERS = "ABCDEFGHJKLMNPQRSTUV"  # 20-letter northing cycle (no I, O)
_COL_SETS = {1: "ABCDEFGH", 2: "JKLMNPQR", 0: "STUVWXYZ"}  # keyed by zone % 3


def utm_zone(lon: np.ndarray) -> np.ndarray:
    """UTM zone number (1..60) for longitudes in degrees."""
    lon = np.asarray(lon, dtype=np.float64)
    return (np.floor((lon + 180.0) / 6.0).astype(np.int64) % 60) + 1


def mgrs_zone(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """UTM zone with the MGRS grid exceptions (the `mgrs` lib applies these
    implicitly; the reference inherits them from it):

      * 32V widened over southwest Norway: 56–64°N, 3–12°E → zone 32
        (31V shrinks to 0–3°E);
      * Svalbard (X band, 72–84°N): only zones 31/33/35/37 exist —
        0–9°E → 31, 9–21°E → 33, 21–33°E → 35, 33–42°E → 37.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    zone = utm_zone(lon)
    zone = np.where(
        (lat >= 56.0) & (lat < 64.0) & (lon >= 3.0) & (lon < 12.0), 32, zone
    )
    x = (lat >= 72.0) & (lat <= 84.0)
    zone = np.where(x & (lon >= 0.0) & (lon < 9.0), 31, zone)
    zone = np.where(x & (lon >= 9.0) & (lon < 21.0), 33, zone)
    zone = np.where(x & (lon >= 21.0) & (lon < 33.0), 35, zone)
    zone = np.where(x & (lon >= 33.0) & (lon < 42.0), 37, zone)
    return zone


def latlon_to_utm(
    lat: np.ndarray, lon: np.ndarray, zone: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized WGS84 lat/lon (deg) → UTM (easting, northing, zone).

    Southern-hemisphere northings carry the 10,000,000 m false northing.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    if zone is None:
        zone = utm_zone(lon)
    lon0 = (zone.astype(np.float64) - 1.0) * 6.0 - 180.0 + 3.0

    phi = np.radians(lat)
    lam = np.radians(lon - lon0)

    sphi = np.sin(phi)
    t = np.sinh(
        np.arctanh(sphi)
        - (2.0 * np.sqrt(_N) / (1.0 + _N)) * np.arctanh((2.0 * np.sqrt(_N) / (1.0 + _N)) * sphi)
    )
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))

    e_sum = np.zeros_like(xi)
    n_sum = np.zeros_like(xi)
    for j in range(6):
        k = 2.0 * (j + 1)
        e_sum += _ALPHA[j] * np.cos(k * xi) * np.sinh(k * eta)
        n_sum += _ALPHA[j] * np.sin(k * xi) * np.cosh(k * eta)

    easting = _E0 + _K0 * _AA * (eta + e_sum)
    northing = _K0 * _AA * (xi + n_sum)
    northing = np.where(lat < 0.0, northing + 10000000.0, northing)
    return easting, northing, zone


def lat_band(lat: np.ndarray) -> np.ndarray:
    """MGRS latitude band index 0..19 ('C'..'X')."""
    lat = np.asarray(lat, dtype=np.float64)
    return np.clip(np.floor((lat + 80.0) / 8.0).astype(np.int64), 0, 19)


def mgrs_precision0(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Vectorized MGRS precision-0 tile ids (e.g. '38PMB') as an object array.

    Golden parity: reference tests/data_tests/test_data_pipeline.py:87-100.
    """
    lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
    lon = np.atleast_1d(np.asarray(lon, dtype=np.float64))
    zone = mgrs_zone(lat, lon)
    easting, northing, zone = latlon_to_utm(lat, lon, zone=zone)
    band_idx = lat_band(lat)
    # hemisphere consistency at the equator boundary: a vanishingly
    # negative lat gets the southern false northing from latlon_to_utm but
    # rounds into the northern 'N' band — strip the false northing so the
    # row letter matches the band's hemisphere (found by hypothesis)
    northing = np.where((lat < 0.0) & (band_idx >= 10), northing - 10000000.0, northing)

    # column letters: 24-letter cycle (no I/O), 8 nominal columns per zone;
    # wide exception zones (32V spans 9°) index past 7 and wrap in the cycle
    _COL_CYCLE = "ABCDEFGHJKLMNPQRSTUVWXYZ"
    col = np.floor(easting / 100000.0).astype(np.int64) - 1
    col_idx = (((zone - 1) % 3) * 8 + col) % 24
    row = np.floor(northing / 100000.0).astype(np.int64) % 20
    row = np.where(zone % 2 == 0, (row + 5) % 20, row)  # even zones offset by 'F'

    out = np.empty(lat.shape[0], dtype=object)
    for i in range(lat.shape[0]):
        z = int(zone[i])
        out[i] = (
            f"{z}"
            + _LAT_BANDS[int(band_idx[i])]
            + _COL_CYCLE[int(col_idx[i])]
            + _ROW_LETTERS[int(row[i])]
        )
    return out


# --- CRS reprojection (reference data_pipeline.py:330-349, P1) ---------------

def utm_to_latlon(
    easting: np.ndarray, northing: np.ndarray, zone: int, south: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse Transverse Mercator (Krüger series) — UTM → lat/lon degrees.

    Used for the CRS-reprojection operator and chip-extent math
    (reference data_pipeline.py:330-349, tests atol 0.01 —
    tests/data_tests/test_data_pipeline.py:186-203).
    """
    easting = np.asarray(easting, dtype=np.float64)
    northing = np.asarray(northing, dtype=np.float64)
    if south:
        northing = northing - 10000000.0
    lon0 = (zone - 1) * 6.0 - 180.0 + 3.0

    xi = northing / (_K0 * _AA)
    eta = (easting - _E0) / (_K0 * _AA)

    # Inverse beta series (6th order)
    beta = np.array(
        [
            _N / 2.0 - 2.0 * _N2 / 3.0 + 37.0 * _N3 / 96.0 - _N4 / 360.0
            - 81.0 * _N5 / 512.0 + 96199.0 * _N6 / 604800.0,
            _N2 / 48.0 + _N3 / 15.0 - 437.0 * _N4 / 1440.0 + 46.0 * _N5 / 105.0
            - 1118711.0 * _N6 / 3870720.0,
            17.0 * _N3 / 480.0 - 37.0 * _N4 / 840.0 - 209.0 * _N5 / 4480.0
            + 5569.0 * _N6 / 90720.0,
            4397.0 * _N4 / 161280.0 - 11.0 * _N5 / 504.0 - 830251.0 * _N6 / 7257600.0,
            4583.0 * _N5 / 161280.0 - 108847.0 * _N6 / 3991680.0,
            20648693.0 * _N6 / 638668800.0,
        ]
    )
    xi_p = xi.copy()
    eta_p = eta.copy()
    for j in range(6):
        k = 2.0 * (j + 1)
        xi_p = xi_p - beta[j] * np.sin(k * xi) * np.cosh(k * eta)
        eta_p = eta_p - beta[j] * np.cos(k * xi) * np.sinh(k * eta)

    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))
    # Iterate conformal → geodetic latitude
    e = np.sqrt(_F * (2.0 - _F))
    phi = chi.copy()
    for _ in range(8):
        phi = np.arcsin(
            np.tanh(np.arctanh(np.sin(chi)) + e * np.arctanh(e * np.sin(phi)))
        )
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    return np.degrees(phi), lon0 + np.degrees(lam)


def mgrs_tile_utm_square(tile_id: str) -> tuple[int, bool, float, float]:
    """Precision-0 MGRS tile → (utm_zone, south, easting_min, northing_min)
    of its 100 km UTM square (northing includes the southern false northing).

    Inverse of `mgrs_precision0`'s lettering; the chip engine uses this as
    the tile's affine-transform origin (the reference gets it from the
    GeoTIFF transform, hls_utils.py:89-122).
    """
    i = 0
    while tile_id[i].isdigit():
        i += 1
    zone = int(tile_id[:i])
    band_letter, col_letter, row_letter = tile_id[i], tile_id[i + 1], tile_id[i + 2]
    band_idx = _LAT_BANDS.index(band_letter)
    col = _COL_SETS[zone % 3].index(col_letter) + 1  # easting/100km
    row = _ROW_LETTERS.index(row_letter)
    if zone % 2 == 0:
        row = (row - 5) % 20

    south = band_idx < 10  # bands C..M are southern hemisphere
    lat0 = -80.0 + 8.0 * band_idx  # band's southern edge
    lon0 = (zone - 1) * 6.0 - 180.0 + 3.0
    # northing (incl. false northing for south) of the band's southern edge
    _, n_base, _ = latlon_to_utm(np.array([lat0]), np.array([lon0]), np.array([zone]))
    n_base = float(n_base[0])
    # row letters cycle every 2,000,000 m; pick the instance covering the band
    northing = row * 100000.0 + 2000000.0 * np.floor(n_base / 2000000.0)
    if northing + 100000.0 <= n_base:
        northing += 2000000.0
    easting = col * 100000.0
    return zone, south, easting, northing


def mgrs_tile_bounds(tile_id: str) -> tuple[np.ndarray, np.ndarray]:
    """Polygon (lon[], lat[]) of a precision-0 MGRS tile's 100 km square.

    Used to synthesize granule footprints matching real MGRS tile geometry
    (the reference gets footprints from STAC item geojson,
    stac_utils.py:139-145).
    """
    n_pts_per_edge = 3
    zone, south, easting, northing = mgrs_tile_utm_square(tile_id)

    # boundary points (counter-clockwise), densified for curvature
    t = np.linspace(0.0, 100000.0, n_pts_per_edge)
    es = np.concatenate([easting + t, np.full(n_pts_per_edge, easting + 100000.0),
                         easting + 100000.0 - t, np.full(n_pts_per_edge, easting)])
    ns = np.concatenate([np.full(n_pts_per_edge, northing), northing + t,
                         np.full(n_pts_per_edge, northing + 100000.0), northing + 100000.0 - t])
    lat, lon = utm_to_latlon(es, ns, zone, south=south)
    return lon, lat


def bbox_tile_ids(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float
) -> set[str]:
    """MGRS precision-0 ids of a bbox's four corners (reference
    geo_utils.py:31-49 get_polygon_tile_ids)."""
    lons = np.array([lon_min, lon_max, lon_min, lon_max])
    lats = np.array([lat_min, lat_min, lat_max, lat_max])
    return set(mgrs_precision0(lats, lons))


def webmercator_to_latlon(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:3857 → EPSG:4326 (spherical Mercator closed form)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / _A)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / _A)) - np.pi / 2.0)
    return lat, lon
