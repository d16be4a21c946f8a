"""Ellipsoidal map-projection inverses for CRS reprojection (P1).

The reference supports arbitrary CRS via pyproj (data_pipeline.py:330-349);
this container has no pyproj, so the common continental CRS are implemented
directly from the standard closed forms (Snyder, "Map Projections — A
Working Manual", USGS PP 1395 — public domain): Albers Equal-Area Conic,
Lambert Conformal Conic (2SP), and Lambert Azimuthal Equal-Area, all on
GRS80. Vectorized numpy; inverse accuracy < 1e-9 rad against the forward
(round-trip tested), and each CRS's defining anchor (projection origin →
false easting/northing) is exact by construction.

Supported EPSG codes (beyond 4326/3857/UTM handled in functions/geo.py):
  5070  NAD83 / Conus Albers            (AEA,  lat0=23,   lon0=-96, 29.5/45.5)
  3577  GDA94 / Australian Albers       (AEA,  lat0=0,    lon0=132, -18/-36)
  2154  RGF93 / Lambert-93              (LCC,  lat0=46.5, lon0=3,   49/44)
  3978  NAD83 / Canada Atlas Lambert    (LCC,  lat0=49,   lon0=-95, 49/77)
  3035  ETRS89-extended / LAEA Europe   (LAEA, lat0=52,   lon0=10)
"""

from __future__ import annotations

import numpy as np

# GRS80 ellipsoid (NAD83 / ETRS89 / GDA94 all use it)
_A = 6378137.0
_F = 1.0 / 298.257222101
_E2 = 2.0 * _F - _F * _F
_E = np.sqrt(_E2)


def _m(phi: np.ndarray) -> np.ndarray:
    s = np.sin(phi)
    return np.cos(phi) / np.sqrt(1.0 - _E2 * s * s)


def _q(phi: np.ndarray) -> np.ndarray:
    s = np.sin(phi)
    return (1.0 - _E2) * (
        s / (1.0 - _E2 * s * s)
        - (1.0 / (2.0 * _E)) * np.log((1.0 - _E * s) / (1.0 + _E * s))
    )


def _t(phi: np.ndarray) -> np.ndarray:
    s = np.sin(phi)
    return np.tan(np.pi / 4.0 - phi / 2.0) / (
        (1.0 - _E * s) / (1.0 + _E * s)
    ) ** (_E / 2.0)


def _phi_from_q(q: np.ndarray) -> np.ndarray:
    """Snyder eq. 3-16 iteration: authalic q → geodetic latitude."""
    phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    for _ in range(8):
        s = np.sin(phi)
        c = np.cos(phi)
        c = np.where(np.abs(c) < 1e-12, 1e-12, c)
        d = 1.0 - _E2 * s * s
        phi = phi + (d * d) / (2.0 * c) * (
            q / (1.0 - _E2)
            - s / d
            + (1.0 / (2.0 * _E)) * np.log((1.0 - _E * s) / (1.0 + _E * s))
        )
    return phi


# --- Albers Equal-Area Conic (Snyder §14) -----------------------------------

def _aea_constants(lat0, lon0, sp1, sp2):
    p0, p1, p2 = np.radians([lat0, sp1, sp2])
    m1, m2 = _m(np.array([p1]))[0], _m(np.array([p2]))[0]
    q0, q1, q2 = (_q(np.array([p]))[0] for p in (p0, p1, p2))
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    rho0 = _A * np.sqrt(C - n * q0) / n
    return n, C, rho0, np.radians(lon0)


def aea_forward(lat, lon, lat0, lon0, sp1, sp2):
    n, C, rho0, lam0 = _aea_constants(lat0, lon0, sp1, sp2)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64)) - lam0
    rho = _A * np.sqrt(C - n * _q(phi)) / n
    th = n * lam
    return rho * np.sin(th), rho0 - rho * np.cos(th)


def aea_inverse(x, y, lat0, lon0, sp1, sp2):
    n, C, rho0, lam0 = _aea_constants(lat0, lon0, sp1, sp2)
    xp = np.asarray(x, dtype=np.float64)
    yp = rho0 - np.asarray(y, dtype=np.float64)
    rho = np.sqrt(xp * xp + yp * yp)
    th = np.arctan2(np.sign(n) * xp, np.sign(n) * yp)
    q = (C - (rho * n / _A) ** 2) / n
    lat = np.degrees(_phi_from_q(q))
    lon = np.degrees(lam0 + th / n)
    return lat, lon


# --- Lambert Conformal Conic, 2SP (Snyder §15) -------------------------------

def _lcc_constants(lat0, lon0, sp1, sp2):
    p0, p1, p2 = np.radians([lat0, sp1, sp2])
    m1, m2 = _m(np.array([p1]))[0], _m(np.array([p2]))[0]
    t0, t1, t2 = (_t(np.array([p]))[0] for p in (p0, p1, p2))
    n = (np.log(m1) - np.log(m2)) / (np.log(t1) - np.log(t2))
    Fc = m1 / (n * t1**n)
    rho0 = _A * Fc * t0**n
    return n, Fc, rho0, np.radians(lon0)


def lcc_forward(lat, lon, lat0, lon0, sp1, sp2, x0=0.0, y0=0.0):
    n, Fc, rho0, lam0 = _lcc_constants(lat0, lon0, sp1, sp2)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64)) - lam0
    rho = _A * Fc * _t(phi) ** n
    th = n * lam
    return rho * np.sin(th) + x0, rho0 - rho * np.cos(th) + y0


def lcc_inverse(x, y, lat0, lon0, sp1, sp2, x0=0.0, y0=0.0):
    n, Fc, rho0, lam0 = _lcc_constants(lat0, lon0, sp1, sp2)
    xp = np.asarray(x, dtype=np.float64) - x0
    yp = rho0 - (np.asarray(y, dtype=np.float64) - y0)
    sgn = np.sign(n)
    rho = sgn * np.sqrt(xp * xp + yp * yp)
    th = np.arctan2(sgn * xp, sgn * yp)
    tt = (rho / (_A * Fc)) ** (1.0 / n)
    phi = np.pi / 2.0 - 2.0 * np.arctan(tt)
    for _ in range(8):
        s = np.sin(phi)
        phi = np.pi / 2.0 - 2.0 * np.arctan(
            tt * ((1.0 - _E * s) / (1.0 + _E * s)) ** (_E / 2.0)
        )
    return np.degrees(phi), np.degrees(lam0 + th / n)


# --- Lambert Azimuthal Equal-Area, oblique (Snyder §24) ----------------------

def _laea_constants(lat0, lon0):
    p0 = np.radians(lat0)
    qp = _q(np.array([np.pi / 2.0]))[0]
    q0 = _q(np.array([p0]))[0]
    beta0 = np.arcsin(q0 / qp)
    Rq = _A * np.sqrt(qp / 2.0)
    m0 = _m(np.array([p0]))[0]
    D = _A * m0 / (Rq * np.cos(beta0))
    return qp, beta0, Rq, D, np.radians(lon0)


def laea_forward(lat, lon, lat0, lon0, x0=0.0, y0=0.0):
    qp, beta0, Rq, D, lam0 = _laea_constants(lat0, lon0)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64)) - lam0
    beta = np.arcsin(np.clip(_q(phi) / qp, -1.0, 1.0))
    B = Rq * np.sqrt(
        2.0
        / (1.0 + np.sin(beta0) * np.sin(beta) + np.cos(beta0) * np.cos(beta) * np.cos(lam))
    )
    x = B * D * np.cos(beta) * np.sin(lam) + x0
    y = (B / D) * (
        np.cos(beta0) * np.sin(beta) - np.sin(beta0) * np.cos(beta) * np.cos(lam)
    ) + y0
    return x, y


def laea_inverse(x, y, lat0, lon0, x0=0.0, y0=0.0):
    qp, beta0, Rq, D, lam0 = _laea_constants(lat0, lon0)
    xp = np.asarray(x, dtype=np.float64) - x0
    yp = np.asarray(y, dtype=np.float64) - y0
    rho = np.sqrt((xp / D) ** 2 + (D * yp) ** 2)
    rho_safe = np.where(rho == 0.0, 1.0, rho)
    ce = 2.0 * np.arcsin(np.clip(rho / (2.0 * Rq), -1.0, 1.0))
    q = qp * (
        np.cos(ce) * np.sin(beta0) + D * yp * np.sin(ce) * np.cos(beta0) / rho_safe
    )
    q = np.where(rho == 0.0, qp * np.sin(beta0), q)
    lam = np.arctan2(
        xp * np.sin(ce),
        D * rho_safe * np.cos(beta0) * np.cos(ce) - D * D * yp * np.sin(beta0) * np.sin(ce),
    )
    lam = np.where(rho == 0.0, 0.0, lam)
    return np.degrees(_phi_from_q(q)), np.degrees(lam0 + lam)


# --- EPSG registry -----------------------------------------------------------

EPSG_INVERSE = {
    5070: lambda x, y: aea_inverse(x, y, 23.0, -96.0, 29.5, 45.5),
    3577: lambda x, y: aea_inverse(x, y, 0.0, 132.0, -18.0, -36.0),
    2154: lambda x, y: lcc_inverse(x, y, 46.5, 3.0, 49.0, 44.0, 700000.0, 6600000.0),
    3978: lambda x, y: lcc_inverse(x, y, 49.0, -95.0, 49.0, 77.0),
    3035: lambda x, y: laea_inverse(x, y, 52.0, 10.0, 4321000.0, 3210000.0),
}

EPSG_FORWARD = {
    5070: lambda lat, lon: aea_forward(lat, lon, 23.0, -96.0, 29.5, 45.5),
    3577: lambda lat, lon: aea_forward(lat, lon, 0.0, 132.0, -18.0, -36.0),
    2154: lambda lat, lon: lcc_forward(lat, lon, 46.5, 3.0, 49.0, 44.0, 700000.0, 6600000.0),
    3978: lambda lat, lon: lcc_forward(lat, lon, 49.0, -95.0, 49.0, 77.0),
    3035: lambda lat, lon: laea_forward(lat, lon, 52.0, 10.0, 4321000.0, 3210000.0),
}
