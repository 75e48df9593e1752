"""Dual-CRS support without pyproj: WGS84 lon/lat ↔ spherical (web)
Mercator, closed-form and numpy-vectorized.

The reference keeps every geometry in a projected metric CRS
(EPSG:3879) for measurement and EPSG:4326 for exchange
(`/root/reference/src/common/geometry.py:6-18`,
`otp_graph_import.py:41,54`). pyproj is not in this sandbox, so the
engine's metric CRS is spherical Mercator (EPSG:3857 math, public
formula); the convention — project once at ingest, measure in meters,
exchange in 4326 — is identical.

Both directions come in Column-expression and numpy flavors; the
Column flavor keeps reprojection inside whole-stage codegen.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

R = 6378137.0  # WGS84 semi-major axis


def lonlat_to_mercator_np(lon: np.ndarray, lat: np.ndarray):
    x = np.radians(lon) * R
    y = np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0)) * R
    return x, y


def mercator_to_lonlat_np(x: np.ndarray, y: np.ndarray):
    lon = np.degrees(x / R)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / R)) - np.pi / 2.0)
    return lon, lat


# ---- Gauss-Krüger / transverse Mercator (the reference's metric CRS,
# EPSG:3879 = ETRS89 / GK25FIN: lon0=25°, k0=1, FE=25500000, GRS80) ----
# Forward series per Snyder, "Map Projections — A Working Manual"
# (USGS PP 1395, eq. 8-9..8-17) — public-domain formulas; mm-accurate
# within a few degrees of the central meridian, far below the golden
# test's 0.005 m tolerance. WGS84↔ETRS89 datum shift (<1 m, locally
# near-constant) cancels in length computations.

_GRS80_A = 6378137.0
_GRS80_F = 1.0 / 298.257222101
_E2 = _GRS80_F * (2.0 - _GRS80_F)
_EP2 = _E2 / (1.0 - _E2)


def lonlat_to_gk_np(
    lon: np.ndarray,
    lat: np.ndarray,
    lon0_deg: float = 25.0,
    k0: float = 1.0,
    false_easting: float = 25_500_000.0,
):
    """Vectorized EPSG:3879-style forward projection (reference
    reprojects every geometry to EPSG:3879 at ingest,
    `/root/reference/src/otp_graph_import/otp_graph_import.py:41,54`)."""
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    sin_p, cos_p, tan_p = np.sin(phi), np.cos(phi), np.tan(phi)
    e2, ep2, a = _E2, _EP2, _GRS80_A
    N = a / np.sqrt(1.0 - e2 * sin_p**2)
    T = tan_p**2
    C = ep2 * cos_p**2
    A = (lam - np.radians(lon0_deg)) * cos_p
    M = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * phi)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * phi)
        - (35 * e2**3 / 3072) * np.sin(6 * phi)
    )
    x = false_easting + k0 * N * (
        A
        + (1 - T + C) * A**3 / 6
        + (5 - 18 * T + T**2 + 72 * C - 58 * ep2) * A**5 / 120
    )
    y = k0 * (
        M
        + N
        * tan_p
        * (
            A**2 / 2
            + (5 - T + 9 * C + 4 * C**2) * A**4 / 24
            + (61 - 58 * T + T**2 + 600 * C - 330 * ep2) * A**6 / 720
        )
    )
    return x, y


def gk_to_lonlat_np(
    x: np.ndarray,
    y: np.ndarray,
    lon0_deg: float = 25.0,
    k0: float = 1.0,
    false_easting: float = 25_500_000.0,
):
    """Inverse EPSG:3879-style transverse Mercator (Snyder, USGS PP
    1395, eq. 8-18..8-25 — footpoint latitude then inverse series).
    Closes the projected→geographic direction the reference round-trips
    on every geometry (`geometry` ↔ `geom_wgs`,
    `/root/reference/src/common/geometry.py:6-18`,
    `otp_graph_import.py:41,54`): a user ingesting in 3879 can now emit
    ``geom_wgs`` for the 4326 exchange path. Round-trips the forward
    series to <1 mm within a few degrees of the central meridian."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    e2, ep2, a = _E2, _EP2, _GRS80_A
    M = y / k0
    mu = M / (a * (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256))
    e1 = (1.0 - np.sqrt(1.0 - e2)) / (1.0 + np.sqrt(1.0 - e2))
    phi1 = (
        mu
        + (3 * e1 / 2 - 27 * e1**3 / 32) * np.sin(2 * mu)
        + (21 * e1**2 / 16 - 55 * e1**4 / 32) * np.sin(4 * mu)
        + (151 * e1**3 / 96) * np.sin(6 * mu)
        + (1097 * e1**4 / 512) * np.sin(8 * mu)
    )
    sin1, cos1, tan1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    C1 = ep2 * cos1**2
    T1 = tan1**2
    N1 = a / np.sqrt(1.0 - e2 * sin1**2)
    R1 = a * (1.0 - e2) / (1.0 - e2 * sin1**2) ** 1.5
    D = (x - false_easting) / (N1 * k0)
    phi = phi1 - (N1 * tan1 / R1) * (
        D**2 / 2
        - (5 + 3 * T1 + 10 * C1 - 4 * C1**2 - 9 * ep2) * D**4 / 24
        + (61 + 90 * T1 + 298 * C1 + 45 * T1**2 - 252 * ep2 - 3 * C1**2)
        * D**6 / 720
    )
    lam = np.radians(lon0_deg) + (
        D
        - (1 + 2 * T1 + C1) * D**3 / 6
        + (5 - 2 * C1 + 28 * T1 - 3 * C1**2 + 8 * ep2 + 24 * T1**2) * D**5 / 120
    ) / cos1
    return np.degrees(lam), np.degrees(phi)


def lonlat_to_mercator_expr(lon: Column, lat: Column) -> tuple[Column, Column]:
    x = F.radians(lon) * F.lit(R)
    y = F.log(F.tan(F.lit(float(np.pi / 4.0)) + F.radians(lat) / F.lit(2.0))) * F.lit(R)
    return x, y
