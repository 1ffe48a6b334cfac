"""Numpy reference answers the output checks compare against. Everything
here is computed from the synthesized source arrays and public formulas
(web-mercator tiling, Snyder's transverse Mercator series), never from
the program under test.
"""

from __future__ import annotations

import gzip
import math

import numpy as np

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
MAX_LAT = 85.0511287798066


def pixel_center_lonlat(z: int, block: int, gx, gy):
    """Lon/lat of the centre of global pixel ``(gx, gy)`` on the zoom-``z``
    web-mercator grid of ``block``-pixel tiles."""
    world = float(block << z)
    lon = (np.asarray(gx, dtype=np.float64) + 0.5) / world * 360.0 - 180.0
    yn = math.pi * (1.0 - 2.0 * (np.asarray(gy, dtype=np.float64) + 0.5) / world)
    return lon, np.degrees(np.arctan(np.sinh(yn)))


def lonlat_to_tile(lon: float, lat: float, z: int) -> tuple[int, int]:
    """Tile ``(x, y)`` containing a lon/lat at zoom ``z``."""
    lat = max(min(lat, MAX_LAT), -MAX_LAT)
    n = 1 << z
    s = math.sin(math.radians(lat))
    x = int((lon / 360.0 + 0.5) * n)
    y = int((0.5 - 0.25 * math.log((1 + s) / (1 - s)) / math.pi) * n)
    return min(max(x, 0), n - 1), min(max(y, 0), n - 1)


def lonlat_to_global_pixel(lon, lat, z: int, block: int):
    """Global pixel indices (floor) of lon/lat points at zoom ``z``."""
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    world = float(block << z)
    s = np.sin(np.radians(lat))
    xf = np.asarray(lon, dtype=np.float64) / 360.0 + 0.5
    yf = 0.5 - 0.25 * np.log((1 + s) / (1 - s)) / math.pi
    return np.floor(xf * world).astype(np.int64), np.floor(yf * world).astype(np.int64)


def utm_forward(lon, lat, zone: int):
    """WGS84 lon/lat → UTM north easting/northing (Snyder, USGS PP 1395,
    eqs. 8-9 and 8-10)."""
    f = _WGS84_F
    e2 = 2 * f - f * f
    ep2 = e2 / (1 - e2)
    k0, a = 0.9996, _WGS84_A
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    lam = np.radians(np.asarray(lon, dtype=np.float64) - (6.0 * zone - 183.0))
    n = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
    t = np.tan(phi) ** 2
    c = ep2 * np.cos(phi) ** 2
    aa = lam * np.cos(phi)
    m = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * phi)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * phi)
        - (35 * e2**3 / 3072) * np.sin(6 * phi)
    )
    x = k0 * n * (aa + (1 - t + c) * aa**3 / 6
                  + (5 - 18 * t + t * t + 72 * c - 58 * ep2) * aa**5 / 120)
    y = k0 * (m + n * np.tan(phi) * (
        aa**2 / 2 + (5 - t + 9 * c + 4 * c * c) * aa**4 / 24
        + (61 - 58 * t + t * t + 600 * c - 330 * ep2) * aa**6 / 720))
    return 500000.0 + x, y


def nearest_source_index(fx, fy, shape, tol: float = 1e-6):
    """Candidate source cells for fractional source coordinates: the
    containing cell, plus its neighbour when the coordinate lies within
    ``tol`` pixels of a cell edge (where two correct float evaluations
    may round differently). Returns a list per point of ``(row, col)``
    candidates; an empty list means the point is outside the source."""
    h, w = shape
    out = []
    for x, y in zip(np.atleast_1d(fx), np.atleast_1d(fy)):
        cols = {math.floor(x)}
        rows = {math.floor(y)}
        if abs(x - round(x)) < tol:
            cols |= {round(x) - 1, round(x)}
        if abs(y - round(y)) < tol:
            rows |= {round(y) - 1, round(y)}
        out.append([(r, c) for r in rows for c in cols if 0 <= r < h and 0 <= c < w])
    return out


def decode_blob(buf: bytes, dtype: str) -> np.ndarray:
    """A RaQuet band blob (optionally gzip-wrapped little-endian array)."""
    raw = bytes(buf)
    if raw[:2] == b"\x1f\x8b":
        raw = gzip.decompress(raw)
    return np.frombuffer(raw, dtype=np.dtype(dtype).newbyteorder("<"))


def display_uint8(values: np.ndarray) -> np.ndarray:
    """Min/max stretch to uint8 — the display normalization a rendered
    tile of a no-nodata, non-uint8 band must show."""
    arr = values.astype(np.float64)
    lo, hi = arr.min(), arr.max()
    out = (arr - lo) / (hi - lo) * 255.0 if hi > lo else np.zeros_like(arr)
    return out.clip(0, 255).astype(np.uint8)


def pooled_stats(values: np.ndarray) -> dict[str, float]:
    """count/min/max/sum/mean of a pixel array, as region stats report."""
    v = values.astype(np.float64)
    return {"count": float(v.size), "min": float(v.min()), "max": float(v.max()),
            "sum": float(v.sum()), "mean": float(v.mean())}
