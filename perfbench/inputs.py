"""Seeded input synthesis for the benchmark: the raster workload builds its
inputs here from ``--seed`` and nothing else, so a run reads no file
outside its checkout (no reference rasters, no network).

* :func:`write_geotiff` — a minimal single-strip little-endian GeoTIFF
  (GeoKey directory + ModelPixelScale/Tiepoint), enough for the
  EPSG:4326 and UTM 326xx sources the ``convert`` workload imports.
* :func:`smooth_field` — a deterministic int16 terrain-like grid, so
  gzip and the VP8L encoder see realistic (compressible) pixels.

The ``curate`` corpus is not synthesized: it is the sf0.1 test tables
committed under ``data/``, written in a seeded row order.
"""

from __future__ import annotations

import struct

import numpy as np

# TIFF field types used below
_SHORT, _LONG, _DOUBLE, _ASCII = 3, 4, 12, 2


def smooth_field(rng: np.random.Generator, height: int, width: int) -> np.ndarray:
    """int16 grid: a few random plane waves plus low noise. The waves make
    neighbouring pixels correlated (like a DEM); the noise keeps every
    tile distinct."""
    yy, xx = np.mgrid[0:height, 0:width].astype(np.float64)
    out = np.full((height, width), 1000.0)
    for _ in range(4):
        fx, fy = rng.uniform(-0.05, 0.05, size=2)
        out += rng.uniform(100, 400) * np.sin(fx * xx + fy * yy + rng.uniform(0, 6.3))
    out += rng.normal(0.0, 3.0, size=(height, width))
    return np.clip(np.rint(out), -32000, 32000).astype("<i2")


def write_geotiff(
    path: str,
    values: np.ndarray,
    origin: tuple[float, float],
    res: float,
    geokeys: list[tuple[int, int, int, int]],
    nodata: float | None = None,
) -> None:
    """Write ``values`` (2-D, little-endian int/uint/float) as a one-strip
    uncompressed GeoTIFF whose top-left pixel corner sits at ``origin``
    with square pixels of ``res`` CRS units. ``geokeys`` are GeoKey
    directory rows ``(key, location, count, value)``."""
    values = np.ascontiguousarray(values)
    height, width = values.shape
    kind = {"u": 1, "i": 2, "f": 3}[values.dtype.kind]
    data = values.astype(values.dtype.newbyteorder("<")).tobytes()
    gk_rows = [(1, 1, 0, len(geokeys))] + sorted(geokeys)
    gk = b"".join(struct.pack("<H", v) for row in gk_rows for v in row)
    entries = [
        (256, _LONG, 1, struct.pack("<I", width)),
        (257, _LONG, 1, struct.pack("<I", height)),
        (258, _SHORT, 1, struct.pack("<H", values.dtype.itemsize * 8)),
        (259, _SHORT, 1, struct.pack("<H", 1)),
        (262, _SHORT, 1, struct.pack("<H", 1)),
        (273, _LONG, 1, struct.pack("<I", 8)),
        (277, _SHORT, 1, struct.pack("<H", 1)),
        (278, _LONG, 1, struct.pack("<I", height)),
        (279, _LONG, 1, struct.pack("<I", len(data))),
        (339, _SHORT, 1, struct.pack("<H", kind)),
        (33550, _DOUBLE, 3, struct.pack("<3d", res, res, 0.0)),
        (33922, _DOUBLE, 6, struct.pack("<6d", 0, 0, 0, origin[0], origin[1], 0)),
        (34735, _SHORT, len(gk) // 2, gk),
    ]
    if nodata is not None:
        txt = f"{nodata:g}".encode() + b"\x00"
        entries.append((42113, _ASCII, len(txt), txt))
    entries.sort()
    ifd_off = 8 + len(data)
    ext_off = ifd_off + 2 + len(entries) * 12 + 4
    body, ext = b"", b""
    for tag, typ, cnt, val in entries:
        if len(val) <= 4:
            body += struct.pack("<HHI", tag, typ, cnt) + val.ljust(4, b"\x00")
        else:
            body += struct.pack("<HHII", tag, typ, cnt, ext_off + len(ext))
            ext += val + b"\x00" * (len(val) % 2)  # keep offsets word-aligned
    with open(path, "wb") as f:
        f.write(b"II*\x00" + struct.pack("<I", ifd_off))
        f.write(data)
        f.write(struct.pack("<H", len(entries)) + body + struct.pack("<I", 0) + ext)


def geographic_keys() -> list[tuple[int, int, int, int]]:
    """GeoKeys of a north-up EPSG:4326 grid (model type 2 = geographic)."""
    return [(1024, 0, 1, 2), (1025, 0, 1, 1), (2048, 0, 1, 4326)]


def utm_keys(epsg: int) -> list[tuple[int, int, int, int]]:
    """GeoKeys of a WGS84 / UTM north grid, ``epsg`` in 32601..32660."""
    if not 32601 <= epsg <= 32660:
        raise ValueError(f"not a UTM north EPSG code: {epsg}")
    return [(1024, 0, 1, 1), (1025, 0, 1, 1), (3072, 0, 1, epsg)]
