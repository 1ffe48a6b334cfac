"""Per-tile warp kernel (`tiff_reader.build_tile`): every broadcast-class
near/bilinear/cubic import — GeoTIFF, NetCDF and GRIB, separable or
not — must be BYTE-IDENTICAL to the reference built directly from the
same inputs: `_resampled_pixels` → `from_pixel_table` → the dense fill
(`tiff_reader._pixel_tiles`). Each case runs the importer once with a
spy on the one routing function (`warp_tiles`), builds the reference
from the recorded arguments, compares every tile's bytes, and checks
the kernel route's plan shape: no exchange, no broadcast join."""

from __future__ import annotations

import decimal
import inspect
import math
import struct

import numpy as np
import pandas as pd
import pytest

import raquet_spark.sources.tiff_reader as tr
from raquet_spark.functions.bands import DTYPES, encode_block
from raquet_spark.plans.inspect import count_exchanges, has_broadcast_join


def _rows(df, keys, bands):
    return sorted(
        (tuple(r[k] for k in keys), tuple(bytes(r[b]) for b in bands))
        for r in df.select(*keys, *bands).collect()
    )


def _assert_identical(mk, monkeypatch):
    calls = []
    real = tr.warp_tiles

    def spy(*a, **k):
        args = inspect.signature(real).bind(*a, **k)
        args.apply_defaults()
        out = real(*a, **k)
        calls.append((args.arguments, out))
        return out

    monkeypatch.setattr(tr, "warp_tiles", spy)
    mk()
    monkeypatch.undo()
    assert len(calls) == 1
    a, got = calls[0]
    # the broadcast class takes the per-tile kernel: map-only, no join
    assert tr.gather_is_broadcast(a["info"], a["n_steps"])
    assert count_exchanges(got) == 0
    assert not has_broadcast_join(got)

    spark, meta, ek = a["spark"], a["meta"], a["extra_key"]
    pixels = tr._resampled_pixels(
        spark, a["px"], a["info"], meta["tiling"]["max_zoom"],
        meta["tiling"]["block_width"], a["resampling"], a["tile_ext"],
        extra_cols=(ek,) if ek else (), n_steps=a["n_steps"],
    )
    want = tr._pixel_tiles(spark, pixels, meta, a["tile_ext"], ek, a["dense"])
    keys = ["block"] + ([ek] if ek else [])
    bands = [b["name"] for b in meta["bands"]]
    rows_got, rows_want = _rows(got, keys, bands), _rows(want, keys, bands)
    assert rows_got, "no tiles"
    assert len(rows_got) == len(rows_want)
    for g, w in zip(rows_got, rows_want):
        assert g == w


def _geo_tiff(path, vals, geokeys, doubles=(), origin=None, res=None,
              matrix=None, nodata=None):
    """Minimal single-strip TIFF of ``vals`` with the given GeoKey
    directory, georeferenced by pixel scale + tiepoint (``origin``,
    ``res``) or by a ModelTransformation ``matrix`` (16 doubles)."""
    vals = np.ascontiguousarray(vals, dtype=vals.dtype.newbyteorder("<"))
    height, width = vals.shape
    data = vals.tobytes()
    fmt = {"u": 1, "i": 2, "f": 3}[vals.dtype.kind]
    gk_rows = [(1, 1, 0, len(geokeys))] + geokeys
    gk = b"".join(struct.pack("<H", v) for row in gk_rows for v in row)
    entries = [
        (256, 4, 1, struct.pack("<I", width)),
        (257, 4, 1, struct.pack("<I", height)),
        (258, 3, 1, struct.pack("<H", vals.dtype.itemsize * 8)),
        (259, 3, 1, struct.pack("<H", 1)),
        (262, 3, 1, struct.pack("<H", 1)),
        (273, 4, 1, struct.pack("<I", 8)),
        (277, 3, 1, struct.pack("<H", 1)),
        (278, 4, 1, struct.pack("<I", height)),
        (279, 4, 1, struct.pack("<I", len(data))),
        (339, 3, 1, struct.pack("<H", fmt)),
        (34735, 3, len(gk) // 2, gk),
    ]
    if matrix is not None:
        entries.append((34264, 12, 16, struct.pack("<16d", *matrix)))
    else:
        entries.append((33550, 12, 3, struct.pack("<3d", res, res, 0.0)))
        entries.append(
            (33922, 12, 6, struct.pack("<6d", 0, 0, 0, *origin, 0))
        )
    if doubles:
        entries.append(
            (34736, 12, len(doubles), struct.pack(f"<{len(doubles)}d", *doubles))
        )
    if nodata is not None:
        txt = f"{nodata}".encode() + b"\x00"
        entries.append((42113, 2, len(txt), txt))
    entries.sort()
    ifd_off = 8 + len(data)
    ext_off = ifd_off + 2 + len(entries) * 12 + 4
    body, ext = b"", b""
    for tag, typ, cnt, val in entries:
        if len(val) <= 4:
            body += struct.pack("<HHI", tag, typ, cnt) + val.ljust(4, b"\x00")
        else:
            body += struct.pack("<HHII", tag, typ, cnt, ext_off + len(ext))
            ext += val
    with open(path, "wb") as f:
        f.write(b"II*\x00" + struct.pack("<I", ifd_off))
        f.write(data)
        f.write(struct.pack("<H", len(entries)) + body
                + struct.pack("<I", 0) + ext)


def _ramp(h, w, dtype="<u2"):
    gy, gx = np.mgrid[0:h, 0:w]
    return ((gx * 37 + gy * 101) % 777).astype(dtype)


_PROJECTED = 1024, 0, 1, 1
_AREA = 1025, 0, 1, 1

# name -> (geokeys, doubles, origin, res, size)
_PROJECTED_CASES = {
    "utm": ([_PROJECTED, _AREA, (3072, 0, 1, 32610)], (),
            (500000.0, 4200000.0), 300.0, 48),
    "albers5070": ([_PROJECTED, _AREA, (3072, 0, 1, 5070)], (),
                   (-100000.0, 1900000.0), 500.0, 48),
    "lcc2154": ([_PROJECTED, _AREA, (3072, 0, 1, 2154)], (),
                (650000.0, 6870000.0), 300.0, 48),
    "polar3413": ([_PROJECTED, _AREA, (3072, 0, 1, 3413)], (),
                  (-100000.0, -1500000.0), 2000.0, 40),
    "sinusoidal": (
        [_PROJECTED, _AREA, (2057, 34736, 1, 3), (2059, 34736, 1, 4),
         (3072, 0, 1, 32767), (3075, 0, 1, 24), (3080, 34736, 1, 0),
         (3082, 34736, 1, 1), (3083, 34736, 1, 2)],
        (0.0, 0.0, 0.0, 6378137.0, 298.257223563),
        (-1000000.0, 4500000.0), 3000.0, 32,
    ),
}


@pytest.mark.parametrize("resampling", ["near", "bilinear", "cubic"])
@pytest.mark.parametrize("crs", sorted(_PROJECTED_CASES))
def test_kernel_matches_join_path_projected(
    spark, tmp_path, monkeypatch, crs, resampling
):
    """Projected sources (per-pixel fs planes from the JVM target
    grid): UTM, Albers 5070, Lambert-93, polar stereographic 3413 and
    ellipsoidal sinusoidal, through the dense + stats defaults."""
    geokeys, doubles, origin, res, n = _PROJECTED_CASES[crs]
    path = str(tmp_path / f"{crs}.tif")
    _geo_tiff(path, _ramp(n, n), geokeys, doubles, origin, res)
    _assert_identical(
        lambda: tr.geotiff_to_raquet(
            spark, path, block_size=64, resampling=resampling
        ),
        monkeypatch,
    )


@pytest.mark.parametrize("resampling", ["near", "bilinear", "cubic"])
def test_kernel_matches_join_path_rotated_4326(
    spark, tmp_path, monkeypatch, resampling
):
    """Rotated 4326 affine (ModelTransformation with shear terms): fs
    is not separable, so the per-pixel planes feed the kernel."""
    path = str(tmp_path / "rot.tif")
    a, b, c, d = 0.01, 0.002, 0.0015, -0.01
    _geo_tiff(
        path, _ramp(40, 50),
        [(1024, 0, 1, 2), _AREA, (2048, 0, 1, 4326)],
        matrix=(a, b, 0, -120.0, c, d, 0, 40.0, 0, 0, 0, 0, 0, 0, 0, 1),
    )
    _assert_identical(
        lambda: tr.geotiff_to_raquet(
            spark, path, block_size=64, resampling=resampling
        ),
        monkeypatch,
    )


@pytest.mark.parametrize("resampling", ["bilinear", "cubic"])
def test_kernel_matches_join_path_int16_bottom_up(
    spark, tmp_path, monkeypatch, resampling
):
    """int16 4326 GeoTIFF stored bottom-up (positive y step) with a
    nodata region: covers Spark's HALF_UP round() of the integer blend
    and the nodata renormalization on the separable feeder."""
    vals = (_ramp(60, 70, "<i2") - 300).astype("<i2")
    vals[10:20, 30:45] = -32767
    path = str(tmp_path / "bottom_up.tif")
    _geo_tiff(
        path, vals,
        [(1024, 0, 1, 2), _AREA, (2048, 0, 1, 4326)],
        matrix=(0.002, 0, 0, -122.5, 0, 0.002, 0, 37.5,
                0, 0, 0, 0, 0, 0, 0, 1),
        nodata=-32767,
    )
    _assert_identical(
        lambda: tr.geotiff_to_raquet(
            spark, path, block_size=64, resampling=resampling
        ),
        monkeypatch,
    )


@pytest.mark.parametrize("resampling", ["bilinear", "cubic"])
def test_kernel_signed_zero_matches_join_path(
    spark, tmp_path, monkeypatch, resampling
):
    """float32 4326 GeoTIFF with a −0.0 region: Spark's SUM is
    ``0.0 + first term``, so a blend of −0.0 samples is +0.0 — the
    kernel must not keep the −0.0 sign."""
    vals = (_ramp(50, 60, "<f4") / 7.0).astype("<f4")
    vals[5:35, 10:45] = -0.0
    path = str(tmp_path / "negzero.tif")
    _geo_tiff(
        path, vals, [(1024, 0, 1, 2), _AREA, (2048, 0, 1, 4326)],
        origin=(-3.0, 51.0), res=0.003,
    )
    _assert_identical(
        lambda: tr.geotiff_to_raquet(
            spark, path, block_size=64, resampling=resampling
        ),
        monkeypatch,
    )


def _grib_fields(nj, ni, steps):
    """Scattered bitmap-missing points, plus (step 1) every column from
    29 on: the tiles east of lon 11.25 have no source cell in step 1."""
    gy, gx = np.mgrid[0:nj, 0:ni]
    fields = []
    for t in range(steps):
        data = ((gx * 7 + gy * 11 + t * 13) % 199 - 50).astype("f8")
        mask = ((gx + gy + t) % 17 == 0) | ((t == 1) & (gx >= 29))
        fields.append({
            "data": np.where(mask, np.nan, data),
            "forecast_time": t * 3,
            "param": (0, 0),
        })
    return fields


def test_kernel_matches_join_path_staggered_grib(spark, tmp_path, monkeypatch):
    """Staggered GRIB rows (flag-table 3.4 bit 5: odd scan rows offset
    by Di/2), 2 steps with bitmap-missing points: the row-parity index
    step is the numpy twin of its SQL. Kernel resampling keeps the
    named error."""
    from raquet_spark.sources.grib2 import grib2_to_raquet
    from raquet_spark.testing_grib2 import write_grib2

    path = str(tmp_path / "stagger.grib2")
    write_grib2(path, _grib_fields(24, 36, 2), lat1=52.0, lon1=4.0,
                di=0.25, dj=0.25, stagger=0x08)
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64), monkeypatch
    )
    with pytest.raises(NotImplementedError, match="staggered-grid"):
        grib2_to_raquet(spark, path, block_size=64, resampling="bilinear")


def _octa_pl(n_par):
    half = [20 + 4 * i for i in range(n_par)]
    return half + half[::-1]


@pytest.mark.parametrize("resampling", ["near", "bilinear", "cubic"])
def test_kernel_matches_join_path_ragged_grib(
    spark, tmp_path, monkeypatch, resampling
):
    """Reduced Gaussian GRIB (ragged rows on global circles: each row
    its own 360/pl spacing, wrapping at the seam) with an in-row hole."""
    from raquet_spark.sources.grib2 import grib2_to_raquet
    from raquet_spark.testing_grib2 import write_grib2

    n_par = 8
    pl = _octa_pl(n_par)
    ni = max(pl)
    rect = np.full((2 * n_par, ni), np.nan)
    for j, n in enumerate(pl):
        rect[j, :n] = (np.arange(n) * 7 + j * 11) % 199 - 50
    rect[3, 5] = np.nan
    path = str(tmp_path / "ragged.grib2")
    write_grib2(
        path, [{"data": rect, "forecast_time": 0}], lon1=0.0, di=360.0 / ni,
        grid={"type": "gauss_reduced", "n": n_par, "pl": pl},
    )
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64, zoom=2,
                                resampling=resampling),
        monkeypatch,
    )


@pytest.mark.parametrize("resampling", ["near", "bilinear"])
def test_kernel_matches_join_path_ragged_regional(
    spark, tmp_path, monkeypatch, resampling
):
    """Regional quasi-regular lat/lon rows (GRIB1, endpoint-inclusive
    span/(pl−1) spacing, no wrap)."""
    from raquet_spark.sources.grib2 import grib2_to_raquet
    from raquet_spark.testing_grib2 import write_grib1

    pl = [9, 13, 17, 25, 25, 17, 13, 9]
    ni = max(pl)
    rect = np.full((len(pl), ni), np.nan)
    for j, n in enumerate(pl):
        rect[j, :n] = (np.arange(n) * 3 + j * 7) % 53
    path = str(tmp_path / "qll.grib1")
    write_grib1(
        path, [{"data": rect, "forecast_time": 0}],
        lat1=52.0, lon1=-10.0, di=20.0 / (ni - 1), dj=0.5,
        grid={"type": "latlon_reduced", "pl": pl},
    )
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64,
                                resampling=resampling),
        monkeypatch,
    )


def _netcdf(tmp_path, name):
    from raquet_spark.testing import write_netcdf_classic

    nlat, nlon, nt = 150, 200, 3
    gy, gx = np.mgrid[0:nlat, 0:nlon]
    data = np.stack(
        [((gx * 7 + gy * 11 + t * 13) % 199 - 50) for t in range(nt)]
    ).astype("<i2")
    path = str(tmp_path / name)
    write_netcdf_classic(
        path,
        37.9875 - 0.01 * np.arange(nlat),
        -123.0 + 0.01 * np.arange(nlon),
        data,
        times=np.arange(nt, dtype="f8"),
        nc_type=3, scale_factor=0.5, add_offset=100.0, fill_value=-999,
    )
    return path


def test_fused_gather_matches_join_path_netcdf(spark, tmp_path, monkeypatch):
    """Scaled int16 NetCDF with 3 time steps (the bench's
    netcdf_import_3step shape at 1/4 size): float32 tiles, time_cf
    extra key."""
    from raquet_spark.sources.netcdf import netcdf_to_raquet

    path = _netcdf(tmp_path, "fused.nc")
    _assert_identical(
        lambda: netcdf_to_raquet(spark, path, block_size=64, stats=True),
        monkeypatch,
    )


def test_fused_gather_matches_join_path_n37(spark, monkeypatch):
    """Real GeoTIFF (int16, EPSG 4326, bottom-up transform) through the
    dense+stats defaults — the geotiff_import_n37 bench line."""
    import os

    n37 = "/root/reference/tests/n37_w123_1arc_v2.tif"
    if not os.path.exists(n37):
        pytest.skip("reference GeoTIFF not present")
    _assert_identical(
        lambda: tr.geotiff_to_raquet(spark, n37, block_size=128),
        monkeypatch,
    )


def test_fused_gather_matches_join_path_grib2(spark, tmp_path, monkeypatch):
    """Regular lat/lon GRIB2, 2 forecast steps, bitmap-missing points
    (absent source rows have no value either way)."""
    from raquet_spark.sources.grib2 import grib2_to_raquet
    from raquet_spark.testing_grib2 import write_grib2

    path = str(tmp_path / "fused.grib2")
    write_grib2(path, _grib_fields(24, 36, 2), lat1=52.0, lon1=4.0,
                di=0.25, dj=0.25)
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64), monkeypatch
    )


def _gauss_grib(tmp_path, name):
    from raquet_spark.testing_grib2 import write_grib2

    n_par, ni = 12, 48
    gy, gx = np.mgrid[0:2 * n_par, 0:ni]
    path = str(tmp_path / name)
    write_grib2(
        path, [{"data": (gy * 100 + gx).astype("f8"), "forecast_time": 0}],
        lon1=0.0, di=360.0 / ni,
        grid={"type": "gauss", "n": n_par},
    )
    return path


def test_fused_gather_matches_join_path_gaussian(spark, tmp_path, monkeypatch):
    """Gaussian (irregular-lat) grid: the kernel's fsy comes from the
    shared driver-side interp, the join path's from the broadcast
    rowmap — same doubles, same floors."""
    from raquet_spark.sources.grib2 import grib2_to_raquet

    path = _gauss_grib(tmp_path, "fused_gauss.grib2")
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64, zoom=3),
        monkeypatch,
    )


def test_fused_kernel_matches_join_path_n37_bilinear(spark, monkeypatch):
    """Bilinear on the real int16 GeoTIFF (the geotiff_import_n37_bilinear
    bench line)."""
    import os

    n37 = "/root/reference/tests/n37_w123_1arc_v2.tif"
    if not os.path.exists(n37):
        pytest.skip("reference GeoTIFF not present")
    _assert_identical(
        lambda: tr.geotiff_to_raquet(
            spark, n37, block_size=128, resampling="bilinear"
        ),
        monkeypatch,
    )


def test_fused_kernel_matches_join_path_n37_cubic(spark, monkeypatch):
    """Cubic (4×4 neighborhood, negative lobes) on the real int16
    GeoTIFF."""
    import os

    n37 = "/root/reference/tests/n37_w123_1arc_v2.tif"
    if not os.path.exists(n37):
        pytest.skip("reference GeoTIFF not present")
    _assert_identical(
        lambda: tr.geotiff_to_raquet(
            spark, n37, block_size=128, resampling="cubic"
        ),
        monkeypatch,
    )


def test_fused_kernel_matches_join_path_netcdf_bilinear(
    spark, tmp_path, monkeypatch
):
    """Scaled int16 NetCDF, 3 time steps, bilinear: the unpacked
    doubles blend per step (grids keep the px-table values — the blend
    sees the pre-narrowing doubles, exactly like the join path)."""
    from raquet_spark.sources.netcdf import netcdf_to_raquet

    path = _netcdf(tmp_path, "kfused.nc")
    _assert_identical(
        lambda: netcdf_to_raquet(
            spark, path, block_size=64, stats=True, resampling="bilinear"
        ),
        monkeypatch,
    )


def test_fused_kernel_matches_join_path_grib2_cubic(
    spark, tmp_path, monkeypatch
):
    """GRIB2 with bitmap-missing points, 2 steps, cubic: nodata-valued
    cells drop out of the blend with renormalization both ways, and a
    (tile, step) with zero valid pixels is absent both ways."""
    from raquet_spark.sources.grib2 import grib2_to_raquet
    from raquet_spark.testing_grib2 import write_grib2

    path = str(tmp_path / "kfused.grib2")
    write_grib2(path, _grib_fields(24, 36, 2), lat1=52.0, lon1=4.0,
                di=0.25, dj=0.25)
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64,
                                resampling="cubic"),
        monkeypatch,
    )


def test_fused_kernel_matches_join_path_gaussian_bilinear(
    spark, tmp_path, monkeypatch
):
    """Gaussian (irregular-lat) grid, bilinear."""
    from raquet_spark.sources.grib2 import grib2_to_raquet

    path = _gauss_grib(tmp_path, "kfused_gauss.grib2")
    _assert_identical(
        lambda: grib2_to_raquet(spark, path, block_size=64, zoom=3,
                                resampling="bilinear"),
        monkeypatch,
    )


def test_round_half_up_matches_spark_round(spark):
    """_round_half_up_spark vs the engine's round(double): exact ties,
    negatives, near-tie doubles on both sides, zeros, large magnitudes,
    NaN/inf — the battery the integer-band blend feeds through it."""
    vals = [
        0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 0.49999999999999994,
        -0.49999999999999994, 1.4999999999999998, 1.5000000000000002,
        123.49999999999999, -123.49999999999999, 0.0, -0.0,
        32766.5, -32766.5, 2.675, -2.675, 1e15 + 0.5, -(1e15 + 0.5),
        4503599627370495.5, 0.1 + 0.2 + 0.2, 7.0, -7.0,
        float("nan"), float("inf"), float("-inf"),
    ]
    sdf = spark.createDataFrame([(v,) for v in vals], "v double")
    got_spark = [
        r["r"] for r in sdf.selectExpr("round(v) AS r").collect()
    ]
    got_np = tr._round_half_up_spark(np.array(vals, dtype="float64"))
    for v, s, n in zip(vals, got_spark, got_np):
        if s != s:  # NaN
            assert n != n, v
        else:
            assert s == n, (v, s, n)


# -- build_tile without Spark ---------------------------------------------


def _java_floor(x: float) -> int:
    """Spark's CAST(floor(x) AS BIGINT): NaN → 0."""
    return 0 if x != x else math.floor(x)


def _kernel(t: float, resampling: str) -> float:
    t = abs(t)
    if resampling == "bilinear":
        return 1.0 - t
    if t <= 1.0:
        return ((1.5 * t - 2.5) * t) * t + 1.0
    return (((-0.5) * t + 2.5) * t - 4.0) * t + 2.0


def _scalar_tile(fsx, fsy, grid, present, nodata, btype, resampling):
    """Per-pixel reference of the join warp's semantics, one target
    pixel at a time in plain Python floats."""
    bs = fsx.shape[0]
    h, w = grid.shape
    tile = np.full((bs, bs), nodata, dtype=DTYPES[btype])
    any_value = False
    for i in range(bs):
        for j in range(bs):
            fx, fy = float(fsx[i, j]), float(fsy[i, j])
            if resampling == "near":
                sx, sy = _java_floor(fx), _java_floor(fy)
                if 0 <= sx < w and 0 <= sy < h and present[sy, sx]:
                    tile[i, j] = grid[sy, sx]
                    any_value = True
                continue
            lo, hi = (0, 1) if resampling == "bilinear" else (-1, 2)
            num = den = 0.0
            for kx in range(lo, hi + 1):
                sx = _java_floor(fx - 0.5) + kx
                for ky in range(lo, hi + 1):
                    sy = _java_floor(fy - 0.5) + ky
                    if not (0 <= sx < w and 0 <= sy < h and present[sy, sx]):
                        continue
                    v = float(grid[sy, sx])
                    if v == nodata:
                        continue
                    wt = (_kernel(fx - (sx + 0.5), resampling)
                          * _kernel(fy - (sy + 0.5), resampling))
                    num = num + wt * v
                    den = den + wt
            if den != 0.0:
                val = num / den
                if np.dtype(DTYPES[btype]).kind == "i":
                    val = float(decimal.Decimal(repr(val)).quantize(
                        decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
                    ))
                tile[i, j] = val
                any_value = True
    return tile, any_value


@pytest.mark.parametrize("resampling", ["near", "bilinear", "cubic"])
@pytest.mark.parametrize("btype", ["float32", "int16"])
def test_build_tile_matches_scalar_reference(btype, resampling):
    """build_tile on small grids, with nodata cells, absent cells,
    −0.0 samples, sample-center and cell-edge coordinates, and
    out-of-bounds (and, for float bands, NaN) coordinates: bit-exact
    against a scalar per-pixel loop given the same fs inputs."""
    rng = np.random.default_rng(7)
    h, w, bs, nodata = 9, 11, 16, -999.0
    grid = rng.integers(-400, 400, (h, w)).astype("f8") / (
        4.0 if btype == "float32" else 1.0
    )
    grid[2, 3:6] = nodata
    grid[4:9, 1:7] = -0.0
    present = np.ones((h, w), dtype=bool)
    present[4, 7] = present[0, 0] = False
    sy, sx = np.nonzero(present)
    pdf = pd.DataFrame({"sx": sx, "sy": sy, "band_1": grid[sy, sx]})
    info = {"height": h, "width": w, "transform": (0, 1, 0, 0, 0, -1),
            "dtype": "float32" if btype == "float32" else "int16"}
    meta = {"bands": [{"name": "band_1", "type": btype, "nodata": nodata}]}
    src = tr._source_grids(pdf, info, meta, resampling)

    fsx = rng.uniform(-2.5, w + 2.5, (bs, bs))
    fsy = rng.uniform(-2.5, h + 2.5, (bs, bs))
    fsx[0, :] = np.arange(bs) * 0.5  # cell edges and sample centers
    fsy[:, 0] = np.arange(bs) * 0.5
    # sample centers inside the −0.0 block: every blend term is −0.0
    fsx[2, :4], fsy[2, :4] = 3.5, 6.5
    if btype == "float32":
        fsx[1, 1] = np.nan
    want, any_value = _scalar_tile(
        fsx, fsy, grid, present, nodata, btype, resampling
    )
    got = tr.build_tile(fsx, fsy, src, resampling)
    assert any_value
    assert got == [(0, [encode_block(want.reshape(-1), btype, None)])]

    # a tile with no in-bounds sample: no row, or the fill when dense
    far = np.full((bs, bs), -50.0)
    assert tr.build_tile(far, far, src, resampling) == []
    fill = np.full(bs * bs, nodata, dtype=DTYPES[btype])
    assert tr.build_tile(far, far, src, resampling, dense=True) == [
        (0, [encode_block(fill, btype, None)])
    ]


def test_route_decided_by_size_class_and_resampling(monkeypatch):
    """warp_tiles routes on the size class alone: every broadcast-class
    source — separable or not, projected, rotated, staggered, ragged —
    takes the per-tile kernel, every larger one the join warp.
    Resampling outside near/bilinear/cubic and kernel resampling of a
    staggered grid are typed errors on both routes."""
    routes = []
    monkeypatch.setattr(
        tr, "_broadcast_tiles", lambda *a, **k: routes.append("kernel")
    )
    monkeypatch.setattr(
        tr, "_resampled_pixels", lambda *a, **k: routes.append("join")
    )
    monkeypatch.setattr(tr, "_pixel_tiles", lambda *a, **k: None)
    meta = {"tiling": {"max_zoom": 5, "block_width": 64}}
    base = {
        "transform": (-120.0, 0.01, 0.0, 40.0, 0.0, -0.01),
        "width": 100, "height": 100, "n_bands": 1, "dtype": "int16",
        "epsg": 4326,
    }

    def route(info, resampling="near", n_steps=1):
        routes.clear()
        tr.warp_tiles(None, None, info, meta, (0, 0, 0, 0), resampling,
                      n_steps=n_steps, local_px=pd.DataFrame)
        return routes[0]

    variants = [
        base,
        {**base, "transform": (-120.0, 0.01, 1e-5, 40.0, 0.0, -0.01)},
        {**base, "epsg": 32610},
        {**base, "stagger_x": (0.5, 0.0)},
        {**base, "row_ni": [10] * 100, "lat_centers": [1.0] * 100},
    ]
    for info in variants:
        for resampling in ("near", "bilinear", "cubic"):
            if resampling != "near" and info.get("stagger_x"):
                continue
            assert route(info, resampling) == "kernel", (info, resampling)
            big = {**info, "width": 12000, "height": 12000,
                   "dtype": "float64"}
            assert route(big, resampling) == "join"
            assert route(info, resampling, n_steps=10_000) == "join"
    for info in (base, {**base, "width": 12000, "height": 12000,
                        "dtype": "float64"}):
        with pytest.raises(ValueError, match="unknown resampling"):
            route(info, "average")
        with pytest.raises(NotImplementedError, match="staggered-grid"):
            route({**info, "stagger_x": (0.5, 0.0)}, "bilinear")
