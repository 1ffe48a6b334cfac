"""Real GeoTIFF ingestion against the reference's own test rasters
(/root/reference/tests/*.tif — read-only inputs): structure parse,
distributed strip/tile decode (deflate + palette + multiband), and the
forward-map nearest-neighbor warp onto the RaQuet mercator grid."""

from __future__ import annotations

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from raquet_spark.sources.tiff_reader import (
    geotiff_to_raquet,
    read_tiff_structure,
    tiff_pixel_table,
)

REF = "/root/reference/tests"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference test rasters not available"
)


def test_structure_all_reference_tiffs():
    expected = {
        "Milton_2024-excerpt.tiff": (118, 75, "float64", 1, 4326),
        "big-world.tif": (1356, 668, "uint8", 4, 4326),
        "civ.tif": (720, 360, "float32", 1, 4326),
        "colored.tif": (512, 768, "uint8", 1, 3857),
        "geotiff-discreteloss_2023.tif": (728, 565, "uint8", 1, 4326),
        "n37_w123_1arc_v2.tif": (329, 354, "int16", 1, 4326),
    }
    for name, (w, h, dt, nb, epsg) in expected.items():
        i = read_tiff_structure(f"{REF}/{name}")
        assert (i["width"], i["height"]) == (w, h), name
        assert np.dtype(i["dtype"]) == np.dtype(dt), name
        assert i["n_bands"] == nb and i["epsg"] == epsg, name


def test_decode_deflate_strips(spark):
    # civ.tif: zlib-compressed float32 strips, full global 0.5deg grid
    info = read_tiff_structure(f"{REF}/civ.tif")
    px = tiff_pixel_table(spark, info)
    assert px.count() == 720 * 360
    valid = px.where(f"band_1 != {info['nodata']}")
    row = valid.agg(
        F.min("band_1"), F.max("band_1"), F.count("band_1")
    ).first()
    assert row[2] > 0 and np.isfinite(row[0]) and np.isfinite(row[1])


def test_decode_tiled_palette(spark):
    # colored.tif: tiled layout + 256-entry palette, EPSG:3857
    info = read_tiff_structure(f"{REF}/colored.tif")
    assert info["tiled"] and info["palette"] is not None
    px = tiff_pixel_table(spark, info)
    assert px.count() == 512 * 768
    # palette indices stay raw
    mx = px.agg(F.max("band_1")).first()[0]
    assert 0 <= mx <= 255


def test_decode_multiband_and_float64(spark):
    info = read_tiff_structure(f"{REF}/big-world.tif")
    px = tiff_pixel_table(spark, info)
    assert set(px.columns) == {"sx", "sy", "band_1", "band_2", "band_3", "band_4"}
    assert px.count() == 1356 * 668

    info2 = read_tiff_structure(f"{REF}/Milton_2024-excerpt.tiff")
    assert tiff_pixel_table(spark, info2).count() == 118 * 75


def test_aea_inverse_roundtrip_accuracy():
    """The closed-form Albers inverse (SQL-mirrored) must invert the
    textbook forward projection to sub-centimeter over CONUS."""
    import math

    from raquet_spark.sources.tiff_reader import _aea_constants, aea_inverse

    info = read_tiff_structure(f"{REF}/Annual_NLCD_LndCov_2023_CU_C1V0.tif")
    proj = info["projection"]
    assert proj and proj["type"] == "aea"
    assert proj["sp1"] == 29.5 and proj["sp2"] == 45.5
    k = _aea_constants(proj)
    f = 1.0 / proj["inv_f"]
    e2 = 2.0 * f - f * f
    e = math.sqrt(e2)

    def forward(lon, lat):  # Snyder 14-1..14-4
        phi, lam = math.radians(lat), math.radians(lon)
        s = math.sin(phi)
        q = (1 - e2) * (
            s / (1 - e2 * s * s) - (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s))
        )
        rho = k["a"] * math.sqrt(k["C"] - k["n"] * q) / k["n"]
        theta = k["n"] * (lam - k["lon0"])
        return rho * math.sin(theta), k["rho0"] - rho * math.cos(theta)

    for lon, lat in [(-96.0, 23.0), (-122.5, 37.6), (-70.0, 45.0), (-110.3, 31.9)]:
        x, y = forward(lon, lat)
        lon2, lat2 = aea_inverse(proj, x, y)
        # series truncation leaves ~1e-8 deg (~1.5 mm) residual
        assert abs(lon2 - lon) < 1e-7 and abs(lat2 - lat) < 1e-7


@pytest.mark.slow
def test_warp_nlcd_albers(spark):
    """The projected (Albers CONUS) NLCD raster through the full warp —
    the inverse projection runs as pure Column math."""
    info = read_tiff_structure(f"{REF}/Annual_NLCD_LndCov_2023_CU_C1V0.tif")
    assert tiff_pixel_table(spark, info).count() == 470 * 672
    tiles, meta = geotiff_to_raquet(
        spark, f"{REF}/Annual_NLCD_LndCov_2023_CU_C1V0.tif", block_size=256
    )
    assert tiles.where("block != 0").count() > 0
    # land-cover classes are uint8 codes; palette preserved
    assert meta["bands"][0]["type"] == "uint8"
    assert meta["bands"][0].get("colortable")
    w, s, e, n = meta["bounds"]
    # the excerpt sits inside CONUS
    assert -130 < w < e < -60 and 20 < s < n < 50

    import pytest as _pytest

    g = tiles.agg(
        F.min("band_1_min"), F.max("band_1_max"), F.sum("band_1_count")
    ).first()
    src = tiff_pixel_table(spark, info).where(f"band_1 != {info['nodata']}")
    s_cnt = src.count()
    # dense target-driven warp: every covered target pixel gets a value,
    # so the valid count is the source count scaled by the (upper-zoom)
    # resolution ratio — between 1x and ~8x, never sparse
    assert s_cnt <= g[2] <= 8 * s_cnt
    s_mm = src.agg(F.min("band_1"), F.max("band_1")).first()
    assert g[0] >= s_mm[0] and g[1] <= s_mm[1]


def test_warp_n37_dem_to_raquet(spark, tmp_path):
    """The reference's own DEM excerpt through the full convert path:
    warp → tile → stats → write → validate."""
    from raquet_spark.sources.raquet import write_raquet
    from raquet_spark.sources.validate import validate_raquet

    path = f"{REF}/n37_w123_1arc_v2.tif"
    tiles, meta = geotiff_to_raquet(spark, path, block_size=128)
    out = str(tmp_path / "n37.parquet")
    write_raquet(tiles, out, meta)
    res = validate_raquet(spark, out, check_band_data=True)
    assert res.is_valid, res.errors

    # value-level parity: the nearest-neighbor warp only copies source
    # samples, so warped stats must track the source distribution
    info = read_tiff_structure(path)
    src = tiff_pixel_table(spark, info).where(f"band_1 != {info['nodata']}")
    s = src.agg(
        F.min("band_1"), F.max("band_1"), F.avg("band_1"), F.count("band_1")
    ).first()

    stats_cols = [c for c in tiles.columns if c.startswith("band_1_")]
    assert stats_cols, "tile stats missing"
    g = tiles.agg(
        F.min("band_1_min"), F.max("band_1_max"),
        (F.sum("band_1_sum") / F.sum("band_1_count")).alias("mean"),
        F.sum("band_1_count"),
    ).first()
    assert g[0] >= s[0] and g[1] <= s[1]  # warped values ⊆ source range
    assert g[3] >= s[3] * 0.95  # target at least as fine → no mass lost
    assert abs(g[2] - s[2]) / abs(s[2]) < 0.05

    # bounds recorded in WGS84, around the Golden Gate excerpt
    w, s_, e, n = meta["bounds"]
    assert -123 < w < e < -122 and 37.5 < s_ < n < 38.0


def test_warp_discreteloss_uint8(spark):
    """Mirror of test_geotiff_discreteloss_2023_tif (test_geotiff2raquet
    .py:300-331): UPPER strategy + 256px blocks -> zoom 13, 1280x1280,
    25 native blocks, min_zoom 10; the forest-loss mask is binary so the
    valid-pixel stats are exactly min=max=mean=1, stddev=0."""
    from raquet_spark.core.metadata import find_minzoom
    from raquet_spark.sources.tiff_reader import _lonlat_corners

    path = f"{REF}/geotiff-discreteloss_2023.tif"
    tiles, meta = geotiff_to_raquet(spark, path, block_size=256,
                                    zoom_strategy="upper")
    assert meta["tiling"]["max_zoom"] == 13
    assert (meta["width"], meta["height"]) == (1280, 1280)
    assert tiles.where("block != 0").count() == 25
    assert meta["bands"][0]["nodata"] == 0.0
    assert meta["bands"][0]["type"] == "uint8"

    lls = _lonlat_corners(read_tiff_structure(path))
    src_bounds = (
        min(lon for lon, _ in lls), min(lat for _, lat in lls),
        max(lon for lon, _ in lls), max(lat for _, lat in lls),
    )
    assert find_minzoom(src_bounds, 13, block_size=256) == 10

    g = tiles.agg(
        F.min("band_1_min"), F.max("band_1_max"),
        (F.sum("band_1_sum") / F.sum("band_1_count")).alias("mean"),
    ).first()
    assert g[0] == 1.0 and g[1] == 1.0 and g["mean"] == 1.0


def test_n37_conversion_metadata_parity(spark, tmp_path):
    """Mirror of the reference's test_n37_w123_1arc_v2_tif expectations
    (/root/reference/tests/test_geotiff2raquet.py:120-156): ZoomStrategy
    LOWER + 256px blocks -> max_zoom 11, 4 native blocks, 512x512
    tile-aligned raster, bounds [-122.695, 37.579, -122.344, 37.858],
    band mean ~38.1 / stddev ~54.6 (ours is a nearest warp vs their
    cubicspline, so moments carry a small tolerance)."""
    from raquet_spark.core.metadata import find_minzoom
    from raquet_spark.sources.raquet import write_raquet, read_raquet_metadata

    tiles, meta = geotiff_to_raquet(
        spark, f"{REF}/n37_w123_1arc_v2.tif", zoom_strategy="lower"
    )
    assert meta["tiling"]["max_zoom"] == 11
    assert (meta["width"], meta["height"]) == (512, 512)
    assert [round(b, 3) for b in meta["bounds"]] == [
        -122.695, 37.579, -122.344, 37.858,
    ]
    assert meta["bands"][0]["nodata"] == -32767.0
    assert meta["bands"][0]["type"] == "int16"
    assert tiles.where("block != 0").count() == 4
    # reference min_zoom = 10: find_minzoom over the SOURCE extent (the
    # reference feeds its RasterGeometry bounds, not tile-aligned ones)
    from raquet_spark.sources.tiff_reader import _lonlat_corners, read_tiff_structure

    lls = _lonlat_corners(read_tiff_structure(f"{REF}/n37_w123_1arc_v2.tif"))
    src_bounds = (
        min(lon for lon, _ in lls), min(lat for _, lat in lls),
        max(lon for lon, _ in lls), max(lat for _, lat in lls),
    )
    assert find_minzoom(src_bounds, 11, block_size=256) == 10

    out = str(tmp_path / "n37_lower.parquet")
    write_raquet(tiles, out, meta)
    m2 = read_raquet_metadata(spark, out)
    assert m2["tiling"]["num_blocks"] == 4

    g = tiles.agg(
        (F.sum("band_1_sum") / F.sum("band_1_count")).alias("mean"),
    ).first()
    assert abs(g["mean"] - 38.1) < 2.0


def test_colored_palette_parity(spark):
    """Mirror of the reference's test_colored_tif (test_geotiff2raquet.py
    :333-363): palette colorinterp and the first six colortable entries,
    with the nodata index transparent."""
    tiles, meta = geotiff_to_raquet(spark, f"{REF}/colored.tif")
    assert meta["bands"][0]["colorinterp"] == "palette"
    ct = meta["bands"][0]["colortable"]
    assert {k: list(ct[k]) for k in ["0", "1", "2", "3", "4", "5"]} == {
        "0": [0, 0, 0, 0],
        "1": [0, 255, 0, 255],
        "2": [0, 0, 255, 255],
        "3": [255, 255, 0, 255],
        "4": [255, 165, 0, 255],
        "5": [255, 0, 0, 255],
    }


def test_civ_bounds_parity(spark):
    """Mirror of test_civ (test_geotiff2raquet.py:419-443): gray
    colorinterp, world-covering tile-aligned bounds at the auto zoom."""
    tiles, meta = geotiff_to_raquet(spark, f"{REF}/civ.tif", zoom_strategy="round")
    assert meta["bands"][0]["colorinterp"] == "gray"
    b = meta["bounds"]
    assert f"{b[0]:.3g}" == "-180" and f"{b[2]:.3g}" == "180"
    assert f"{b[1]:.3g}" == "-85.1" and f"{b[3]:.3g}" == "85.1"


def test_big_world_parity(spark):
    """Mirror of test_big_world (test_geotiff2raquet.py:365-389):
    1024x1024 at auto zoom 2, 16 blocks, RGBA colorinterp."""
    tiles, meta = geotiff_to_raquet(
        spark, f"{REF}/big-world.tif", zoom_strategy="round"
    )
    assert meta["tiling"]["max_zoom"] == 2
    assert (meta["width"], meta["height"]) == (1024, 1024)
    assert {b["name"]: b["colorinterp"] for b in meta["bands"]} == {
        "band_1": "red", "band_2": "green", "band_3": "blue", "band_4": "alpha",
    }
    assert meta["bands"][0]["nodata"] is None
    assert tiles.where("block != 0").count() == 16


def test_milton_stats_parity(spark):
    """Mirror of test_milton_2024 (test_geotiff2raquet.py:391-417):
    gray band, bounds to 3 sig figs, warped stats ~(58.6, 70.5, 63.6)
    (both engines resample nearest here)."""
    tiles, meta = geotiff_to_raquet(
        spark, f"{REF}/Milton_2024-excerpt.tiff", zoom_strategy="round"
    )
    assert meta["bands"][0]["colorinterp"] == "gray"
    b = meta["bounds"]
    assert f"{b[0]:.3g}" == "-78.8" and f"{b[2]:.3g}" == "-75.9"
    assert f"{b[1]:.3g}" == "21.9" and f"{b[3]:.3g}" == "24.5"
    g = tiles.agg(
        F.min("band_1_min"), F.max("band_1_max"),
        (F.sum("band_1_sum") / F.sum("band_1_count")).alias("mean"),
    ).first()
    assert abs(g[0] - 58.6) < 1.0
    assert abs(g[1] - 70.5) < 1.0
    assert abs(g[2] - 63.6) < 1.0


def test_utm_inverse_roundtrip_accuracy():
    """UTM (Snyder Transverse Mercator series) inverse vs the textbook
    forward projection, zone 10N (the n37 area) and 33S."""
    import math

    from raquet_spark.sources.tiff_reader import (
        _tm_constants, _utm_params, tm_inverse,
    )

    for epsg, pts in [
        (32610, [(-123.0, 37.7), (-121.5, 38.5), (-123.4, 36.9)]),
        (32733, [(15.0, -22.5), (16.4, -17.9)]),
    ]:
        p = _utm_params(epsg)
        k = _tm_constants(p)
        e2, ep2 = k["e2"], k["ep2"]

        def forward(lon, lat):  # Snyder 8-9..8-13
            phi, lam = math.radians(lat), math.radians(lon)
            s, c, t = math.sin(phi), math.cos(phi), math.tan(phi)
            n = k["a"] / math.sqrt(1 - e2 * s * s)
            T = t * t
            C = ep2 * c * c
            A = (lam - k["lon0"]) * c
            M = k["a"] * (
                (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
                - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * math.sin(2 * phi)
                + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * math.sin(4 * phi)
                - (35 * e2**3 / 3072) * math.sin(6 * phi)
            )
            x = k["k0"] * n * (
                A + (1 - T + C) * A**3 / 6
                + (5 - 18 * T + T * T + 72 * C - 58 * ep2) * A**5 / 120
            ) + k["fe"]
            y = k["k0"] * (
                M + n * t * (
                    A * A / 2 + (5 - T + 9 * C + 4 * C * C) * A**4 / 24
                    + (61 - 58 * T + T * T + 600 * C - 330 * ep2) * A**6 / 720
                )
            ) + k["fn"]
            return x, y

        for lon, lat in pts:
            x, y = forward(lon, lat)
            lon2, lat2 = tm_inverse(p, x, y)
            # series agreement ~1e-9 deg within a UTM zone
            assert abs(lon2 - lon) < 1e-7 and abs(lat2 - lat) < 1e-7, (epsg, lon, lat)


def _make_utm_tiff(path, width=64, height=64, epsg=32610,
                   origin=(550000.0, 4180000.0), res=30.0):
    """Minimal uncompressed striped TIFF with UTM geokeys."""
    import struct

    import numpy as np

    vals = (np.arange(width * height, dtype="<u2") % 1000).reshape(height, width)
    data = vals.tobytes()
    geokeys = [
        (1, 1, 0, 3),
        (1024, 0, 1, 1),   # projected
        (1025, 0, 1, 1),
        (3072, 0, 1, epsg),
    ]
    gk = b"".join(struct.pack("<H", v) for row in geokeys for v in row)
    scale = struct.pack("<3d", res, res, 0.0)
    tie = struct.pack("<6d", 0, 0, 0, origin[0], origin[1], 0)
    entries = [
        (256, 4, 1, struct.pack("<I", width)),
        (257, 4, 1, struct.pack("<I", height)),
        (258, 3, 1, struct.pack("<H", 16)),
        (259, 3, 1, struct.pack("<H", 1)),
        (262, 3, 1, struct.pack("<H", 1)),
        (273, 4, 1, struct.pack("<I", 8)),
        (277, 3, 1, struct.pack("<H", 1)),
        (278, 4, 1, struct.pack("<I", height)),
        (279, 4, 1, struct.pack("<I", len(data))),
        (339, 3, 1, struct.pack("<H", 1)),
        (33550, 12, 3, scale),
        (33922, 12, 6, tie),
        (34735, 3, len(gk) // 2, gk),
    ]
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
        f.write(struct.pack("<H", len(entries)) + body + struct.pack("<I", 0) + ext)


def test_warp_utm_end_to_end(spark, tmp_path):
    """The UTM SQL inverse drives the full warp; block assignment of a
    probe pixel must agree with the python tm_inverse reference."""
    import math

    from raquet_spark.functions import quadbin as qb
    from raquet_spark.sources.tiff_reader import _utm_params, tm_inverse

    path = str(tmp_path / "utm.tif")
    _make_utm_tiff(path)
    info = read_tiff_structure(path)
    assert info["epsg"] == 32610

    tiles, meta = geotiff_to_raquet(spark, path, block_size=64)
    n = tiles.where("block != 0").count()
    assert n > 0
    z = meta["tiling"]["max_zoom"]

    # probe: source pixel (0, 0) center → expected target tile
    p = _utm_params(32610)
    lon, lat = tm_inverse(p, 550000.0 + 15.0, 4180000.0 - 15.0)
    assert -124 < lon < -122 and 37 < lat < 39
    m = 1 << z
    tx = int((lon / 360.0 + 0.5) * m)
    s = math.sin(math.radians(lat))
    ty = int((0.5 - 0.25 * math.log((1 + s) / (1 - s)) / math.pi) * m)
    blocks = {
        (r["qb_x"], r["qb_y"])
        for r in qb.with_tile(tiles.where("block != 0"), "block").collect()
    }
    assert (tx, ty) in blocks

    # every source value is carried through unchanged (nearest copy)
    g = tiles.agg(F.min("band_1_min"), F.max("band_1_max")).first()
    assert g[0] >= 0 and g[1] <= 999


def test_n37_import_export_chain(spark, tmp_path):
    """Real raster through the whole engine: GeoTIFF in (warp) →
    raquet → GeoTIFF out (strip writer) → independent parse — the
    reference's geotiff2raquet + raquet2geotiff round trip without
    GDAL. Exported pixels must equal the warped tile mosaic."""
    from raquet_spark.operators.export import to_numpy_mosaic
    from raquet_spark.sources.geotiff import read_geotiff, write_geotiff

    tiles, meta = geotiff_to_raquet(
        spark, f"{REF}/n37_w123_1arc_v2.tif", zoom_strategy="lower"
    )
    out = str(tmp_path / "n37_rt.tif")
    info = write_geotiff(tiles, meta, out)
    arr, geo = read_geotiff(out)
    assert arr.shape == (info["height"], info["width"], 1)
    assert float(geo["nodata"]) == -32767.0

    mosaic, _ = to_numpy_mosaic(tiles, meta, "band_1")
    np.testing.assert_array_equal(arr[:, :, 0].astype("f8"), mosaic)


@pytest.mark.slow
def test_nlcd_tile_size_variants_parity(spark):
    """Mirror of the reference's small/med/bigtile NLCD tests
    (test_geotiff2raquet.py:158-260): with the UPPER zoom strategy and
    block sizes 256/512/1024, the projected (Albers) raster lands at
    zoom 13/12/11, raster dims 1536x1792 / 1536x2048 / 2048x3072,
    native block counts 42/12/6, min_zoom 10/9/8, warped mean ~75.8."""
    from raquet_spark.core.metadata import find_minzoom
    from raquet_spark.sources.tiff_reader import _lonlat_corners

    path = f"{REF}/Annual_NLCD_LndCov_2023_CU_C1V0.tif"
    lls = _lonlat_corners(read_tiff_structure(path))
    src_bounds = (
        min(lon for lon, _ in lls), min(lat for _, lat in lls),
        max(lon for lon, _ in lls), max(lat for _, lat in lls),
    )
    expect = {
        256: (13, (1536, 1792), 42, 10),
        512: (12, (1536, 2048), 12, 9),
        1024: (11, (2048, 3072), 6, 8),
    }
    for bs, (zoom, dims, n_blocks, minz) in expect.items():
        tiles, meta = geotiff_to_raquet(
            spark, path, block_size=bs, zoom_strategy="upper"
        )
        assert meta["tiling"]["max_zoom"] == zoom, bs
        assert (meta["width"], meta["height"]) == dims, bs
        assert meta["bands"][0]["nodata"] == 250.0
        assert tiles.where("block != 0").count() == n_blocks, bs
        assert find_minzoom(src_bounds, zoom, block_size=bs) == minz, bs
        g = tiles.agg(
            (F.sum("band_1_sum") / F.sum("band_1_count")).alias("mean")
        ).first()
        assert abs(g["mean"] - 75.8) < 1.5, bs


def test_colored_palette_export_chain(spark, tmp_path):
    """Mirror of the reference's test_colored_parquet export
    expectations (test_raquet2geotiff.py:33-52) through our own chain:
    colored.tif -> raquet -> GeoTIFF export -> parse; the exported file
    carries Palette photometric and the reference's exact first six
    colortable entries."""
    from raquet_spark.sources.geotiff import read_geotiff, write_geotiff

    tiles, meta = geotiff_to_raquet(spark, f"{REF}/colored.tif")
    out = str(tmp_path / "colored_rt.tif")
    write_geotiff(tiles, meta, out)
    arr, geo = read_geotiff(out)
    assert geo["photometric"] == 3  # Palette
    cm = geo["colormap"]
    assert cm is not None and len(cm) == 768
    first6 = [
        [cm[i] // 257, cm[256 + i] // 257, cm[512 + i] // 257]
        for i in range(6)
    ]
    assert first6 == [
        [0, 0, 0], [0, 255, 0], [0, 0, 255],
        [255, 255, 0], [255, 165, 0], [255, 0, 0],
    ]
    # indices survive the chain untouched
    assert arr.dtype == np.dtype("u1")


def test_lcc_inverse_roundtrip_accuracy():
    """Lambert Conformal Conic (2SP) inverse vs the textbook forward,
    CONUS-style parallels 33/45 (the US national-grid family)."""
    import math

    from raquet_spark.sources.tiff_reader import _lcc_constants, lcc_inverse

    p = {
        "type": "lcc", "sp1": 33.0, "sp2": 45.0, "lat0": 39.0,
        "lon0": -96.0, "fe": 0.0, "fn": 0.0,
        "a": 6378137.0, "inv_f": 298.257223563,
    }
    k = _lcc_constants(p)
    f = 1.0 / p["inv_f"]
    e2 = 2.0 * f - f * f
    e = math.sqrt(e2)

    def forward(lon, lat):  # Snyder 15-1..15-4
        phi, lam = math.radians(lat), math.radians(lon)
        s = math.sin(phi)
        t = math.tan(math.pi / 4 - phi / 2) / (
            (1 - e * s) / (1 + e * s)
        ) ** (e / 2)
        rho = k["a"] * k["F"] * t ** k["n"]
        theta = k["n"] * (lam - k["lon0"])
        return rho * math.sin(theta), k["rho0"] - rho * math.cos(theta)

    for lon, lat in [(-96.0, 39.0), (-122.4, 37.8), (-71.1, 42.3), (-87.6, 41.9)]:
        x, y = forward(lon, lat)
        lon2, lat2 = lcc_inverse(p, x, y)
        assert abs(lon2 - lon) < 1e-7 and abs(lat2 - lat) < 1e-7, (lon, lat)


def _make_lcc_tiff(path, width=48, height=48,
                   origin=(500000.0, 1000000.0), res=500.0):
    """Minimal TIFF with user-defined LCC-2SP geokeys + double params."""
    import struct

    import numpy as np

    vals = (np.arange(width * height, dtype="<u2") % 777).reshape(height, width)
    data = vals.tobytes()
    doubles = (33.0, 45.0, -96.0, 39.0, 0.0, 0.0, 6378137.0, 298.257223563)
    geokeys = [
        (1, 1, 0, 10),
        (1024, 0, 1, 1),       # projected
        (1025, 0, 1, 1),
        (2057, 34736, 1, 6),   # semi-major
        (2059, 34736, 1, 7),   # inv flattening
        (3072, 0, 1, 32767),   # user-defined
        (3075, 0, 1, 8),       # CT_LambertConfConic_2SP
        (3078, 34736, 1, 0),   # std parallel 1
        (3079, 34736, 1, 1),   # std parallel 2
        (3080, 34736, 1, 2),   # nat origin lon
        (3081, 34736, 1, 3),   # nat origin lat
        (3082, 34736, 1, 4),   # false easting
        (3083, 34736, 1, 5),   # false northing
    ]
    gk = b"".join(struct.pack("<H", v) for row in geokeys for v in row)
    dbl = struct.pack(f"<{len(doubles)}d", *doubles)
    scale = struct.pack("<3d", res, res, 0.0)
    tie = struct.pack("<6d", 0, 0, 0, origin[0], origin[1], 0)
    entries = [
        (256, 4, 1, struct.pack("<I", width)),
        (257, 4, 1, struct.pack("<I", height)),
        (258, 3, 1, struct.pack("<H", 16)),
        (259, 3, 1, struct.pack("<H", 1)),
        (262, 3, 1, struct.pack("<H", 1)),
        (273, 4, 1, struct.pack("<I", 8)),
        (277, 3, 1, struct.pack("<H", 1)),
        (278, 4, 1, struct.pack("<I", height)),
        (279, 4, 1, struct.pack("<I", len(data))),
        (339, 3, 1, struct.pack("<H", 1)),
        (33550, 12, 3, scale),
        (33922, 12, 6, tie),
        (34735, 3, len(gk) // 2, gk),
        (34736, 12, len(doubles), dbl),
    ]
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
        f.write(struct.pack("<H", len(entries)) + body + struct.pack("<I", 0) + ext)


def test_warp_lcc_end_to_end(spark, tmp_path):
    """User-defined LCC-2SP geokeys drive the full warp; the probe
    pixel's tile matches the python lcc_inverse reference."""
    import math

    from raquet_spark.functions import quadbin as qb
    from raquet_spark.sources.tiff_reader import lcc_inverse

    path = str(tmp_path / "lcc.tif")
    _make_lcc_tiff(path)
    info = read_tiff_structure(path)
    assert info["projection"]["type"] == "lcc"
    assert info["projection"]["sp1"] == 33.0 and info["projection"]["sp2"] == 45.0

    tiles, meta = geotiff_to_raquet(spark, path, block_size=64)
    assert tiles.where("block != 0").count() > 0
    z = meta["tiling"]["max_zoom"]

    lon, lat = lcc_inverse(info["projection"], 500000.0 + 250.0, 1000000.0 - 250.0)
    assert -100 < lon < -85 and 40 < lat < 52
    m = 1 << z
    tx = int((lon / 360.0 + 0.5) * m)
    s = math.sin(math.radians(lat))
    ty = int((0.5 - 0.25 * math.log((1 + s) / (1 - s)) / math.pi) * m)
    blocks = {
        (r["qb_x"], r["qb_y"])
        for r in qb.with_tile(tiles.where("block != 0"), "block").collect()
    }
    assert (tx, ty) in blocks


def _make_sinu_tiff(path, width=48, height=48,
                    origin=(-6671703.118, 1111950.52), res=926.625433):
    """Minimal TIFF with MODIS-style sinusoidal geokeys (the MODIS
    h11v08-ish grid: 500m-class pixels on the authalic sphere)."""
    import struct

    import numpy as np

    vals = (np.arange(width * height, dtype="<u2") % 555).reshape(height, width)
    data = vals.tobytes()
    doubles = (0.0, 6371007.181)
    geokeys = [
        (1, 1, 0, 6),
        (1024, 0, 1, 1),
        (1025, 0, 1, 1),
        (2057, 34736, 1, 1),   # sphere radius
        (3072, 0, 1, 32767),
        (3075, 0, 1, 24),      # CT_Sinusoidal
        (3080, 34736, 1, 0),   # lon0
    ]
    gk = b"".join(struct.pack("<H", v) for row in geokeys for v in row)
    dbl = struct.pack(f"<{len(doubles)}d", *doubles)
    scale = struct.pack("<3d", res, res, 0.0)
    tie = struct.pack("<6d", 0, 0, 0, origin[0], origin[1], 0)
    entries = [
        (256, 4, 1, struct.pack("<I", width)),
        (257, 4, 1, struct.pack("<I", height)),
        (258, 3, 1, struct.pack("<H", 16)),
        (259, 3, 1, struct.pack("<H", 1)),
        (262, 3, 1, struct.pack("<H", 1)),
        (273, 4, 1, struct.pack("<I", 8)),
        (277, 3, 1, struct.pack("<H", 1)),
        (278, 4, 1, struct.pack("<I", height)),
        (279, 4, 1, struct.pack("<I", len(data))),
        (339, 3, 1, struct.pack("<H", 1)),
        (33550, 12, 3, scale),
        (33922, 12, 6, tie),
        (34735, 3, len(gk) // 2, gk),
        (34736, 12, len(doubles), dbl),
    ]
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
        f.write(struct.pack("<H", len(entries)) + body + struct.pack("<I", 0) + ext)


def test_warp_sinusoidal_end_to_end(spark, tmp_path):
    """MODIS-style sinusoidal geokeys drive the warp; the probe pixel's
    tile matches the closed-form inverse (lat = y/a, lon scaled by
    1/cos(lat))."""
    import math

    from raquet_spark.functions import quadbin as qb
    from raquet_spark.sources.tiff_reader import _inverse_lonlat

    path = str(tmp_path / "sinu.tif")
    _make_sinu_tiff(path)
    info = read_tiff_structure(path)
    assert info["projection"]["type"] == "sinu"
    assert info["projection"]["a"] == 6371007.181

    tiles, meta = geotiff_to_raquet(spark, path, block_size=64)
    assert tiles.where("block != 0").count() > 0
    z = meta["tiling"]["max_zoom"]

    lon, lat = _inverse_lonlat(info, -6671703.118 + 463.3, 1111950.52 - 463.3)
    # MODIS tile h11 area: South America, ~10N
    assert -75 < lon < -55 and 5 < lat < 15
    m = 1 << z
    tx = int((lon / 360.0 + 0.5) * m)
    s = math.sin(math.radians(lat))
    ty = int((0.5 - 0.25 * math.log((1 + s) / (1 - s)) / math.pi) * m)
    blocks = {
        (r["qb_x"], r["qb_y"])
        for r in qb.with_tile(tiles.where("block != 0"), "block").collect()
    }
    assert (tx, ty) in blocks


# ---------------------------------------------------------------- LZW --


def test_lzw_golden_vector():
    """TIFF 6.0 spec section-13 worked example: 7 7 7 8 8 7 7 6 6
    compresses to the 9-bit code stream 256,7,258,8,8,258,6,6,257."""
    from raquet_spark.sources.lzw import lzw_decode, lzw_encode

    raw = bytes([7, 7, 7, 8, 8, 7, 7, 6, 6])
    codes = [256, 7, 258, 8, 8, 258, 6, 6, 257]
    bits = "".join(format(c, "09b") for c in codes)
    bits += "0" * ((8 - len(bits) % 8) % 8)
    expected = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    assert lzw_encode(raw) == expected
    assert lzw_decode(expected) == raw


def test_lzw_roundtrip_width_boundaries():
    """Roundtrips across the 9→10→11→12-bit width bumps and the 4094
    table reset (incompressible random data resets many times)."""
    from raquet_spark.sources.lzw import lzw_decode, lzw_encode

    rng = np.random.default_rng(7)
    for data in [
        rng.integers(0, 256, 150_000, dtype=np.uint8).tobytes(),  # resets
        (np.arange(300_000) % 251).astype("<i2").tobytes(),  # raster-like
        b"",
        b"\x00" * 70_000,  # max-compressible long runs
    ]:
        assert lzw_decode(lzw_encode(data)) == data


def _recompress_tiff_lzw(raw: bytes, code: int = 5) -> bytes:
    """Rewrite an uncompressed striped classic TIFF as LZW (code 5) or
    PackBits (32773): append the compressed strips + new offset/count
    arrays, patch tags 259/273/279 in place. Test-only fixture builder
    (no compressed file ships with the reference; GDAL would produce
    one)."""
    import struct

    from raquet_spark.sources.lzw import lzw_encode, packbits_encode

    enc_fn = lzw_encode if code == 5 else packbits_encode
    out = bytearray(raw)
    ifd_off = struct.unpack("<I", raw[4:8])[0]
    (n_entries,) = struct.unpack_from("<H", raw, ifd_off)
    entries = {}
    for i in range(n_entries):
        pos = ifd_off + 2 + i * 12
        tag, typ, count, val = struct.unpack_from("<HHII", raw, pos)
        entries[tag] = (pos, typ, count, val)

    def read_longs(tag):
        pos, typ, count, val = entries[tag]
        if count == 1:
            return [val]
        size = {3: 2, 4: 4}[typ]
        fmt = {3: "H", 4: "I"}[typ]
        return list(struct.unpack_from(f"<{count}{fmt}", raw, val))

    assert entries[259][3] == 1, "fixture must start uncompressed"
    offs, cnts = read_longs(273), read_longs(279)
    new_offs, new_cnts = [], []
    for off, cnt in zip(offs, cnts):
        enc = enc_fn(raw[off : off + cnt])
        if len(out) % 2:
            out += b"\x00"
        new_offs.append(len(out))
        new_cnts.append(len(enc))
        out += enc
    # patch compression = 5
    struct.pack_into("<H", out, entries[259][0] + 8, code)
    for tag, vals in ((273, new_offs), (279, new_cnts)):
        pos, typ, count, _ = entries[tag]
        if count == 1:
            struct.pack_into("<HHII", out, pos, tag, 4, 1, vals[0])
        else:
            if len(out) % 2:
                out += b"\x00"
            struct.pack_into("<HHII", out, pos, tag, 4, count, len(out))
            out += struct.pack(f"<{count}I", *vals)
    return bytes(out)


def test_lzw_recompressed_n37_parity(spark, tmp_path):
    """An LZW variant of the reference DEM ingests pixel-identical to
    the uncompressed original through the distributed decode path."""
    src = f"{REF}/n37_w123_1arc_v2.tif"
    lzw_path = str(tmp_path / "n37_lzw.tif")
    with open(src, "rb") as f:
        raw = f.read()
    with open(lzw_path, "wb") as f:
        f.write(_recompress_tiff_lzw(raw))

    i0 = read_tiff_structure(src)
    i1 = read_tiff_structure(lzw_path)
    assert i1["compression"] == 5
    assert (i1["width"], i1["height"], i1["epsg"]) == (
        i0["width"], i0["height"], i0["epsg"],
    )

    p0 = tiff_pixel_table(spark, i0).toPandas().sort_values(["sy", "sx"])
    p1 = tiff_pixel_table(spark, i1).toPandas().sort_values(["sy", "sx"])
    np.testing.assert_array_equal(
        p0["band_1"].to_numpy(), p1["band_1"].to_numpy()
    )


# --------------------------------------------------- import resampling --


def _aligned_tif(spark, tmp_path, **kw):
    from raquet_spark.sources.geotiff import write_geotiff
    from raquet_spark.testing import make_synthetic_raster

    defaults = dict(
        zoom=6, tiles_x=4, tiles_y=4, origin_x=16, origin_y=20,
        block_size=32, dtype="float32", seed=42, nodata=-1.0,
        nodata_every=13,
    )
    defaults.update(kw)
    tiles, meta = make_synthetic_raster(spark, **defaults)
    path = str(tmp_path / "aligned.tif")
    write_geotiff(tiles, meta, path)
    return tiles, meta, path


def test_bilinear_downsample_is_masked_2x2_mean(spark, tmp_path):
    """Aligned 3857 grid, zoom z→z-1: every target center sits at ±0.5
    source offsets, so bilinear with nodata renormalization must equal
    the nodata-aware 2×2 plain average — computed independently in
    numpy from the synthetic closed form."""
    from raquet_spark.operators.export import to_numpy_mosaic
    from raquet_spark.testing import synthetic_tile_array

    _tiles, _meta, path = _aligned_tif(spark, tmp_path)
    tiles5, meta5 = geotiff_to_raquet(
        spark, path, zoom=5, block_size=32, resampling="bilinear",
        dense=False, stats=False, compression=None,
    )
    arr, _ = to_numpy_mosaic(tiles5, meta5, "band_1")

    # closed-form source mosaic (128×128) and its masked 2×2 mean
    src = np.zeros((128, 128))
    for ty in range(4):
        for tx in range(4):
            src[ty * 32 : (ty + 1) * 32, tx * 32 : (tx + 1) * 32] = (
                synthetic_tile_array(
                    16 + tx, 20 + ty, 6, 32, 0, 42, "float32",
                    nodata=-1.0, nodata_every=13,
                ).reshape(32, 32)
            )
    m = np.ma.masked_equal(src, -1.0)
    want = np.ma.stack(
        [m[0::2, 0::2], m[0::2, 1::2], m[1::2, 0::2], m[1::2, 1::2]]
    ).mean(axis=0)
    # float32 storage in tiles
    want32 = want.filled(np.nan).astype("f4").astype("f8")
    got = np.where(arr == -1.0, np.nan, arr)
    np.testing.assert_allclose(got, want32, rtol=1e-6, equal_nan=True)


def test_cubic_upsample_reproduces_linear_ramp(spark, tmp_path):
    """Catmull-Rom cubic preserves linear functions: importing a ramp
    raster (value = 2·sx + 3·sy) at zoom z+1 must reproduce the ramp
    exactly in the interior (full 4×4 neighborhoods)."""
    from raquet_spark.core.metadata import BandMeta, build_metadata
    from raquet_spark.operators.export import to_numpy_mosaic
    from raquet_spark.operators.tiling import from_pixel_table
    from raquet_spark.sources.geotiff import write_geotiff

    bs, z = 32, 6
    n = 2 * bs  # 2×2 tiles
    gx0, gy0 = 16 * bs, 20 * bs
    ramp = spark.range(n * n).selectExpr(
        f"{gx0} + id % {n} AS gx",
        f"{gy0} + id DIV {n} AS gy",
        f"CAST(2 * (id % {n}) + 3 * (id DIV {n}) AS DOUBLE) AS band_1",
    )
    meta = build_metadata(
        bands=[BandMeta(name="band_1", type="float64")],
        bounds=(0, 0, 0, 0), width=n, height=n,
        block_width=bs, block_height=bs, min_zoom=z, max_zoom=z,
        compression=None,
    )
    tiles = from_pixel_table(ramp, meta, compression=None)
    path = str(tmp_path / "ramp.tif")
    write_geotiff(tiles, meta, path)

    tiles7, meta7 = geotiff_to_raquet(
        spark, path, zoom=z + 1, block_size=bs, resampling="cubic",
        dense=False, stats=False, compression=None,
    )
    arr, (mx0, my0) = to_numpy_mosaic(tiles7, meta7, "band_1")
    # target (z+1) global pixel g maps to source-local fractional coord
    # (g - 2*gx0 + 0.5)/2 - 0.5 in sample-center units; expected ramp
    # value = 2*fx + 3*fy. Compare the interior (full 4×4 neighborhoods)
    # only: border pixels renormalize a clipped neighborhood, and the
    # mosaic may carry extra partial border tiles.
    h, w = arr.shape
    fx = ((np.arange(w) + mx0 * bs - 2 * gx0) + 0.5) / 2.0 - 0.5
    fy = ((np.arange(h) + my0 * bs - 2 * gy0) + 0.5) / 2.0 - 0.5
    want = 2.0 * fx[None, :] + 3.0 * fy[:, None]
    core = (fx >= 1.5) & (fx <= n - 2.5)
    corey = (fy >= 1.5) & (fy <= n - 2.5)
    np.testing.assert_allclose(
        arr[np.ix_(corey, core)], want[np.ix_(corey, core)], atol=1e-9
    )


def test_packbits_recompressed_n37_parity(spark, tmp_path):
    """A PackBits variant of the reference DEM ingests pixel-identical
    to the uncompressed original (compression 32773, byte-wise RLE)."""
    src = f"{REF}/n37_w123_1arc_v2.tif"
    pb_path = str(tmp_path / "n37_pb.tif")
    with open(src, "rb") as f:
        raw = f.read()
    with open(pb_path, "wb") as f:
        f.write(_recompress_tiff_lzw(raw, code=32773))

    i0 = read_tiff_structure(src)
    i1 = read_tiff_structure(pb_path)
    assert i1["compression"] == 32773
    p0 = tiff_pixel_table(spark, i0).toPandas().sort_values(["sy", "sx"])
    p1 = tiff_pixel_table(spark, i1).toPandas().sort_values(["sy", "sx"])
    np.testing.assert_array_equal(p0["band_1"].to_numpy(), p1["band_1"].to_numpy())


def _classic_to_bigtiff(raw: bytes) -> bytes:
    """Rewrite a classic little-endian TIFF as BigTIFF (magic 43,
    8-byte offsets, 20-byte IFD entries): the original file is embedded
    verbatim after the 16-byte BigTIFF header (so pixel bytes shift by
    16) and a fresh BigTIFF IFD is appended with strip/tile offsets
    rebased. Test fixture for the BigTIFF header parser."""
    import struct

    shift = 16  # BigTIFF header size; original raw follows verbatim
    ifd_off = struct.unpack("<I", raw[4:8])[0]
    (n_entries,) = struct.unpack_from("<H", raw, ifd_off)
    type_size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8}
    type_fmt = {3: "H", 4: "I"}
    entries = []
    for i in range(n_entries):
        tag, typ, count, val_off = struct.unpack_from(
            "<HHII", raw, ifd_off + 2 + i * 12
        )
        if typ not in type_size:
            continue
        nbytes = type_size[typ] * count
        if nbytes <= 4:
            buf = raw[ifd_off + 2 + i * 12 + 8 : ifd_off + 2 + i * 12 + 8 + nbytes]
        else:
            buf = raw[val_off : val_off + nbytes]
        if tag in (273, 324):  # segment offsets move by the header delta
            vals = struct.unpack(f"<{count}{type_fmt[typ]}", buf)
            typ = 16  # LONG8
            buf = struct.pack(f"<{count}Q", *(v + shift for v in vals))
        entries.append((tag, typ, count, buf))

    out = bytearray(struct.pack("<2sHHHQ", b"II", 43, 8, 0, 0))  # offset patched below
    out += raw
    if len(out) % 2:
        out += b"\x00"
    big_ifd = len(out)
    ext = bytearray()
    ext_base = big_ifd + 8 + len(entries) * 20 + 8
    body = b""
    for tag, typ, count, buf in entries:
        if len(buf) <= 8:
            body += struct.pack("<HHQ", tag, typ, count) + buf.ljust(8, b"\x00")
        else:
            body += struct.pack("<HHQQ", tag, typ, count, ext_base + len(ext))
            ext += buf
    out += struct.pack("<Q", len(entries)) + body + struct.pack("<Q", 0) + ext
    struct.pack_into("<Q", out, 8, big_ifd)
    return bytes(out)


def test_bigtiff_n37_parity(spark, tmp_path):
    """The DEM rewritten as BigTIFF (magic 43) parses to the same
    structure and decodes pixel-identical — the format GDAL writes for
    >4GB rasters."""
    src = f"{REF}/n37_w123_1arc_v2.tif"
    with open(src, "rb") as f:
        raw = f.read()
    big = _classic_to_bigtiff(raw)
    bt_path = str(tmp_path / "n37_big.tif")
    with open(bt_path, "wb") as f:
        f.write(big)

    i0 = read_tiff_structure(src)
    i1 = read_tiff_structure(bt_path)
    assert (i1["width"], i1["height"], i1["epsg"], i1["dtype"]) == (
        i0["width"], i0["height"], i0["epsg"], i0["dtype"],
    )
    p0 = tiff_pixel_table(spark, i0).toPandas().sort_values(["sy", "sx"])
    p1 = tiff_pixel_table(spark, i1).toPandas().sort_values(["sy", "sx"])
    np.testing.assert_array_equal(p0["band_1"].to_numpy(), p1["band_1"].to_numpy())


@pytest.mark.parametrize("kernel", ["average", "min", "max", "med", "mode"])
def test_aggregate_warp_downsample_exact(spark, tmp_path, kernel):
    """Aggregate warp kernels (GDAL's reducing --resampling set): on an
    aligned 3857 grid, zoom z→z-1 groups exactly the 2×2 source window
    per target pixel, so every kernel must equal its numpy counterpart
    over the valid (non-nodata) window values."""
    from raquet_spark.operators.export import to_numpy_mosaic
    from raquet_spark.testing import synthetic_tile_array

    _tiles, _meta, path = _aligned_tif(spark, tmp_path)
    tiles5, meta5 = geotiff_to_raquet(
        spark, path, zoom=5, block_size=32, resampling=kernel,
        dense=False, stats=False, compression=None,
    )
    arr, _ = to_numpy_mosaic(tiles5, meta5, "band_1")

    src = np.zeros((128, 128))
    for ty in range(4):
        for tx in range(4):
            src[ty * 32 : (ty + 1) * 32, tx * 32 : (tx + 1) * 32] = (
                synthetic_tile_array(
                    16 + tx, 20 + ty, 6, 32, 0, 42, "float32",
                    nodata=-1.0, nodata_every=13,
                ).reshape(32, 32)
            )
    m = np.ma.masked_equal(src, -1.0)
    win = np.ma.stack(
        [m[0::2, 0::2], m[0::2, 1::2], m[1::2, 0::2], m[1::2, 1::2]]
    )
    if kernel == "average":
        want = win.mean(axis=0)
    elif kernel == "min":
        want = win.min(axis=0)
    elif kernel == "max":
        want = win.max(axis=0)
    elif kernel == "med":
        want = np.ma.median(win, axis=0)
    else:  # mode: most frequent, ties -> smallest
        h, w = win.shape[1:]
        want = np.ma.masked_all((h, w))
        for i in range(h):
            for j in range(w):
                vals = win[:, i, j].compressed()
                if len(vals):
                    uv, cnt = np.unique(vals, return_counts=True)
                    want[i, j] = uv[np.argmax(cnt)]  # unique is sorted: tie -> smallest
    want32 = want.filled(np.nan).astype("f4").astype("f8")
    got = np.where(arr == -1.0, np.nan, arr)
    np.testing.assert_allclose(got, want32, rtol=1e-6, equal_nan=True)


def test_forward_projections_invert_inverses(spark):
    """The SQL Snyder FORWARD projections (the dense-warp enabler for
    projected CRS) must invert the SQL inverses to sub-pixel accuracy,
    evaluated in Spark itself over a grid of projected coordinates for
    each CRS family: Albers (NLCD) and UTM zone 10N."""
    from raquet_spark.sources.tiff_reader import (
        _forward_steps,
        _lonlat_steps,
        _utm_params,
    )

    cases = []
    nlcd = read_tiff_structure(f"{REF}/Annual_NLCD_LndCov_2023_CU_C1V0.tif")
    cases.append(("aea", nlcd, 30.0))
    utm = dict(nlcd)
    utm["projection"] = None
    utm = {**nlcd, "projection": None, "epsg": 32610,
           "transform": (500000.0, 30.0, 0.0, 4200000.0, 0.0, -30.0),
           "width": 100, "height": 100}
    cases.append(("tm", utm, 30.0))

    for name, info, res in cases:
        steps, lon_e, lat_e = _lonlat_steps(info)
        fsteps, x_e, y_e = _forward_steps(info)
        ox, a, b, oy, c, d = info["transform"]
        df = spark.range(200).selectExpr(
            f"CAST(id % 20 AS DOUBLE) * {info['width'] / 20.0} AS sx",
            f"CAST(id DIV 20 AS DOUBLE) * {info['height'] / 10.0} AS sy",
        )
        for n_, e_ in steps:
            df = df.withColumn(n_, F.expr(e_))
        df = df.withColumn("_lon", F.expr(lon_e)).withColumn("_lat", F.expr(lat_e))
        for n_, e_ in fsteps:
            df = df.withColumn(n_, F.expr(e_))
        # original model coords of the (sx, sy) sample centers
        mx = f"({ox} + (sx + 0.5) * {a} + (sy + 0.5) * {b})"
        my = f"({oy} + (sx + 0.5) * {c} + (sy + 0.5) * {d})"
        r = df.selectExpr(
            f"max(abs({x_e} - {mx})) AS ex",
            f"max(abs({y_e} - {my})) AS ey",
        ).first()
        # round trip error far below one source pixel (res meters)
        assert r["ex"] < res * 0.01 and r["ey"] < res * 0.01, (name, r)


@pytest.mark.slow
def test_bilinear_projected_nlcd(spark):
    """Bilinear on the Albers NLCD (through the Snyder forward
    projection): runs target-driven, output dense, distribution tracks
    the source (a categorical raster blurs, so only range/coverage are
    asserted)."""
    path = f"{REF}/Annual_NLCD_LndCov_2023_CU_C1V0.tif"
    info = read_tiff_structure(path)
    tiles, meta = geotiff_to_raquet(
        spark, path, block_size=256, resampling="bilinear",
        dense=False, stats=True,
    )
    g = tiles.agg(
        F.min("band_1_min"), F.max("band_1_max"), F.sum("band_1_count")
    ).first()
    src = tiff_pixel_table(spark, info).where(f"band_1 != {info['nodata']}")
    s_cnt = src.count()
    s_mm = src.agg(F.min("band_1"), F.max("band_1")).first()
    assert s_cnt <= g[2] <= 8 * s_cnt  # dense coverage
    # blended values stay inside the source range
    assert g[0] >= s_mm[0] - 1e-6 and g[1] <= s_mm[1] + 1e-6


def _classic_to_bigendian(raw: bytes) -> bytes:
    """Rewrite an uncompressed striped little-endian classic TIFF as
    big-endian ("MM"): header, IFD entries, external values, and the
    pixel strips are all byte-swapped. Test fixture for the MM parser."""
    import struct

    ifd_off = struct.unpack("<I", raw[4:8])[0]
    (n_entries,) = struct.unpack_from("<H", raw, ifd_off)
    type_size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8}
    entries = []
    for i in range(n_entries):
        tag, typ, count, val_off = struct.unpack_from(
            "<HHII", raw, ifd_off + 2 + i * 12
        )
        if typ not in type_size:
            continue
        nbytes = type_size[typ] * count
        if nbytes <= 4:
            buf = raw[ifd_off + 2 + i * 12 + 8 : ifd_off + 2 + i * 12 + 8 + nbytes]
        else:
            buf = raw[val_off : val_off + nbytes]
        entries.append((tag, typ, count, buf))
    tagmap = {t: (typ, cnt, buf) for t, typ, cnt, buf in entries}
    assert tagmap[259][2] == b"\x01\x00", "fixture must be uncompressed"

    def swab(buf: bytes, typ: int, count: int) -> bytes:
        unit = type_size[typ]
        if typ in (2,) or unit == 1:
            return buf
        if typ in (5, 10):  # rational = two 4-byte ints
            return b"".join(
                buf[i : i + 4][::-1] for i in range(0, len(buf), 4)
            )
        return b"".join(buf[i : i + unit][::-1] for i in range(0, len(buf), unit))

    # layout: 8-byte MM header, IFD, external values, pixel data
    out = bytearray(struct.pack(">2sHI", b"MM", 42, 8))
    ifd_body = b""
    ext = bytearray()
    ext_base = 8 + 2 + len(entries) * 12 + 4

    # sizes of externals first (to place pixel data after)
    ext_total = sum(
        type_size[t[1]] * t[2]
        for t in entries
        if type_size[t[1]] * t[2] > 4
    )
    data_base = ext_base + ext_total
    # rebuild strips: byte-swapped pixel payloads
    w = struct.unpack("<" + {3: "H", 4: "I"}[tagmap[256][0]],
                      tagmap[256][2][: type_size[tagmap[256][0]]])[0]
    bits = struct.unpack("<H", tagmap[258][2][:2])[0]
    offs_t, offs_c, offs_buf = tagmap[273]
    cnts_t, cnts_c, cnts_buf = tagmap[279]
    fmt_o = {3: "H", 4: "I"}[offs_t]
    fmt_c = {3: "H", 4: "I"}[cnts_t]
    offs = struct.unpack(f"<{offs_c}{fmt_o}", offs_buf)
    cnts = struct.unpack(f"<{cnts_c}{fmt_c}", cnts_buf)
    unit = bits // 8
    strips = []
    new_offs = []
    pos = data_base
    for off, cnt in zip(offs, cnts):
        seg = raw[off : off + cnt]
        if unit > 1:
            seg = b"".join(seg[i : i + unit][::-1] for i in range(0, len(seg), unit))
        strips.append(seg)
        new_offs.append(pos)
        pos += len(seg)

    new_entries = []
    for tag, typ, count, buf in entries:
        if tag == 273:
            buf = struct.pack(f"<{offs_c}I", *new_offs)
            typ = 4
        new_entries.append((tag, typ, count, buf))

    for tag, typ, count, buf in new_entries:
        nbytes = type_size[typ] * count
        sw = swab(buf, typ, count)
        if nbytes <= 4:
            ifd_body += struct.pack(">HHI", tag, typ, count) + sw.ljust(4, b"\x00")
        else:
            ifd_body += struct.pack(">HHII", tag, typ, count, ext_base + len(ext))
            ext += sw
    out += struct.pack(">H", len(new_entries)) + ifd_body + struct.pack(">I", 0)
    out += ext
    for seg in strips:
        out += seg
    return bytes(out)


def test_bigendian_n37_parity(spark, tmp_path):
    """The DEM rewritten big-endian ("MM") parses to the same structure
    and decodes pixel-identical — scanners and older tools still emit
    MM files."""
    src = f"{REF}/n37_w123_1arc_v2.tif"
    with open(src, "rb") as f:
        raw = f.read()
    mm_path = str(tmp_path / "n37_mm.tif")
    with open(mm_path, "wb") as f:
        f.write(_classic_to_bigendian(raw))

    i0 = read_tiff_structure(src)
    i1 = read_tiff_structure(mm_path)
    assert np.dtype(i1["dtype"]).byteorder == ">"
    assert (i1["width"], i1["height"], i1["epsg"]) == (
        i0["width"], i0["height"], i0["epsg"],
    )
    p0 = tiff_pixel_table(spark, i0).toPandas().sort_values(["sy", "sx"])
    p1 = tiff_pixel_table(spark, i1).toPandas().sort_values(["sy", "sx"])
    np.testing.assert_array_equal(p0["band_1"].to_numpy(), p1["band_1"].to_numpy())

    # and the full warp path normalizes the band type
    tiles, meta = geotiff_to_raquet(spark, mm_path, block_size=128, stats=False)
    assert meta["bands"][0]["type"] == "int16"
    assert tiles.count() > 0


def _chunky_to_planar(info, spark) -> tuple[bytes, "np.ndarray"]:
    """Build an uncompressed PlanarConfiguration=2 TIFF from the decoded
    pixels of a chunky source file — fixture for the planar reader.
    Returns (tiff_bytes, reference_pixels[h, w, bands])."""
    import struct

    pdf = (
        tiff_pixel_table(spark, info)
        .toPandas()
        .sort_values(["sy", "sx"])
    )
    h, w, nb = info["height"], info["width"], info["n_bands"]
    dt = np.dtype(info["dtype"]).newbyteorder("<")
    ref = np.stack(
        [pdf[f"band_{b + 1}"].to_numpy().reshape(h, w) for b in range(nb)],
        axis=-1,
    )
    planes = [ref[:, :, b].astype(dt).tobytes() for b in range(nb)]

    kind_fmt = {"u": 1, "i": 2, "f": 3}[dt.kind]
    entries = [
        (256, 4, 1, w), (257, 4, 1, h),
        (258, 3, nb, None), (259, 3, 1, 1), (262, 3, 1, 1),
        (273, 4, nb, None), (277, 3, 1, nb), (278, 4, 1, h),
        (279, 4, nb, None), (284, 3, 1, 2),
        (339, 3, nb, None),
    ]
    n = len(entries)
    ifd_off = 8
    ext_base = ifd_off + 2 + n * 12 + 4
    ext = bytearray()

    def ext_put(b: bytes) -> int:
        off = ext_base + len(ext)
        ext.extend(b)
        return off

    bits_buf = b"".join(struct.pack("<H", dt.itemsize * 8) for _ in range(nb))
    fmt_buf = b"".join(struct.pack("<H", kind_fmt) for _ in range(nb))
    # plane data lives after the externals; offsets known once ext is sized
    ext_sizes = sum(len(b) for b in (bits_buf, fmt_buf) if len(b) > 4)
    ext_sizes += 4 * nb * 2 if nb > 1 else 0  # offsets+counts arrays
    data_base = ext_base + ext_sizes
    plane_offsets = []
    pos = data_base
    for p in planes:
        plane_offsets.append(pos)
        pos += len(p)

    body = b""
    for tag, typ, count, val in entries:
        if tag == 258:
            buf = bits_buf
        elif tag == 339:
            buf = fmt_buf
        elif tag == 273:
            buf = b"".join(struct.pack("<I", o) for o in plane_offsets)
        elif tag == 279:
            buf = b"".join(struct.pack("<I", len(p)) for p in planes)
        else:
            buf = struct.pack("<H" if typ == 3 else "<I", val)
        if len(buf) <= 4:
            body += struct.pack("<HHI", tag, typ, count) + buf.ljust(4, b"\x00")
        else:
            body += struct.pack("<HHII", tag, typ, count, ext_put(buf))
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", n) + body + struct.pack("<I", 0)
    out += ext
    assert len(out) == data_base, (len(out), data_base)
    for p in planes:
        out += p
    return bytes(out), ref


def test_planar_tiff_decode(spark, tmp_path):
    """PlanarConfiguration=2 (band-separate) files decode to the same
    pixels as the chunky original — the narrow decode + pivot path."""
    src = read_tiff_structure(f"{REF}/big-world.tif")
    planar_bytes, ref = _chunky_to_planar(src, spark)
    path = str(tmp_path / "planar.tif")
    with open(path, "wb") as f:
        f.write(planar_bytes)
    info = read_tiff_structure(path)
    assert info["planar"] == 2 and info["n_bands"] == 4
    pdf = tiff_pixel_table(spark, info).toPandas().sort_values(["sy", "sx"])
    assert len(pdf) == src["width"] * src["height"]
    for b in range(4):
        np.testing.assert_array_equal(
            pdf[f"band_{b + 1}"].to_numpy().reshape(ref.shape[:2]), ref[:, :, b]
        )
