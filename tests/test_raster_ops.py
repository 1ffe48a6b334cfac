"""Algebra, layout conversion, export, time dimension, validation,
partitioned writes."""

from __future__ import annotations

import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F

from raquet_spark.functions import quadbin as qb
from raquet_spark.functions.bands import decode_block
from raquet_spark.operators.algebra import (
    apply_scale_offset,
    clip_values,
    map_bands,
    normalized_difference,
)
from raquet_spark.operators.layout import to_interleaved, to_sequential
from raquet_spark.operators.export import (
    pixel_table_with_lonlat,
    to_numpy_mosaic,
    to_pixel_table,
)
from raquet_spark.operators.pyramid import build_pyramid
from raquet_spark.operators.time_dim import (
    CFTime,
    parse_cf_units,
    per_step_stats,
    temporal_slice,
    with_time_ts,
)
from raquet_spark.operators.tile_stats import with_tile_stats
from raquet_spark.sources.raquet import (
    read_raquet,
    read_raquet_metadata,
    split_zoom,
    write_raquet,
    write_raquet_partitioned,
)
from raquet_spark.sources.validate import validate_raquet
from raquet_spark.testing import make_synthetic_raster, synthetic_tile_array

Z, TX, TY, BS = 6, 16, 20, 32


@pytest.fixture(scope="module")
def raster2(spark):
    tiles, meta = make_synthetic_raster(
        spark, zoom=Z, tiles_x=2, tiles_y=2, origin_x=TX, origin_y=TY,
        block_size=BS, num_bands=2, dtype="float32", nodata=-1.0, nodata_every=9,
    )
    return tiles.cache(), meta


def _tile(i=0, band=0):
    return synthetic_tile_array(TX, TY, Z, BS, band, 42, "float32",
                                nodata=-1.0, nodata_every=9)


def test_map_bands_and_ndiff(spark, raster2):
    tiles, meta = raster2
    out = map_bands(tiles, meta, lambda a: a["band_1"] * 2 + a["band_2"],
                    out_band="combo")
    row = out.where(F.col("block") == qb.py_tile_to_cell(TX, TY, Z)).collect()[0]
    got = decode_block(row["combo"], "float64")
    b1, b2 = _tile(band=0).astype("f8"), _tile(band=1).astype("f8")
    bad = (b1 == -1.0) | (b2 == -1.0)
    want = np.where(bad, np.nan, b1 * 2 + b2)
    np.testing.assert_allclose(got, want, equal_nan=True)

    nd = normalized_difference(tiles, meta, "band_1", "band_2")
    ndrow = nd.where(F.col("block") == qb.py_tile_to_cell(TX, TY, Z)).collect()[0]
    ndgot = decode_block(ndrow["ndiff"], "float64")
    s = b1 + b2
    ndwant = np.where(bad | (s == 0), np.nan, (b1 - b2) / np.where(s == 0, 1, s))
    np.testing.assert_allclose(ndgot, ndwant, equal_nan=True, rtol=1e-12)


def test_scale_offset_clip(spark, raster2):
    tiles, meta = raster2
    meta_s = dict(meta)
    meta_s["bands"] = [dict(meta["bands"][0], scale=0.5, offset=10.0), meta["bands"][1]]
    out = apply_scale_offset(tiles, meta_s, "band_1")
    row = out.where(F.col("block") == qb.py_tile_to_cell(TX, TY, Z)).collect()[0]
    got = decode_block(row["band_1_physical"], "float64")
    b1 = _tile().astype("f8")
    want = np.where(b1 == -1.0, np.nan, b1 * 0.5 + 10.0)
    np.testing.assert_allclose(got, want, equal_nan=True)

    cl = clip_values(tiles, meta, "band_1", 10.0, 100.0)
    crow = cl.where(F.col("block") == qb.py_tile_to_cell(TX, TY, Z)).collect()[0]
    cgot = decode_block(crow["band_1_clipped"], "float64")
    assert np.nanmin(cgot) >= 10.0 and np.nanmax(cgot) <= 100.0


def test_layout_roundtrip(spark, raster2):
    tiles, meta = raster2
    inter, meta_i = to_interleaved(tiles, meta)
    assert meta_i["band_layout"] == "interleaved"
    assert inter.columns == ["block", "pixels"]
    back, meta_s = to_sequential(inter, meta_i)
    row = back.where(F.col("block") == qb.py_tile_to_cell(TX, TY, Z)).collect()[0]
    np.testing.assert_array_equal(decode_block(row["band_1"], "float32"), _tile(band=0))
    np.testing.assert_array_equal(decode_block(row["band_2"], "float32"), _tile(band=1))


def test_lossy_stub(spark, raster2):
    tiles, meta = raster2
    with pytest.raises((NotImplementedError, ValueError)):
        to_interleaved(tiles, meta, compression="webp")


def test_pixel_table_and_mosaic(spark, raster2):
    tiles, meta = raster2
    px = to_pixel_table(tiles, meta, bands=["band_1"])
    assert px.count() == 4 * BS * BS
    one = px.where((F.col("gx") == TX * BS) & (F.col("gy") == TY * BS)).collect()[0]
    assert one["band_1"] == float(_tile()[0])

    with_ll = pixel_table_with_lonlat(px.limit(10), meta)
    r = with_ll.collect()[0]
    assert -180 <= r["lon"] <= 180 and -90 <= r["lat"] <= 90

    mosaic, (gx0, gy0) = to_numpy_mosaic(tiles, meta, "band_1")
    assert mosaic.shape == (2 * BS, 2 * BS)
    assert (gx0, gy0) == (TX * BS, TY * BS)
    np.testing.assert_array_equal(mosaic[:BS, :BS], _tile().reshape(BS, BS).astype("f8"))


def test_time_dimension(spark, raster2):
    tiles, meta = raster2
    cf = parse_cf_units("minutes since 1980-01-01 00:00:00")
    assert cf.units == "minutes" and cf.reference == datetime.datetime(1980, 1, 1)

    with_t = tiles.crossJoin(
        spark.createDataFrame([(0.0,), (44640.0,)], "time_cf double")
    )
    out = with_time_ts(with_t, cf)
    ts = sorted({r["time_ts"] for r in out.select("time_ts").distinct().collect()})
    assert ts[0] == datetime.datetime(1980, 1, 1, 0, 0)
    assert ts[1] == datetime.datetime(1980, 2, 1, 0, 0)

    # non-Gregorian → NULL
    cf360 = CFTime(units="days", reference=datetime.datetime(1980, 1, 1), calendar="360_day")
    nulls = with_time_ts(with_t, cf360).where(F.col("time_ts").isNotNull()).count()
    assert nulls == 0

    assert temporal_slice(out, 0.0, 100.0).count() == 4

    stats = with_tile_stats(out, meta)
    per_step = per_step_stats(stats, "band_1").collect()
    assert len(per_step) == 2
    b1 = np.concatenate([
        synthetic_tile_array(TX + i, TY + j, Z, BS, 0, 42, "float32",
                             nodata=-1.0, nodata_every=9)
        for i in range(2) for j in range(2)
    ])
    valid = b1[b1 != -1.0].astype("f8")
    for r in per_step:
        assert r["count"] == valid.size
        assert r["mean"] == pytest.approx(valid.mean())


def test_validate_good_and_bad(spark, raster2, tmp_path):
    tiles, meta = raster2
    pyr, meta_p = build_pyramid(tiles, meta, min_zoom=Z - 1)
    path = str(tmp_path / "good.parquet")
    write_raquet(pyr, path, meta_p)
    res = validate_raquet(spark, path, check_band_data=True)
    assert res.is_valid, res.errors
    assert res.info["num_blocks"] == 5

    # corrupt: drop native tiles → overview orphans
    bad = read_raquet(spark, path).where(
        F.expr(qb.cell_to_zoom_sql("block", "spark")) == Z - 1
    )
    bad_path = str(tmp_path / "bad.parquet")
    write_raquet(bad, bad_path, meta_p)
    res2 = validate_raquet(spark, bad_path)
    assert any("native-resolution" in e for e in res2.errors), res2.errors


def test_partitioned_write_and_split_zoom(spark, raster2, tmp_path):
    tiles, meta = raster2
    p1 = str(tmp_path / "part.parquet")
    write_raquet_partitioned(tiles, p1, meta, partition_zoom=5)
    back = read_raquet(spark, p1)
    assert back.where(F.col("block") != 0).count() == 4
    m = read_raquet_metadata(spark, p1)
    assert m["tiling"]["num_blocks"] == 4  # summed across partition metadata rows

    pyr, meta_p = build_pyramid(tiles, meta, min_zoom=Z - 1)
    p2 = str(tmp_path / "zoom.parquet")
    split_zoom(pyr, p2, meta_p)
    z_native = spark.read.parquet(f"{p2}/zoom={Z}")
    assert z_native.where(F.col("block") != 0).count() == 4
    z_over = spark.read.parquet(f"{p2}/zoom={Z - 1}")
    assert z_over.where(F.col("block") != 0).count() == 1


def test_merge_and_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    from raquet_spark.functions import quadbin as qb
    from raquet_spark.sources.raquet import (
        compact_raquet, merge_tiles, read_raquet, write_raquet,
    )
    from raquet_spark.testing import make_synthetic_raster

    tiles, meta = make_synthetic_raster(spark, zoom=6, tiles_x=2, tiles_y=2,
                                        block_size=16)
    path = str(tmp_path / "m.parquet")
    write_raquet(tiles, path, meta)

    # updated version of one existing tile + one brand-new tile
    upd, _ = make_synthetic_raster(spark, zoom=6, tiles_x=1, tiles_y=1,
                                   block_size=16, seed=123)
    new_block = qb.py_tile_to_cell(18, 20, 6)
    extra, _ = make_synthetic_raster(spark, zoom=6, tiles_x=1, tiles_y=1,
                                     origin_x=18, origin_y=20, block_size=16)
    out = str(tmp_path / "merged.parquet")
    new_meta = merge_tiles(spark, path, upd.unionByName(extra), out_path=out)
    assert new_meta["tiling"]["num_blocks"] == 5

    back = read_raquet(spark, out)
    assert back.count() == 5
    assert back.where(F.col("block") == new_block).count() == 1
    # the updated tile's bytes must come from the new version
    updated_blob = upd.collect()[0]["band_1"]
    got_blob = back.where(F.col("block") == upd.collect()[0]["block"]).collect()[0]["band_1"]
    assert bytes(got_blob) == bytes(updated_blob)

    compact_raquet(spark, out)
    assert read_raquet(spark, out).count() == 5


def test_pixel_table_tiling_roundtrip(spark):
    """export → re-tile → byte-identical tiles (raster2raquet core as a
    distributed groupBy)."""
    from raquet_spark.operators.export import to_pixel_table
    from raquet_spark.operators.tiling import from_pixel_table
    from raquet_spark.testing import make_synthetic_raster

    tiles, meta = make_synthetic_raster(spark, zoom=6, tiles_x=2, tiles_y=2,
                                        block_size=16, nodata=-1.0,
                                        nodata_every=5)
    px = to_pixel_table(tiles, meta)
    back = from_pixel_table(px, meta)

    want = {r["block"]: bytes(r["band_1"]) for r in tiles.collect()}
    got = {r["block"]: bytes(r["band_1"]) for r in back.collect()}
    assert set(got) == set(want)
    # decoded float64 pixel values in the pixel table round-trip exactly
    # through the float32 band dtype, so blobs must match byte-for-byte
    assert got == want


def test_downsample_kernels_nodata_masked():
    import numpy as np

    from raquet_spark.operators.pyramid import _downsample

    nd = -1.0
    block = np.array(
        [[1.0, 2.0, nd, nd],
         [3.0, 8.0, nd, 4.0],
         [5.0, 5.0, 0.0, 10.0],
         [5.0, 7.0, 20.0, 30.0]], dtype="f4")
    # windows: [1,2,3,8], [nd,nd,nd,4], [5,5,5,7], [0,10,20,30]
    assert np.allclose(_downsample(block, "max", nd),
                       [[8.0, 4.0], [7.0, 30.0]])
    assert np.allclose(_downsample(block, "min", nd),
                       [[1.0, 4.0], [5.0, 0.0]])
    assert np.allclose(_downsample(block, "med", nd),
                       [[2.5, 4.0], [5.0, 15.0]])
    assert np.allclose(_downsample(block, "q1", nd),
                       [[1.75, 4.0], [5.0, 7.5]])
    assert np.allclose(_downsample(block, "q3", nd),
                       [[4.25, 4.0], [5.5, 22.5]])
    assert np.allclose(_downsample(block, "bilinear", nd),
                       [[3.5, 4.0], [5.5, 15.0]])
    # all-nodata window stays nodata
    allnd = np.full((2, 2), nd, dtype="f4")
    for m in ("max", "min", "med", "q1", "q3", "bilinear"):
        assert _downsample(allnd, m, nd)[0, 0] == nd
    # integer dtype rounds via rint
    iblock = np.array([[1, 2], [3, 5]], dtype="u1")
    assert _downsample(iblock, "med", None)[0, 0] == 2  # rint(2.5) -> 2
    assert _downsample(iblock, "bilinear", None)[0, 0] == 3  # rint(2.75)


def test_build_level_max_kernel(spark):
    import numpy as np

    from raquet_spark.functions.bands import decode_block
    from raquet_spark.operators.pyramid import build_level
    from raquet_spark.testing import make_synthetic_raster

    tiles, meta = make_synthetic_raster(
        spark, zoom=5, tiles_x=2, tiles_y=2, origin_x=10, origin_y=12,
        block_size=16, num_bands=1, dtype="float32", nodata=-1.0,
        nodata_every=7,
    )
    rows = {r["block"]: r["band_1"] for r in tiles.collect()}
    parent = build_level(tiles, meta, child_zoom=5, resampling="max").collect()
    assert len(parent) == 1
    got = decode_block(parent[0]["band_1"], "float32").reshape(16, 16)
    # oracle: assemble the 32x32 mosaic from children, nanmax each 2x2
    from raquet_spark.functions.quadbin import py_cell_to_tile

    mosaic = np.full((32, 32), np.nan)
    for blk, blob in rows.items():
        tx, ty, _ = py_cell_to_tile(blk)
        t = decode_block(blob, "float32").reshape(16, 16).astype("f8")
        t[t == -1.0] = np.nan
        mosaic[(ty & 1) * 16:(ty & 1) * 16 + 16,
               (tx & 1) * 16:(tx & 1) * 16 + 16] = t
    q = mosaic.reshape(16, 2, 16, 2).swapaxes(1, 2).reshape(16, 16, 4)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        want = np.nanmax(q, axis=2)
    want = np.where(np.isnan(want), -1.0, want).astype("f4")
    assert np.array_equal(got, want)


def test_align_upsample_roundtrip(spark):
    """up 2 zooms (replicate) then down 2 zooms (average of equal
    values) restores the original raster byte-for-byte; no shuffle on
    the way up."""
    from raquet_spark.operators.align import align_to_zoom

    tiles, meta = make_synthetic_raster(
        spark, zoom=5, tiles_x=2, tiles_y=2, origin_x=10, origin_y=12,
        block_size=16, num_bands=1, dtype="float32", nodata=-1.0,
        nodata_every=7,
    )
    up, up_meta = align_to_zoom(tiles, meta, 7)
    assert up_meta["tiling"]["max_zoom"] == 7
    # map-only: no Exchange in the upsample plan
    plan = up._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    up_rows = up.collect()
    assert len(up_rows) == 4 * 16  # 4 tiles x 4^2 children
    zooms = {qb.py_cell_to_tile(r["block"])[2] for r in up_rows}
    assert zooms == {7}

    down, down_meta = align_to_zoom(up, up_meta, 5, resampling="average")
    got = {r["block"]: decode_block(r["band_1"], "float32")
           for r in down.collect()}
    want = {r["block"]: decode_block(r["band_1"], "float32")
            for r in tiles.collect()}
    assert got.keys() == want.keys()
    for blk in want:
        assert np.array_equal(got[blk], want[blk]), blk


def test_blocked_pyramid_matches_per_level(spark):
    """build_level (one level per pass) and build_pyramid (three levels
    per pass) both equal an independent numpy reference: the native
    tiles decoded into one mosaic, downsampled level by level, sliced at
    every parent some child row covers. The sparse grid leaves parents
    with 1-3 children, and tile (70, 81) — alone under its z7 parent —
    has a null band blob: the parent still exists, all fill."""
    from raquet_spark.operators.pyramid import _downsample, build_level

    z, bs, nd = 8, 32, -1.0
    tiles, meta = make_synthetic_raster(
        spark, zoom=z, tiles_x=5, tiles_y=4, origin_x=66, origin_y=81,
        block_size=bs, num_bands=1, dtype="float32", nodata=nd,
        nodata_every=11,
    )
    null_cell = qb.py_tile_to_cell(70, 81, z)
    tiles = tiles.where(
        f"block != {qb.py_tile_to_cell(67, 83, z)}"
    ).withColumn(
        "band_1",
        F.when(F.col("block") == null_cell, F.lit(None).cast("binary"))
        .otherwise(F.col("band_1")),
    ).localCheckpoint(True)

    # reference: one native mosaic over the z5-aligned extent, fill where
    # no tile (or a null blob) supplies pixels
    rows = tiles.collect()
    cells = [qb.py_cell_to_tile(r["block"])[:2] for r in rows]
    x0 = min(x for x, _ in cells) >> 3 << 3
    y0 = min(y for _, y in cells) >> 3 << 3
    n = ((max(x for x, _ in cells) >> 3) - (x0 >> 3) + 1) * 8
    m = ((max(y for _, y in cells) >> 3) - (y0 >> 3) + 1) * 8
    mosaic = np.full((m * bs, n * bs), nd, dtype="f4")
    for (x, y), r in zip(cells, rows):
        if r["band_1"] is not None:
            mosaic[(y - y0) * bs:(y - y0 + 1) * bs, (x - x0) * bs:(x - x0 + 1) * bs] = (
                decode_block(r["band_1"], "float32").reshape(bs, bs)
            )
    want = {}
    for j in range(1, 4):
        mosaic = _downsample(mosaic, "average", nd)
        for px, py in {(x >> j, y >> j) for x, y in cells}:
            ox, oy = px - (x0 >> j), py - (y0 >> j)
            want[qb.py_tile_to_cell(px, py, z - j)] = (
                mosaic[oy * bs:(oy + 1) * bs, ox * bs:(ox + 1) * bs].ravel()
            )
    assert qb.py_tile_to_cell(35, 40, z - 1) in want

    def decoded(df):
        return {
            r["block"]: decode_block(r["band_1"], "float32")
            for r in df.select("block", "band_1").collect()
            if qb.py_cell_to_tile(r["block"])[2] < z
        }

    cur, per_level = tiles, []
    for cz in range(z, z - 3, -1):
        cur = build_level(cur, meta, cz, "average").localCheckpoint(True)
        per_level.append(cur)
    got_level = {}
    for lv in per_level:
        got_level.update(decoded(lv))
    got_pyramid = decoded(
        build_pyramid(tiles, meta, min_zoom=z - 3, resampling="average")[0]
    )
    for got in (got_level, got_pyramid):
        assert got.keys() == want.keys()
        for cell, arr in want.items():
            np.testing.assert_array_equal(got[cell], arr)


def test_clip_to_polygon_matches_region_stats(spark):
    """ST_Clip parity: stats over the clipped raster equal the masked
    region stats (same polygon, same pixels)."""
    from raquet_spark.operators.region_stats import (
        clip_to_polygon, region_stats_polygon,
    )
    from raquet_spark.queries import _make_raster, _query_polygon

    tiles, meta = _make_raster(spark)
    poly = _query_polygon()
    stats = with_tile_stats(tiles, meta)
    want = region_stats_polygon(stats, meta, poly).collect()[0]

    clipped = clip_to_polygon(tiles, meta, poly)
    cs = with_tile_stats(clipped, meta)
    from raquet_spark.operators.region_stats import aggregate_band_stats

    got = aggregate_band_stats(cs, "band_1").collect()[0]
    assert got["count"] == want["count"]
    assert got["min"] == want["min"] and got["max"] == want["max"]
    assert abs(got["sum"] - want["sum"]) < 1e-6
    assert abs(got["mean"] - want["mean"]) < 1e-9
    assert abs(got["stddev"] - want["stddev"]) < 1e-9
    # interior tiles must be byte-identical pass-throughs
    src = {r["block"]: bytes(r["band_1"]) for r in tiles.collect()}
    n_same = sum(
        1 for r in clipped.collect() if bytes(r["band_1"]) == src[r["block"]]
    )
    assert n_same >= 1


def test_rasterize_polygon_matches_numpy(spark):
    """Vector→raster burn: every emitted tile's pixels equal a direct
    numpy even-odd test at the pixel centers; tiles with no interior
    pixel are absent; re-clipping the burned raster by the same polygon
    keeps every burned pixel (interop with the raster→vector side)."""
    import numpy as np

    from raquet_spark.functions import geom
    from raquet_spark.functions.bands import decode_block
    from raquet_spark.functions.quadbin import py_cell_to_tile
    from raquet_spark.operators.tiling import rasterize_polygon

    poly = [(-10.0, -8.0), (15.0, 20.0), (-18.0, 12.0)]
    tiles, meta = rasterize_polygon(spark, poly, zoom=6, block_size=16)
    rows = tiles.collect()
    assert len(rows) > 4

    verts = geom.poly_to_fractions(poly)
    n, bs = 64, 16
    npix = n * bs
    total_burn = 0
    for r in rows:
        tx, ty, _ = py_cell_to_tile(r["block"])
        px = (np.arange(bs) + 0.5) / npix
        gx, gy = np.meshgrid(tx * bs / npix + px, ty * bs / npix + px)
        want = geom.point_in_poly_np(gx, gy, verts)
        got = decode_block(r["band_1"], "uint8").reshape(bs, bs)
        np.testing.assert_array_equal(got, want.astype(np.uint8))
        assert want.any()  # empty tiles must not be emitted
        total_burn += int(want.sum())
    assert total_burn > 100


def test_rasterize_features_painters_order(spark):
    """Vector-table rasterization: per-feature tile cover → one shuffle
    on block → painter's-order burn; pixels equal the sequential numpy
    reference including the overlap where the later feature wins."""
    import numpy as np
    import pandas as pd

    from raquet_spark.functions import geom
    from raquet_spark.functions.bands import decode_block
    from raquet_spark.functions.quadbin import py_cell_to_tile
    from raquet_spark.operators.tiling import rasterize_features

    tri = [(-10.0, -8.0), (15.0, 20.0), (-18.0, 12.0)]
    box = [(0.0, 0.0), (9.0, 0.0), (9.0, 9.0), (0.0, 9.0)]
    feats = spark.createDataFrame(
        pd.DataFrame(
            {
                "feature_id": [1, 2],
                "polygon": [
                    [{"lon": x, "lat": y} for x, y in tri],
                    [{"lon": x, "lat": y} for x, y in box],
                ],
                "value": [3.0, 7.0],
            }
        )
    )
    tiles, meta = rasterize_features(feats, zoom=6, block_size=16)
    rows = tiles.collect()
    assert len(rows) > 5

    n, bs = 64, 16
    npix = n * bs
    saw3 = saw7 = False
    for r in rows:
        tx, ty, _ = py_cell_to_tile(r["block"])
        px = (np.arange(bs) + 0.5) / npix
        gx, gy = np.meshgrid(tx * bs / npix + px, ty * bs / npix + px)
        want = np.zeros((bs, bs))
        for poly, v in ((tri, 3.0), (box, 7.0)):
            inside = geom.point_in_poly_np(gx, gy, geom.poly_to_fractions(poly))
            want[inside] = v
        got = decode_block(r["band_1"], "float32").reshape(bs, bs)
        np.testing.assert_array_equal(got, want)
        saw3 |= bool((got == 3).any())
        saw7 |= bool((got == 7).any())
    assert saw3 and saw7


def test_rasterize_out_of_range_and_rect_blocks(spark):
    """Polar vertices clamp to the mercator grid (no negative tile
    coords / garbage block ids), features fully outside emit nothing,
    and rectangular blocks rasterize with per-axis resolution."""
    import pandas as pd
    import numpy as np

    from raquet_spark.functions.quadbin import py_cell_to_tile
    from raquet_spark.functions.bands import decode_block
    from raquet_spark.operators.tiling import rasterize_features

    polar = [{"lon": -5.0, "lat": 89.0}, {"lon": 5.0, "lat": 89.0},
             {"lon": 0.0, "lat": 80.0}]
    feats = spark.createDataFrame(
        pd.DataFrame({"feature_id": [1], "polygon": [polar], "value": [1.0]})
    )
    tiles, meta = rasterize_features(feats, zoom=4, block_size=8)
    for r in tiles.collect():
        tx, ty, tz = py_cell_to_tile(r["block"])
        assert 0 <= tx < 16 and 0 <= ty < 16 and tz == 4

    # rectangular blocks: 16x8 tiles still match the numpy reference
    box = [{"lon": 0.0, "lat": 0.0}, {"lon": 30.0, "lat": 0.0},
           {"lon": 30.0, "lat": 25.0}, {"lon": 0.0, "lat": 25.0}]
    f2 = spark.createDataFrame(
        pd.DataFrame({"feature_id": [1], "polygon": [box], "value": [5.0]})
    )
    tiles2, meta2 = rasterize_features(
        f2, zoom=4, block_size=16, block_height=8
    )
    rows = tiles2.collect()
    assert rows and meta2["tiling"]["block_height"] == 8
    from raquet_spark.functions import geom

    verts = geom.poly_to_fractions([(p["lon"], p["lat"]) for p in box])
    n, bw, bh = 16, 16, 8
    for r in rows:
        tx, ty, _ = py_cell_to_tile(r["block"])
        px = (np.arange(bw) + 0.5) / (n * bw)
        py = (np.arange(bh) + 0.5) / (n * bh)
        gx, gy = np.meshgrid(tx * bw / (n * bw) + px, ty * bh / (n * bh) + py)
        want = np.where(geom.point_in_poly_np(gx, gy, verts), 5.0, 0.0)
        got = decode_block(r["band_1"], "float32").reshape(bh, bw)
        np.testing.assert_array_equal(got, want)
    # metadata reflects the feature extent, not the world
    w, s, e, nn = meta2["bounds"]
    assert -1 < w < 1 and 29 < e < 31


def test_wkt_polygon_ingestion(spark):
    """WKT interop: the strict driver-side parse round-trips, gates
    multi-ring shapes, and the Column-expression ring parser feeds
    rasterize_features with byte-identical output to struct-built
    features."""
    import pytest
    from pyspark.sql import functions as F

    from raquet_spark.functions.geom import parse_wkt_polygon, wkt_ring_expr
    from raquet_spark.operators.tiling import rasterize_features

    w = "POLYGON ((-10.0 5.0, -10.0 9.0, -2.0 9.0, -2.0 5.0, -10.0 5.0))"
    assert parse_wkt_polygon(w) == [
        (-10.0, 5.0), (-10.0, 9.0), (-2.0, 9.0), (-2.0, 5.0)
    ]
    with pytest.raises(ValueError, match="MULTIPOLYGON"):
        parse_wkt_polygon("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))")
    with pytest.raises(ValueError, match="rings"):
        parse_wkt_polygon(
            "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 3 2, 3 3, 2 2))"
        )
    with pytest.raises(ValueError, match="3 distinct"):
        parse_wkt_polygon("POLYGON ((0 0, 1 1, 0 0))")

    wkts = spark.createDataFrame(
        [
            (1, "POLYGON ((-10 5, -10 9, -2 9, -2 5, -10 5))", 7.0),
            (2, "POLYGON ((-8 6, -8 12, -1 12, -1 6, -8 6))", 9.0),
        ],
        "feature_id long, wkt string, value double",
    )
    feats_wkt = wkts.select(
        "feature_id",
        F.expr(wkt_ring_expr("wkt")).alias("polygon"),
        "value",
    )
    feats_struct = wkts.select(
        "feature_id",
        F.udf(lambda s: parse_wkt_polygon(s),
              "array<struct<lon double, lat double>>")("wkt").alias("polygon"),
        "value",
    )
    # the expr variant keeps the closing vertex; containment treats the
    # degenerate edge as a no-op, so burns must be identical
    t1, m1 = rasterize_features(feats_wkt, zoom=6, block_size=64)
    t2, m2 = rasterize_features(feats_struct, zoom=6, block_size=64)
    r1 = {r["block"]: bytes(r["band_1"]) for r in t1.collect()}
    r2 = {r["block"]: bytes(r["band_1"]) for r in t2.collect()}
    assert r1 == r2 and len(r1) > 0


def test_polygon_operators_accept_wkt(spark):
    """region_stats_polygon / clip_to_polygon / rasterize_polygon take
    a WKT string interchangeably with vertex lists — identical
    results."""
    from raquet_spark.operators.region_stats import (
        clip_to_polygon,
        region_stats_polygon,
    )
    from raquet_spark.operators.tile_stats import with_tile_stats
    from raquet_spark.operators.tiling import rasterize_polygon
    from raquet_spark.testing import make_synthetic_raster

    tiles, meta = make_synthetic_raster(
        spark, zoom=6, tiles_x=4, tiles_y=4, origin_x=16, origin_y=20,
        block_size=32, num_bands=1, dtype="float32", nodata=-1.0,
    )
    tiles = with_tile_stats(tiles, meta)
    poly = [(-95.0, 30.0), (-95.0, 45.0), (-75.0, 45.0), (-75.0, 30.0)]
    wkt = "POLYGON ((-95 30, -95 45, -75 45, -75 30, -95 30))"

    a = region_stats_polygon(tiles, meta, poly).collect()
    b = region_stats_polygon(tiles, meta, wkt).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b] and len(a) == 1

    ca = {r["block"] for r in clip_to_polygon(tiles, meta, poly).collect()}
    cb = {r["block"] for r in clip_to_polygon(tiles, meta, wkt).collect()}
    assert ca == cb and len(ca) > 0

    ra, _ = rasterize_polygon(spark, poly, zoom=5, block_size=32)
    rb, _ = rasterize_polygon(spark, wkt, zoom=5, block_size=32)
    da = {r["block"]: bytes(r["band_1"]) for r in ra.collect()}
    db = {r["block"]: bytes(r["band_1"]) for r in rb.collect()}
    assert da == db and len(da) > 0


def test_zonal_stats_empty_and_large_zone_sets(spark, raster2):
    """Review r14 regressions on the literal-explode zone map: (a) an
    EMPTY zones list must return an empty typed result, not an
    AnalysisException from a VOID-element literal array; (b) a zone
    set whose cover exceeds the literal-inlining cutoff must take the
    parallelize fallback and produce identical results to the literal
    path (pinned by comparing a duplicated-zone query against the
    single-zone literal answer)."""
    from raquet_spark.operators.region_stats import zonal_stats
    from raquet_spark.operators.tile_stats import with_tile_stats

    tiles, meta = raster2
    stats = with_tile_stats(tiles, meta)

    out = zonal_stats(stats, meta, [], band="band_1", resolution="max")
    assert out.collect() == []
    assert [f.name for f in out.schema.fields[:3]] == [
        "zone_id", "count", "min",
    ]

    w, s, _, _ = qb.py_cell_to_bounds(qb.py_tile_to_cell(TX, TY + 1, Z))
    _, _, e, n = qb.py_cell_to_bounds(qb.py_tile_to_cell(TX + 1, TY, Z))
    pad_x, pad_y = (e - w) * 0.05, (n - s) * 0.05
    bbox = (w + pad_x, s + pad_y, e - pad_x, n - pad_y)
    one = {
        r["zone_id"]: (r["count"], r["sum"])
        for r in zonal_stats(stats, meta, [("z0", bbox)],
                             band="band_1").collect()
    }
    # 600 copies of the zone x 4 cover cells = 2400 (zone, block) rows,
    # past the 1024 literal cutoff -> createDataFrame fallback
    many = [(f"z{i}", bbox) for i in range(600)]
    got = {
        r["zone_id"]: (r["count"], r["sum"])
        for r in zonal_stats(stats, meta, many, band="band_1").collect()
    }
    assert len(got) == 600
    assert all(v == one["z0"] for v in got.values())
