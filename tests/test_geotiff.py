"""GeoTIFF export round trip: tiles → .tif → parse → compare against the
independent numpy mosaic, and re-import through the pixel-table → tiler
path to confirm byte-identical tiles."""

from __future__ import annotations

import math

import numpy as np
import pytest

from raquet_spark.functions.bands import decode_block
from raquet_spark.operators.export import to_numpy_mosaic, to_pixel_table
from raquet_spark.operators.tiling import from_pixel_table
from raquet_spark.sources.geotiff import read_geotiff, write_geotiff
from raquet_spark.testing import make_synthetic_raster

_EARTH_R = 6378137.0
_ORIGIN_SHIFT = math.pi * _EARTH_R


@pytest.fixture(scope="module")
def raster(spark):
    return make_synthetic_raster(
        spark, zoom=6, tiles_x=3, tiles_y=2, origin_x=16, origin_y=20,
        block_size=16, dtype="float32", nodata=-1.0, nodata_every=7,
    )


def test_geotiff_matches_mosaic(spark, raster, tmp_path):
    tiles, meta = raster
    path = str(tmp_path / "out.tif")
    info = write_geotiff(tiles, meta, path)

    arr, geo = read_geotiff(path)
    assert arr.shape == (info["height"], info["width"], 1)
    assert arr.dtype == np.dtype("<f4")

    mosaic, _ = to_numpy_mosaic(tiles, meta, "band_1")
    np.testing.assert_array_equal(arr[:, :, 0].astype("f8"), mosaic)

    # georeferencing: tile-grid mercator placement, EPSG:3857 geokey
    tile_m = 2.0 * _ORIGIN_SHIFT / (1 << 6)
    assert geo["pixel_scale"][0] == pytest.approx(tile_m / 16)
    assert geo["tiepoint"][3] == pytest.approx(-_ORIGIN_SHIFT + 16 * tile_m)
    assert geo["tiepoint"][4] == pytest.approx(_ORIGIN_SHIFT - 20 * tile_m)
    keys = geo["geokeys"]
    assert 3857 in keys and 1024 in keys
    assert float(geo["nodata"]) == -1.0


def test_geotiff_missing_tile_rows_filled(spark, raster, tmp_path):
    tiles, meta = raster
    # drop the whole middle tile column and one full tile row
    from raquet_spark.functions import quadbin as qb
    src = qb.with_tile(tiles, "block")
    kept = src.where("qb_x != 17 AND qb_y != 21").drop("qb_x", "qb_y", "qb_z")
    path = str(tmp_path / "sparse.tif")
    info = write_geotiff(kept, meta, path, bands=["band_1"])
    arr, _ = read_geotiff(path)
    # dropped row collapses the extent: qb_y 21 dropped entirely → only
    # row 20 remains; dropped column 17 is interior → nodata-filled
    assert info["n_strips"] == 1
    assert np.all(arr[:, 16:32, 0] == -1.0)
    assert not np.all(arr[:, 0:16, 0] == -1.0)


def test_geotiff_strip_stage_runs_once(spark, raster, tmp_path, next_job_id):
    """The strips reach the driver in file order without a sort: two
    jobs for the max-zoom extent, then the range sample of the tile
    rows, the tile-row exchange and the strip stage (5 jobs). Sorting
    the encoded strips ran the Python strip stage twice, once for the
    sort's range sample and once for its exchange: 6 jobs here."""
    tiles, meta = raster
    path = str(tmp_path / "jobs.tif")
    j0 = next_job_id()
    write_geotiff(tiles, meta, path)
    assert next_job_id() - j0 == 5


def test_geotiff_unordered_segments_raise(spark):
    """The single-file writers stream segments as they arrive; a source
    out of key order is an error, not a silently scrambled file."""
    from raquet_spark.sources.geotiff import _ordered_segments

    segs = spark.createDataFrame(
        [(1, b"b"), (0, b"a")], "strip bigint, data binary"
    ).coalesce(1)
    with pytest.raises(ValueError, match="out of strip order"):
        list(_ordered_segments(segs, "strip", 2, b"-"))


def test_geotiff_partial_file_removed_on_failure(spark, raster, tmp_path, monkeypatch):
    """The compressed path can only hit the classic-TIFF 4GB limit
    mid-stream; a failure inside the strip writer must not leave a
    truncated .tif behind."""
    import os

    import raquet_spark.sources.geotiff as gt

    def exploding_body(path, *a, **k):
        with open(path, "wb") as f:
            f.write(b"II*\x00partial")
        raise ValueError("payload exceeds the classic-TIFF 4GB offset limit")

    monkeypatch.setattr(gt, "_write_singlefile_body", exploding_body)
    tiles, meta = raster
    path = str(tmp_path / "truncated.tif")
    with pytest.raises(ValueError, match="4GB"):
        gt.write_geotiff(tiles, meta, path)
    assert not os.path.exists(path)


def test_geotiff_reimport_byte_identical(spark, raster, tmp_path):
    tiles, meta = raster
    path = str(tmp_path / "rt.tif")
    write_geotiff(tiles, meta, path)
    arr, geo = read_geotiff(path)

    # rebuild a pixel table from the parsed TIFF (gx/gy from the tile
    # origin used by the synthetic raster) and re-tile it
    bw = meta["tiling"]["block_width"]
    h, w, _ = arr.shape
    gys, gxs = np.mgrid[0:h, 0:w]
    pdf = spark.createDataFrame(
        [
            (int(gx + 16 * bw), int(gy + 20 * bw), float(v))
            for gx, gy, v in zip(gxs.ravel(), gys.ravel(), arr[:, :, 0].ravel())
        ],
        "gx bigint, gy bigint, band_1 double",
    )
    retiled = from_pixel_table(pdf, meta, compression=None)

    orig = {
        r["block"]: decode_block(r["band_1"], "float32")
        for r in tiles.where("block != 0").collect()
    }
    new = {
        r["block"]: decode_block(r["band_1"], "float32")
        for r in retiled.collect()
    }
    assert orig.keys() == new.keys()
    for k in orig:
        np.testing.assert_array_equal(orig[k], new[k])


def test_geotiff_multiband_interleave(spark, tmp_path):
    tiles, meta = make_synthetic_raster(
        spark, zoom=5, tiles_x=2, tiles_y=2, origin_x=4, origin_y=6,
        block_size=8, num_bands=3, dtype="int16",
    )
    path = str(tmp_path / "mb.tif")
    info = write_geotiff(tiles, meta, path)
    assert info["nbands"] == 3
    arr, _ = read_geotiff(path)
    assert arr.shape == (16, 16, 3)
    assert arr.dtype == np.dtype("<i2")
    for bi, band in enumerate(["band_1", "band_2", "band_3"]):
        mosaic, _ = to_numpy_mosaic(tiles, meta, band)
        np.testing.assert_array_equal(arr[:, :, bi].astype("f8"), mosaic)


def test_geotiff_from_interleaved_layout(spark, tmp_path):
    """Interleaved (BIP pixels column) datasets export transparently —
    the writer bridges through to_sequential."""
    from raquet_spark.operators.layout import to_interleaved

    tiles, meta = make_synthetic_raster(
        spark, zoom=5, tiles_x=2, tiles_y=2, origin_x=4, origin_y=6,
        block_size=8, num_bands=3, dtype="uint8",
    )
    inter, meta_i = to_interleaved(tiles, meta, compression="gzip")
    path = str(tmp_path / "bip.tif")
    info = write_geotiff(inter, meta_i, path)
    assert info["nbands"] == 3
    arr, _ = read_geotiff(path)
    for bi, band in enumerate(["band_1", "band_2", "band_3"]):
        mosaic, _ = to_numpy_mosaic(tiles, meta, band)
        np.testing.assert_array_equal(arr[:, :, bi].astype("f8"), mosaic)


@pytest.mark.parametrize("compression", ["lzw", "deflate"])
def test_geotiff_export_compressed(spark, raster, tmp_path, compression):
    """LZW/deflate strip compression (executor-side) decodes back to the
    exact uncompressed pixels; tag 259 records the codec."""
    from raquet_spark.sources.geotiff import read_ifd

    tiles, meta = raster
    plain = str(tmp_path / "plain.tif")
    comp = str(tmp_path / f"{compression}.tif")
    write_geotiff(tiles, meta, plain)
    write_geotiff(tiles, meta, comp, compression=compression)

    a0, _ = read_geotiff(plain)
    a1, _ = read_geotiff(comp)
    np.testing.assert_array_equal(a0, a1)
    raw = open(comp, "rb").read()
    assert read_ifd(raw)[259][0] == {"lzw": 5, "deflate": 8}[compression]
    # the point of compressing: the file actually shrank
    import os
    assert os.path.getsize(comp) < os.path.getsize(plain)


def test_geotiff_overview_ifds(spark, tmp_path):
    """include_overviews chains the RaQuet pyramid levels as
    reduced-resolution IFDs (reference: raquet2geotiff.py:363); each
    level parses back to the same pixels as the pyramid tiles."""
    from raquet_spark.operators.pyramid import build_levels_blocked
    from raquet_spark.sources.geotiff import ifd_offsets, read_ifd

    tiles, meta = make_synthetic_raster(
        spark, zoom=6, tiles_x=4, tiles_y=2, origin_x=16, origin_y=20,
        block_size=16, dtype="float32", nodata=-1.0, nodata_every=7,
    )
    levels = build_levels_blocked(tiles, meta, 6, 4, "average")
    full = tiles.unionByName(levels)
    path = str(tmp_path / "ovr.tif")
    info = write_geotiff(full, meta, path, include_overviews=True)
    assert [o["level"] for o in info["overviews"]] == [5, 4]

    raw = open(path, "rb").read()
    offs = ifd_offsets(raw)
    assert len(offs) == 3
    # overview IFDs carry NewSubfileType=1; the primary does not
    assert 254 not in read_ifd(raw, offs[0])
    assert read_ifd(raw, offs[1])[254][0] == 1

    import copy

    from raquet_spark.functions import quadbin as qb

    for idx, z in enumerate([6, 5, 4]):
        arr, geo = read_geotiff(path, ifd_index=idx)
        meta_z = copy.deepcopy(meta)
        meta_z["tiling"]["max_zoom"] = z
        zdf = qb.with_tile(full, "block").where(f"qb_z = {z}").drop(
            "qb_x", "qb_y", "qb_z"
        )
        mosaic, _ = to_numpy_mosaic(zdf, meta_z, "band_1")
        assert arr.shape[0] == mosaic.shape[0] and arr.shape[1] == mosaic.shape[1]
        np.testing.assert_array_equal(arr[:, :, 0].astype("f8"), mosaic)
        # georeferencing: pixel scale doubles per level, same UL corner
        tile_m = 2.0 * _ORIGIN_SHIFT / (1 << z)
        assert geo["pixel_scale"][0] == pytest.approx(tile_m / 16)
        assert geo["tiepoint"][3] == pytest.approx(
            -_ORIGIN_SHIFT + (16 >> (6 - z)) * tile_m
        )


def test_geotiff_4gb_guard(spark, raster):
    """Payloads past the classic-TIFF 32-bit offset range fail fast with
    a clear error, before any bytes stream."""
    tiles, meta = raster
    import copy
    big = copy.deepcopy(meta)
    # pretend tiles are 2^16 px wide: 3 tiles x 64k x 32 rows x f4 ≈ 24 GB
    big["tiling"]["block_width"] = 1 << 16
    big["tiling"]["block_height"] = 1 << 15
    with pytest.raises(ValueError, match="4GB"):
        write_geotiff(tiles, big, "/tmp/never_written.tif")


def test_geotiff_sharded_matches_single_file(spark, raster, tmp_path):
    """Executor-written shards concatenate to the same pixels as the
    single-file export; each shard is a valid standalone GeoTIFF with
    row-shifted georeferencing."""
    from raquet_spark.sources.geotiff import write_geotiff_sharded

    tiles, meta = raster
    single = str(tmp_path / "single.tif")
    write_geotiff(tiles, meta, single)
    a_single, _ = read_geotiff(single)

    out = str(tmp_path / "shards")
    info = write_geotiff_sharded(
        tiles, meta, out, compression="deflate", rows_per_shard=1
    )
    assert len(info["shards"]) == 2  # raster fixture has 2 tile rows
    parts = []
    for sh in info["shards"]:
        arr, geo = read_geotiff(sh["path"])
        assert geo["tiepoint"][4] == pytest.approx(sh["uly"])
        parts.append(arr)
    np.testing.assert_array_equal(np.concatenate(parts, axis=0), a_single)


def test_geotiff_sharded_pyramid_exports_max_zoom(spark, raster, tmp_path):
    """A pyramid table (native tiles + overview levels) exports only its
    max zoom through the sharded writer, exactly like the single-file
    writer: the shards concatenate to the single-file raster."""
    from raquet_spark.operators.pyramid import build_pyramid
    from raquet_spark.sources.geotiff import write_geotiff_sharded

    tiles, meta = raster
    pyr, pmeta = build_pyramid(tiles, meta, 4)
    single = str(tmp_path / "single.tif")
    write_geotiff(pyr, pmeta, single)
    a_single, _ = read_geotiff(single)
    assert a_single.shape == (32, 48, 1)

    info = write_geotiff_sharded(
        pyr, pmeta, str(tmp_path / "shards"), rows_per_shard=1
    )
    assert (info["width"], info["height"]) == (48, 32)
    parts = [read_geotiff(sh["path"])[0] for sh in info["shards"]]
    np.testing.assert_array_equal(np.concatenate(parts, axis=0), a_single)


def test_geotiff_writers_empty_input_error(spark, raster, tmp_path):
    """Every writer rejects a table with no max-zoom tiles with the same
    named error."""
    from raquet_spark.sources.geotiff import write_geotiff_cog, write_geotiff_sharded

    tiles, meta = raster
    empty = tiles.where("block = 0")
    for write, out in [
        (write_geotiff, "e.tif"),
        (write_geotiff_cog, "e_cog.tif"),
        (write_geotiff_sharded, "e_shards"),
    ]:
        with pytest.raises(ValueError, match="no tiles at max zoom to export"):
            write(empty, meta, str(tmp_path / out))


def test_geotiff_cog_layout_and_roundtrip(spark, tmp_path):
    """COG export: tiled IFDs at the file head, overview data before
    full-res data, blocks map 1:1 to TIFF tiles; re-ingest through the
    tiled reader is byte-identical."""
    import zlib

    from raquet_spark.functions import quadbin as qb
    from raquet_spark.operators.pyramid import build_levels_blocked
    from raquet_spark.sources.geotiff import ifd_offsets, read_ifd, write_geotiff_cog
    from raquet_spark.sources.tiff_reader import geotiff_to_raquet, read_tiff_structure

    tiles, meta = make_synthetic_raster(
        spark, zoom=6, tiles_x=4, tiles_y=2, origin_x=16, origin_y=20,
        block_size=16, dtype="float32", nodata=-1.0, nodata_every=7,
    )
    levels = build_levels_blocked(tiles, meta, 6, 5, "average")
    full = tiles.unionByName(levels)
    path = str(tmp_path / "cog.tif")
    info = write_geotiff_cog(full, meta, path, compression="deflate")
    assert info["cog"] and info["levels"] == [6, 5]

    raw = open(path, "rb").read()
    offs = ifd_offsets(raw)
    assert len(offs) == 2
    t0 = read_ifd(raw, offs[0])
    t1 = read_ifd(raw, offs[1])
    # tiled tags present, no strip tags
    assert 322 in t0 and 324 in t0 and 273 not in t0
    assert t0[322][0] == 16 and t0[256][0] == 64
    assert t1[254][0] == 1 and t1[256][0] == 32
    # COG order: every IFD byte precedes every tile byte, and the
    # overview's data precedes the full-res data
    assert max(offs) < min(t0[324]) and max(t1[324]) < min(t0[324])

    # full-res tile payloads decode to the original blocks 1:1
    from raquet_spark.functions.bands import decode_block

    src = {
        r["block"]: decode_block(r["band_1"], "float32")
        for r in tiles.where("block != 0").collect()
    }
    s = read_tiff_structure(path)
    assert s["tiled"]
    got_tiles, _m = geotiff_to_raquet(
        spark, path, zoom=6, block_size=16, dense=False, stats=False,
        compression=None,
    )
    got = {
        r["block"]: decode_block(r["band_1"], "float32")
        for r in got_tiles.collect()
        if r["block"] in src
    }
    assert set(got) == set(src)
    for k in src:
        np.testing.assert_array_equal(got[k], src[k])

    # spot-check one raw tile payload equals the re-encoded block bytes
    cell = qb.py_tile_to_cell(16, 20, 6)
    want = src[cell].astype("<f4").tobytes()
    assert zlib.decompress(raw[t0[324][0] : t0[324][0] + t0[325][0]]) == want
