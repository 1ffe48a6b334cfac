"""GDAL-free GeoTIFF export: RaQuet tiles → GeoTIFF files.

Reference parity: /root/reference/raquet/raquet2geotiff.py:84-277 mosaics
tiles into a GDAL GTiff dataset in a worker process (EPSG:3857,
block-aligned writes, per-band nodata). This module produces the same
kind of artifact without GDAL, through three writers:

* :func:`write_geotiff` — one striped file. Strip payloads are
  assembled DISTRIBUTED — one strip per tile row via ``applyInPandas``
  keyed by ``qb_y`` (:func:`strip_table`; full raster width ×
  ``block_height`` rows, pixel-interleaved across bands; the tile rows
  are range-partitioned first, so strips come out in file order and
  the strip stage runs once) — and the driver only streams the
  already-encoded strips to disk in order (``toLocalIterator``;
  bounded memory). Writing one .tif is inherently a single-file
  funnel, so the driver does no pixel math, only IO.
* :func:`write_geotiff_cog` — one tiled Cloud-Optimized GeoTIFF whose
  TIFF tiles are the RaQuet blocks (map-only encode, no shuffle).
* :func:`write_geotiff_sharded` — one striped file per group of tile
  rows, written executor-side (no driver pixel IO at all).

All three take ONE export plan (:func:`_export_plan`): interleaved →
sequential bands, the per-zoom split of the table, overview level
discovery, the max-zoom tile extent every level is anchored to (with
the named empty-input error), and the per-level geometry and nodata
fill segment. The single-file writers share one ordered
stream-with-fill loop (:func:`_ordered_segments`).

The output is classic little-endian TIFF (uncompressed, LZW or
deflate) with the GeoTIFF tags (ModelPixelScale, ModelTiepoint,
GeoKeyDirectory → EPSG:3857 projected, pixel-is-area) and GDAL's ASCII
nodata tag. Georeferencing is derived exactly from the tile grid
(web-mercator tile math), matching the reference's
``mercantile.xy_bounds``-based placement.
"""

from __future__ import annotations

import contextlib
import copy
import functools
import itertools
import math
import os
import struct
from collections.abc import Iterable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raquet_spark.core.metadata import parse_nodata
from raquet_spark.functions import quadbin as qb
from raquet_spark.functions.bands import DTYPES, decode_block
from raquet_spark.plans.shape import pin_group_width

_EARTH_R = 6378137.0
_ORIGIN_SHIFT = math.pi * _EARTH_R

# TIFF type codes
_T_SHORT, _T_LONG, _T_DOUBLE, _T_ASCII = 3, 4, 12, 2

# numpy kind -> TIFF SampleFormat (1 unsigned, 2 signed, 3 IEEE float)
_SAMPLE_FORMAT = {"u": 1, "i": 2, "f": 3}


def _compress_strip(data: bytes, tiff_compression: str | None) -> bytes:
    if tiff_compression is None:
        return data
    if tiff_compression == "deflate":
        import zlib

        return zlib.compress(data, 6)
    if tiff_compression == "lzw":
        from raquet_spark.sources.lzw import lzw_encode

        return lzw_encode(data)
    raise ValueError(f"unsupported TIFF compression {tiff_compression!r}")


def _segment_bytes(arr: np.ndarray, tiff_compression: str | None) -> bytes:
    """One strip/tile payload: little-endian on disk regardless of host
    order, then compressed."""
    le = arr.astype(arr.dtype.newbyteorder("<"), copy=False)
    return _compress_strip(le.tobytes(), tiff_compression)


def _select_bands(
    metadata: dict, bands: list[str] | None
) -> list[tuple[str, str, float | None]]:
    """(name, type, nodata) of every exported band."""
    binfo = [
        (b["name"], b["type"], parse_nodata(b.get("nodata")))
        for b in metadata["bands"]
        if bands is None or b["name"] in bands
    ]
    if not binfo:
        raise ValueError("no bands selected")
    btypes = {bt for _, bt, _ in binfo}
    if len(btypes) > 1:
        # same constraint as the reference exporter (raquet2geotiff.py
        # "Expect just one band type")
        raise ValueError(f"mixed band types not supported in one TIFF: {btypes}")
    return binfo


def _level_info(
    binfo: list[tuple[str, str, float | None]],
    metadata: dict,
    extent: tuple[int, int, int, int],
) -> dict:
    """Raster geometry of the tile-grid ``extent`` ``(x0, y0, x1, y1)``
    (inclusive) at ``metadata``'s max zoom — what the TIFF header needs,
    for the strip layout (one strip per tile row) and the tiled layout
    (one TIFF tile per block) alike."""
    t = metadata["tiling"]
    z, bw, bh = t["max_zoom"], t["block_width"], t["block_height"]
    x0, y0, x1, y1 = extent
    ntx, nty = x1 - x0 + 1, y1 - y0 + 1
    nodata = binfo[0][2]
    tile_m = 2.0 * _ORIGIN_SHIFT / (1 << z)  # tile size in mercator meters
    return {
        "width": ntx * bw,
        "height": nty * bh,
        "n_strips": nty,
        "rows_per_strip": bh,
        "tile_width": bw,
        "tile_height": bh,
        "n_tiles": ntx * nty,
        "nbands": len(binfo),
        "band_type": binfo[0][1],
        "nodata": nodata,
        "ulx": -_ORIGIN_SHIFT + x0 * tile_m,
        "uly": _ORIGIN_SHIFT - y0 * tile_m,
        "xres": tile_m / bw,
        "yres": tile_m / bh,
        "fill": 0 if nodata is None else nodata,
    }


@dataclass
class _ExportLevel:
    """One zoom level of an export plan."""

    level: int
    df: DataFrame  # this zoom's tiles
    metadata: dict  # max_zoom = level
    extent: tuple[int, int, int, int]  # tile-grid extent, inclusive
    info: dict  # :func:`_level_info`
    segment_width: int  # pixels per fill segment row: strip or tile width
    compression: str | None

    @functools.cached_property
    def fill(self) -> bytes:
        """One all-nodata segment, encoded like the data segments. Built
        on first use, so size guards can run before a huge strip is
        allocated."""
        i = self.info
        return _segment_bytes(
            np.full(
                i["rows_per_strip"] * self.segment_width * i["nbands"],
                i["fill"],
                dtype=DTYPES[i["band_type"]],
            ),
            self.compression,
        )


def _export_plan(
    df: DataFrame,
    metadata: dict,
    bands: list[str] | None,
    compression: str | None,
    include_overviews: bool = False,
    tiled: bool = False,
) -> tuple[dict, list[_ExportLevel]]:
    """The export plan every writer takes: ``(metadata, levels)`` with
    sequential-layout ``metadata`` and one :class:`_ExportLevel` per
    exported zoom — the max zoom first, then (``include_overviews``)
    every lower zoom present in ``df``, highest first. RaQuet stores the
    pyramid in the same table, so lower zooms ARE the overview levels.

    Spark jobs: one tiny distinct over tile zooms when
    ``include_overviews``, then one min/max aggregation for the max-zoom
    extent. That extent anchors every level (``>> dz``), so all levels
    cover the same geographic window."""
    if metadata.get("band_layout") == "interleaved":
        # BIP pixels column → per-band columns first (map-only)
        from raquet_spark.operators.layout import to_sequential

        df, metadata = to_sequential(df, metadata, compression=None)
    binfo = _select_bands(metadata, bands)
    z = metadata["tiling"]["max_zoom"]
    zoom_col = F.expr(qb.cell_to_zoom_sql("block", "spark"))
    base = df.where(F.col("block") != 0).withColumn("_z", zoom_col)

    levels = [z]
    if include_overviews:
        avail = {int(r["_z"]) for r in base.select("_z").distinct().collect()}
        levels += sorted((lv for lv in avail if lv < z), reverse=True)

    ext_row = qb.with_tile(base.where(F.col("_z") == z), "block").agg(
        F.min("qb_x"), F.min("qb_y"), F.max("qb_x"), F.max("qb_y")
    ).first()
    if ext_row is None or ext_row[0] is None:
        raise ValueError("no tiles at max zoom to export")
    x0, y0, x1, y1 = (int(v) for v in ext_row)

    plan = []
    for lv in levels:
        dz = z - lv
        meta_lv = copy.deepcopy(metadata)
        meta_lv["tiling"]["max_zoom"] = lv
        extent = (x0 >> dz, y0 >> dz, x1 >> dz, y1 >> dz)
        info = _level_info(binfo, meta_lv, extent)
        plan.append(_ExportLevel(
            level=lv,
            df=base.where(F.col("_z") == lv).drop("_z"),
            metadata=meta_lv,
            extent=extent,
            info=info,
            segment_width=info["tile_width"] if tiled else info["width"],
            compression=compression,
        ))
    return metadata, plan


def strip_table(
    df: DataFrame,
    metadata: dict,
    extent: tuple[int, int, int, int],
    bands: list[str] | None = None,
    tiff_compression: str | None = None,
    ordered: bool = False,
) -> tuple[DataFrame, dict]:
    """Distributed strip assembly over the tile-grid ``extent``
    ``(x0, y0, x1, y1)`` (inclusive) of ``df``'s tiles at ``metadata``'s
    max zoom.

    Returns ``(strips, info)`` where ``strips`` has one row per tile row
    holding tiles — ``(strip bigint, data binary)``, ``strip`` counted
    from ``y0`` — and ``info`` is the :func:`_level_info` geometry.
    ``ordered=True`` range-partitions the tile rows before the Python
    stage, so the rows come out in ``strip`` order with no sort."""
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    binfo = _select_bands(metadata, bands)
    info = _level_info(binfo, metadata, extent)
    bw, bh = info["tile_width"], info["rows_per_strip"]
    width, nbands, fill = info["width"], info["nbands"], info["fill"]
    dt = np.dtype(DTYPES[info["band_type"]])
    x0, y0, x1, y1 = extent

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (qy,) = key
        # (bh, width, nbands) pixel-interleaved strip
        arr = np.full((bh, width, nbands), fill, dtype=dt)
        for row in pdf.to_dict("records"):
            ox = (int(row["qb_x"]) - x0) * bw
            for bi, (name, bt, _) in enumerate(binfo):
                tile = decode_block(row[name], bt).reshape(bh, bw)
                arr[:, ox : ox + bw, bi] = tile
        # strip payloads are compressed HERE, executor-side — the driver
        # only streams ready bytes
        data = _segment_bytes(arr, tiff_compression)
        return pd.DataFrame({"strip": [int(qy) - y0], "data": [data]})

    strips = (
        qb.with_tile(df.where(F.col("block") != 0), "block")
        .where((F.col("qb_x").between(x0, x1)) & (F.col("qb_y").between(y0, y1)))
        .transform(lambda d: pin_group_width(
            d, "qb_y",
            approx_pixels=info["n_tiles"] * bw * bh * nbands,
            ordered=ordered,
        ))
        .groupBy("qb_y")
        .applyInPandas(assemble, schema="strip bigint, data binary")
    )
    return strips, info


def _tile_payload_table(
    df: DataFrame,
    metadata: dict,
    extent: tuple[int, int, int, int],
    bands: list[str] | None,
    tiff_compression: str | None,
) -> DataFrame:
    """One row per present tile: (idx, data) where idx is the row-major
    position in the covering tile grid and data is the compressed
    pixel-interleaved TIFF tile payload. MAP-ONLY: RaQuet blocks map
    1:1 to TIFF tiles, so unlike the strip path there is no assembly
    shuffle at all."""
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    binfo = _select_bands(metadata, bands)
    t = metadata["tiling"]
    npix = t["block_width"] * t["block_height"]
    dt = np.dtype(DTYPES[binfo[0][1]])
    x0, y0, x1, y1 = extent
    ntx = x1 - x0 + 1

    def encode(batches):
        for pdf in batches:
            idxs, blobs = [], []
            for row in pdf.to_dict("records"):
                arr = np.empty((npix, len(binfo)), dtype=dt)
                for bi, (name, bt, _) in enumerate(binfo):
                    arr[:, bi] = decode_block(row[name], bt)
                idxs.append(
                    (int(row["qb_y"]) - y0) * ntx + (int(row["qb_x"]) - x0)
                )
                blobs.append(_segment_bytes(arr, tiff_compression))
            yield pd.DataFrame({"idx": idxs, "data": blobs})

    return (
        qb.with_tile(df.where(F.col("block") != 0), "block")
        .where((F.col("qb_x").between(x0, x1)) & (F.col("qb_y").between(y0, y1)))
        .mapInPandas(encode, schema="idx bigint, data binary")
    )


def _ordered_segments(
    segments: DataFrame, key: str, n: int, fill: bytes
) -> Iterator[bytes]:
    """Payloads ``0 .. n-1`` in file order: each ``segments`` row's
    ``data`` at its ``key`` index, ``fill`` for every index no row
    carries (tile rows / tiles absent from the data). ``segments`` must
    already be in ``key`` order; this does not sort.

    ``prefetchPartitions=True`` overlaps independent jobs:
    toLocalIterator runs one fetch job per result partition; with
    prefetch the NEXT partition's fetch runs while the driver writes
    the current one's payloads, instead of strictly alternating
    compute→write→compute. Partitions arrive in order, so the bytes are
    unchanged; the driver buffers at most one extra partition."""
    expected = 0
    for row in segments.toLocalIterator(prefetchPartitions=True):
        if row[key] < expected:
            raise ValueError(f"segments out of {key} order")
        yield from itertools.repeat(fill, row[key] - expected)
        yield bytes(row["data"])
        expected = row[key] + 1
    yield from itertools.repeat(fill, n - expected)


def _ifd_entry(tag: int, typ: int, count: int, value_or_offset: int) -> bytes:
    return struct.pack("<HHII", tag, typ, count, value_or_offset)


_COMP_TAG = {None: 1, "lzw": 5, "deflate": 8}


def _level_entries(
    info: dict,
    metadata: dict,
    comp_tag: int,
    offsets: list[int],
    counts: list[int],
    is_overview: bool,
    tiled: bool = False,
) -> list[tuple[int, int, int, bytes | int]]:
    """IFD entries for one resolution level (primary or overview);
    ``tiled`` swaps the strip tags (273/278/279) for tile tags
    (322/323/324/325) — the COG layout."""
    dt = np.dtype(DTYPES[info["band_type"]])
    nbands = info["nbands"]
    bits = dt.itemsize * 8
    sample_fmt = _SAMPLE_FORMAT[dt.kind]

    # GeoTIFF keys: projected CRS, EPSG:3857, pixel-is-area
    geokeys = [
        (1, 1, 0, 3),  # version, revision, minor, number of keys
        (1024, 0, 1, 1),  # GTModelTypeGeoKey = Projected
        (1025, 0, 1, 1),  # GTRasterTypeGeoKey = PixelIsArea
        (3072, 0, 1, 3857),  # ProjectedCSTypeGeoKey
    ]
    geokey_shorts = [v for row in geokeys for v in row]
    pixel_scale = (info["xres"], info["yres"], 0.0)
    tiepoint = (0.0, 0.0, 0.0, info["ulx"], info["uly"], 0.0)

    # palette datasets export as PhotometricInterpretation=3 + ColorMap
    # (8-bit indices; TIFF colormap stores 16-bit channels, value*257)
    colortable = None
    if nbands == 1 and dt.itemsize == 1:
        colortable = (metadata.get("bands") or [{}])[0].get("colortable")
    colormap = b""
    if colortable:
        chans: list[list[int]] = [[0] * 256, [0] * 256, [0] * 256]
        for idx, rgba in colortable.items():
            i = int(idx)
            if 0 <= i < 256:
                for c in range(3):
                    chans[c][i] = int(rgba[c]) * 257
        colormap = b"".join(
            struct.pack("<H", v) for chan in chans for v in chan
        )
    nodata_ascii = (
        b"" if info["nodata"] is None else (repr(info["nodata"]).encode() + b"\x00")
    )

    entries: list[tuple[int, int, int, bytes | int]] = [
        (256, _T_LONG, 1, info["width"]),
        (257, _T_LONG, 1, info["height"]),
        (258, _T_SHORT, nbands, b"".join(struct.pack("<H", bits) for _ in range(nbands))),
        (259, _T_SHORT, 1, comp_tag),
        (262, _T_SHORT, 1, 3 if colormap else 1),  # palette / BlackIsZero
        (277, _T_SHORT, 1, nbands),
        (284, _T_SHORT, 1, 1),  # contiguous (pixel-interleaved)
        (339, _T_SHORT, nbands, b"".join(struct.pack("<H", sample_fmt) for _ in range(nbands))),
        (33550, _T_DOUBLE, 3, struct.pack("<3d", *pixel_scale)),
        (33922, _T_DOUBLE, 6, struct.pack("<6d", *tiepoint)),
        (34735, _T_SHORT, len(geokey_shorts), b"".join(struct.pack("<H", v) for v in geokey_shorts)),
    ]
    n_seg = len(offsets)
    if tiled:
        entries += [
            (322, _T_LONG, 1, info["tile_width"]),
            (323, _T_LONG, 1, info["tile_height"]),
            (324, _T_LONG, n_seg, b"".join(struct.pack("<I", o) for o in offsets)),
            (325, _T_LONG, n_seg, b"".join(struct.pack("<I", c) for c in counts)),
        ]
    else:
        entries += [
            (273, _T_LONG, n_seg, b"".join(struct.pack("<I", o) for o in offsets)),
            (278, _T_LONG, 1, info["rows_per_strip"]),
            (279, _T_LONG, n_seg, b"".join(struct.pack("<I", c) for c in counts)),
        ]
    if is_overview:
        # NewSubfileType = reduced-resolution image (TIFF overview IFD)
        entries.append((254, _T_LONG, 1, 1))
    if colormap:
        entries.append((320, _T_SHORT, 768, colormap))
    if nodata_ascii:
        entries.append((42113, _T_ASCII, len(nodata_ascii), nodata_ascii))
    return entries


def _pack_ifd(
    entries: list[tuple[int, int, int, bytes | int]],
    ifd_offset: int,
    next_ifd: int,
) -> bytes:
    """Serialize one IFD at ``ifd_offset`` with its external values
    placed immediately after the entry table."""
    ifd_head = struct.pack("<H", len(entries))
    ifd_body = b""
    external = b""
    ext_offset = ifd_offset + 2 + len(entries) * 12 + 4
    for tag, typ, count, val in sorted(entries, key=lambda e: e[0]):
        if isinstance(val, int):
            val = struct.pack("<H" if typ == _T_SHORT else "<I", val)
        if len(val) <= 4:
            ifd_body += struct.pack("<HHI", tag, typ, count) + val.ljust(4, b"\x00")
        else:
            ifd_body += _ifd_entry(tag, typ, count, ext_offset + len(external))
            external += val
    return ifd_head + ifd_body + struct.pack("<I", next_ifd) + external


def _ifd_size(entries: list[tuple[int, int, int, bytes | int]]) -> int:
    size = 2 + len(entries) * 12 + 4
    for _, typ, count, val in entries:
        if isinstance(val, bytes) and len(val) > 4:
            size += len(val)
    return size


def write_geotiff(
    df: DataFrame,
    metadata: dict,
    path: str,
    bands: list[str] | None = None,
    compression: str | None = None,
    include_overviews: bool = False,
) -> dict:
    """Write RaQuet tiles (at ``metadata``'s max zoom) to ``path`` as a
    striped GeoTIFF; ``compression`` is None, "lzw" or "deflate"
    (compressed executor-side in the strip assembly). Returns the
    geometry info dict.

    ``include_overviews=True`` additionally writes every lower zoom
    level present in ``df`` as a chained reduced-resolution overview IFD
    (RaQuet pyramid levels ARE the overview pyramid), mirroring the
    reference's ``include_overviews``
    (/root/reference/raquet/raquet2geotiff.py:363).

    Strip payloads arrive from executors via ``toLocalIterator`` in
    strip order; tile rows absent from the data are emitted as nodata
    strips. The IFD chain is written after the pixel data, so strip
    sizes may vary (compression) without driver buffering. Parity
    target: /root/reference/raquet/raquet2geotiff.py:84-277."""
    metadata, plan = _export_plan(
        df, metadata, bands, compression, include_overviews
    )
    if compression is None:
        total = 8 + sum(
            lv.info["height"] * lv.info["width"] * lv.info["nbands"]
            * np.dtype(DTYPES[lv.info["band_type"]]).itemsize
            for lv in plan
        )
        if total > 0xFFFFFFFF:
            # classic TIFF stores 32-bit offsets; fail fast BEFORE
            # streaming strips, not with a struct.error over a
            # half-written file
            raise ValueError(
                f"raster payload {total} bytes exceeds the classic-TIFF "
                "4GB offset limit; export a lower zoom or a band subset"
            )

    levels = [
        (
            lv.info,
            _ordered_segments(
                strip_table(
                    lv.df, lv.metadata, lv.extent, bands, compression, ordered=True
                )[0],
                "strip", lv.info["n_strips"], lv.fill,
            ),
        )
        for lv in plan
    ]
    try:
        _write_singlefile_body(path, levels, metadata, _COMP_TAG[compression])
    except BaseException:
        # the compressed path can only discover the 4GB classic-TIFF
        # limit mid-stream; don't leave a truncated .tif
        with contextlib.suppress(OSError):
            os.unlink(path)
        raise

    info = dict(plan[0].info)
    if include_overviews:
        info["overviews"] = [{"level": lv.level, **lv.info} for lv in plan[1:]]
    return info


def _write_singlefile_body(
    path: str,
    levels: list[tuple[dict, Iterable[bytes]]],
    metadata: dict,
    comp_tag: int,
) -> None:
    """Write one striped TIFF: each level's strips in order, then the
    chained IFDs (primary, then one reduced-resolution IFD per further
    level) — the IFDs go last, so compressed strip sizes need no
    buffering."""
    with open(path, "wb") as f:
        f.write(b"II*\x00" + struct.pack("<I", 0))  # IFD offset patched below
        pos = 8
        layout = []
        for info, segments in levels:
            strip_size = (
                info["rows_per_strip"] * info["width"] * info["nbands"]
                * np.dtype(DTYPES[info["band_type"]]).itemsize
            )
            offsets: list[int] = []
            counts: list[int] = []
            for data in segments:
                if pos + len(data) > 0xFFFFFFFF:
                    raise ValueError(
                        "compressed raster payload exceeds the classic-TIFF "
                        "4GB offset limit; export a lower zoom or band subset"
                    )
                assert comp_tag != 1 or len(data) == strip_size
                offsets.append(pos)
                counts.append(len(data))
                f.write(data)
                pos += len(data)
            layout.append((info, offsets, counts))

        first_ifd = pos
        for k, (info, offsets, counts) in enumerate(layout):
            entries = _level_entries(
                info, metadata, comp_tag, offsets, counts, is_overview=(k > 0)
            )
            next_ifd = pos + _ifd_size(entries) if k + 1 < len(layout) else 0
            ifd = _pack_ifd(entries, pos, next_ifd)
            f.write(ifd)
            pos += len(ifd)
        f.seek(4)
        f.write(struct.pack("<I", first_ifd))


def write_geotiff_cog(
    df: DataFrame,
    metadata: dict,
    path: str,
    bands: list[str] | None = None,
    compression: str | None = "deflate",
    include_overviews: bool = True,
) -> dict:
    """Cloud-Optimized GeoTIFF export: TILED layout (tags 322-325) whose
    tiles ARE the RaQuet blocks, IFD chain at the head of the file
    (range-read friendly), overview pyramid levels as reduced-resolution
    IFDs with their tile data before the full-resolution data — the
    layout the reference's Earth Engine flow requests from GDAL
    (earthengine.py:90 ``cloud_optimized``).

    Scale shape: per-tile payload encode is MAP-ONLY (blocks map 1:1 to
    TIFF tiles — the strip path's assembly shuffle disappears), staged
    once to a temp parquet so payload sizes are known before the
    header/IFDs are written; the driver then streams ready bytes in
    order. Single-file output is still a driver IO funnel — use
    :func:`write_geotiff_sharded` when even that is too much."""
    import shutil
    import tempfile

    metadata, plan = _export_plan(
        df, metadata, bands, compression, include_overviews, tiled=True
    )
    comp_tag = _COMP_TAG[compression]
    spark = df.sparkSession
    stage = tempfile.mkdtemp(prefix="cog_stage_")
    try:
        dirs, counts = [], []
        for lv in plan:
            lv_dir = os.path.join(stage, f"z{lv.level}")
            # distributed encode happens ONCE, into the stage files
            _tile_payload_table(
                lv.df, lv.metadata, lv.extent, bands, compression
            ).write.parquet(lv_dir)
            sizes = {
                int(r["idx"]): int(r["n"])
                for r in spark.read.parquet(lv_dir)
                .select("idx", F.length("data").alias("n"))
                .collect()
            }
            dirs.append(lv_dir)
            counts.append(
                [sizes.get(i, len(lv.fill)) for i in range(lv.info["n_tiles"])]
            )

        # ---- compute layout: header, IFD chain, then data (overviews
        # lowest-resolution first, full resolution last — COG order) ----
        data_order = list(reversed(range(len(plan))))  # smallest zoom first
        # provisional entries size the IFD chain (offsets patched after)
        ifd_sizes = [
            _ifd_size(_level_entries(
                lv.info, metadata, comp_tag, [0] * len(counts[k]), counts[k],
                is_overview=(k > 0), tiled=True,
            ))
            for k, lv in enumerate(plan)
        ]
        pos = 8 + sum(ifd_sizes)
        offsets: list[list[int]] = [[] for _ in plan]
        for k in data_order:
            for n in counts[k]:
                offsets[k].append(pos)
                pos += n
        if pos > 0xFFFFFFFF:
            raise ValueError(
                "COG payload exceeds the classic-TIFF 4GB offset limit; "
                "export a lower zoom, band subset, or sharded output"
            )

        with open(path, "wb") as f:
            f.write(b"II*\x00" + struct.pack("<I", 8))
            ifd_pos = 8
            for k, lv in enumerate(plan):
                entries = _level_entries(
                    lv.info, metadata, comp_tag, offsets[k], counts[k],
                    is_overview=(k > 0), tiled=True,
                )
                next_ifd = ifd_pos + ifd_sizes[k] if k + 1 < len(plan) else 0
                ifd = _pack_ifd(entries, ifd_pos, next_ifd)
                assert len(ifd) == ifd_sizes[k]
                f.write(ifd)
                ifd_pos += len(ifd)
            for k in data_order:
                # a parquet read does not keep the write's row order,
                # so the staged payloads (no Python left in their plan)
                # are sorted here
                staged = spark.read.parquet(dirs[k]).orderBy("idx")
                for data in _ordered_segments(
                    staged, "idx", plan[k].info["n_tiles"], plan[k].fill
                ):
                    f.write(data)
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    info = dict(plan[0].info)
    info["cog"] = True
    info["levels"] = [lv.level for lv in plan]
    return info


def write_geotiff_sharded(
    df: DataFrame,
    metadata: dict,
    out_dir: str,
    bands: list[str] | None = None,
    compression: str | None = None,
    rows_per_shard: int = 4,
) -> dict:
    """Sharded GeoTIFF export of the max-zoom tiles: one complete,
    georeferenced GeoTIFF per group of ``rows_per_shard`` tile rows,
    written EXECUTOR-side. The shards concatenate (top to bottom) to the
    single-file :func:`write_geotiff` raster.

    This is the scale path the single-file :func:`write_geotiff` cannot
    be: that writer must stream every strip through the driver because
    one .tif is one byte stream; here each shard task assembles its tile
    rows and writes ``shard-<row0>-<row1>.tif`` directly, so the driver
    does ZERO pixel IO — it only collects the tiny shard index (path +
    placement per shard, like a GDAL VRT's source list). Every shard is
    a valid standalone GeoTIFF with its own ModelTiepoint, so standard
    tools (or :func:`raquet_spark.sources.tiff_reader.geotiff_to_raquet`)
    can mosaic or re-ingest the parts.

    At 100 TB: one output file is a driver funnel no matter how the
    strips are produced; N_shards files writes in parallel with
    N_shards tasks and bounded task memory (rows_per_shard × raster
    width × dtype). Tile rows with no tiles inside a covered shard are
    nodata-filled; shard groups with no tiles at all are skipped
    entirely (sparse output — the index records what exists)."""
    metadata, (lv,) = _export_plan(df, metadata, bands, compression)
    os.makedirs(out_dir, exist_ok=True)
    comp_tag = _COMP_TAG[compression]
    # strip payloads (already executor-compressed) keyed by tile row
    strips_df, _ = strip_table(lv.df, lv.metadata, lv.extent, bands, compression)
    info, fill_strip = lv.info, lv.fill
    bh, n_strips = info["rows_per_strip"], info["n_strips"]

    def write_shard(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (shard,) = key
        row0 = int(shard) * rows_per_shard
        rows = min(rows_per_shard, n_strips - row0)
        by_strip = {int(r["strip"]): bytes(r["data"]) for r in pdf.to_dict("records")}
        path = os.path.join(out_dir, f"shard-{row0:05d}-{row0 + rows - 1:05d}.tif")
        sinfo = dict(
            info,
            height=rows * bh,
            n_strips=rows,
            uly=info["uly"] - row0 * bh * info["yres"],
        )
        segments = (by_strip.get(row0 + i, fill_strip) for i in range(rows))
        _write_singlefile_body(path, [(sinfo, segments)], metadata, comp_tag)
        return pd.DataFrame({
            "shard": [int(shard)],
            "path": [path],
            "row0": [row0],
            "n_rows": [rows],
            "uly": [sinfo["uly"]],
        })

    index = (
        strips_df.withColumn("shard", F.expr(f"strip DIV {rows_per_shard}"))
        .transform(lambda d: pin_group_width(
            d, "shard",
            approx_pixels=info["n_strips"] * bh * info["width"] * info["nbands"],
        ))
        .groupBy("shard")
        .applyInPandas(
            write_shard,
            schema="shard bigint, path string, row0 bigint, n_rows bigint, uly double",
        )
        .collect()
    )
    shards = sorted(
        ({k: r[k] for k in ("shard", "path", "row0", "n_rows", "uly")} for r in index),
        key=lambda s: s["row0"],
    )
    return {**info, "shards": shards, "out_dir": out_dir}


def read_geotiff(path: str, ifd_index: int = 0) -> tuple[np.ndarray, dict]:
    """Minimal TIFF reader for round-trip verification (independent of
    the writer's buffers — parses the IFD from disk). ``ifd_index``
    selects an overview level (0 = full resolution). Returns
    ``(array[h, w, nbands], tags)`` where ``tags`` includes the decoded
    GeoTIFF placement."""
    with open(path, "rb") as f:
        raw = f.read()
    return parse_tiff(raw, ifd_index)


def read_ifd(raw: bytes, ifd_off: int | None = None) -> dict[int, tuple]:
    """Parse one IFD of a TIFF into {tag: values} — little- ("II") and
    big-endian ("MM"), classic (magic 42, 12-byte entries, 32-bit
    offsets) AND BigTIFF (magic 43, 20-byte entries, 64-bit offsets;
    the format GDAL emits for >4GB rasters like full NLCD). Handles
    inline and external values for BYTE/ASCII/SHORT/LONG/RATIONAL/
    SBYTE/SSHORT/SLONG/FLOAT/DOUBLE/LONG8/SLONG8. Shared by the
    round-trip reader here and the real-file reader in
    ``sources/tiff_reader.py``. Endianness is recorded under the
    pseudo-tag -1 as ("<",) or (">",) for the pixel decoder."""
    if raw[:2] == b"II":
        en = "<"
    elif raw[:2] == b"MM":
        en = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    magic = struct.unpack(f"{en}H", raw[2:4])[0]
    if magic == 42:
        big = False
        if ifd_off is None:
            ifd_off = struct.unpack(f"{en}I", raw[4:8])[0]
        (n_entries,) = struct.unpack(f"{en}H", bytes(raw[ifd_off : ifd_off + 2]))
        entry0, entry_sz, inline = ifd_off + 2, 12, 4
    elif magic == 43:
        big = True
        if struct.unpack(f"{en}H", raw[4:6])[0] != 8:
            raise ValueError("unsupported BigTIFF offset size")
        if ifd_off is None:
            ifd_off = struct.unpack(f"{en}Q", raw[8:16])[0]
        (n_entries,) = struct.unpack(f"{en}Q", bytes(raw[ifd_off : ifd_off + 8]))
        entry0, entry_sz, inline = ifd_off + 8, 20, 8
    else:
        raise ValueError("not a TIFF (bad magic)")
    type_size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
                 10: 8, 11: 4, 12: 8, 16: 8, 17: 8}
    type_fmt = {1: "B", 3: "H", 4: "I", 6: "b", 7: "B", 8: "h", 9: "i",
                11: "f", 12: "d", 16: "Q", 17: "q"}
    tags: dict[int, tuple] = {}
    tags[-1] = (en,)
    for i in range(n_entries):
        pos = entry0 + i * entry_sz
        if big:
            tag, typ, count = struct.unpack(f"{en}HHQ", bytes(raw[pos : pos + 12]))
            (val_off,) = struct.unpack(f"{en}Q", bytes(raw[pos + 12 : pos + 20]))
        else:
            tag, typ, count, val_off = struct.unpack(f"{en}HHII", bytes(raw[pos : pos + 12]))
        if typ not in type_size:
            continue
        nbytes = type_size[typ] * count
        if nbytes <= inline:
            buf = raw[pos + entry_sz - inline : pos + entry_sz - inline + nbytes]
        else:
            buf = raw[val_off : val_off + nbytes]
        if typ == 2:  # ASCII
            tags[tag] = (buf.rstrip(b"\x00").decode(errors="replace"),)
        elif typ in (5, 10):  # (S)RATIONAL pairs
            fmt = "I" if typ == 5 else "i"
            flat = struct.unpack(f"{en}{2 * count}{fmt}", buf)
            tags[tag] = tuple(
                flat[j] / flat[j + 1] if flat[j + 1] else 0.0
                for j in range(0, len(flat), 2)
            )
        else:
            tags[tag] = struct.unpack(f"{en}{count}{type_fmt[typ]}", buf)
    return tags


def ifd_offsets(raw: bytes) -> list[int]:
    """Offsets of every IFD in the chain (primary + overview levels)."""
    if raw[:2] != b"II" or struct.unpack("<H", raw[2:4])[0] != 42:
        raise ValueError("not a little-endian classic TIFF")
    out = []
    off = struct.unpack("<I", raw[4:8])[0]
    while off:
        out.append(off)
        (n_entries,) = struct.unpack("<H", bytes(raw[off : off + 2]))
        (off,) = struct.unpack("<I", bytes(raw[off + 2 + n_entries * 12 : off + 6 + n_entries * 12]))
    return out


def parse_tiff(raw: bytes, ifd_index: int = 0) -> tuple[np.ndarray, dict]:
    """Parse classic little-endian striped TIFF bytes (none/LZW/deflate
    strips) — also the decoder for remote tile responses in
    ``sources/remote.py`` (the reference fetches ImageServer tiles as
    TIFF, imageserver.py:399-420, and reads them with rasterio).
    ``ifd_index`` selects an overview level (0 = full resolution). For
    real-world files (tiled layout, predictors) use
    ``sources/tiff_reader.py``."""
    offs = ifd_offsets(raw)
    tags = read_ifd(raw, offs[ifd_index])
    width, height = tags[256][0], tags[257][0]
    nbands = tags[277][0]
    bits, fmt = tags[258][0], tags.get(339, (1,))[0]
    kind = {1: "u", 2: "i", 3: "f"}[fmt]
    dt = np.dtype(f"<{kind}{bits // 8}")
    rows_per_strip = tags[278][0]
    compression = tags.get(259, (1,))[0]

    def strip_bytes(off: int, cnt: int) -> bytes:
        buf = raw[off : off + cnt]
        if compression in (8, 32946):
            import zlib

            return zlib.decompress(buf)
        if compression == 5:
            from raquet_spark.sources.lzw import lzw_decode

            return lzw_decode(buf)
        return buf

    parts = [
        np.frombuffer(strip_bytes(off, cnt), dtype=dt)
        for off, cnt in zip(tags[273], tags[279])
    ]
    arr = np.concatenate(parts).reshape(height, width, nbands)
    geo = {
        "pixel_scale": tags.get(33550),
        "tiepoint": tags.get(33922),
        "geokeys": tags.get(34735),
        "colormap": tags.get(320),
        "photometric": tags.get(262, (1,))[0],
        "nodata": tags.get(42113, (None,))[0],
        "rows_per_strip": rows_per_strip,
    }
    return arr, geo
